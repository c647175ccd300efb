package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.operators.{Bpe, Dedup}
import graft.sources.ArtifactStore
import graft.tools.Memos

/** The persistent artifact store (round-7 verdict #6): with
  * `spark.graft.artifactDir` set, the sketch/print/codebook/train
  * memo family writes keyed parquet artifacts and a SECOND session —
  * the restarted-pipeline case the in-memory memo cannot serve —
  * loads them instead of re-running the corpus towers. Keyed by the
  * same (plan semanticHash, file-state fingerprint, params) as the
  * memos, so a corpus rewrite can never serve a stale artifact. */
class ArtifactStoreSpec extends SparkSpec {

  /** Private corpus copy so the stale-fingerprint test can tamper
    * with mtimes without touching the shared read-only testdata. */
  private lazy val corpusDir = {
    val d = Files.createTempDirectory("graft_artifact_corpus")
    Files.copy(Paths.get(s"$testdataDir/documents.parquet"),
      d.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    d
  }
  private lazy val corpusPath = corpusDir.resolve("documents.parquet").toString
  private lazy val storeDir =
    Files.createTempDirectory("graft_artifact_store").toString

  private def counters = (ArtifactStore.hits.get(), ArtifactStore.misses.get())

  test("store disabled by default: no artifact traffic") {
    val (h0, m0) = counters
    // every tower, the verified-pair one above the sketch included —
    // a prior test's pair leaf would serve the call before it ever
    // reaches the artifact-backed sketch build
    Memos.clearAll()
    val docs = spark.read.parquet(corpusPath)
    Dedup.minhashNearDup(docs, 0.95).collect()
    assert(counters === ((h0, m0)), "artifactDir unset must not touch the store")
  }

  test("a second session serves the stored sketch: build once, load thereafter") {
    // every tower, the verified-pair one above the sketch included —
    // a prior test's pair leaf would serve the call before it ever
    // reaches the artifact-backed sketch build
    Memos.clearAll()
    spark.conf.set("spark.graft.artifactDir", storeDir)
    try {
      val (h0, m0) = counters
      val docs1 = spark.read.parquet(corpusPath)
      val r1 = Dedup.minhashNearDup(docs1, 0.95).collect()
        .map(_.toString).sorted.toList
      assert(counters === ((h0, m0 + 1)), "first session must BUILD the artifact")
      assert(new java.io.File(storeDir).listFiles()
        .exists(_.getName.startsWith("minhash_sketch-")),
        "keyed artifact directory missing")

      // a NEW session: fresh memo key (memos are session-scoped), so
      // without the store this would re-run the whole tokenize+MinHash
      // tower; with it, the fused sketch is READ BACK — the load path
      // by construction never references the corpus plan
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", storeDir)
      val docs2 = s2.read.parquet(corpusPath)
      val r2 = Dedup.minhashNearDup(docs2, 0.95).collect()
        .map(_.toString).sorted.toList
      assert(counters === ((h0 + 1, m0 + 1)), "second session must LOAD, not rebuild")
      assert(r2 === r1)
    } finally spark.conf.unset("spark.graft.artifactDir")
  }

  test("a corpus rewrite (mtime change) invalidates the key: no stale serve") {
    // every tower, the verified-pair one above the sketch included —
    // a prior test's pair leaf would serve the call before it ever
    // reaches the artifact-backed sketch build
    Memos.clearAll()
    spark.conf.set("spark.graft.artifactDir", storeDir)
    try {
      // warm the artifact under the current fingerprint
      Dedup.minhashNearDup(spark.read.parquet(corpusPath), 0.95).collect()
      val (h0, m0) = counters
      // same path, same bytes, NEW mtime — the file-state fingerprint
      // (path, length, mtime) must change, so the store must MISS and
      // rebuild rather than serve the old artifact
      Files.setLastModifiedTime(Paths.get(corpusPath),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5000))
      val s3 = spark.newSession()
      s3.conf.set("spark.graft.artifactDir", storeDir)
      Dedup.minhashNearDup(s3.read.parquet(corpusPath), 0.95).collect()
      assert(counters === ((h0, m0 + 1)),
        "changed file state must rebuild under a new key")
    } finally spark.conf.unset("spark.graft.artifactDir")
  }

  test("a changed code stamp misses the stored artifact and rebuilds identical rows") {
    import org.apache.spark.sql.functions.col
    import graft.sources.CodeStamp
    val root = Files.createTempDirectory("graft_stamp_store").toString
    spark.conf.set("spark.graft.artifactDir", root)
    val own = CodeStamp.stamp
    try {
      val key = spark.read.parquet(corpusPath)
      def served() = ArtifactStore.loadOrBuild("stamp_probe", key, "p=1")(
        key.select(col("doc_id"), (col("doc_id") * 3).as("v")))
        .collect().map(_.toString).sorted.toList
      CodeStamp.stamp = 0x5eed1
      val (h0, m0) = counters
      val first = served()
      assert(served() === first)
      assert(counters === ((h0 + 1, m0 + 1)), "one stamp: build once, then load")
      // a rebuilt graft: the key changes, so the old artifact is
      // unreachable and the rows are built again
      CodeStamp.stamp = 0x5eed2
      assert(served() === first)
      assert(counters === ((h0 + 1, m0 + 2)), "a new stamp must rebuild")
      assert(new java.io.File(root).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("stamp_probe-")) === 2)
    } finally {
      CodeStamp.stamp = own
      spark.conf.unset("spark.graft.artifactDir")
    }
  }

  test("BPE training artifact: the (merges, encoder) pair persists across sessions") {
    Memos.clearAll()
    spark.conf.set("spark.graft.artifactDir", storeDir)
    try {
      val (h0, m0) = counters
      val m1 = Bpe.bpeMerges(spark.read.parquet(corpusPath), 4).collect()
        .map(_.toString).toList
      assert(counters === ((h0, m0 + 1)))
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", storeDir)
      val m2 = Bpe.bpeMerges(s2.read.parquet(corpusPath), 4).collect()
        .map(_.toString).toList
      assert(counters === ((h0 + 1, m0 + 1)), "pair artifact must load in session 2")
      assert(m2 === m1)
      // and the dependent encode query stays green off the loaded pair
      assert(Bpe.bpeEncode(s2.read.parquet(corpusPath), 4).count() > 0)
    } finally spark.conf.unset("spark.graft.artifactDir")
  }

  test("NSW scored-candidate artifact: a second session loads instead of re-scoring") {
    import graft.operators.Similarity
    Memos.clearAll()
    spark.conf.set("spark.graft.artifactDir", storeDir)
    try {
      val (h0, m0) = counters
      val embPath = s"$testdataDir/embeddings.parquet"
      def edges(g: org.apache.spark.sql.DataFrame) = g.collect()
        .map(_.toString).sorted.toList
      val g1 = edges(Similarity.nswGraph(spark.read.parquet(embPath)))
      assert(counters === ((h0, m0 + 1)), "first session must BUILD the artifact")
      // a NEW session: fresh memo key — without the store the whole
      // candidate+scoring tower re-runs; with it the scored relation
      // is READ BACK and only the windows/polish re-run
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", storeDir)
      val g2 = edges(Similarity.nswGraph(s2.read.parquet(embPath)))
      assert(counters === ((h0 + 1, m0 + 1)), "second session must LOAD, not re-score")
      assert(g2 === g1)
      // the incremental path in the SAME session rides the in-memory
      // memo of the loaded artifact — zero further store traffic
      assert(Similarity.nswGraphIncremental(
        s2.read.parquet(embPath), 250L).count() > 0)
      assert(counters === ((h0 + 1, m0 + 1)),
        "q206 must reuse the session memo, not re-touch the store")
    } finally spark.conf.unset("spark.graft.artifactDir")
  }

  test("PCA component artifact: a second session loads the trained component") {
    import graft.operators.Similarity
    Memos.clearAll()
    spark.conf.set("spark.graft.artifactDir", storeDir)
    try {
      val (h0, m0) = counters
      val embPath = s"$testdataDir/embeddings.parquet"
      def comp(df: org.apache.spark.sql.DataFrame) =
        Similarity.pcaTopComponent(df).collect().map(_.toString).toList
      val c1 = comp(spark.read.parquet(embPath))
      assert(counters === ((h0, m0 + 1)), "first session must BUILD the artifact")
      // a NEW session: without the store the covariance pass (the only
      // corpus-sized stage) re-runs; with it the d-row component table
      // is read back
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.artifactDir", storeDir)
      val c2 = comp(s2.read.parquet(embPath))
      assert(counters === ((h0 + 1, m0 + 1)), "second session must LOAD, not retrain")
      assert(c2 === c1)
      // the projection and the binned dedup ride the SAME memoized
      // component in-session — zero further store traffic
      assert(Similarity.pcaProject(s2.read.parquet(embPath)).count() > 0)
      assert(Similarity.pcaBinDedup(s2.read.parquet(embPath)).count() > 0)
      assert(counters === ((h0 + 1, m0 + 1)),
        "q212/q216 must reuse the session memo, not re-touch the store")
    } finally spark.conf.unset("spark.graft.artifactDir")
  }
}
