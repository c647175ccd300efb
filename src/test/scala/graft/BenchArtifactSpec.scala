package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, InvertedIndex, Similarity}
import graft.sources.{ArtifactStore, Tables}
import graft.tools.Memos

/** Pins the cold protocol's two resets: `Memos.clearAll` (session
  * towers) and the corpus clear (`ArtifactStore.clearCorpus`): the
  * clear for one corpus dir must remove every artifact kind the
  * sources write for THAT dir and nothing of a sibling scale's — an
  * earlier bare-substring match deleted sf10's artifacts when clearing
  * for sf1. */
class BenchArtifactSpec extends SparkSpec {

  /** A corpus path of its own per spec run, so clearing it can never
    * touch a real corpus's artifacts. */
  private val scratch = s"/graft_clear_spec_${java.util.UUID.randomUUID()}"

  /** Every artifact kind a corpus root holds, as the builders name them. */
  private val kinds = Seq("textindex", "dsv2idx", "delidx", "mergeidx",
    "deltaidx", "compactidx", "ttidx", "vdidx", "vecstore",
    "sidecar_csv_lineitem", "sidecar_json_events", "sidecar_gzjson8_documents",
    "sidecar_zstdpq_documents", "sidecar_xml_documents", "sidecar_orc_orders",
    "sidecar_avro_documents", "sidecar_evolved_documents", "tenx10",
    "documents10x")

  /** Stand-ins for built artifacts: each kind's keyed dir, marked done. */
  private def plant(sfDir: String): Seq[java.nio.file.Path] =
    kinds.map { k =>
      val d = java.nio.file.Paths.get(
        ArtifactStore.corpusDir(k, sfDir, s"$sfDir/documents.parquet"))
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.createFile(d.resolve(ArtifactStore.DoneMarker))
      d
    }

  test("Memos.clearAll drops every tower; the next call rebuilds identical rows") {
    // The cold protocol's claim — "every pass prices builds" — needs
    // clearAll to forget every tower. Registration is by construction
    // (a tower exists only as a registry entry), so a cleared registry
    // is empty and the next call pays the build again.
    val docs = Tables(spark, testdataDir, "documents")
    val emb = Tables(spark, testdataDir, "embeddings")
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    def build() = Seq(rows(Dedup.minhashNearDup(docs, 0.95)),
      rows(InvertedIndex.bm25Search(docs, Seq("spark", "join"), 10)),
      rows(Similarity.pqAnn(emb, 10, 3)))
    val sc = spark.sparkContext
    Memos.clearAll()
    val first = build()
    val towers = Memos.names.toSet
    assert(Set("sketch", "bm25", "trainedPq").subsetOf(towers))
    Memos.clearAll()
    assert(Memos.names.isEmpty)
    val before = sc.getPersistentRDDs.keySet
    assert(build() === first)
    assert(Memos.names.toSet === towers)
    assert((sc.getPersistentRDDs.keySet -- before).size >= towers.size,
      "a cleared tower was served instead of rebuilt")
    Memos.clearAll()
  }

  test("clearing a corpus removes every artifact kind built for it") {
    val d = s"$scratch/sf0.1"
    val built = plant(d)
    assert(built.map(_.getParent).distinct ===
      Seq(java.nio.file.Paths.get(ArtifactStore.corpusRoot(d))),
      "every kind must live under the one corpus root")
    assert(ArtifactStore.clearCorpus(d) === kinds.size)
    assert(built.forall(!java.nio.file.Files.exists(_)))
    assert(ArtifactStore.clearCorpus(d) === 0, "a cleared corpus holds nothing")
  }

  test("sf1 clear leaves sf10 and sf1.5 artifacts intact") {
    val sf1 = s"$scratch/sf1"
    // sf10's root continues sf1's with a digit, sf1.5's sanitizes to
    // `_sf1_5`: neither is sf1's root
    val others = Seq(s"$scratch/sf10", s"$scratch/sf1.5")
    try {
      val kept = others.flatMap(plant)
      val gone = plant(sf1)
      assert(ArtifactStore.clearCorpus(sf1) === kinds.size)
      assert(gone.forall(!java.nio.file.Files.exists(_)))
      assert(kept.forall(d => java.nio.file.Files.exists(
        d.resolve(ArtifactStore.DoneMarker))))
    } finally others.foreach(ArtifactStore.clearCorpus)
  }

  test("vs_prev parser reads the committed bench.json shape") {
    val txt = """{"metric":"total","value":188.0,"unit":"sec","queries":{"q01_tokenize":0.411989219,"q02_postings":1.19389489,"q275_merge_pending":0.5},"sf":"x","runs":3}"""
    val got = Bench.parsePrevQueries(txt)
    assert(got === Map("q01_tokenize" -> 0.411989219,
      "q02_postings" -> 1.19389489, "q275_merge_pending" -> 0.5))
    // the real committed artifact parses to its full query set
    val real = Bench.parsePrevQueries(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench.json")), "UTF-8"))
    assert(real.size >= 200, s"parsed only ${real.size} queries")
    assert(real.contains("q01_tokenize"))
    // junk inputs degrade to empty, never throw
    assert(Bench.parsePrevQueries("").isEmpty)
    assert(Bench.parsePrevQueries("{\"metric\":1}").isEmpty)
  }

  test("a throwing query is recorded as failed, never as a sample") {
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def boom(): Unit = throw new IllegalStateException("boom")
    Bench.timePass(Seq("q_ok" -> (() => ()), "q_boom" -> (() => boom())),
      best, failed)
    assert(best.keySet === Set("q_ok"))
    assert(failed.toList === List("q_boom"))
    // a later good sample is kept, and the failure stays on record
    Bench.timePass(Seq("q_boom" -> (() => ())), best, failed)
    assert(best.keySet === Set("q_ok", "q_boom"))
    assert(failed.toList === List("q_boom"))
  }

  test("the result line keeps every field in order and appends cpus last") {
    val json = Bench.resultJson(1.5, "{\"q01_tokenize\":0.5}", "/d", 3, 2,
      "warm", "[]", "null", "[]", cpus = 4)
    val keys = "\"([a-z_0-9]+)\":".r.findAllMatchIn(json).map(_.group(1))
      .filterNot(_ == "q01_tokenize").toList
    assert(keys === List("metric", "value", "unit", "queries", "sf", "runs",
      "agg", "extra_runs_gt2s", "protocol", "heavy_rows", "vs_prev",
      "failed", "cpus"))
    assert(json.endsWith(""","failed":[],"cpus":4}"""))
    assert(Bench.parsePrevQueries(json) === Map("q01_tokenize" -> 0.5))
  }

  test("a different code stamp misses the store cache and rebuilds identical rows") {
    import graft.sources.{CodeStamp, IndexStore}
    def rows(dir: String) = IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toSeq
    def rm(dir: String): Unit = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
    val own = CodeStamp.stamp
    val built = scala.collection.mutable.ArrayBuffer[String]()
    try {
      CodeStamp.stamp = 0x5eed1
      val older = IndexStore.dsv2IndexFor(spark, testdataDir)
      built += older
      CodeStamp.stamp = 0x5eed2
      val fresh = ArtifactStore.corpusDir("dsv2idx",
        testdataDir, s"$testdataDir/documents.parquet")
      assert(fresh !== older)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(fresh)),
        "a fresh stamp found a built store")
      val newer = IndexStore.dsv2IndexFor(spark, testdataDir)
      built += newer
      assert(newer === fresh)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(newer, "_GRAFT_READY")))
      assert(new java.io.File(newer).getParent ===
        ArtifactStore.corpusRoot(testdataDir),
        "the cold protocol's clear must still find a stamped artifact")
      assert(rows(newer) === rows(older))
    } finally {
      CodeStamp.stamp = own
      built.foreach(rm)
    }
  }

  test("unrelated tmp entries survive a corpus clear") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val d = s"$scratch/sf0.1"
    // a spec warehouse, Spark scratch, a demo's default output, and a
    // lookalike of the corpus root outside the artifact tree
    val bystanders = Seq("graft_wh", "spark-", "graft_index",
      ArtifactStore.corpusRoot(d).split('/').last).map(p =>
      java.nio.file.Files.createTempDirectory(tmp, p))
    try {
      plant(d)
      assert(ArtifactStore.clearCorpus(d) === kinds.size)
      assert(bystanders.forall(java.nio.file.Files.exists(_)))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(ArtifactStore.corpusRoot(d)).getParent),
        "the shared artifact tree outlives one corpus's clear")
    } finally bystanders.foreach(p =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile))
  }
}
