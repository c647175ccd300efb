package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex
import graft.sources.{ArtifactStore, GraftCatalog, IndexStore, StoreFs, Tables}

/** `ArtifactStore.once` as the corpus builders use it: whatever a
  * crashed attempt left in an artifact dir is deleted, never built
  * over, and a build another driver holds is waited out and served,
  * never repeated. Each case runs on a private copy of the corpus, so
  * the artifact root it seeds is its own. */
class ArtifactOnceSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` on a private copy of the corpus's documents; its
    * artifact root and the copy are removed afterwards. */
  private def withCorpusCopy(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_once_corpus")
    Files.copy(Paths.get(s"$testdataDir/documents.parquet"),
      d.resolve("documents.parquet"))
    try body(d.toString) finally {
      ArtifactStore.clearCorpus(d.toString)
      org.apache.hadoop.fs.FileUtil.fullyDelete(d.toFile)
    }
  }

  private def docsDir(kind: String, sfDir: String) =
    ArtifactStore.corpusDir(kind, sfDir, s"$sfDir/documents.parquet")

  private def postingsOf(rows: (String, Seq[Long])*) =
    rows.toDF("word", "postings")
      .select(col("word"), size(col("postings")).cast("long").as("df"),
        col("postings").cast("array<bigint>").as("postings"))

  private def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted

  private def version(dir: String, n: Int) = {
    val f = new java.io.File(dir)
    val cat = GraftCatalog.registerFor(spark, "graft_oncespec", f.getParent)
    spark.sql(s"SELECT word, df FROM $cat.`${f.getName}` VERSION AS OF $n")
  }

  /** A crashed attempt's leftovers at `dir`: a base, a READY snapshot
    * per `ready` generation, a half-copied one per `unready`, and no
    * completion marker. */
  private def seedCrash(dir: String, ready: Seq[Int], unready: Seq[Int]): Unit = {
    val junk = postingsOf("zzcrash" -> Seq(1L))
    IndexStore.writeIndexTable(junk, dir)
    (ready ++ unready).foreach(g => IndexStore.writeIndexTable(junk, s"$dir/_gen_$g"))
    unready.foreach(g => Files.delete(Paths.get(dir, s"_gen_$g", "_GRAFT_READY")))
  }

  test("a crashed version-diff build is rebuilt from scratch, not over") {
    val fresh = IndexStore.versionDiffDemoFor(spark, testdataDir)
    assert(IndexStore.listGenerations(spark, fresh) === Seq(0L, 1L, 2L))
    withCorpusCopy { sf =>
      val dir = docsDir("vdidx", sf)
      seedCrash(dir, ready = Seq(0), unready = Seq(1))
      assert(IndexStore.versionDiffDemoFor(spark, sf) === dir)
      // numbered from 0 again: a leftover _gen_ would shift q261's pair
      assert(IndexStore.listGenerations(spark, dir) === Seq(0L, 1L, 2L))
      assert(rows(IndexStore.versionDiff(version(dir, 1), version(dir, 2))) ===
        rows(IndexStore.versionDiff(version(fresh, 1), version(fresh, 2))))
    }
  }

  test("a crashed time-travel build still serves VERSION AS OF 0") {
    withCorpusCopy { sf =>
      val dir = docsDir("ttidx", sf)
      seedCrash(dir, ready = Nil, unready = Seq(0))
      assert(IndexStore.timeTravelDemoFor(spark, sf) === dir)
      assert(IndexStore.listGenerations(spark, dir) === Seq(0L))
      val even = InvertedIndex.postingsUnorderedSlice(
        Tables(spark, sf, "documents"), col("doc_id") % 2 === 0)
      assert(rows(version(dir, 0)) === rows(even.select("word", "df")))
    }
  }

  test("a corpus artifact another driver is building is waited out and served") {
    withCorpusCopy { sf =>
      val dir = docsDir("dsv2idx", sf)
      // ANOTHER DRIVER mid-build: its lease is held and nothing is
      // published; it finishes 400 ms later (its artifact and completion
      // marker in place, lease released). dsv2IndexFor must WAIT, then
      // SERVE the winner's one-word index — never build the corpus's
      val lock = new Path(dir + ".lock")
      val fs = StoreFs.of(lock, spark.sparkContext.hadoopConfiguration)
      fs.create(lock, true).close()
      val winner = postingsOf("zzwinner" -> Seq(7L))
      val t = new Thread(() => {
        Thread.sleep(400)
        IndexStore.writeIndexTable(winner, dir)
        fs.create(new Path(dir, ArtifactStore.DoneMarker), true).close()
        fs.delete(lock, false)
      })
      try {
        t.start()
        val misses0 = ArtifactStore.misses.get()
        val served = IndexStore.dsv2IndexFor(spark, sf)
        t.join()
        assert(served === dir)
        assert(ArtifactStore.misses.get() === misses0, "the waiting loser built")
        assert(IndexStore.readIndexTable(spark, served).select("word")
          .as[String].collect().toSeq === Seq("zzwinner"))
      } finally t.join()
    }
  }
}
