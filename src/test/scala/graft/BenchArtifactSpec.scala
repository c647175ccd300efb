package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.{Dedup, InvertedIndex, Similarity}
import graft.sources.Tables
import graft.tools.Memos

/** Pins the cold protocol's two resets: `Memos.clearAll` (session
  * towers) and the artifact matcher (Bench.artifactPattern):
  * the clear for one corpus dir must hit every artifact shape the
  * sources actually write for THAT dir and none of a sibling scale's —
  * the earlier bare-substring match deleted /root/testdata/sf10's
  * artifacts when clearing for /root/testdata/sf1. */
class BenchArtifactSpec extends SparkSpec {

  private def matches(sfDir: String, name: String): Boolean =
    Bench.artifactPattern(sfDir).pattern.matcher(name).matches()

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

  test("matches every real artifact shape for the target dir") {
    val d = "/root/testdata/sf0.1"
    // the REAL shape: kind prefix ends with '_' and an absolute dir's
    // token starts with '_', so names carry a double underscore
    val t = "__root_testdata_sf0_1"
    // IndexStore materialize-once artifacts: graft_<kind>_<token>_<hex>
    for (kind <- Seq("textindex", "dsv2idx", "delidx", "mergeidx",
                     "deltaidx", "compactidx", "ttidx", "vdidx"))
      assert(matches(d, s"graft_$kind${t}_1a2b3c4d"), kind)
    // VectorStore: same shape
    assert(matches(d, s"graft_vecstore${t}_ffffffff"))
    // Sidecar copies: graft_sidecar_<fmt>_<token>_<table>_<hex>
    for (fmt <- Seq("csv", "json", "xml", "orc", "avro"))
      assert(matches(d, s"graft_sidecar_$fmt${t}_documents_9"), fmt)
    // short (positive-int) fingerprints too
    assert(matches(d, s"graft_textindex${t}_7f"))
  }

  test("sf1 clear leaves sf10 and sf1.5 artifacts intact") {
    val sf1 = "/root/testdata/sf1"
    // sf10's token continues sf1's with a digit — must NOT match
    assert(!matches(sf1, "graft_textindex__root_testdata_sf10_1a2b3c4d"))
    assert(!matches(sf1, "graft_sidecar_csv__root_testdata_sf10_documents_9f"))
    // sf1.5 sanitizes to _sf1_5 — the '5' segment is not alphabetic,
    // so it cannot be mistaken for a table-name segment
    assert(!matches(sf1, "graft_textindex__root_testdata_sf1_5_1a2b3c4d"))
    assert(!matches(sf1, "graft_sidecar_csv__root_testdata_sf1_5_documents_9f"))
    // and sf1's own artifacts still match
    assert(matches(sf1, "graft_textindex__root_testdata_sf1_1a2b3c4d"))
    assert(matches(sf1, "graft_sidecar_csv__root_testdata_sf1_documents_9f"))
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
      val fresh = graft.sources.Sidecar.storeArtifactDir("dsv2idx",
        testdataDir, s"$testdataDir/documents.parquet")
      assert(fresh !== older)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(fresh)),
        "a fresh stamp found a built store")
      val newer = IndexStore.dsv2IndexFor(spark, testdataDir)
      built += newer
      assert(newer === fresh)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(newer, "_GRAFT_READY")))
      assert(matches(testdataDir, new java.io.File(newer).getName),
        "the cold protocol's clear must still find a stamped artifact")
      assert(rows(newer) === rows(older))
    } finally {
      CodeStamp.stamp = own
      built.foreach(rm)
    }
  }

  test("unrelated tmp entries never match") {
    val d = "/root/testdata/sf0.1"
    assert(!matches(d, "graft_wh12345"))                 // spec warehouses
    assert(!matches(d, "spark-abc123"))                  // spark scratch
    assert(!matches(d, "graft_index"))                   // demo default out
    assert(!matches(d, "graft_textindex__root_testdata_sf0_01_1a2b"))
  }
}
