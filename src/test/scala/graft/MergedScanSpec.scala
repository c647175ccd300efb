package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.InvertedIndex
import graft.sources.{GraftCatalog, IndexStore}
import graft.tools.Memos

/** The merged store scan and the one-pass postings are equivalence-
  * tested against the plans they replace: `readMerged` against the
  * broadcast anti/semi split of base ∪ deltas, and `postingsUnordered`
  * against the aggregation over the shared (doc_id, word) leaf. */
class MergedScanSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$testdataDir/documents.parquet")

  /** The reference merge: delta words broadcast and split the base into
    * an untouched part, passed through, and a touched part regrouped
    * with the delta rows. */
  private def splitMerge(dir: String): DataFrame = {
    val base = IndexStore.readIndexTable(spark, dir)
    val deltaRel = IndexStore.listDeltas(spark, dir)
      .map(IndexStore.readIndexTable(spark, _)).reduce(_ unionByName _)
    val deltaWords = broadcast(deltaRel.select("word").distinct())
    base.join(deltaWords, Seq("word"), "left_anti").unionByName(
      base.join(deltaWords, Seq("word"), "left_semi")
        .unionByName(deltaRel)
        .groupBy("word")
        .agg(sort_array(array_distinct(flatten(collect_list(col("postings")))))
          .as("postings"))
        .select(col("word"), size(col("postings")).cast("long").as("df"),
          col("postings")))
  }

  private def rows(df: DataFrame): List[String] =
    df.collect().map(_.toString).toList.sorted

  private def assertMergedEqualsSplit(dir: String): Unit = {
    assert(IndexStore.listDeltas(spark, dir).nonEmpty)
    val merged = IndexStore.readMerged(spark, dir)
    assert(merged.schema === splitMerge(dir).schema)
    assert(rows(merged) === rows(splitMerge(dir)))
    assert(rows(merged.select("word", "df")) ===
      rows(splitMerge(dir).select("word", "df")))
  }

  private def postingsOf(rows: (String, Seq[Long])*): DataFrame = {
    import spark.implicits._
    rows.toDF("word", "postings")
      .select(col("word"), size(col("postings")).cast("long").as("df"),
        col("postings").cast("array<bigint>").as("postings"))
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def slice(pred: org.apache.spark.sql.Column) =
    InvertedIndex.postingsUnordered(docs.where(pred))

  test("merged scan ≡ split merge: overlapping epochs, delta-only words and letters") {
    val dir = tmp("graft_ms_hand")
    IndexStore.writeIndexTable(postingsOf("alpha" -> Seq(1L), "apple" -> Seq(1L, 2L),
      "beta" -> Seq(2L), "bravo" -> Seq(5L, 6L)), dir)
    // epoch 1 touches alpha, adds a delta-only a-word and a z-word (a
    // letter the base lacks); epoch 2 overlaps epoch 1 on alpha and zulu
    IndexStore.writeIndexDelta(postingsOf("alpha" -> Seq(3L), "avocado" -> Seq(3L),
      "zulu" -> Seq(3L)), dir, 1L)
    IndexStore.writeIndexDelta(postingsOf("alpha" -> Seq(1L, 3L, 4L),
      "zulu" -> Seq(3L, 4L), "beta" -> Seq(4L)), dir, 2L)
    assertMergedEqualsSplit(dir)
    assert(IndexStore.readMerged(spark, dir).where(col("word") === "alpha")
      .collect().map(r => (r.getLong(1), r.getSeq[Long](2))).toList ===
      List((3L, Seq(1L, 3L, 4L))))
  }

  test("merged scan ≡ split merge over the corpus, word filters pushed") {
    val dir = tmp("graft_ms_corpus")
    IndexStore.writeIndexTable(slice(col("doc_id") % 2 === 0), dir)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 4 === 1), dir, 1L)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 4 === 3), dir, 2L)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 3 === 0), dir, 3L) // overlaps
    assertMergedEqualsSplit(dir)
    val some = rows(IndexStore.readMerged(spark, dir).select("word")).take(40)
      .map(_.stripPrefix("[").stripSuffix("]"))
    val filters = Seq(col("word") === some.head, col("word").isin(some.take(7): _*),
      col("word").startsWith(some.last.take(1)), col("word") >= some(20))
    filters.foreach { f =>
      val merged = IndexStore.readMerged(spark, dir).where(f)
      assert(rows(merged) === rows(splitMerge(dir).where(f)), f.toString)
      assert(merged.count() > 0, f.toString)
    }
  }

  test("merged scan ≡ split merge over a base after DELETE and MERGE") {
    val dir = tmp("graft_ms_dml")
    IndexStore.writeIndexTable(slice(col("doc_id") % 2 === 0), dir)
    val f = new java.io.File(dir)
    val cat = GraftCatalog.registerFor(spark, "graft_ms_cat", f.getParent)
    spark.sql(s"DELETE FROM $cat.`${f.getName}` WHERE word LIKE 't%'")
    slice(col("doc_id") % 3 === 0).where(col("word").startsWith("s"))
      .select(col("word"), col("df"), col("postings").cast("array<bigint>").as("postings"))
      .createOrReplaceTempView("graft_ms_merge_src")
    spark.sql(
      s"""MERGE INTO $cat.`${f.getName}` t USING graft_ms_merge_src s ON t.word = s.word
         |WHEN MATCHED THEN UPDATE SET df = s.df, postings = s.postings
         |WHEN NOT MATCHED THEN
         |  INSERT (word, df, postings) VALUES (s.word, s.df, s.postings)""".stripMargin)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 2 === 1), dir, 1L)
    assertMergedEqualsSplit(dir)
  }

  test("merged scan ≡ split merge for a re-merged crash-recovery epoch") {
    val dir = tmp("graft_ms_crash")
    IndexStore.writeIndexTable(slice(col("doc_id") % 2 === 0), dir)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 2 === 1), dir, 1L)
    IndexStore.compact(spark, dir)
    // the epoch reappears, as after a crash between publish and deletion
    IndexStore.writeIndexDelta(slice(col("doc_id") % 2 === 1), dir, 1L)
    assertMergedEqualsSplit(dir)
    assert(rows(IndexStore.readMerged(spark, dir)) ===
      rows(IndexStore.readIndexTable(spark, dir)))
  }

  test("merged scan ≡ split merge with one letter per split") {
    val dir = tmp("graft_ms_split")
    IndexStore.writeIndexTable(slice(col("doc_id") % 2 === 0), dir)
    IndexStore.writeIndexDelta(slice(col("doc_id") % 2 === 1), dir, 1L)
    val letters = IndexStore.readMerged(spark, dir)
      .select(substring(col("word"), 1, 1)).distinct().count()
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      val merged = IndexStore.readMerged(spark, dir)
      assert(merged.rdd.getNumPartitions.toLong === letters)
      assertMergedEqualsSplit(dir)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(IndexStore.readMerged(spark, dir).rdd.getNumPartitions.toLong < letters)
  }

  test("one-pass postings ≡ the leaf path, eager and lazy") {
    val corpus = spark.read.parquet(s"$testdataDir/documents.parquet")
      .where(col("doc_id") % 5 =!= 2) // a frame no other spec built a leaf for
    def leafPath(dw: DataFrame) = dw.groupBy("word").agg(
      sort_array(collect_set(col("doc_id"))).as("postings"), count(lit(1)).as("df"))
    Memos.clearAll()
    val onePass = InvertedIndex.postingsUnordered(corpus)
    assert(!Memos.names.contains("tf"), "the one-pass build registered a leaf")
    // the leaf, built by a slice consumer, is then folded instead
    InvertedIndex.postingsUnorderedSlice(corpus, lit(true)).count()
    assert(Memos.names.count(_ == "tf") === 1)
    val folded = InvertedIndex.postingsUnordered(corpus)
    assert(onePass.schema === folded.schema)
    assert(rows(onePass) === rows(folded))
    assert(rows(onePass) === rows(leafPath(TextFns.docWords(corpus))))
    Memos.clearAll()
    spark.conf.set("spark.graft.eagerMaterialize", "false")
    try {
      val lazyRows = InvertedIndex.postingsUnordered(corpus)
      assert(lazyRows.schema === leafPath(TextFns.docWords(corpus)).schema)
      assert(rows(lazyRows) === rows(leafPath(TextFns.docWords(corpus))))
    } finally spark.conf.set("spark.graft.eagerMaterialize", "true")
  }
}
