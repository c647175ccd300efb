package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex
import graft.sources.IndexStore
import graft.streaming.EventStreams

/** LSM-style incremental index maintenance (IndexStore deltas):
  * base + delta epochs merge to the full rebuild, the base scan never
  * sees half-merged state, compaction folds and deletes epochs with
  * idempotent crash recovery, and the streaming sink lands epochs
  * through the V2 committer. */
class DeltaStoreSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$testdataDir/documents.parquet")

  private def fullIndex =
    InvertedIndex.postingsUnordered(docs)
      .select(col("word"), col("df"),
        col("postings").cast("array<bigint>").as("postings"))
      .orderBy("word").collect().map(_.toString).toList

  private def freshSplitArtifact(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_spec").toString
    IndexStore.writeIndexTable(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 0)), dir)
    IndexStore.writeIndexDelta(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 1)),
      dir, epoch = 1L)
    dir
  }

  test("merged read == full rebuild; base scan stays delta-blind") {
    val dir = freshSplitArtifact()
    val merged = IndexStore.readMerged(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    assert(merged === fullIndex)
    // the PLAIN base scan must see only the base epoch (no torn state)
    val baseOnly = IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    val evenOnly = InvertedIndex.postingsUnordered(
        docs.where(col("doc_id") % 2 === 0))
      .select(col("word"), col("df"),
        col("postings").cast("array<bigint>").as("postings"))
      .orderBy("word").collect().map(_.toString).toList
    assert(baseOnly === evenOnly)
    assert(baseOnly !== merged, "the split corpus should differ from full")
  }

  test("merged plan: one scan with no exchange, broadcast or aggregate") {
    val dir = freshSplitArtifact()
    val merged = IndexStore.readMerged(spark, dir)
    merged.collect()
    val plan = merged.queryExecution.executedPlan.toString
    // the reader unions each letter's postings itself: nothing above
    // the scan regroups words or moves rows between tasks
    assert(plan.contains("graft-index merged"), s"not the merged scan:\n$plan")
    assert(!plan.contains("Exchange"), s"an exchange (or broadcast):\n$plan")
    assert(!plan.contains("Aggregate"), s"an aggregate:\n$plan")
  }

  test("compact folds deltas into the base, deletes them, restores sortedness") {
    val dir = freshSplitArtifact()
    val before = IndexStore.readMerged(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    IndexStore.compact(spark, dir)
    assert(IndexStore.listDeltas(spark, dir).isEmpty, "deltas survive compact")
    val after = IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    assert(after === before)
    assert(after === fullIndex)
    // the sorted rewrite re-licenses top-N pushdown
    assert(new java.io.File(dir, "_GRAFT_SORTED").exists())
    // compacting a delta-free artifact is a no-op
    IndexStore.compact(spark, dir)
    assert(IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList === fullIndex)
  }

  test("compaction keeps a delta epoch published while it runs") {
    import spark.implicits._
    val dir = freshSplitArtifact()
    // a ready epoch built elsewhere, published below by plain file copy
    val late = java.nio.file.Files.createTempDirectory("graft_late_epoch")
    IndexStore.writeIndexTable(Seq(("zzlate", 1L, Seq(99L))).toDF("word", "df", "postings"),
      late.toString)
    def publish(): Unit = {
      val to = java.nio.file.Paths.get(dir, "_delta_9")
      val walk = java.nio.file.Files.walk(late)
      try walk.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString != "_GRAFT_READY")
        .foreach(p => java.nio.file.Files.copy(p, to.resolve(late.relativize(p))))
      finally walk.close()
      java.nio.file.Files.createFile(to.resolve("_GRAFT_READY")) // ready last
    }
    val published = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (published.getCount > 0) { publish(); published.countDown() }
    }
    spark.sparkContext.addSparkListener(l)
    try IndexStore.compact(spark, dir)
    finally {
      assert(published.await(30, java.util.concurrent.TimeUnit.SECONDS))
      spark.sparkContext.removeSparkListener(l)
    }
    assert(IndexStore.listDeltas(spark, dir).map(new java.io.File(_).getName) ===
      Seq("_delta_9"), "compaction retired an epoch it never merged")
    val merged = IndexStore.readMerged(spark, dir)
    assert(merged.where(col("word") =!= "zzlate")
      .orderBy("word").collect().map(_.toString).toList === fullIndex)
    assert(merged.where(col("word") === "zzlate").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](2))).toList === List((1L, Seq(99L))))
  }

  test("streaming sink: epochs pin no tower and no RDD; merged rows unchanged") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sdelta_pins").toString
    IndexStore.writeIndexTable(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 0)), dir)
    val odd = docs.where(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    val towers = graft.tools.Memos.names.count(_ == "tf")
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.indexDeltaSink(in.toDF.toDF("doc_id", "text"), dir).start()
    try odd.grouped((odd.length + 3) / 4).foreach { b =>
      in.addData(b.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    assert(IndexStore.listDeltas(spark, dir).size === 4)
    assert((sc.getPersistentRDDs.keySet -- pinned).isEmpty,
      "a micro-batch pinned an RDD")
    assert(graft.tools.Memos.names.count(_ == "tf") === towers,
      "a micro-batch registered a tf tower")
    assert(IndexStore.readMerged(spark, dir)
      .orderBy("word").collect().map(_.toString).toList === fullIndex)
  }

  test("crash recovery: re-merging a delta that survived compaction is a no-op") {
    val dir = freshSplitArtifact()
    IndexStore.compact(spark, dir)
    // simulate a crash between base publish and delta deletion: the
    // same epoch reappears
    IndexStore.writeIndexDelta(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 1)),
      dir, epoch = 1L)
    val merged = IndexStore.readMerged(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    assert(merged === fullIndex, "idempotent re-merge broke")
  }

  test("multi-epoch overlapping deltas: per-word posting-set union, exact") {
    import spark.implicits._
    def postingsOf(rows: Seq[(String, Seq[Long])]) =
      rows.toDF("word", "postings")
        .select(col("word"), size(col("postings")).cast("long").as("df"),
          col("postings").cast("array<bigint>").as("postings"))
    val dir = java.nio.file.Files.createTempDirectory("graft_multi_delta").toString
    IndexStore.writeIndexTable(
      postingsOf(Seq("alpha" -> Seq(1L), "beta" -> Seq(1L, 2L))), dir)
    // epoch 1 touches an existing word and adds a new one
    IndexStore.writeIndexDelta(
      postingsOf(Seq("alpha" -> Seq(3L), "delta" -> Seq(3L))), dir, 1L)
    // epoch 2 overlaps epoch 1 (re-crawl of doc 3) and adds doc 4
    IndexStore.writeIndexDelta(
      postingsOf(Seq("alpha" -> Seq(3L), "delta" -> Seq(3L, 4L),
        "echo" -> Seq(4L))), dir, 2L)
    val merged = IndexStore.readMerged(spark, dir)
      .orderBy("word")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
      .toList
    assert(merged === List(
      ("alpha", 2L, List(1L, 3L)),
      ("beta", 2L, List(1L, 2L)),
      ("delta", 2L, List(3L, 4L)),
      ("echo", 1L, List(4L))))
    // compaction converges to the same relation and drops both epochs
    IndexStore.compact(spark, dir)
    assert(IndexStore.listDeltas(spark, dir).isEmpty)
    val compacted = IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2).toList))
      .toList
    assert(compacted === merged)
  }

  test("overwrite clears delta epochs: a replaced corpus resurrects nothing") {
    import spark.implicits._
    def postingsOf(rows: Seq[(String, Seq[Long])]) =
      rows.toDF("word", "postings")
        .select(col("word"), size(col("postings")).cast("long").as("df"),
          col("postings").cast("array<bigint>").as("postings"))
    val dir = java.nio.file.Files.createTempDirectory("graft_ow_delta").toString
    IndexStore.writeIndexTable(postingsOf(Seq("old" -> Seq(1L))), dir)
    IndexStore.writeIndexDelta(postingsOf(Seq("stale" -> Seq(2L))), dir, 1L)
    // a full refresh of the artifact: the old corpus's deltas must go
    // with it, or readMerged would serve documents that no longer exist
    IndexStore.writeIndexTable(postingsOf(Seq("fresh" -> Seq(9L))), dir)
    assert(IndexStore.listDeltas(spark, dir).isEmpty,
      "stale delta epochs survived an overwrite")
    assert(IndexStore.readMerged(spark, dir)
      .select("word").collect().map(_.getString(0)).toList === List("fresh"))
  }

  test("append jobs never collide: both jobs' rows survive in one letter") {
    import spark.implicits._
    def postingsOf(rows: Seq[(String, Seq[Long])]) =
      rows.toDF("word", "postings")
        .select(col("word"), size(col("postings")).cast("long").as("df"),
          col("postings").cast("array<bigint>").as("postings"))
    val dir = java.nio.file.Files.createTempDirectory("graft_append").toString
    // two separate APPEND jobs, same letter, same partition ids — the
    // job-unique queryId in the published file names keeps them apart
    postingsOf(Seq("alpha" -> Seq(1L)))
      .write.format("graft-index").mode("append").save(dir)
    postingsOf(Seq("apple" -> Seq(2L)))
      .write.format("graft-index").mode("append").save(dir)
    val words = IndexStore.readIndexTable(spark, dir)
      .select("word").collect().map(_.getString(0)).toSet
    assert(words === Set("alpha", "apple"),
      s"an append overwrote the previous job's files: $words")
  }

  test("streaming source: readStream tails delta epochs as micro-batches") {
    import spark.implicits._
    def postingsOf(rows: Seq[(String, Seq[Long])]) =
      rows.toDF("word", "postings")
        .select(col("word"), size(col("postings")).cast("long").as("df"),
          col("postings").cast("array<bigint>").as("postings"))
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_feed").toString
    // bootstrap base — NOT part of the feed
    IndexStore.writeIndexTable(postingsOf(Seq("base" -> Seq(1L))), dir)
    val q = spark.readStream.format("graft-index").load(dir)
      .select("word", "df")
      .writeStream.format("memory").queryName("idx_feed")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("idx_feed").count() === 0,
        "the base artifact leaked into the delta feed")
      IndexStore.writeIndexDelta(postingsOf(Seq("alpha" -> Seq(2L))), dir, 1L)
      q.processAllAvailable()
      assert(spark.table("idx_feed").select("word").collect()
        .map(_.getString(0)).toSet === Set("alpha"))
      IndexStore.writeIndexDelta(
        postingsOf(Seq("beta" -> Seq(3L), "gamma" -> Seq(3L, 4L))), dir, 2L)
      q.processAllAvailable()
      val rows = spark.table("idx_feed")
        .collect().map(r => (r.getString(0), r.getLong(1))).toList
      // each epoch's rows arrive exactly once, dfs intact
      assert(rows.sorted === List(("alpha", 1L), ("beta", 1L), ("gamma", 2L)))
    } finally q.stop()
  }

  test("streaming sink: epochs land as deltas, merged == batch build") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sdelta").toString
    // base: even docs (batch bootstrap)
    IndexStore.writeIndexTable(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") % 2 === 0)), dir)
    // stream: the odd docs arrive over two micro-batches
    val odd = docs.where(col("doc_id") % 2 === 1)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (b1, b2) = odd.splitAt(odd.length / 2)
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.indexDeltaSink(
      in.toDF.toDF("doc_id", "text"), dir).start()
    try {
      in.addData(b1.toIndexedSeq); q.processAllAvailable()
      in.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    assert(IndexStore.listDeltas(spark, dir).size === 2)
    val merged = IndexStore.readMerged(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    assert(merged === fullIndex)
    // and compaction converges the streamed artifact too
    IndexStore.compact(spark, dir)
    assert(IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList === fullIndex)
  }

  test("time travel: retained generation serves the pre-compaction base exactly") {
    val dir = freshSplitArtifact()
    val baseRows = IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList
    IndexStore.compact(spark, dir, retainGeneration = true)
    assert(IndexStore.listGenerations(spark, dir) === Seq(0L))
    // live table = the full merge; generation 0 = the old base, exact
    assert(IndexStore.readIndexTable(spark, dir)
      .orderBy("word").collect().map(_.toString).toList === fullIndex)
    assert(IndexStore.readIndexTable(spark, s"$dir/_gen_0")
      .orderBy("word").collect().map(_.toString).toList === baseRows)
    // SQL surface: VERSION AS OF via the catalog, pushdown intact
    spark.conf.set("spark.sql.catalog.graft_tt",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt.warehouse",
      new java.io.File(dir).getParent)
    val tbl = s"graft_tt.`${new java.io.File(dir).getName}`"
    val v0 = spark.sql(s"SELECT word, df FROM $tbl VERSION AS OF 0 ORDER BY word")
      .collect().map(_.toString).toList
    assert(v0 === IndexStore.readIndexTable(spark, s"$dir/_gen_0")
      .select("word", "df").orderBy("word").collect().map(_.toString).toList)
    // a second retained compaction stacks generation 1
    IndexStore.writeIndexDelta(
      InvertedIndex.postingsUnordered(docs.where(col("doc_id") === 1L)),
      dir, epoch = 2L)
    IndexStore.compact(spark, dir, retainGeneration = true)
    assert(IndexStore.listGenerations(spark, dir) === Seq(0L, 1L))
    assert(spark.sql(s"SELECT word FROM $tbl VERSION AS OF 1").count() ===
      fullIndex.size.toLong)
    // a version that was never published fails as a missing table,
    // and the base scan stays generation-blind
    assertThrows[Exception](
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 7").collect())
    assert(IndexStore.readIndexTable(spark, dir).count() ===
      fullIndex.size.toLong)
  }

  test("time travel: TIMESTAMP AS OF resolves by snapshot instant") {
    val dir = freshSplitArtifact()
    val before = System.currentTimeMillis() * 1000L // micros
    Thread.sleep(1100) // FS mtime granularity can be a full second
    IndexStore.compact(spark, dir, retainGeneration = true)
    spark.conf.set("spark.sql.catalog.graft_tt2",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt2.warehouse",
      new java.io.File(dir).getParent)
    val tbl = s"graft_tt2.`${new java.io.File(dir).getName}`"
    def at(micros: Long) = spark.sql(
      s"SELECT word FROM $tbl TIMESTAMP AS OF " +
        s"timestamp_micros(${micros}L)").count()
    // before the snapshot instant → generation 0 (the old base);
    // far in the future → the live merged table
    assert(at(before) ===
      IndexStore.readIndexTable(spark, s"$dir/_gen_0").count())
    assert(at((System.currentTimeMillis() + 60000) * 1000L) ===
      fullIndex.size.toLong)
  }
}
