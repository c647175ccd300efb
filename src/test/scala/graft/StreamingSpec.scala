package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import graft.tools.Memos

/** Streaming is outside the DuckDB oracle (SURVEY §2.C) — MemoryStream
  * drives the transforms synchronously here instead. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("windowed counts aggregate per tumbling window and type") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(
      Ev(1, ts(5), "click", 1.0), Ev(2, ts(15), "click", 2.0),
      Ev(1, ts(20), "view", 5.0), Ev(3, ts(59), "click", 4.0))
    val q = EventStreams.windowedCounts(in.toDF, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("win").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set(("click", 3L, 7.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("hopping windowed counts: every event in exactly 2 windows, ≡ batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    // two batches — the second lands in windows overlapping the first
    in.addData(Ev(1, ts(5), "click", 1.0), Ev(2, ts(15), "view", 2.0))
    in.addData(Ev(3, ts(40), "click", 4.0))
    val q = EventStreams.hoppingWindowedCounts(in.toDF,
        windowLen = "1 hour", slide = "30 minutes")
      .writeStream.format("memory").queryName("hop")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("hop").collect()
        .map(r => ((r.getTimestamp(0).toString, r.getString(1)),
          (r.getLong(2), r.getDouble(3))))
      // every event counted twice across the matrix
      assert(rows.map(_._2._1).sum === 6L)
      // stream ≡ batch: the same call over a plain batch frame
      val batch = EventStreams.hoppingWindowedCounts(
          spark.createDataset(Seq(
            Ev(1, ts(5), "click", 1.0), Ev(2, ts(15), "view", 2.0),
            Ev(3, ts(40), "click", 4.0)))(
            org.apache.spark.sql.Encoders.product[Ev]).toDF,
          windowLen = "1 hour", slide = "30 minutes")
        .collect()
        .map(r => ((r.getTimestamp(0).toString, r.getString(1)),
          (r.getLong(2), r.getDouble(3))))
      assert(rows.toMap === batch.toMap)
    } finally q.stop()
  }

  test("streaming PSI drift: per-window PSI vs reference, replay-deterministic") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    // window 1 (10:00): perfectly matches the reference (2:1:1 over
    // buckets of width 10 → shares 0.5/0.25/0.25) → PSI exactly 0
    in.addData(
      Ev(1, ts(1), "e", 5.0), Ev(1, ts(2), "e", 6.0),   // bucket 0 ×2
      Ev(1, ts(3), "e", 15.0),                          // bucket 1
      Ev(1, ts(4), "e", 25.0))                          // bucket 2
    // window 2 (11:00, later batch): everything in bucket 2 → drift;
    // one value out of range clamps into the edge bucket
    in.addData(
      Ev(2, Timestamp.valueOf("2024-01-01 11:05:00"), "e", 27.0),
      Ev(2, Timestamp.valueOf("2024-01-01 11:06:00"), "e", 29.0),
      Ev(2, Timestamp.valueOf("2024-01-01 11:07:00"), "e", 999.0))
    val ref = Seq(0.5, 0.25, 0.25)
    val q = EventStreams.streamingPsiDrift(in.toDF, ref,
        bucketWidth = 10.0, windowLen = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("psidrift")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("psidrift").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      assert(rows.length === 2)
      assert(rows(0)._2 === 4L && rows(0)._3 === 0.0,
        s"matching window must have zero drift: ${rows(0)}")
      // drifted window: recompute with the same quantized formula
      val expect = math.floor((1.0 - 0.25) * math.log(1.0 / 0.25) * 1e9) / 1e9
      assert(rows(1)._2 === 3L && math.abs(rows(1)._3 - expect) < 1e-12,
        s"drifted window PSI: ${rows(1)._3} vs $expect")
    } finally q.stop()
  }

  test("session windows split on the inactivity gap (batch frame)") {
    val df = Seq(
      Ev(1, ts(0), "click", 1.0), Ev(1, ts(2), "click", 1.0), // session A
      Ev(1, ts(20), "click", 1.0), // session B after 18-min gap
      Ev(2, ts(1), "view", 2.0)
    ).toDF
    val got = EventStreams.sessionCounts(df, "5 minutes")
      .collect().map(r => (r.getLong(2), r.getLong(3))).toList.sorted
    assert(got === List((1L, 1L), (1L, 2L), (2L, 1L)))
  }

  test("watermark drops events later than the threshold (append mode)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(in.toDF, "10 minutes", "10 minutes")
      .writeStream.format("memory").queryName("late").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(5), "click", 1.0))
      q.processAllAvailable()
      // advance event time far past the first window + watermark
      in.addData(Ev(1, Timestamp.valueOf("2024-01-01 12:00:00"), "click", 1.0))
      q.processAllAvailable()
      // this event is hours late — must be dropped, not re-open its window
      in.addData(Ev(1, ts(7), "click", 99.0))
      q.processAllAvailable()
      in.addData(Ev(1, Timestamp.valueOf("2024-01-01 14:00:00"), "click", 1.0))
      q.processAllAvailable()
      val firstWindow = spark.table("late").collect()
        .filter(_.getTimestamp(0) === Timestamp.valueOf("2024-01-01 10:00:00"))
      assert(firstWindow.length === 1)
      assert(firstWindow(0).getLong(2) === 1L) // late 99.0 event not counted
    } finally q.stop()
  }

  test("streaming dedup keeps only the first arrival of each content hash") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingDedup(
        in.toDF.toDF("doc_id", "text", "ingest_ts"), "10 minutes")
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      in.addData(
        (1L, "same text", ts(0)),
        (2L, "same text", ts(0)), // duplicate content, same batch
        (3L, "other", ts(1)))
      q.processAllAvailable()
      in.addData((4L, "same text", ts(2))) // duplicate across batches
      q.processAllAvailable()
      in.addData((5L, "brand new", ts(3)))
      q.processAllAvailable()
      val kept = spark.table("sdedup").collect().map(_.getLong(0)).toSet
      // exactly one doc per distinct content; the first arrival wins
      assert(kept.intersect(Set(1L, 2L, 4L)).size === 1)
      assert(kept.contains(3L) && kept.contains(5L))
      // the kept set matches the batch dedup-keep canonical count
      val batchKeep = graft.operators.Dedup.dedupKeep(Seq(
          (1L, "same text"), (2L, "same text"), (3L, "other"),
          (4L, "same text"), (5L, "brand new")).toDF("doc_id", "text")).count()
      assert(kept.size.toLong === batchKeep)
    } finally q.stop()
  }

  test("foreachBatch sink: per-batch merge into a stored aggregate ≡ batch rebuild") {
    // the production sink pattern: each micro-batch's PARTIAL aggregate
    // is merged into a persistent store with the q120 associative
    // combine — the store never re-reads history, yet ends exactly
    // equal to a whole-input rebuild
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val store = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val in = MemoryStream[(Long, Long)] // (custkey, cents)
    val q = in.toDF.toDF("k", "c")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.groupBy("k")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
          .collect().foreach { r =>
            val (k, n, s) = (r.getLong(0), r.getLong(1), r.getLong(2))
            val (pn, ps) = store.getOrElse(k, (0L, 0L))
            store(k) = (pn + n, ps + s)
          }
      }.start()
    try {
      val all = Seq((1L, 100L), (2L, 250L), (1L, 50L), (3L, 70L),
        (2L, 30L), (1L, 25L))
      in.addData(all.take(3)); q.processAllAvailable()
      in.addData(all.drop(3)); q.processAllAvailable()
      val rebuild = all.groupBy(_._1)
        .map { case (k, v) => k -> (v.length.toLong, v.map(_._2).sum) }
      assert(store.toMap === rebuild)
    } finally q.stop()
  }

  test("streaming CMS grid converges to the batch sketch; state is constant-size") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = EventStreams.streamingCmsCells(in.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("scms").outputMode("complete").start()
    try {
      val docs = Seq((1L, "spark join batch"), (2L, "spark spark window"),
        (3L, "merge sort table"), (4L, "join join join value"))
      in.addData(docs.take(2))
      q.processAllAvailable()
      in.addData(docs.drop(2))
      q.processAllAvailable()
      val got = spark.table("scms").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      // grid never exceeds the sketch geometry — THE constant-state point
      assert(got.size <= operators.Sketches.CmsDepth * operators.Sketches.CmsWidth)
      // ≡ the batch sketch over everything that arrived
      val batch = operators.Sketches
        .cmsTokenCells(graft.functions.TextFns.tokens(docs.toDF("doc_id", "text")))
        .groupBy("j", "bucket").count().collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got === batch)
      // total mass = one increment per token occurrence per sketch row
      assert(got.values.sum ===
        operators.Sketches.CmsDepth.toLong * 13L)
    } finally q.stop()
  }

  test("streaming HLL registers converge to the batch sketch (max law)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val q = EventStreams.streamingHllRegisters(
        in.toDF.toDF("l_returnflag", "l_partkey"))
      .writeStream.format("memory").queryName("shll").outputMode("complete").start()
    try {
      val rows = (1L to 40L).map(k => (if (k % 2 == 0) "A" else "N", k))
      in.addData(rows.take(15)); q.processAllAvailable()
      in.addData(rows.drop(15)); q.processAllAvailable()
      val got = spark.table("shll").collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      // constant-state bound: ≤ groups × 64 registers
      assert(got.size <= 2 * operators.Sketches.HllRegisters)
      import spark.implicits._
      val batch = operators.Sketches.hllRegisters(
          rows.toDF("l_returnflag", "l_partkey")).collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming postings converge to the batch index; dedup state is watermark-bounded") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingPostings(
        in.toDF.toDF("doc_id", "text", "ingest_ts"), "10 minutes")
      .writeStream.format("memory").queryName("sidx").outputMode("complete").start()
    try {
      in.addData(
        (1L, "The quick brown fox. The FOX!", ts(0)),
        (2L, "quick, quick fox 99 bottles", ts(1)))
      q.processAllAvailable()
      val dedupRows0 = q.lastProgress.stateOperators
        .filter(_.operatorName.toLowerCase.contains("dedup"))
        .map(_.numRowsTotal).sum
      assert(dedupRows0 > 0, "dedup operator should hold in-watermark state")
      // doc 3 arrives hours later: the watermark passes batch-1's rows,
      // so their (doc_id, word) dedup state must be EVICTED (round-1
      // held it forever — VERDICT r1 #6)
      in.addData((3L, "Zebra   fox\tjumps", Timestamp.valueOf("2024-01-01 14:00:00")))
      q.processAllAvailable()
      in.addData((3L, "Zebra   fox\tjumps", Timestamp.valueOf("2024-01-01 14:00:01")))
      q.processAllAvailable() // eviction applies on the trigger after the watermark advances
      val dedupRows1 = q.lastProgress.stateOperators
        .filter(_.operatorName.toLowerCase.contains("dedup"))
        .map(_.numRowsTotal).sum
      assert(dedupRows1 < dedupRows0 + 3, // batch-1 pairs gone; only recent rows remain
        s"dedup state not evicted: $dedupRows0 -> $dedupRows1")
      // a doc-1 token re-emitted AFTER its dedup state was evicted is
      // absorbed idempotently (df derives from the posting set)
      in.addData((1L, "fox", Timestamp.valueOf("2024-01-01 14:00:02")))
      q.processAllAvailable()
      val streamed = spark.table("sidx").collect()
        .map(r => (r.getString(0), r.getSeq[Long](1).toList, r.getLong(2))).toSet
      val batch = graft.operators.InvertedIndex.postings(Seq(
          (1L, "The quick brown fox. The FOX!"),
          (2L, "quick, quick fox 99 bottles"),
          (3L, "Zebra   fox\tjumps")).toDF("doc_id", "text"))
        .collect().map(r => (r.getString(0), r.getSeq[Long](2).toList, r.getLong(1))).toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("stream-stream join matches within the time bound only") {
    import EventStreams.EvId
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[EvId]
    val purchases = MemoryStream[EvId]
    val q = EventStreams.clickPurchaseJoin(clicks.toDF, purchases.toDF)
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      clicks.addData(EvId(1L, 7L, ts(0), 0.0), EvId(2L, 8L, ts(0), 0.0))
      purchases.addData(
        EvId(101L, 7L, ts(30), 5.0),                                  // within 1h -> match
        EvId(102L, 7L, Timestamp.valueOf("2024-01-01 12:30:00"), 9.0), // outside -> no match
        EvId(103L, 9L, ts(10), 3.0))                                  // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows === Set((7L, 1L, 101L, 5.0)))
    } finally q.stop()
  }

  test("left-outer stream-stream join null-extends only after the watermark") {
    import EventStreams.EvId
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[EvId]
    val purchases = MemoryStream[EvId]
    val q = EventStreams.clickPurchaseLeftJoin(clicks.toDF, purchases.toDF)
      .writeStream.format("memory").queryName("sslj").outputMode("append").start()
    try {
      clicks.addData(
        EvId(1L, 7L, ts(0), 0.0),  // will match
        EvId(2L, 8L, ts(0), 0.0))  // never matches — must null-extend
      purchases.addData(EvId(101L, 7L, ts(30), 5.0))
      q.processAllAvailable()
      def rowsFor78 = spark.table("sslj").collect()
        .filter(r => r.getLong(0) == 7L || r.getLong(0) == 8L)
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      // the match emits immediately; the negative CANNOT be proven yet
      assert(rowsFor78 === Set((7L, 1L, 101L)))
      // push BOTH watermarks past click B's join bound (ts0 + 1h + 10m)
      val future = Timestamp.valueOf("2024-01-02 12:00:00")
      clicks.addData(EvId(3L, 99L, future, 0.0))
      purchases.addData(EvId(103L, 98L, future, 0.0))
      q.processAllAvailable()
      clicks.addData(EvId(4L, 99L, future, 0.0))
      purchases.addData(EvId(104L, 98L, future, 0.0))
      q.processAllAvailable()
      // now the unmatched click is emitted with null purchase columns
      assert(rowsFor78 === Set((7L, 1L, 101L), (8L, 2L, -1L)))
    } finally q.stop()
  }

  test("transformWithState ListState top-k ≡ batch top-k, state ≤ k per key") {
    implicit val ctx = spark.sqlContext
    val saved = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = EventStreams.statefulTopK(in.toDS, k = 3)
        .writeStream.format("memory").queryName("tws_topk")
        .outputMode("update").start()
      try {
        in.addData(Ev(7, ts(1), "a", 5.0), Ev(7, ts(2), "a", 1.0),
          Ev(7, ts(3), "a", 9.0), Ev(7, ts(4), "a", 7.0))
        q.processAllAvailable()
        // 4 values seen, only 3 survive in state — the 1.0 is gone
        in.addData(Ev(7, ts(5), "a", 8.0), Ev(9, ts(1), "b", 2.0))
        q.processAllAvailable()
        val last = spark.table("tws_topk").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
          .groupBy(_._1).map { case (k, rs) => (k, rs.last._2) }
        // batch top-3 over the full delivery: 9, 8, 7 (5 evicted at k=3)
        assert(last(7L) === List(9.0, 8.0, 7.0))
        assert(last(9L) === List(2.0))
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming dq counts ≡ the batch rule algebra over the same rows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.streamingDqCounts(in.toDF)
      .writeStream.format("memory").queryName("sdq")
      .outputMode("update").start()
    try {
      in.addData(
        Ev(1, ts(1), "click", 1.0),
        Ev(2, ts(2), "view", -0.5),     // range violation
        Ev(3, ts(3), "bogus", 2.0),     // accepted-values violation
        Ev(4, ts(4), "purchase", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sdq").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toList === List((4L, 1L, 1L)),
        "one 10-min window: 4 checked, 1 range violation, 1 type violation")
    } finally q.stop()
  }

  test("chained stateful ops: 5-min counts roll up to 15-min in ONE query") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.chainedWindowRollup(in.toDF)
      .writeStream.format("memory").queryName("chain_roll")
      .outputMode("append").start()
    try {
      // two 5-min windows inside the 10:00–10:15 rollup window
      in.addData(
        Ev(1, ts(1), "click", 0.0), Ev(2, ts(2), "click", 0.0),
        Ev(3, ts(3), "click", 0.0),                       // 10:00 window: 3
        Ev(4, ts(7), "click", 0.0), Ev(5, ts(8), "click", 0.0), // 10:05: 2
        Ev(6, ts(1), "view", 0.0))                        // 10:00 view: 1
      q.processAllAvailable()
      // advance the single watermark past 10:15 so BOTH stages close
      in.addData(Ev(9, Timestamp.valueOf("2024-01-01 11:00:00"), "x", 0.0))
      q.processAllAvailable()
      in.addData(Ev(9, Timestamp.valueOf("2024-01-01 11:05:00"), "x", 0.0))
      q.processAllAvailable()
      val got = spark.table("chain_roll").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(got === Set(
        ("2024-01-01 10:00:00.0", "click", 5L, 3L),
        ("2024-01-01 10:00:00.0", "view", 1L, 1L)),
        "the rollup must compose the closed 5-min partials exactly")
    } finally q.stop()
  }

  test("transformWithState MapState per-type counts ≡ batch groupBy") {
    implicit val ctx = spark.sqlContext
    val saved = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = EventStreams.statefulTypeCounts(in.toDS)
        .writeStream.format("memory").queryName("tws_types")
        .outputMode("update").start()
      try {
        in.addData(Ev(7, ts(1), "click", 0.0), Ev(7, ts(2), "view", 0.0),
          Ev(9, ts(1), "click", 0.0))
        q.processAllAvailable()
        in.addData(Ev(7, ts(3), "click", 0.0), Ev(9, ts(2), "click", 0.0))
        q.processAllAvailable()
        // last emitted row per (user, type) = the final map entry
        val last = spark.table("tws_types").collect()
          .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
          .groupBy(_._1).map { case (k, rs) => (k, rs.map(_._2).max) }
        assert(last === Map(
          (7L, "click") -> 2L, (7L, "view") -> 1L, (9L, "click") -> 2L))
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("event-time timers close sessions on inactivity, watermark-driven") {
    implicit val ctx = spark.sqlContext
    val saved = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = EventStreams.timedSessions(in.toDS, gapMs = 600000L)
        .writeStream.format("memory").queryName("tws_sess")
        .outputMode("append").start()
      try {
        in.addData(Ev(7, ts(0), "a", 0.0), Ev(7, ts(2), "a", 0.0),
          Ev(9, ts(1), "b", 0.0))
        q.processAllAvailable()
        // watermark has not passed last+gap: nothing closed yet
        assert(spark.table("tws_sess").count() === 0L)
        // a later event elsewhere advances the event-time clock past
        // both open sessions' gap bound
        val later = Timestamp.valueOf("2024-01-01 11:00:00")
        in.addData(Ev(99, later, "c", 0.0))
        q.processAllAvailable()
        in.addData(Ev(99, Timestamp.valueOf("2024-01-01 11:01:00"), "c", 0.0))
        q.processAllAvailable()
        val closed = spark.table("tws_sess").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .filter(r => r._1 == 7L || r._1 == 9L).toSet
        assert(closed === Set(
          (7L, 2L, ts(0).getTime, ts(2).getTime),
          (9L, 1L, ts(1).getTime, ts(1).getTime)),
          "sessions must close exactly when the watermark passes last+gap")
        // user 99's session is still open — its timer is ahead of the
        // watermark, so nothing for it may have been emitted
        assert(!spark.table("tws_sess").collect().exists(_.getLong(0) == 99L))
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("statestore reader serves a stopped query's keyed state offline") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    implicit val ctx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ss_read").toString
    val in = MemoryStream[Ev]
    val counts = in.toDF.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val q = counts.writeStream.format("memory").queryName("ss_counts")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      in.addData(Ev(7, ts(1), "a", 1.5), Ev(7, ts(2), "a", 2.5),
        Ev(9, ts(1), "b", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    // the checkpoint answers offline — no restart, no running query
    val meta = EventStreams.stateMetadataOf(spark, ckpt).collect()
    assert(meta.exists(_.toString.contains("stateStoreSave")),
      s"state-metadata must list the aggregation operator: ${meta.mkString}")
    // the value struct carries the aggregation BUFFER (count, sum) —
    // what a restart recovers, not the query's output aliases
    val state = EventStreams.stateOf(spark, ckpt)
      .select(col("key.user_id"), col("value.count"), col("value.sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(state === Set((7L, 2L, 4.0), (9L, 1L, 4.0)),
      "offline state read must equal what a restart would recover")
  }

  test("flatMapGroupsWithState alerts exactly once per threshold crossing") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.spendAlerts(in.toDS, 10.0)
      .writeStream.format("memory").queryName("alerts").outputMode("append").start()
    try {
      in.addData(Ev(1, ts(1), "buy", 4.0), Ev(2, ts(1), "buy", 20.0))
      q.processAllAvailable() // user 2 crosses immediately; user 1 silent
      in.addData(Ev(1, ts(2), "buy", 7.0), Ev(2, ts(2), "buy", 5.0))
      q.processAllAvailable() // user 1 crosses now; user 2 must NOT re-alert
      val rows = spark.table("alerts").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(rows === Set((2L, 20.0, 1L), (1L, 11.0, 2L)))
    } finally q.stop()
  }

  test("streaming near-dup candidates: new docs probe the stored q89 sketches") {
    implicit val ctx = spark.sqlContext
    val oldDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely different vocabulary over here")).toDF("doc_id", "text")
    val stored = graft.operators.Dedup.minhashSignatures(oldDocs)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingNearDupCandidates(
        in.toDF.toDF("doc_id", "text", "ingest_ts"), stored, "10 minutes")
      .writeStream.format("memory").queryName("snd").outputMode("append").start()
    try {
      in.addData(
        (10L, "alpha beta gamma delta epsilon zeta", ts(0)), // = doc 1
        (11L, "nothing shared with anything stored", ts(1)))
      q.processAllAvailable()
      // append-mode aggregation finalizes a doc's sketch only once the
      // watermark passes its ingest_ts — advance it with a later doc
      in.addData((12L, "watermark mover", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("snd").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // the identical doc collides with doc 1 in EVERY band; the
      // disjoint doc collides with nothing
      val nBands = graft.functions.Hashing.NumBands
      assert(got.filter(_._1 == 10L) ===
        (0 until nBands).map(b => (10L, 1L, b)).toSet)
      assert(!got.exists(_._1 == 11L))
      // the streaming LSH gate admits every pair the batch incremental
      // operator (q90) verifies on the same corpus split
      val allDocs = oldDocs.union(Seq(
        (10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "nothing shared with anything stored")).toDF("doc_id", "text"))
      val verified = graft.operators.Dedup.incrementalNearDup(allDocs, 10L, 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(verified.nonEmpty)
      assert(verified.subsetOf(got.map(p => (p._1, p._2))))
    } finally q.stop()
  }

  test("streaming keep/drop gate ≡ batch keep-set over stored sketches + labels, multi-batch") {
    // the end-to-end composition (round-7 verdict #7): stored band
    // index + verify sets (q89/SketchStore shape) + stored cluster
    // labels (q202's table) -> one keep/drop verdict per arriving doc.
    // Delivered across THREE micro-batches; the collected verdicts
    // must equal the batch reference = q90's verified matches mapped
    // through the label store (min label wins; no match = keep).
    implicit val ctx = spark.sqlContext
    val oldDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // near-dup of 1 → cluster 1
      (3L, "completely different vocabulary over here tonight"))
      .toDF("doc_id", "text")
    val (storedBands, storedSets) = graft.operators.Dedup.sketchRelations(oldDocs)
    val storedLabels = graft.operators.Dedup.dedupClustersScale(oldDocs, 0.95)
      .select("doc_id", "cluster_id")
    val newDocs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // dup of cluster 1
      (11L, "entirely novel content nothing matches"), // keep
      (12L, "completely different vocabulary over here tonight"), // dup of 3
      (13L, "another fresh unseen document arrives")) // keep
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingDedupGate(
        in.toDF.toDF("doc_id", "text", "ingest_ts"),
        storedBands, storedSets, storedLabels, 0.95, "10 minutes")
      .writeStream.format("memory").queryName("gate").outputMode("append").start()
    try {
      in.addData(
        (10L, "alpha beta gamma delta epsilon zeta", ts(0)),
        (11L, "entirely novel content nothing matches", ts(1)))
      q.processAllAvailable()
      in.addData(
        (12L, "completely different vocabulary over here tonight", ts(2)),
        (13L, "another fresh unseen document arrives", ts(3)))
      q.processAllAvailable()
      // two chained stateful aggregations: the mover advances the
      // watermark through both before verdicts finalize
      in.addData((14L, "watermark mover", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("gate").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .filter(_._1 < 14L).toSet
      // batch reference: the trusted q90 stored-probe verify, folded
      // through the label table exactly as the gate folds it
      val labelOf = storedLabels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val matches = graft.operators.Dedup
        .incrementalNearDupStored(storedBands, storedSets, newDocs, 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val dupOf = matches.groupBy(_._1)
        .map { case (d, ms) => d -> ms.map(m => labelOf(m._2)).min }
      val expected = Seq(10L, 11L, 12L, 13L).map { d =>
        (d, !dupOf.contains(d), dupOf.getOrElse(d, d))
      }.toSet
      assert(got === expected)
      // non-vacuity: both verdicts occur, and a dropped doc inherits
      // the STORED cluster label (the min of the 1-2 pair for doc 10)
      assert(got === Set((10L, false, 1L), (11L, true, 11L),
        (12L, false, 3L), (13L, true, 13L)))
    } finally q.stop()
  }

  test("streaming containment gate: quote-in-huge-doc arrival flips KEPT→DROP; stream ≡ batch q267 cross pairs") {
    // round-13 verdict #7: the Jaccard-banded gate is containment-
    // blind — a tiny quote of a stored keeper (containment 1.0,
    // j → 0) KEEPS wrongly. The containment gate unions the winnow-
    // print candidate family into the same verdict fold and must
    // agree with batch q267's cross pairs (∪ the Jaccard matches) on
    // every arrival.
    implicit val ctx = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis}
    val hugeWords = (for (a <- 'a' to 'z'; b <- 'a' to 'z')
      yield s"w$a$b").take(300)
    val huge = hugeWords.mkString(" ")
    val quote = hugeWords.slice(100, 130).mkString(" ")
    val oldDocs = Seq(
      (1L, huge),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta")) // near-dup of 2
      .toDF("doc_id", "text")
    val (storedBands, storedSets) = Dedup.sketchRelations(oldDocs)
    val storedLabels = Dedup.dedupClustersScale(oldDocs, 0.95)
      .select("doc_id", "cluster_id")
    val storedPrints = TextAnalysis.winnowPrints(oldDocs, 8, 4)
      .select("doc_id", "fp")
    val arrivals = Seq(
      (10L, quote),                                   // containment drop
      (11L, "alpha beta gamma delta epsilon zeta"),   // Jaccard drop
      (12L, "entirely novel content nothing matches")) // keep
    def runGate(containment: Boolean): Set[(Long, Boolean, Long)] = {
      val in = MemoryStream[(Long, String, Timestamp)]
      val name = if (containment) "cgate" else "jgate"
      val src = in.toDF().toDF("doc_id", "text", "ingest_ts")
      val q = (if (containment)
        EventStreams.streamingContainmentGate(src, storedBands, storedSets,
          storedLabels, storedPrints, 0.95, watermark = "10 minutes")
      else
        EventStreams.streamingDedupGate(src, storedBands, storedSets,
          storedLabels, 0.95, "10 minutes"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(arrivals.zipWithIndex.map { case ((d, t), i) =>
          (d, t, ts(i)) }: _*)
        q.processAllAvailable()
        in.addData((99L, "watermark mover",
          Timestamp.valueOf("2024-01-01 11:00:00")))
        q.processAllAvailable()
        q.processAllAvailable()
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
          .filter(_._1 < 99L).toSet
      } finally q.stop()
    }
    // the KEPT→DROP flip, stated from the Jaccard gate's own mouth:
    // it KEEPS the quote
    val jaccOnly = runGate(containment = false)
    assert(jaccOnly.contains((10L, true, 10L)),
      "fixture broken: the Jaccard gate should keep the quote")
    val got = runGate(containment = true)
    // batch reference: q267's cross pairs over the union corpus ∪ the
    // q90 Jaccard matches, folded by min stored label — the gate's one
    // assignment rule
    val union = oldDocs.unionByName(arrivals.toDF("doc_id", "text"))
    Memos.clearAll()
    val q267 = Dedup.containmentRecall(union).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    Memos.clearAll()
    val crossCont = q267.filter { case (a, b) => a <= 3L && b >= 10L }
      .map { case (a, b) => (b, a) } // (arrival, stored)
    assert(crossCont.contains((10L, 1L)),
      "fixture broken: batch q267 must surface the quote pair")
    val jaccMatches = Dedup.incrementalNearDupStored(storedBands,
      storedSets, arrivals.toDF("doc_id", "text"), 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labelOf = storedLabels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupOf = (crossCont ++ jaccMatches).groupBy(_._1)
      .map { case (d, ms) => d -> ms.map(m => labelOf(m._2)).min }
    val expected = arrivals.map(_._1).map { d =>
      (d, !dupOf.contains(d), dupOf.getOrElse(d, d))
    }.toSet
    assert(got === expected)
    // non-vacuity, spelled out: the quote DROPS into the huge doc's
    // cluster (the flip), the near-dup drops by Jaccard, novel keeps
    assert(got === Set((10L, false, labelOf(1L)),
      (11L, false, labelOf(2L)), (12L, true, 12L)))
  }

  test("streaming keeper upgrades: longer late arrival flips the stored keeper; stream ≡ batch q269") {
    // round-10 verdict #6: the gate inherits the stored keeper forever
    // — this pins the upgrade path: an arriving doc that verifies into
    // a stored cluster AND beats its keep-best keeper emits exactly
    // one upgrade event; shorter matches and novel docs emit nothing;
    // and the online rows equal Dedup.keeperUpgrades on the same split.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val full = (1 to 100).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 96).map(i => s"w$i").mkString(" ")
    val shorter = (1 to 93).map(i => s"w$i").mkString(" ")
    val oldDocs = Seq(
      (1L, excerpt, excerpt.length.toLong),
      (2L, "totally unrelated content here", 30L))
      .toDF("doc_id", "text", "n_chars")
    val (storedBands, storedSets) = graft.operators.Dedup.sketchRelations(oldDocs)
    val storedLabels = graft.operators.Dedup.dedupClustersScale(oldDocs, 0.95)
      .select("doc_id", "cluster_id")
    val storedKeepers = graft.operators.Dedup.dedupOutput(oldDocs)
    val arrivals = Seq(
      (10L, full, full.length.toLong),       // longer → upgrade
      (11L, shorter, shorter.length.toLong), // verified but shorter → no row
      (12L, "entirely novel content nothing matches", 38L)) // keep → no row
    val in = MemoryStream[(Long, String, Long, Timestamp)]
    val q = EventStreams.streamingKeeperUpgrades(
        in.toDF.toDF("doc_id", "text", "n_chars", "ingest_ts"),
        storedBands, storedSets, storedLabels, storedKeepers, 0.95, "10 minutes")
      .writeStream.format("memory").queryName("upgrades")
      .outputMode("append").start()
    try {
      in.addData((10L, full, full.length.toLong, ts(0)))
      q.processAllAvailable()
      in.addData((11L, shorter, shorter.length.toLong, ts(1)),
        (12L, "entirely novel content nothing matches", 38L, ts(2)))
      q.processAllAvailable()
      in.addData((14L, "watermark mover", 15L,
        Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("upgrades").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got === Set(
        (1L, 1L, 10L, excerpt.length.toLong, full.length.toLong)))
      // stream ≡ batch: the q269 relation on the combined split emits
      // the same events (the mover doc is excluded — it never streamed
      // through the batch frame either)
      Memos.clearAll()
      val all = oldDocs.unionByName(
        arrivals.toDF("doc_id", "text", "n_chars"))
      val batch = graft.operators.Dedup.keeperUpgrades(all, 10L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(batch === got)
      Memos.clearAll()

      // ONLINE APPLY (round-11): folding the streamed events into the
      // override relation and overlaying it on the stored q262 table
      // must serve, for every STORED cluster, exactly the keeper the
      // NEXT q272 batch commit will ship (cluster merges and brand-new
      // clusters are batch-commit events by documented contract)
      import graft.sources.LabelStore
      val serving = LabelStore.servingKeepers(storedKeepers,
          LabelStore.keeperOverrides(spark.table("upgrades")))
        .collect()
        .map(r => r.getLong(1) -> ((r.getLong(0), r.getBoolean(4)))).toMap
      Memos.clearAll()
      val committed = graft.operators.Dedup
        .incrementalDedupOutput(all, 10L).collect()
        .map(r => r.getLong(1) -> r.getLong(0)).toMap
      serving.foreach { case (cluster, (keep, _)) =>
        assert(committed(cluster) === keep,
          s"cluster $cluster serves $keep but the batch commit ships " +
            s"${committed(cluster)}")
      }
      assert(serving(1L) === ((10L, true)), "the upgrade was not served")
      assert(serving(2L)._2 === false, "an un-upgraded cluster was overridden")
      Memos.clearAll()
    } finally q.stop()
  }

  test("streaming merge-pending: a bridging arrival flags both stored clusters; stream ≡ batch q275") {
    // round-12 verdict #6: an arrival that verifies into TWO stored
    // clusters proves they will merge at the next batch commit — the
    // one staleness the keeper override contract cannot express. The
    // fixture manufactures the bridge: B = w1..w97 and C = w4..w100
    // are 0.94-similar (below the 0.95 threshold — separate stored
    // clusters), while the arrival A = w1..w100 is 0.97-similar to
    // BOTH.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    // 100 distinct ALPHABETIC words (the tokenizer strips digits —
    // reference normalization — so w1..w100 would collapse to one "w").
    // B drops words 97-99, C drops 10-12: J(A,B)=J(A,C)=0.97 (verified
    // bridges), J(B,C)=0.94 (separate stored clusters). The dropped
    // windows are chosen so BOTH pairs deterministically collide in an
    // LSH band (at j=0.97 a band match is ~0.6 probable per pair, not
    // certain — the polyHash family makes the draw fixed, and this one
    // collides; a slice that misses was the first attempt).
    val words = (for (x <- 'a' to 'j'; y <- 'a' to 'j') yield s"w$x$y").toVector
    def drop3(at: Int) = words.zipWithIndex
      .filterNot { case (_, i) => i >= at && i < at + 3 }.map(_._1).mkString(" ")
    val b = drop3(97)
    val c = drop3(10)
    val a = words.mkString(" ")
    val oldDocs = Seq((1L, b, b.length.toLong), (2L, c, c.length.toLong))
      .toDF("doc_id", "text", "n_chars")
    val (storedBands, storedSets) = graft.operators.Dedup.sketchRelations(oldDocs)
    val storedLabels = graft.operators.Dedup.dedupClustersScale(oldDocs, 0.95)
      .select("doc_id", "cluster_id")
    // fixture sanity: the two stored docs really are separate clusters
    assert(storedLabels.collect().map(_.getLong(1)).distinct.length === 2,
      "stored docs merged — the bridge fixture is vacuous")
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingMergePending(
        in.toDF.toDF("doc_id", "text", "ingest_ts"),
        storedBands, storedSets, storedLabels, 0.95, "10 minutes")
      .writeStream.format("memory").queryName("mergepending")
      .outputMode("append").start()
    try {
      in.addData((10L, a, ts(0)),
        (11L, "entirely novel content nothing matches", ts(1)))
      q.processAllAvailable()
      in.addData((14L, "watermark mover",
        Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("mergepending").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the bridge emits exactly one row: cluster 2 will be absorbed
      // into cluster 1, witnessed by doc 10; the novel doc emits nothing
      assert(got === Set((2L, 1L, 10L)))
      // stream ≡ batch: q275 on the combined split emits the same rows
      Memos.clearAll()
      val all = oldDocs.unionByName(Seq(
        (10L, a, a.length.toLong),
        (11L, "entirely novel content nothing matches", 38L))
        .toDF("doc_id", "text", "n_chars"))
      val batch = graft.operators.Dedup.mergePending(all, 10L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch === got)
      Memos.clearAll()

      // SERVED OVERLAY: both clusters of the pending merge read as
      // merge_pending (identity about to change); keeper fields are
      // untouched (no upgrade events in this fixture)
      import graft.sources.LabelStore
      val storedKeepers = graft.operators.Dedup.dedupOutput(oldDocs)
      val noUpgrades = Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("cluster_id", "old_keep_id", "new_keep_id",
          "n_chars_old", "n_chars_new")
      val served = LabelStore.servingKeepers(storedKeepers,
          LabelStore.keeperOverrides(noUpgrades),
          spark.table("mergepending"))
        .collect()
        .map(r => r.getLong(1) -> ((r.getLong(0), r.getBoolean(4),
          r.getBoolean(5)))).toMap
      assert(served(1L) === ((1L, false, true)),
        "absorbing cluster not flagged merge_pending")
      assert(served(2L) === ((2L, false, true)),
        "absorbed cluster not flagged merge_pending")
      Memos.clearAll()
    } finally q.stop()
  }

  test("streaming NB quality gate ≡ batch q209 scores, multi-batch, both verdicts") {
    implicit val ctx = spark.sqlContext
    val corpus = graft.sources.Tables(spark, testdataDir, "documents")
    val artifact = graft.operators.TextAnalysis.nbModelArtifact(corpus)
    // the verified batch scorer is the reference, row for row
    val batch = graft.operators.TextAnalysis.nbClassifier(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    // stream a mix that drives BOTH verdicts
    val keepIds = batch.filter(_._2._3).keys.take(5)
    val dropIds = batch.filterNot(_._2._3).keys.take(4)
    assert(keepIds.nonEmpty && dropIds.nonEmpty,
      "corpus does not drive both verdicts")
    val texts = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = (keepIds ++ dropIds).toSeq
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingNbGate(
        in.toDF.toDF("doc_id", "text", "ingest_ts"), artifact)
      .writeStream.format("memory").queryName("nbgate")
      .outputMode("append").start()
    try {
      ids.grouped(3).zipWithIndex.foreach { case (g, i) =>
        in.addData(g.map(d => (d, texts(d), ts(i))): _*)
        q.processAllAvailable()
      }
      in.addData((999999L, "watermark mover",
        Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("nbgate").collect()
        .filter(_.getLong(0) != 999999L)
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getBoolean(3)))).toMap
      assert(got.keySet === ids.toSet)
      ids.foreach { d =>
        assert(got(d) === batch(d), s"doc $d: stream ${got(d)} ≠ batch")
      }
      assert(got.values.exists(_._3) && got.values.exists(!_._3))
    } finally q.stop()
  }

  test("streaming SimHash matches ≡ the batch incremental operator") {
    implicit val ctx = spark.sqlContext
    val oldDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely different vocabulary over here")).toDF("doc_id", "text")
    val stored = graft.operators.Dedup.simhash(oldDocs)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.streamingSimhashMatches(
        in.toDF.toDF("doc_id", "text", "ingest_ts"), stored, 3, "10 minutes")
      .writeStream.format("memory").queryName("ssm").outputMode("append").start()
    try {
      in.addData(
        (10L, "alpha beta gamma delta epsilon zeta", ts(0)), // = doc 1
        (11L, "unrelated words entirely elsewhere now", ts(1)))
      q.processAllAvailable()
      in.addData((12L, "watermark mover", Timestamp.valueOf("2024-01-01 11:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("ssm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // the identical doc matches doc 1 at distance 0, exactly once
      // (first-match blocking — no duplicate rows without distinct)
      assert(got.contains((10L, 1L, 0L)))
      assert(got.count(p => p._1 == 10L && p._2 == 1L) === 1)
      // streaming output ≡ the batch incremental matcher on the union
      val allDocs = oldDocs.union(Seq(
        (10L, "alpha beta gamma delta epsilon zeta"),
        (11L, "unrelated words entirely elsewhere now"),
        (12L, "watermark mover")).toDF("doc_id", "text"))
      val batch = graft.operators.Dedup.incrementalSimhashMatch(allDocs, 10L, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming PQ near-dup ≡ the batch stored-index operator") {
    implicit val ctx = spark.sqlContext
    import graft.sources.VectorStore
    // stored index: trained on the "yesterday" vectors
    val oldVecs = Seq(
      (1L, Array.fill(64)(1.0f)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)),
      (3L, Array.tabulate(64)(i => (i % 5 - 2).toFloat))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_pqstream").toString
    VectorStore.savePq(oldVecs, dir)
    val (cb, codes) = VectorStore.loadPq(spark, dir)
    // "today": one vector parallel to stored vec 1, one unrelated
    val newData = Seq(
      (10L, Array.fill(64)(0.5f), ts(0)),
      (11L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f), ts(1)))
    val in = MemoryStream[(Long, Array[Float], Timestamp)]
    val q = EventStreams.streamingPqNearDup(
        in.toDF.toDF("vec_id", "embedding", "ingest_ts"), cb, codes, 0.9)
      .writeStream.format("memory").queryName("spq").outputMode("append").start()
    try {
      in.addData(newData: _*)
      q.processAllAvailable()
      val got = spark.table("spq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the parallel vector matches stored vec 1 near cosine 1.0
      assert(got.exists(p => p._1 == 10L && p._2 == 1L && p._3 >= 0.9))
      assert(!got.exists(_._1 == 11L))
      // streaming ≡ batch on the same new batch (stateless projection —
      // exact equality, scores included)
      val batch = VectorStore.pqNearDupStored(cb, codes,
          newData.map(t => (t._1, t._2)).toDF("vec_id", "embedding"), 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === batch)
    } finally q.stop()
  }

  test("stateful user totals accumulate across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.userTotals(in.toDS)
      .writeStream.format("memory").queryName("totals").outputMode("update").start()
    try {
      in.addData(Ev(7, ts(1), "click", 1.5), Ev(7, ts(2), "click", 2.5))
      q.processAllAvailable()
      in.addData(Ev(7, ts(3), "view", 6.0))
      q.processAllAvailable()
      val last = spark.table("totals").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 7L).maxBy(_._2)
      assert(last === ((7L, 3L, 10.0)))
    } finally q.stop()
  }

  test("transformWithState totals ≡ mapGroupsWithState across micro-batches") {
    implicit val ctx = spark.sqlContext
    // the Spark-4 arbitrary-state API requires the RocksDB provider —
    // also the 100 TB mode: keyed state pages to local disk instead of
    // living JVM-resident
    val saved = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev]
      val q = EventStreams.statefulUserTotals(in.toDS)
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      try {
        in.addData(Ev(7, ts(1), "click", 1.5), Ev(7, ts(2), "click", 2.5),
          Ev(9, ts(1), "view", 4.0))
        q.processAllAvailable()
        in.addData(Ev(7, ts(3), "view", 6.0), Ev(9, ts(2), "view", 1.0))
        q.processAllAvailable()
        val last = spark.table("tws_totals").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSet
        // same final state the mapGroupsWithState twin (test above)
        // and a batch groupBy produce over these rows
        assert(last === Set((7L, 3L, 10.0), (9L, 2L, 5.0)))
      } finally q.stop()
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming grouped top-k ≡ batch q157 over the same rows") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, Double)]
    val q = EventStreams.streamingGroupedTopK(
        in.toDF.toDF("event_id", "event_type", "value"), k = 3)
      .writeStream.format("memory").queryName("stopk").outputMode("complete").start()
    try {
      val rows = Seq(
        (1L, "click", 5.0), (2L, "click", 9.0), (3L, "click", 1.0),
        (4L, "click", 9.0), (5L, "click", 7.0), // tie at 9.0: id order
        (6L, "view", 2.0), (7L, "view", 3.0))
      in.addData(rows.take(4)); q.processAllAvailable()
      in.addData(rows.drop(4)); q.processAllAvailable()
      val got = spark.table("stopk").collect()
        .map(r => r.getString(0) ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getDouble(0), p.getLong(1))).toList).toMap
      // ≡ batch aggregator over everything that arrived; the streaming
      // state held at most k pairs per type the whole time
      val batch = graft.operators.Events.groupedTopK(
          rows.toDF("event_id", "event_type", "value"), 3).collect()
        .map(r => (r.getString(0), r.getDouble(3), r.getLong(2)))
        .groupBy(_._1).map { case (ty, v) => ty -> v.map(p => (p._2, p._3)).toList }
      assert(got === batch)
      // tie at value 9.0 resolved by ascending id — total order pinned
      assert(got("click") === List((9.0, 2L), (9.0, 4L), (7.0, 5L)))
    } finally q.stop()
  }

  test("streaming interval probe ≡ batch q158 over the same purchases") {
    implicit val ctx = spark.sqlContext
    val events = graft.sources.Tables(spark, "/root/testdata/sf0.001", "events")
    val batch = graft.operators.Events.concurrentSessions(events).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val intervals = graft.operators.Events.sessionIntervals(events)
    // the same purchases arrive as a stream, in two micro-batches
    val purchases = events
      .where(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .selectExpr("event_id", "user_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS t_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val in = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.streamingConcurrentSessions(
        in.toDF.toDF("event_id", "user_id", "t_us"), intervals)
      .writeStream.format("memory").queryName("sivj").outputMode("complete").start()
    try {
      in.addData(purchases.take(purchases.length / 2)); q.processAllAvailable()
      in.addData(purchases.drop(purchases.length / 2)); q.processAllAvailable()
      val got = spark.table("sivj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === batch)
      assert(got.values.exists(_ > 0L))
    } finally q.stop()
  }

  test("streaming ANN probe over the stored graph ≡ the same descent as a batch plan") {
    implicit val ctx = spark.sqlContext
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val edges = graft.operators.Similarity.nswGraph(emb)
      .select("src", "dst").localCheckpoint(true)
    // query vectors taken from the corpus (qids offset so self-exclusion
    // in the probe never hides a corpus match)
    val qrows = emb.where($"vec_id" < 5).collect()
      .map(r => (r.getLong(0) + 1000L, r.getSeq[Float](1)))
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val q = EventStreams.streamingAnnProbe(
        in.toDF.toDF("qid", "embedding", "ingest_ts"), emb, edges, 3)
      .writeStream.format("memory").queryName("annp").outputMode("append").start()
    try {
      in.addData(qrows.take(3).zipWithIndex.map { case ((id, v), i) =>
        (id, v, ts(i)) }.toIndexedSeq)
      q.processAllAvailable()
      in.addData(qrows.drop(3).zipWithIndex.map { case ((id, v), i) =>
        (id, v, ts(3 + i)) }.toIndexedSeq)
      q.processAllAvailable()
      // the chain has several stateful stages: advance the watermark
      // far enough to finalize them all
      in.addData((9999L, qrows.head._2,
        Timestamp.valueOf("2024-01-01 12:00:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("annp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .filter(_._1 < 9999L).toSet
      // the SAME builder on a batch frame (watermark a no-op there)
      val batchIn = qrows.zipWithIndex
        .map { case ((id, v), i) => (id, v, ts(i)) }.toSeq
        .toDF("qid", "embedding", "ingest_ts")
      val expected = EventStreams.streamingAnnProbe(batchIn, emb, edges, 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      assert(got === expected)
      assert(got.nonEmpty && got.exists(_._4 === 1L))
      // the descent earns its keep in streaming too: 2-hop top-1 must
      // beat the entries-only (hops = 0) top-1 for at least one query
      // and never lose
      val hop0 = EventStreams
        .streamingAnnProbe(batchIn, emb, edges, 3, hops = 0).collect()
        .filter(_.getLong(3) == 1L).map(r => r.getLong(0) -> r.getDouble(2))
        .toMap
      val hop2 = expected.filter(_._4 == 1L).map(t => t._1 -> t._3).toMap
      assert(hop2.forall { case (qid, c) => c >= hop0(qid) })
      assert(hop2.exists { case (qid, c) => c > hop0(qid) },
        "2-hop descent never improved on the entry ranking")
    } finally q.stop()
  }

  test("streaming NB fit-state deltas fold to the one-shot batch state") {
    // the online half of q223: each micro-batch lands its state
    // PARTIAL as an epoch; the additive read-side fold must equal the
    // state computed over ALL documents at once — merge ≡ rebuild
    // delivered epoch by epoch
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_nbstate").toString
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.nbStateDeltaSink(
      in.toDF.toDF("doc_id", "text", "ingest_ts"), out).start()
    val batches = Seq(
      Seq((1L, "the the a of and in to is it filler", ts(0)),
        (2L, "xray yankee whisky victor", ts(1))),
      Seq((4L, "the a of and more the words here", ts(2)),
        (5L, "quebec papa oscar november", ts(3))),
      Seq((7L, "the of the of the of content", ts(4)),
        (8L, "mike lima kilo juliett", ts(5)),
        (9L, "held out doc the a of", ts(6))))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      // three delta epochs landed (one per non-empty micro-batch)
      val epochs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      assert(epochs.length === 3, s"expected 3 epochs, got ${epochs.length}")
      val merged = EventStreams.mergedNbState(spark, out)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""),
          r.getLong(2), r.getLong(3))).toSet
      val oneShot = graft.operators.TextAnalysis.nbStateDelta(
          batches.flatten.map(t => (t._1, t._2)).toDF("doc_id", "text"))
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)).getOrElse(""),
          r.getLong(2), r.getLong(3))).toSet
      assert(merged === oneShot,
        "folded epoch partials diverged from the one-shot fit state")
      // non-vacuity: a word ('the') carries counts in MORE than one
      // epoch, so the additive fold genuinely collapsed partial rows
      val perEpochThe = epochs.map(e =>
        spark.read.parquet(e.getPath).where($"word" === "the").count()).sum
      assert(perEpochThe > 1, "no word straddles epochs — the fold is vacuous")
      // the prior row folded too (kind='prior', one row after merge)
      assert(merged.count(_._1 == "prior") === 1)
    } finally q.stop()
  }

  test("streaming float quantiles: epoch histograms fold to the one-shot q257 state") {
    // the online half of q257 (round-10): each micro-batch lands its
    // exponent-bucketed histogram partial as an epoch; the additive
    // fold must equal the batch histogram over ALL values at once, and
    // the shared boundary rule then gives identical online p50/p95 —
    // stream ≡ batch for percentiles. Values deliberately span signs,
    // zero, subnormals, and hundreds of orders of magnitude (the q257
    // planted shapes) so the fold is exercised across exponent rows.
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_fqstate").toString
    val in = MemoryStream[(Double, Timestamp)]
    val q = EventStreams.floatHistSink(
      in.toDF.toDF("v", "ingest_ts"), out, "v").start()
    val batches = Seq(
      (1 to 40).map(i => (i * 0.37, ts(0))),
      Seq((-1e300, ts(1)), (-3.7, ts(1)), (0.0, ts(1)), (4.5e-312, ts(1)),
        (2.2e-16, ts(1)), (8.0, ts(1))) ++ (1 to 30).map(i => (i * 1.13, ts(1))),
      Seq((1e18, ts(2)), (8.000001, ts(2)), (1.0, ts(2)))
        ++ (41 to 80).map(i => (i * 0.37, ts(2))))
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val epochs = new java.io.File(out).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("epoch="))
      assert(epochs.length === 3, s"expected 3 epochs, got ${epochs.length}")
      def canonHist(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .sorted.toList
      val folded = canonHist(EventStreams.mergedFloatHist(spark, out))
      val oneShot = canonHist(graft.operators.Relational.floatHistogram(
        batches.flatten.map(_._1).toDF("v"), "v"))
      assert(folded === oneShot,
        "folded epoch histograms diverged from the one-shot q257 state")
      // a bucket must straddle epochs for the fold to be non-vacuous
      val perEpochRows = epochs.map(e =>
        spark.read.parquet(e.getPath).count()).sum
      assert(perEpochRows > folded.length.toLong,
        "no bucket straddles epochs — the additive fold is vacuous")
      // the shared boundary rule: online quantiles ≡ the batch operator
      def canonQ(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(_.toString).toList
      assert(canonQ(EventStreams.onlineFloatQuantiles(spark, out)) ===
        canonQ(graft.operators.Relational.floatQuantiles(
          batches.flatten.map(_._1).toDF("v"), "v")),
        "online p50/p95 diverged from the batch q257 operator")
    } finally q.stop()
  }
}
