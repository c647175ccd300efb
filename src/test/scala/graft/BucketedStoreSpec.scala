package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.sources.{IndexStore, SketchStore, Tables, VectorStore}
import graft.tools.Memos

/** Bucketed stored indexes: the 100 TB design property that an
  * incremental probe joins the STORED side with no Exchange — the
  * stored relation's bucket layout already satisfies the join's
  * required distribution, so probe cost is ∝ the new batch, never a
  * reshuffle of the stored corpus. Each family also pins bucketed ≡
  * unbucketed results (bucketing is layout, not semantics). */
class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Some shuffle-join in `plan` consumes a leaf matching `marker`
    * directly — no ShuffleExchange between the join and the scan. */
  private def storedSideShuffleFree(plan: SparkPlan, marker: String): Boolean = {
    val sides = plan.collect {
      case j: SortMergeJoinExec => Seq(j.left, j.right)
      case j: ShuffledHashJoinExec => Seq(j.left, j.right)
    }.flatten
    sides.exists { side =>
      side.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty &&
        side.collectLeaves().exists(_.toString.contains(marker))
    }
  }

  private def shuffleCount(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.length

  /** Plan-shape assertions need AQE off (stable node tree), broadcast
    * off (force shuffle joins so partitioning actually matters), and
    * lazy mode (eager checkpointing would swap the plan for its
    * checkpoint-scan leaf). */
  private def planMode[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.eagerMaterialize", "false")
    try body finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.graft.eagerMaterialize", "true")
      Dedup.releaseLazyHandles()
    }
  }

  test("positional index: bucketed merge joins the stored side with no exchange") {
    val docs = Tables(spark, dir, "documents")
    val cap = 400L
    try {
      IndexStore.savePositionalBucketed(docs.where($"doc_id" < cap), "pos_bkt")
      val newDocs = docs.where($"doc_id" >= cap)
      val merged = IndexStore.mergePositional(
        IndexStore.loadPositionalTable(spark, "pos_bkt"), newDocs)
      planMode {
        val plan = merged.queryExecution.executedPlan
        assert(storedSideShuffleFree(plan, "pos_bkt"),
          s"stored positional side re-shuffled:\n$plan")
      }
      // layout, not semantics: bucketed merge ≡ path-stored merge
      val out = java.nio.file.Files.createTempDirectory("graft_pos").toString
      IndexStore.savePositional(docs.where($"doc_id" < cap), out)
      val viaPath = IndexStore.mergePositional(
        IndexStore.loadPositional(spark, out), newDocs)
      def canon(df: DataFrame) = df.select("word", "doc_id", "positions")
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getSeq[Long](2).toList)).sortBy(t => (t._1, t._2)).toList
      assert(canon(merged) === canon(viaPath))
    } finally spark.sql("DROP TABLE IF EXISTS pos_bkt")
  }

  test("minhash sketch store: both stored relations probe with no exchange") {
    val docs = Tables(spark, dir, "documents")
    val cap = 400L
    try {
      SketchStore.save(docs.where($"doc_id" < cap), "mh")
      val probe = SketchStore.probe(spark, "mh",
        docs.where($"doc_id" >= cap), 0.9)
      planMode {
        val plan = SketchStore.probe(spark, "mh",
          docs.where($"doc_id" >= cap), 0.9).queryExecution.executedPlan
        assert(storedSideShuffleFree(plan, "mh_bands"),
          s"stored band index re-shuffled:\n$plan")
        assert(storedSideShuffleFree(plan, "mh_sets"),
          s"stored verify sets re-shuffled:\n$plan")
      }
      // stored probe ≡ the oracle-gated in-query cap split (q90)
      def canon(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toList
      assert(canon(probe) === canon(Dedup.incrementalNearDup(docs, cap, 0.9)))
      assert(probe.count() > 0, "probe found nothing — vacuous test")
    } finally {
      spark.sql("DROP TABLE IF EXISTS mh_bands")
      spark.sql("DROP TABLE IF EXISTS mh_sets")
    }
  }

  test("simhash store: stored probe ≡ split convention with no exchange; append closes the loop") {
    import graft.sources.SimHashStore
    val docs = Tables(spark, dir, "documents")
    val cap = 250L
    val day0 = docs.where($"doc_id" < cap)
    val day1 = docs.where($"doc_id" >= cap)
    def canon(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toList
    try {
      SimHashStore.save(day0, "sh64")
      // stored probe ≡ the spec-gated split-convention incremental
      val probe = canon(SimHashStore.probe(spark, "sh64", day1))
      assert(probe === canon(Dedup.incrementalSimhashMatch64(docs, cap, 3)))
      assert(probe.nonEmpty, "probe found nothing — vacuous test")
      planMode {
        val plan = SimHashStore.probe(spark, "sh64", day1)
          .queryExecution.executedPlan
        assert(storedSideShuffleFree(plan, "sh64_blocks"),
          s"stored block index re-shuffled:\n$plan")
      }
      // append closes the loop; a replayed batch never matches its own
      // stored rows (self-pairs dropped) — it re-emits exactly the
      // split pairs plus the in-batch matches, orientation-normalized
      // to doc_new < doc_old (round-13 verdict #5: the store surface
      // emits each pair ONCE; simhashMatch64 is already canonical)
      SimHashStore.append(day1, "sh64")
      val replay = canon(SimHashStore.probe(spark, "sh64", day1))
      val inBatch = Dedup.simhashMatch64(day1, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(inBatch.nonEmpty, "no in-batch pairs — vacuous replay test")
      assert(replay === (probe ++ inBatch).sortBy(t => (t._1, t._2)).toList)
      // append is IDEMPOTENT by doc_id (round-13 ADVICE retry
      // contract): a retried append of the same batch adds zero rows
      // and leaves the probe output byte-identical
      val rowsBefore = spark.table("sh64_blocks").count()
      SimHashStore.append(day1, "sh64")
      assert(spark.table("sh64_blocks").count() === rowsBefore,
        "retried append duplicated block rows")
      assert(canon(SimHashStore.probe(spark, "sh64", day1)) === replay)
      // tomorrow's batch sees today's corpus: probing day0 against the
      // full store emits day0's own pairs (canonical orientation) plus
      // the cross pairs in reverse orientation (new=day0 doc, old=day1
      // doc — old side not in the batch, so kept as probed)
      val back = canon(SimHashStore.probe(spark, "sh64", day0)).toSet
      val day0Internal = Dedup.simhashMatch64(day0, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(back === day0Internal ++ probe.map(t => (t._2, t._1, t._3)))
    } finally spark.sql("DROP TABLE IF EXISTS sh64_blocks")
  }

  test("label store: two generations of daily ingest, each == full rebuild") {
    // the CLOSED incremental-dedup loop (q202 productized): day-0
    // corpus -> stored labels + sketch index; each later day probes
    // the stored index (only the batch is sketched), merges labels
    // over the contracted delta, commits, and APPENDS its sketches so
    // the NEXT day probes today's corpus. Two generations deep, every
    // committed label table must equal a from-scratch rebuild over
    // everything seen so far — merge ≡ rebuild as a maintained LAW,
    // not a one-shot query.
    import graft.sources.LabelStore
    val docs = Tables(spark, dir, "documents")
    val day0 = docs.where($"doc_id" < 200)
    val day1 = docs.where($"doc_id" >= 200 && $"doc_id" < 350)
    val day2 = docs.where($"doc_id" >= 350)
    val (labelTbl, sketchTbl) = ("graft_labels_gen", "graft_sketch_gen")
    Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets", labelTbl)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // day 0: bootstrap both stores from the initial corpus
    LabelStore.save(Dedup.dedupClustersScale(day0, 0.95), labelTbl)
    SketchStore.save(day0, sketchTbl)

    def ingest(batch: DataFrame): Unit = {
      val updated = LabelStore.update(spark, labelTbl, sketchTbl, batch, 0.95)
      LabelStore.commit(spark, labelTbl, sketchTbl, batch, updated)
    }
    def storedLabels = LabelStore.load(spark, labelTbl)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toList
    def rebuilt(upTo: Long) = Dedup
      .dedupClustersScale(docs.where($"doc_id" < upTo), 0.95)
      .select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toList

    ingest(day1)
    assert(storedLabels === rebuilt(350L), "generation 1 diverged from rebuild")
    ingest(day2)
    assert(storedLabels === rebuilt(Long.MaxValue),
      "generation 2 diverged from rebuild — the appended sketches or the " +
        "second merge broke the loop")
    // full-retry idempotence — the documented crash-recovery rule is
    // "re-run the day's ingest": an already-committed batch anti-joins
    // to an empty fresh set, self-pairs drop in contraction, and the
    // duplicated sketch rows cannot move any min-fold label
    ingest(day2)
    assert(storedLabels === rebuilt(Long.MaxValue),
      "retrying a committed day changed the labels — recovery rule broken")
    // non-vacuity: generation 2 must contain at least one cross-DAY
    // cluster (a day-2 doc labeled by an earlier canonical)
    assert(storedLabels.exists { case (id, cl) => id >= 350L && cl < 350L },
      "no day-2 doc joined an earlier cluster — the probe path was idle")
    Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets", labelTbl)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("keeper store: two generations == full q262 rebuild; labels-ahead crash detected and repaired") {
    // q272 productized: the SHIPPED keeper table maintained beside the
    // labels. Two generations deep each committed keeper table must
    // equal dedupOutput over everything seen so far; the labels-ahead
    // crash window (labels committed, keepers not) must be DETECTED by
    // the coverage invariant and repaired by the one-aggregation
    // rebuild; a full retry of a committed day must be a no-op.
    import graft.sources.{LabelStore, SketchStore}
    val docs = Tables(spark, dir, "documents")
    val day0 = docs.where($"doc_id" < 200)
    val day1 = docs.where($"doc_id" >= 200 && $"doc_id" < 350)
    val day2 = docs.where($"doc_id" >= 350)
    val (labelTbl, sketchTbl, keeperTbl) =
      ("graft_labels_kg", "graft_sketch_kg", "graft_keepers_kg")
    val allTbls = Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets",
      labelTbl, keeperTbl)
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LabelStore.save(Dedup.dedupClustersScale(day0, 0.95), labelTbl)
    SketchStore.save(day0, sketchTbl)
    LabelStore.saveKeepers(Dedup.dedupOutput(day0, 0.95), keeperTbl)

    def ingest(batch: DataFrame): Unit = {
      val (labs, keeps) = LabelStore.updateWithKeepers(
        spark, labelTbl, sketchTbl, keeperTbl, batch, 0.95)
      LabelStore.commitKeepers(spark, labelTbl, sketchTbl, keeperTbl,
        batch, labs, keeps)
    }
    def storedKeepers = spark.table(keeperTbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toList
    def rebuilt(upTo: Long) = {
      Memos.clearAll()
      val out = Dedup.dedupOutput(docs.where($"doc_id" < upTo), 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toList
      Memos.clearAll()
      out
    }

    ingest(day1)
    assert(storedKeepers === rebuilt(350L),
      "generation-1 keeper table diverged from the q262 rebuild")

    // labels-ahead crash window for day 2: sketches + labels commit,
    // the keeper save never happens (the simulated crash between the
    // second and third table writes)
    val (labs2, _) = LabelStore.updateWithKeepers(
      spark, labelTbl, sketchTbl, keeperTbl, day2, 0.95)
    LabelStore.commit(spark, labelTbl, sketchTbl, day2, labs2)
    val err = intercept[IllegalStateException] {
      LabelStore.updateWithKeepers(spark, labelTbl, sketchTbl, keeperTbl,
        day2, 0.95)
    }
    assert(err.getMessage.contains("labels-ahead partial commit"))
    assert(err.getMessage.contains("rebuildKeepers"))
    // the documented repair: one q262 aggregation over the committed
    // labels — which lands exactly the generation the crash lost
    LabelStore.rebuildKeepers(spark, labelTbl, keeperTbl, docs)
    val gen2 = rebuilt(Long.MaxValue)
    assert(storedKeepers === gen2,
      "repaired keeper table diverged from the q262 rebuild")
    // full-retry idempotence: the recovery rule is re-run the day's
    // ingest — the batch anti-joins away, no cluster is dirty, every
    // keeper row carries, and the gate passes again
    ingest(day2)
    assert(storedKeepers === gen2, "retrying a committed day changed keepers")
    // non-vacuity: at least one later-day doc displaced an earlier
    // keeper or joined an earlier cluster (the maintained table moved)
    assert(storedKeepers.exists { case (keep, cl, n, _, _) =>
      cl < 200L && (keep >= 200L || n > 1L) },
      "no cross-day keeper activity — the merge path was idle")
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("count-gate verdict memoizes per store generation; a commit re-derives it") {
    // round-13 verdict #2: repeat ingests between commits must not
    // re-pay the gate's two jobs (labels count + keeper-coverage sum);
    // any commit path — commitKeepers here, labels-only commits via
    // the labels-ahead test above — invalidates the memo. Job counts
    // observed via a listener with an ordered flush-marker job, so
    // "zero jobs" is asserted against delivered events, not timing.
    import graft.sources.{LabelStore, SketchStore}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val docs = Tables(spark, dir, "documents")
    val day0 = docs.where($"doc_id" < 300)
    val day1 = docs.where($"doc_id" >= 300)
    val (labelTbl, sketchTbl, keeperTbl) =
      ("graft_labels_memo", "graft_sketch_memo", "graft_keepers_memo")
    val allTbls = Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets",
      labelTbl, keeperTbl)
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // the ingest itself is EAGER (finishWith checkpoints the probe),
    // so "the gate did not run" is asserted by counting only the jobs
    // carrying the gate's job description, delivered strictly before
    // an ordered flush-marker job
    def gateJobsDuring(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val markerSeen = new java.util.concurrent.CountDownLatch(1)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val desc = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
          if (desc.contains("graft-gate-memo-marker")) markerSeen.countDown()
          else if (desc.contains(graft.sources.LabelStore.GateJobDescription))
            n.incrementAndGet()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        spark.sparkContext.setJobDescription("graft-gate-memo-marker")
        try spark.range(1).count()
        finally spark.sparkContext.setJobDescription(null)
        assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "flush-marker job never observed")
        n.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    try {
      LabelStore.save(Dedup.dedupClustersScale(day0, 0.95), labelTbl)
      SketchStore.save(day0, sketchTbl)
      LabelStore.saveKeepers(Dedup.dedupOutput(day0, 0.95), keeperTbl)
      LabelStore.clearGateMemo()
      // first ingest after the commits pays the gate's two jobs
      assert(gateJobsDuring {
        LabelStore.upgradeEvents(spark, labelTbl, sketchTbl, keeperTbl,
          day1, 0.95)
      } > 0, "cold gate did not run its count + coverage-sum jobs")
      // repeat ingest between commits: the memoized verdict serves
      assert(gateJobsDuring {
        LabelStore.upgradeEvents(spark, labelTbl, sketchTbl, keeperTbl,
          day1, 0.95)
      } === 0, "repeat ingest re-paid the memoized count gate")
      // a full commit cycle invalidates the memo: the next ingest
      // re-derives the verdict
      val (labs, keeps) = LabelStore.updateWithKeepers(
        spark, labelTbl, sketchTbl, keeperTbl, day1, 0.95)
      LabelStore.commitKeepers(spark, labelTbl, sketchTbl, keeperTbl,
        day1, labs, keeps)
      assert(gateJobsDuring {
        LabelStore.upgradeEvents(spark, labelTbl, sketchTbl, keeperTbl,
          day1, 0.95)
      } > 0, "gate verdict was not re-derived after a commit")
    } finally allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("keeper store, STAMP gate: generations mint/compare, crash detected, repair re-opens") {
    // round-12 verdict #4: the generation-stamp alternative to the
    // per-ingest labels count — same crash window, detected by two
    // one-row generation tables instead of a corpus-sized count (the
    // slow-listing-object-store trade). Same algebra underneath, so
    // every committed generation must still equal the q262 rebuild.
    import graft.sources.{LabelStore, SketchStore}
    val docs = Tables(spark, dir, "documents")
    val day0 = docs.where($"doc_id" < 200)
    val day1 = docs.where($"doc_id" >= 200 && $"doc_id" < 350)
    val day2 = docs.where($"doc_id" >= 350)
    val (labelTbl, sketchTbl, keeperTbl) =
      ("graft_labels_sg", "graft_sketch_sg", "graft_keepers_sg")
    val allTbls = Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets",
      labelTbl, keeperTbl, s"${labelTbl}_gen", s"${keeperTbl}_gen")
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LabelStore.save(Dedup.dedupClustersScale(day0, 0.95), labelTbl)
    SketchStore.save(day0, sketchTbl)
    LabelStore.saveKeepers(Dedup.dedupOutput(day0, 0.95), keeperTbl)

    def ingest(batch: org.apache.spark.sql.DataFrame): Unit = {
      val (labs, keeps) = LabelStore.updateWithKeepers(
        spark, labelTbl, sketchTbl, keeperTbl, batch, 0.95)
      LabelStore.commitKeepers(spark, labelTbl, sketchTbl, keeperTbl,
        batch, labs, keeps)
    }
    def storedKeepers = spark.table(keeperTbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toList
    def rebuilt(upTo: Long) = {
      Memos.clearAll()
      val out = Dedup.dedupOutput(docs.where($"doc_id" < upTo), 0.95)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toList
      Memos.clearAll()
      out
    }

    spark.conf.set("spark.graft.labelstore.gate", "stamp")
    try {
      // day 1: PRE-STAMP store (bootstrapped by plain saves) — the
      // gate falls back to the count invariant once, and the commit
      // mints both generation stamps
      assert(LabelStore.readGen(spark, labelTbl).isEmpty)
      ingest(day1)
      assert(storedKeepers === rebuilt(350L),
        "generation-1 keeper table diverged from the q262 rebuild")
      val g1l = LabelStore.readGen(spark, labelTbl)
      val g1k = LabelStore.readGen(spark, keeperTbl)
      assert(g1l.nonEmpty && g1l === g1k, "commit did not mint equal stamps")

      // labels-ahead crash for day 2: sketches + labels commit (the
      // labels-only path must ADVANCE the labels generation), keepers
      // never land — the stamp compare must refuse
      val (labs2, _) = LabelStore.updateWithKeepers(
        spark, labelTbl, sketchTbl, keeperTbl, day2, 0.95)
      LabelStore.commit(spark, labelTbl, sketchTbl, day2, labs2)
      assert(LabelStore.readGen(spark, labelTbl) !== g1l,
        "labels-only commit left the labels generation unchanged")
      val err = intercept[IllegalStateException] {
        LabelStore.updateWithKeepers(spark, labelTbl, sketchTbl, keeperTbl,
          day2, 0.95)
      }
      assert(err.getMessage.contains("generation"))
      assert(err.getMessage.contains("rebuildKeepers"))
      // repair re-derives keepers AND adopts the labels' generation
      LabelStore.rebuildKeepers(spark, labelTbl, keeperTbl, docs)
      assert(LabelStore.readGen(spark, keeperTbl) ===
        LabelStore.readGen(spark, labelTbl), "repair did not sync stamps")
      val gen2 = rebuilt(Long.MaxValue)
      assert(storedKeepers === gen2,
        "repaired keeper table diverged from the q262 rebuild")
      // full-retry idempotence under the stamp gate
      ingest(day2)
      assert(storedKeepers === gen2, "retrying a committed day changed keepers")

      // SHARED-LABELS misuse (round-12 residue, now enforced): the
      // labels' stamp records its keeper binding, so a SECOND keeper
      // table over the same labels table is refused with a named error
      // at every entry point — batch gate, online feed, and repair —
      // instead of silently chasing a different generation
      val keeper2 = "graft_keepers_sg2"
      spark.sql(s"DROP TABLE IF EXISTS $keeper2")
      LabelStore.saveKeepers(Dedup.dedupOutput(docs, 0.95), keeper2)
      def misuse(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains("stamp-bound to keeper table"),
          s"wrong error for the shared-labels misuse: ${e.getMessage}")
        assert(e.getMessage.contains(keeperTbl))
      }
      misuse(LabelStore.updateWithKeepers(
        spark, labelTbl, sketchTbl, keeper2, day2, 0.95))
      misuse(LabelStore.upgradeEvents(
        spark, labelTbl, sketchTbl, keeper2, day2, 0.95))
      misuse(LabelStore.rebuildKeepers(spark, labelTbl, keeper2, docs))
      // the bound table itself is unaffected by the refused binding
      assert(storedKeepers === gen2)
      spark.sql(s"DROP TABLE IF EXISTS $keeper2")
    } finally spark.conf.unset("spark.graft.labelstore.gate")
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("upgradeEvents over stored relations ≡ batch q269; served overlays agree") {
    // round-12 verdict #7: the production upgrade feed (stored bands/
    // labels/keepers read, only the batch sketched) must emit exactly
    // the q269 rows the oracle-gated query form derives by rebuilding
    // the stored closure in-query — and the two servingKeepers
    // compositions StoreBench prices against each other must be the
    // SAME relation.
    import graft.sources.{LabelStore, SketchStore}
    val docs = Tables(spark, dir, "documents")
    val cap = 250L
    val day0 = docs.where($"doc_id" < cap)
    val day1 = docs.where($"doc_id" >= cap)
    val (labelTbl, sketchTbl, keeperTbl) =
      ("graft_labels_ue", "graft_sketch_ue", "graft_keepers_ue")
    val allTbls = Seq(s"${sketchTbl}_bands", s"${sketchTbl}_sets",
      labelTbl, keeperTbl)
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    LabelStore.save(Dedup.dedupClustersScale(day0, 0.95), labelTbl)
    SketchStore.save(day0, sketchTbl)
    LabelStore.saveKeepers(Dedup.dedupOutput(day0, 0.95), keeperTbl)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val prod = rows(LabelStore.upgradeEvents(
      spark, labelTbl, sketchTbl, keeperTbl, day1, 0.95))
    Memos.clearAll()
    val query = rows(Dedup.keeperUpgrades(docs, cap, 0.95))
    assert(prod === query, "production upgrade feed diverged from q269")
    assert(prod.nonEmpty, "no upgrade events on this split — vacuous")
    // replaying ALREADY-STORED docs is a provable no-op: a stored doc
    // cannot beat its own cluster's keeper (the keeper is the argmax
    // over members including it, strict struct compare) — zero events
    // without any anti join
    assert(LabelStore.upgradeEvents(
      spark, labelTbl, sketchTbl, keeperTbl, day0, 0.95).count() === 0L,
      "a replayed stored batch emitted upgrade events")

    // the two StoreBench q269_serving forms: stored-table overlay vs
    // in-query-rebuild overlay — identical served relations
    def served(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    val prodServed = served(LabelStore.servingKeepers(
      spark.table(keeperTbl),
      LabelStore.keeperOverrides(LabelStore.upgradeEvents(
        spark, labelTbl, sketchTbl, keeperTbl, day1, 0.95))))
    Memos.clearAll()
    val queryServed = served(LabelStore.servingKeepers(
      Dedup.dedupOutput(day0, 0.95),
      LabelStore.keeperOverrides(Dedup.keeperUpgrades(docs, cap, 0.95))))
    assert(prodServed === queryServed,
      "the two serving compositions diverged")
    assert(prodServed.exists(_._5), "no served override — overlay idle")

    // round-12 ADVICE: in the labels-ahead partial-commit window the
    // keeper inner join would silently emit no events for the affected
    // clusters — upgradeEvents must refuse exactly like
    // updateWithKeepers does, pointing at the repair
    val (labs1, _) = LabelStore.updateWithKeepers(
      spark, labelTbl, sketchTbl, keeperTbl, day1, 0.95)
    LabelStore.commit(spark, labelTbl, sketchTbl, day1, labs1)
    val gateErr = intercept[IllegalStateException] {
      LabelStore.upgradeEvents(spark, labelTbl, sketchTbl, keeperTbl,
        day1, 0.95)
    }
    assert(gateErr.getMessage.contains("rebuildKeepers"),
      s"wrong gate error: ${gateErr.getMessage}")
    Memos.clearAll()
    allTbls.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("pq store: bucketed codes reconstruct with ZERO exchanges") {
    val emb = Tables(spark, dir, "embeddings")
    try {
      VectorStore.savePqBucketed(emb, "pq")
      val (cb, codes) = VectorStore.loadPqBucketed(spark, "pq")
      planMode {
        // reconstruction = broadcast codebook join + groupBy(vec_id);
        // with vec_id bucketing the aggregation needs no exchange either
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        val n = shuffleCount(Similarity.pqDecode(codes, cb))
        assert(n === 0, s"expected exchange-free reconstruction, got $n")
      }
      // bucketed store serves bit-identical results to the path store
      val out = java.nio.file.Files.createTempDirectory("graft_pqb").toString
      VectorStore.savePq(emb, out)
      val (cbP, codesP) = VectorStore.loadPq(spark, out)
      def canon(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toList
      assert(canon(VectorStore.adcSearchStored(cb, codes, emb, 20, 3)) ===
        canon(VectorStore.adcSearchStored(cbP, codesP, emb, 20, 3)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS pq_codebook")
      spark.sql("DROP TABLE IF EXISTS pq_codes")
    }
  }

  test("graph store: two generations of ingest, each == full rebuild (q206 productized)") {
    // the CLOSED incremental-ANN loop: day-0 embeddings -> stored
    // (base, graph, watermark); each later day scores ONLY delta
    // candidates, merges into the stored base (the top-m merge law),
    // re-polishes, commits with the watermark LAST. Every committed
    // graph must equal a from-scratch rebuild over everything seen —
    // the LabelStore law applied to the ANN index.
    import graft.sources.GraphStore
    val emb = Tables(spark, dir, "embeddings")
    val name = "graft_nsw_gen"
    val tables = Seq(name, s"${name}_base", s"${name}_refined", s"${name}_meta")
    // force the DELTA polish path (the adaptive floor would pick the
    // full recompute on this small corpus) — these generations must
    // gate the carry-over algebra, not the fallback
    spark.conf.set("spark.graft.nswDeltaPolishMinRows", "0")
    try {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      def edges(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
      def stored = { val (_, g, _) = GraphStore.load(spark, name); edges(g) }
      def rebuilt(cap: Long) =
        edges(Similarity.nswGraph(emb.where($"vec_id" < cap)))
      def ingest(cap: Long): Unit = {
        val (b, r, g) = GraphStore.update(spark, name, emb, cap)
        GraphStore.commit(spark, name, b, r, g, cap)
      }
      GraphStore.build(spark, name, emb.where($"vec_id" < 200), 200L)
      assert(stored === rebuilt(200L), "bootstrap diverged from rebuild")
      ingest(350L)
      assert(stored === rebuilt(350L), "generation 1 diverged from rebuild")
      ingest(Long.MaxValue)
      assert(stored === rebuilt(Long.MaxValue),
        "generation 2 diverged — the stored base or the merge broke the loop")
      // full-retry idempotence (the crash-recovery rule is re-run the
      // day): a committed day's re-run sees an empty delta and the
      // merge's pair-key dedup absorbs any half-written base rows
      ingest(Long.MaxValue)
      assert(stored === rebuilt(Long.MaxValue),
        "retrying a committed day changed the graph — recovery rule broken")
      // the stored graph SERVES the probe: beam search over the
      // bucketed table is byte-identical to search over a fresh build
      val (_, g, wm) = GraphStore.load(spark, name)
      assert(wm === Long.MaxValue)
      def canon(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toList
      assert(canon(Similarity.nswSearchOver(emb, g, 20, 3)) ===
        canon(Similarity.nswSearch(emb, 20, 3)))
      // 100 TB property: the search loop's frontier ⋈ edges join
      // consumes the stored bucketed graph with NO exchange on the
      // stored side — the graph is never reshuffled per probe round
      planMode {
        val frontier = emb.where($"vec_id" < 5).select($"vec_id".as("src"))
        val plan = frontier.join(spark.table(name), "src")
          .queryExecution.executedPlan
        assert(storedSideShuffleFree(plan, name),
          s"stored graph re-shuffled under the probe join:\n$plan")
      }
    } finally {
      spark.conf.unset("spark.graft.nswDeltaPolishMinRows")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("graph store: a PARTIAL commit (crash between table writes) is detected and the re-run recovers — stored graph still == rebuild") {
    // the round-10 ADVICE hole: the delta-bounded polish made "the
    // recovery rule is simply re-run" FALSE for a crash between the
    // refined and graph writes — the re-run recomputes refined rows
    // identical to the stored (already-new) ones, the dirty sets
    // collapse to empty, and the STALE pre-delta graph is committed
    // under the NEW watermark, served forever. The commit stamp closes
    // it: mixed stamps route update() onto the full-polish path.
    import graft.sources.GraphStore
    val emb = Tables(spark, dir, "embeddings")
    val name = "graft_nsw_crash"
    val tables = Seq(name, s"${name}_base", s"${name}_refined", s"${name}_meta")
    spark.conf.set("spark.graft.nswDeltaPolishMinRows", "0")
    try {
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      def edges(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toList
      GraphStore.build(spark, name, emb.where($"vec_id" < 200), 200L)
      assert(GraphStore.commitConsistent(spark, name),
        "a completed build must read as consistent")
      // day-1's publish dies AFTER the base and refined writes, BEFORE
      // graph and meta: base/refined are already tomorrow's, the graph
      // and watermark are still yesterday's — exactly the interleaving
      // the write order alone cannot distinguish from a clean store
      val (b1, r1, _) = GraphStore.update(spark, name, emb, 350L)
      val bF = b1.select("src", "dst", "cos6").localCheckpoint(true)
      val rF = r1.select("src", "dst", "cos6").localCheckpoint(true)
      def halfWrite(df: DataFrame, t: String): Unit = {
        df.write.mode("overwrite").bucketBy(8, "src").sortBy("src")
          .saveAsTable(t)
        spark.sql(
          s"ALTER TABLE $t SET TBLPROPERTIES('graft.cid' = 'crashed-partial')")
      }
      halfWrite(bF, s"${name}_base")
      halfWrite(rF, s"${name}_refined")
      assert(!GraphStore.commitConsistent(spark, name),
        "a partial commit must read as inconsistent")
      // the recovery rule: re-run the day's ingest. Without the stamp
      // check the delta path would carry the day-0 graph forward here.
      val (b2, r2, g2) = GraphStore.update(spark, name, emb, 350L)
      GraphStore.commit(spark, name, b2, r2, g2, 350L)
      assert(GraphStore.commitConsistent(spark, name),
        "recovery commit did not restore stamp consistency")
      val (_, stored, wm) = GraphStore.load(spark, name)
      assert(wm === 350L)
      assert(edges(stored) ===
        edges(Similarity.nswGraph(emb.where($"vec_id" < 350))),
        "recovered graph diverged from the rebuild — the stale-carry hole")
      // and the NEXT (clean) generation takes the delta path again
      val (b3, r3, g3) = GraphStore.update(spark, name, emb, Long.MaxValue)
      GraphStore.commit(spark, name, b3, r3, g3, Long.MaxValue)
      assert(edges({ val (_, g, _) = GraphStore.load(spark, name); g }) ===
        edges(Similarity.nswGraph(emb)),
        "post-recovery generation diverged from the rebuild")
    } finally {
      spark.conf.unset("spark.graft.nswDeltaPolishMinRows")
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
