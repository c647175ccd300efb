package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the PRODUCTION path of the incremental families beside
  * their oracle-convention query forms.
  *
  * The round-8 verdict's attribution flag: the q202/q206/q218/q223
  * bench rows pay an IN-QUERY REBUILD of their stored side — the
  * oracle convention that lets DuckDB replay the whole relation from
  * the raw tables — so the headline numbers overstate the operators
  * (q202's 6.47 s was the suite max). The production path never pays
  * it: the stored side is READ from committed artifacts
  * (LabelStore + SketchStore, GraphStore, the olsStateDelta /
  * nbStateDelta parquet states) and only the arriving batch is
  * sketched/scored. This tool measures both on the SAME split and
  * emits the ratio, so the number a reader sees for "what does a
  * daily ingest cost" is the operator's, not the convention's.
  *
  * Protocol: split each table at 90/10 AND 99/1 of the id space
  * (stored/batch) — the second is the realistic daily-ingest shape,
  * and the pair separates the two cost curves: the query form's cost
  * is ~flat across splits (it always rebuilds the full stored side
  * in-query), while the production path's cost falls with the batch
  * (only the batch is sketched/scored). Store commits are
  * UNPRICED setup (a pipeline pays them on yesterday's ingest); both
  * timed paths run min-of-N with every session memo cleared before
  * each sample (the ScaleProbe discipline — a memo hit would price
  * nothing), full materialization via toRdd.count (plain count lets
  * the optimizer drop row-count-preserving subtrees). Correctness of
  * the production paths is spec-gated, not re-proven here:
  * BucketedStoreSpec (labels, two generations ≡ rebuild), NswSpec
  * (graph), PipelineOpsSpec (olsProductionCycle / nbProductionCycle ≡
  * the full-corpus fits).
  *
  * Output: one JSON line per family + STOREBENCH.json at the repo
  * root (committed beside bench.json; referenced from BASELINE.md).
  */
object StoreBench {

  private def runFull(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }

  /** min-of-`runs` wall seconds of `mk`, memos cleared per sample. */
  private def time(runs: Int)(mk: => DataFrame): Double =
    (1 to runs).map { _ =>
      Memos.clearAll()
      val t0 = System.nanoTime()
      runFull(mk)
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_STOREBENCH_RUNS", "3").toInt
    val spark = graft.GraftSession(cpus.toInt, 32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")

    def capAt(df: DataFrame, idCol: String, pct: Int): Long = {
      val n = df.agg(max(col(idCol))).head().getLong(0) + 1
      n * pct / 100
    }
    val vMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val threshold = 0.95
    val sbTables = Seq("sb_labels", "sb_sketch_bands", "sb_sketch_sets",
      "sb_keepers",
      "sb_graph", "sb_graph_base", "sb_graph_refined", "sb_graph_meta")

    // JVM/codegen warmup outside the measured window (tiny corpus)
    Memos.clearAll()
    try { graft.SparkEntry.entry(spark).count(); () }
    catch { case _: Throwable => () }

    case class Family(name: String, queryForm: () => DataFrame,
      production: () => DataFrame)

    // optional narrowing for targeted scale points (e.g. the 10×
    // corpus): comma-separated family-name substrings / split pcts
    val onlyFam = sys.env.get("SPARK_GRAFT_STOREBENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val splits = sys.env.get("SPARK_GRAFT_STOREBENCH_SPLITS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(90, 99))

    val allRows = splits.flatMap { pct =>
      val dCap = capAt(docs, "doc_id", pct)
      val vCap = capAt(emb, "vec_id", pct)
      val eCap = capAt(ev, "event_id", pct)
      val tmp = java.nio.file.Files.createTempDirectory("storebench").toString

      // ---- UNPRICED setup: commit yesterday's artifacts (only for
      // the families this invocation prices) ------------------------
      def wanted(fam: String) = onlyFam.forall(_.exists(fam.contains))
      import graft.sources.{GraphStore, LabelStore, SketchStore}
      val oldDocs = docs.where(col("doc_id") < dCap)
      val batchDocs = docs.where(col("doc_id") >= dCap)
      sbTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      if (wanted("q202_clusters") || wanted("q272_keepers") ||
          wanted("q269_serving")) {
        SketchStore.save(oldDocs, "sb_sketch")
        Memos.clearAll()
        LabelStore.save(
          graft.operators.Dedup.dedupClustersScale(oldDocs, threshold),
          "sb_labels")
      }
      if (wanted("q272_keepers") || wanted("q269_serving")) {
        Memos.clearAll()
        LabelStore.saveKeepers(
          graft.operators.Dedup.dedupOutput(oldDocs, threshold), "sb_keepers")
      }
      if (wanted("q206_nsw_graph"))
        GraphStore.build(spark, "sb_graph", emb.where(col("vec_id") < vCap), vCap)
      if (wanted("q218_ols_fit"))
        graft.operators.Events.olsStateDelta(ev.where(col("event_id") < eCap))
          .write.mode("overwrite").parquet(s"$tmp/ols_state")
      if (wanted("q223_nb_fit"))
        graft.operators.TextAnalysis.nbStateDelta(oldDocs)
          .write.mode("overwrite").parquet(s"$tmp/nb_state")

      // ---- the two timed paths per family --------------------------
      val families = Seq(
        Family("q202_clusters",
          () => graft.operators.Dedup
            .incrementalClusters(docs, dCap, threshold),
          () => LabelStore.update(spark, "sb_labels", "sb_sketch",
            batchDocs, threshold)),
        Family("q272_keepers",
          () => graft.operators.Dedup
            .incrementalDedupOutput(docs, dCap, threshold),
          () => LabelStore.updateWithKeepers(spark, "sb_labels", "sb_sketch",
            "sb_keepers", batchDocs, threshold)._2),
        // the round-11 ONLINE OVERLAY claim as a number (round-12
        // verdict #7): the full between-commits loop — upgrade events
        // off the stored relations (only the batch sketched) → the
        // per-cluster override fold → the served keeper view. The
        // query form pays the oracle convention twice over: q269's
        // in-query stored-closure rebuild AND the q262 keeper rebuild
        // it overlays onto.
        Family("q269_serving",
          () => LabelStore.servingKeepers(
            graft.operators.Dedup.dedupOutput(oldDocs, threshold),
            LabelStore.keeperOverrides(graft.operators.Dedup
              .keeperUpgrades(docs, dCap, threshold))),
          () => LabelStore.servingKeepers(spark.table("sb_keepers"),
            LabelStore.keeperOverrides(LabelStore.upgradeEvents(spark,
              "sb_labels", "sb_sketch", "sb_keepers", batchDocs, threshold)))),
        Family("q206_nsw_graph",
          () => graft.operators.Similarity.nswGraphIncremental(emb, vCap),
          () => GraphStore.update(spark, "sb_graph", emb, vMax)._3),
        Family("q218_ols_fit",
          () => graft.operators.Events.olsTrendIncremental(ev, eCap),
          () => graft.operators.Events.olsProductionCycle(
            spark.read.parquet(s"$tmp/ols_state"),
            ev.where(col("event_id") >= eCap))),
        Family("q223_nb_fit",
          () => graft.operators.TextAnalysis.nbIncremental(docs, dCap),
          () => graft.operators.TextAnalysis.nbProductionCycle(
            spark.read.parquet(s"$tmp/nb_state"), batchDocs)))

      families.filter(f => wanted(f.name)).map { f =>
        val tq = time(runs)(f.queryForm())
        val tp = time(runs)(f.production())
        val ratio = tq / tp
        println(f"""{"family":"${f.name}","split":"$pct/${100 - pct}","query_form_s":$tq%.3f,"production_s":$tp%.3f,"query_over_production":$ratio%.2f}""")
        (f.name, pct, tq, tp, ratio)
      }
    }

    val json = allRows.map { case (n, pct, tq, tp, r) =>
      f""""${n}_at_$pct":{"split":"$pct/${100 - pct}","query_form_s":$tq%.3f,"production_s":$tp%.3f,"query_over_production":$r%.2f}"""
    }.mkString(
      s"""{"sf":"$sfDir","runs":$runs,"splits":[${splits.mkString(",")}],"agg":"min","rows":{""",
      ",", "}}")
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_STOREBENCH_OUT", "STOREBENCH.json")), json + "\n")

    println("| family | split | query form (s) | production (s) | ratio |")
    println("|---|---|---|---|---|")
    allRows.foreach { case (n, pct, tq, tp, r) =>
      println(f"| $n | $pct/${100 - pct} | $tq%.2f | $tp%.2f | $r%.2f× |")
    }

    sbTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.stop()
  }
}
