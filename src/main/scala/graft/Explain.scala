package graft

/** Plan inspection: `runMain graft.Explain <sfDir> [query...]` prints,
  * for each named query (all if none given), a header with the
  * executed plan's cartesian / broadcast-nested-loop / exchange /
  * unpartitioned-window / parquet-scan counts, then the formatted
  * physical plan. Used to audit pushdown/pruning/broadcast/codegen
  * choices — see PLANS.md for the audit notes. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq
    // keep operator plans lazy — the eager result checkpoints in the
    // dedup/ANN family would otherwise reduce `.explain` to a scan of
    // the checkpointed RDD
    val spark = GraftSession(4, 4,
      extraConf = Map("spark.graft.eagerMaterialize" -> "false"))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
      println(s"\n==== $n" +
        s" cartesian=${lines.count(_.contains("CartesianProduct"))}" +
        s" bnlj=${lines.count(_.contains("BroadcastNestedLoopJoin"))}" +
        s" exchange=${lines.count(_.contains("Exchange"))}" +
        s" windows=${lines.count(l => l.contains("Window") && !l.contains("partitionBy"))}" +
        s" scans=${lines.count(_.contains("Scan parquet"))} ====")
      df.explain("formatted")
      // lazy mode parks its persists until released: drop them once the
      // plan is printed, so a sweep does not pin every query's caches
      operators.Dedup.releaseLazyHandles()
    }
    spark.stop()
  }
}
