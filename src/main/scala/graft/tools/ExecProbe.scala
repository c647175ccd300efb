package graft.tools

/** Runtime-plan probe: `runMain graft.tools.ExecProbe <sfDir> <query>[,<query>…]`
  * executes each named query EAGERLY (noop sink — no driver collect)
  * and then prints the FINAL adaptive plan's stage-reuse profile plus
  * wall seconds. This is the complement of Explain, which prints
  * the pre-execution plan: AQE performs exchange reuse at stage
  * materialization time, so duplicate-looking subtrees in the initial
  * plan can still execute once — only the post-run plan
  * (isFinalPlan=true) shows `ReusedQueryStage`/`ReusedExchange`. */
object ExecProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(8, 8)
    val dir = args(0)
    args(1).split(",").foreach { n =>
      // time from construction: eagerly-checkpointing operators do
      // their work inside the queries() call itself
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // collect(), not a noop write: write() wraps the plan in a NEW
      // QueryExecution, leaving df.queryExecution un-executed (and its
      // adaptive plan never finalized). Contract outputs are small.
      val rows = df.collect().length
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.queryExecution.executedPlan.toString
      assert(rows >= 0)
      def c(s: String) = plan.linesIterator.count(_.contains(s))
      if (sys.env.contains("EXECPROBE_PRINT_PLAN")) println(plan)
      println(f"== $n%s sec=$sec%.2f reusedStages=${c("ReusedQueryStage")}%d " +
        s"reusedExchanges=${c("ReusedExchange")} exchanges=${c("Exchange")} " +
        s"scans=${c("Scan parquet")} final=${plan.contains("isFinalPlan=true")}")
    }
    spark.stop()
  }
}
