package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Spill-under-pressure proof (round-6 verdict item 6): the 100 TB
  * story leans on Spark's spill-not-OOM behavior (SURVEY §4), so this
  * probe RUNS the three heaviest aggregation/join/sort shapes at sf0.1
  * inside a deliberately starved JVM and asserts (exit code) that every
  * query COMPLETES and actually SPILLS (task metrics > 0).
  *
  * Drive it with a constrained heap + tiny execution-memory fraction:
  * {{{
  * SPARK_DRIVER_MEM=1200m sbt "runMain graft.tools.SpillProbe"
  * }}}
  * (`run / fork := true`, so SPARK_DRIVER_MEM becomes the forked -Xmx;
  * `spark.memory.fraction=0.1` shrinks execution+storage memory to
  * ~1/6 of the default share of that heap.)
  *
  * Prints one JSON line per query `{"query":…,"sec":…,
  * "memoryBytesSpilled":…,"diskBytesSpilled":…,"rows":…}` plus a total
  * line; exits 1 if any query fails or the total disk spill is zero
  * (which would mean the probe proved nothing). Measured numbers are
  * recorded in BASELINE.md.
  *
  * Per-query attribution is by listener delta between actions (the
  * single-threaded driver loop makes the windows disjoint; a ±1-task
  * tail race would only shift bytes between adjacent rows, never
  * invent spill). */
object SpillProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fraction = sys.env.getOrElse("SPARK_GRAFT_MEM_FRACTION", "0.05")
    // TWO fat tasks, not four thin ones: per-task state is what
    // presses the execution pool
    val spark = graft.GraftSession(2, 2, extraConf = Map(
      // the PRESSURE: execution+storage get `fraction` of the (already
      // small) heap instead of the default 60%
      "spark.memory.fraction" -> fraction,
      // no broadcast escape hatch — the join must shuffle both sides
      // and merge under pressure
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))

    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    // The three shapes that hold the most per-task state in the suite:
    // an SMJ fact⋈fact join (both sides buffered through sort), a
    // full-relation global sort, and a per-key ObjectHashAggregate
    // whose group state is row-sized (collect_list), the worst
    // aggregation case (hash states evict to sort-based under pressure).
    def queries: Seq[(String, () => Long)] = Seq(
      "smj_fact_join" -> (() =>
        lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice") * col("o_totalprice")).as("xp"))
          .collect().length.toLong),
      "global_sort" -> (() => {
        // noop sink materializes the full sorted relation without
        // collecting 600k rows to the starved driver
        val sorted = lineitem.orderBy(col("l_extendedprice").desc,
          col("l_orderkey"), col("l_linenumber"))
        sorted.write.format("noop").mode("overwrite").save()
        sorted.count()
      }),
      "heavy_agg_collect" -> (() =>
        lineitem.groupBy("l_partkey")
          .agg(collect_list(struct(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))).as("lines"))
          .select(max(size(col("lines"))).as("m"), count(lit(1)).as("n"))
          .collect().length.toLong))

    def settle(): Unit = Thread.sleep(1500) // listener bus drain

    var failed = false
    val rows = queries.map { case (name, run) =>
      val (m0, d0) = (mem.get, disk.get)
      val t0 = System.nanoTime()
      val n = try run() catch { case e: Throwable =>
        System.err.println(s"[spill] $name FAILED: $e"); failed = true; -1L
      }
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      val (dm, dd) = (mem.get - m0, disk.get - d0)
      val line = f"""{"query":"$name","sec":$sec%.2f,"memoryBytesSpilled":$dm,"diskBytesSpilled":$dd,"rows":$n}"""
      println(line)
      (name, dm, dd, n)
    }
    val totalDisk = rows.map(_._3).sum
    val totalMem = rows.map(_._2).sum
    println(s"""{"metric":"spill_total","heapMax":${Runtime.getRuntime.maxMemory},"memoryBytesSpilled":$totalMem,"diskBytesSpilled":$totalDisk,"sf":"$sfDir"}""")
    spark.stop()
    if (failed) { System.err.println("[spill] a query FAILED under pressure"); sys.exit(1) }
    if (totalDisk == 0L) { System.err.println("[spill] nothing spilled — probe proved nothing"); sys.exit(1) }
  }
}
