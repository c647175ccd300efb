package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The measurement harness behind the round-11 q206 decision: prices
  * GraphStore.update's two paths (full-polish fallback vs delta
  * algebra) against the oracle-convention query form at sf0.1, 99/1,
  * min-of-5 with memos cleared — plus the storeState overhead and the
  * full path's phase split. This is the tool that REJECTED the
  * verdict-prescribed lazy dirty-set chain (persist-marked subplans
  * expanded 13,715× under tree-walking planners and doubled task
  * work; cached subplans additionally execute with AQE restrictions)
  * and validated what shipped instead: a zero-job commit-stamp check
  * and the single-eager-round fused full path. */
object NswDeltaProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val vMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val vCap = vMax * 99 / 100
    import graft.sources.GraphStore
    Seq("g_probe", "g_probe_base", "g_probe_refined", "g_probe_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    GraphStore.build(spark, "g_probe", emb.where(col("vec_id") < vCap), vCap)
    def minOf(n: Int)(body: => Unit): Double =
      (1 to n).map { _ =>
        Memos.clearAll()
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.min
    // warmup
    Memos.clearAll()
    GraphStore.update(spark, "g_probe", emb, vMax)._3.queryExecution.toRdd.count()
    val tState = minOf(5)(GraphStore.storeState(spark, "g_probe"))
    val tQuery = minOf(5)(graft.operators.Similarity
      .nswGraphIncremental(emb, vCap).queryExecution.toRdd.count())
    def prod(floor: String): Double = {
      spark.conf.set("spark.graft.nswDeltaPolishMinRows", floor)
      try minOf(5)(GraphStore.update(spark, "g_probe", emb, vMax)
        ._3.queryExecution.toRdd.count())
      finally spark.conf.unset("spark.graft.nswDeltaPolishMinRows")
    }
    val tFull = prod(Long.MaxValue.toString)
    val tDelta = prod("0")
    // split plan-build vs execute on the full path
    spark.conf.set("spark.graft.nswDeltaPolishMinRows", Long.MaxValue.toString)
    val tBuild = minOf(5)(GraphStore.update(spark, "g_probe", emb, vMax))
    // full-path phase split: base / refined / graph counts in sequence
    // (caches populate in order, so each number is one stage tier)
    val phases = (1 to 3).map { _ =>
      Memos.clearAll()
      val (b, r, g) = GraphStore.update(spark, "g_probe", emb, vMax)
      val t0 = System.nanoTime()
      b.queryExecution.toRdd.count()
      val t1 = System.nanoTime()
      r.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      g.queryExecution.toRdd.count()
      val t3 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    val pb = phases.map(_._1).min; val pr = phases.map(_._2).min
    val pg = phases.map(_._3).min
    spark.conf.unset("spark.graft.nswDeltaPolishMinRows")
    println(f"[probe] storeState=$tState%.2f query=$tQuery%.2f prodFull=$tFull%.2f prodDelta=$tDelta%.2f fullBuildOnly=$tBuild%.2f phases base=$pb%.2f refined=$pr%.2f graph=$pg%.2f")
    spark.stop()
  }
}
