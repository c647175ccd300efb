package graft.tools

import org.apache.spark.sql.SparkSession

/** A/B attribution for the union-partitioning wrong-results guard:
  * times a query subset with `spark.sql.unionOutputPartitioning` ON
  * vs OFF in one JVM (two sessions over one context, interleaved,
  * min-of-N) — so the guard's bench cost is a measured number, not a
  * guess. ON is the WRONG-RESULTS configuration (see PLANS.md); this
  * tool exists only to price the guard. */
object ConfAB {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val off = spark.newSession(); off.conf.set("spark.sql.unionOutputPartitioning", "false")
    val on = spark.newSession(); on.conf.set("spark.sql.unionOutputPartitioning", "true")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").toSeq
    def time(s: SparkSession, n: String): Double = {
      graft.tools.Memos.clearAll()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(s, sf).count()
      (System.nanoTime() - t0) / 1e9
    }
    // warmup both sessions
    names.foreach { n => time(off, n); time(on, n) }
    val rows = names.map { n =>
      val offT = (1 to 2).map(_ => time(off, n)).min
      val onT = (1 to 2).map(_ => time(on, n)).min
      println(f"$n%-28s off=$offT%.2f on=$onT%.2f ratio=${offT / onT}%.2f")
      (n, offT, onT)
    }
    val (to, tn) = (rows.map(_._2).sum, rows.map(_._3).sum)
    println(f"TOTAL off=$to%.1f on=$tn%.1f guard cost=${(to / tn - 1) * 100}%.1f%%")
    spark.stop()
  }
}
