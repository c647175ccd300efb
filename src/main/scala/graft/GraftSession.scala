package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every `main` and the
  * spec session come from here, so the confs that correct results
  * depend on are set once and cannot drift between entry points.
  * Callers pass only what genuinely differs: core count, shuffle
  * width, log level and confs of their own (which may not override
  * the fixed ones). */
object GraftSession {
  private val fixed = Map(
    // Wrong-results guard (found via the q206 merge law; see NswSpec
    // "q206 law survives an artifact-primed memo"): Spark 4.1's default
    // spark.sql.unionOutputPartitioning=true lets a window/distinct
    // above a union of co-partitioned branches skip its shuffle, and
    // under AQE + broadcast towers the claim is not always honored by
    // the union's actual partition layout.
    "spark.sql.unionOutputPartitioning" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    // events.ts stored as parquet TIMESTAMP(NANOS) reads as epoch-nanos
    // LONG (the Events time bridges accept LONG, NTZ and LTZ).
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** Every conf a session built with these arguments carries. */
  def conf(cores: Int, shufflePartitions: Int,
      extraConf: Map[String, String] = Map.empty): Map[String, String] = {
    val clash = extraConf.keySet.intersect(fixed.keySet + "spark.master" +
      "spark.sql.shuffle.partitions")
    require(clash.isEmpty, s"GraftSession owns ${clash.mkString(", ")}")
    fixed ++ extraConf ++ Map(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString)
  }

  def apply(cores: Int, shufflePartitions: Int, logLevel: String = "ERROR",
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .config(conf(cores, shufflePartitions, extraConf)).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
