package graft.tools

/** Per-sample timing distribution probe for vs_prev drift triage.
  *
  * The round-12 vs_prev block flagged q255/q264/q267 as regressions
  * with NO code change to any of the three operators — and the `prev`
  * point was a MERGE of three protocol runs (min over ~9–15 samples
  * per query) while the flagged run was a single pass set (min over
  * 3–5). Under heavy-tailed per-sample noise a min over 3× the
  * samples is systematically lower, so the comparison itself can
  * manufacture a "regression" on exactly the highest-variance rows.
  * This probe prints EVERY interleaved warm sample for the named
  * queries so the hypothesis is checkable from data: if a query's
  * single-run sample spread covers the flagged prev→cur gap, the flag
  * was sample-count asymmetry, not a regression.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PROBE_QUERIES=q255_gz_source,...
  *        SPARK_GRAFT_PROBE_SAMPLES=8 runMain graft.tools.DriftProbe
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val samples = sys.env.getOrElse("SPARK_GRAFT_PROBE_SAMPLES", "8").toInt
    val names = sys.env.getOrElse("SPARK_GRAFT_PROBE_QUERIES",
      "q255_gz_source,q264_norm_quantiles,q267_containment_recall," +
        "q256_zstd_source,q263_zipf_audit,q266_containment_audit")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = graft.GraftSession(cpus.toInt, cpus.toInt, logLevel = "WARN")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val picked = names.map(n => n -> graft.SparkEntry.queries(n))
    // per-sample (seconds, succeeded) — a FAILED sample must never
    // pose as a normal timing (round-13 ADVICE: a crash that fails
    // fast would otherwise read as a speedup in drift triage). Failed
    // samples are excluded from min/med/max and reported per query.
    val all = scala.collection.mutable
      .LinkedHashMap[String, Vector[(Double, Boolean)]]()
      .withDefaultValue(Vector.empty)
    val firstErr = scala.collection.mutable.LinkedHashMap[String, String]()
    // interleaved like Bench: each query's samples land minutes apart
    for (_ <- 0 until samples; (n, fn) <- picked) {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          firstErr.getOrElseUpdate(n,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
      }
      all(n) = all(n) :+ ((System.nanoTime() - t0) / 1e9, ok)
    }
    var anyFail = false
    for ((n, ts) <- all) {
      val good = ts.collect { case (t, true) => t }.sorted
      val nFail = ts.count(!_._2)
      if (nFail > 0) anyFail = true
      val stats =
        if (good.isEmpty) """"min":null,"med":null,"max":null"""
        else f""""min":${good.head}%.3f,"med":${good(good.length / 2)}%.3f,"max":${good.last}%.3f"""
      val samplesJson = ts.map { case (t, ok) =>
        if (ok) f"$t%.3f" else f"""{"sec":$t%.3f,"failed":true}"""
      }.mkString(",")
      val errJson = firstErr.get(n)
        .map(e => s""","first_error":"${e.replace("\\", "\\\\").replace("\"", "\\\"")}"""")
        .getOrElse("")
      println(s"""{"query":"$n",$stats,"fails":$nFail,"samples":[$samplesJson]$errJson}""")
    }
    spark.stop()
    // a probe with failing samples must not exit clean — the failure
    // is the finding, not a timing artifact
    if (anyFail) sys.exit(1)
  }
}
