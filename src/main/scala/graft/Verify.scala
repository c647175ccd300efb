package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local dev
    // iteration only — the driver always passes exactly two args)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    def keep(name: String) = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(cpus.toInt, cpus.toInt, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle-consistency guard (round-13 ADVICE): the q276 oracle text
    // carries the DEFAULT audit-slice stride; a session that overrode
    // spark.graft.simhashCalib.targetDocs would run the engine on a
    // different slice than the SQL replays — refuse to dump a silently
    // divergent oracle rather than let the gate compare two corpora.
    val calibTarget = graft.operators.Dedup.simhashCalibTarget(spark)
    require(calibTarget == graft.operators.Dedup.SimhashCalibTargetDefault,
      s"spark.graft.simhashCalib.targetDocs=$calibTarget but the q276 " +
        s"oracle SQL is built at the default " +
        s"${graft.operators.Dedup.SimhashCalibTargetDefault} — unset it " +
        "for Verify runs (engine slice and oracle slice would diverge)")
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
