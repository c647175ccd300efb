package graft

/** Pins the one session factory: the confs correct results depend on
  * are set by [[GraftSession]] and nowhere else. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries the union-partitioning guard, UTC and nanosAsLong") {
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }

  test("Bench's arguments give exactly the conf set Bench built by hand") {
    // Bench's (and Verify's) session before the factory, written out:
    // SPARK_GRAFT_CPUS for both the core count and the shuffle width
    val cpus = 8
    val handBuilt = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.unionOutputPartitioning" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.conf(cpus, cpus) === handBuilt)
  }

  test("a caller's extra conf cannot override the fixed ones") {
    intercept[IllegalArgumentException](GraftSession.conf(4, 4,
      Map("spark.sql.unionOutputPartitioning" -> "true")))
    assert(GraftSession.conf(2, 2, Map("spark.memory.fraction" -> "0.05"))
      .get("spark.memory.fraction") === Some("0.05"))
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val builders = files(root).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("SparkSession.builder") finally src.close()
    }.map(_.getName)
    assert(builders === Seq("GraftSession.scala"))
  }
}
