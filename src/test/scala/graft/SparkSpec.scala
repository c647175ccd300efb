package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite {
  /** The one testdata root the specs drive against — shared so suites
    * cannot silently drift to different scales. */
  val testdataDir = "/root/testdata/sf0.001"

  /** Built by [[GraftSession]], so specs run under the bench's confs. */
  lazy val spark: SparkSession = GraftSession(4, 4, extraConf = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
