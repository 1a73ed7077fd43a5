package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt),
  * built on the same GraftSession contract as the graded mains so
  * plan pins run under the same adaptive and state-store settings.
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder()
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sfDir = "/root/testdata/sf0.001"
}
