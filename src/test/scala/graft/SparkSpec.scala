package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession =
    Session.create("WARN", Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh_cat").toString))
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf0001: String = TestSpark.sf0001
}
