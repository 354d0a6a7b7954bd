package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession. */
object SparkSpec {
  lazy val spark: SparkSession = Session.local(4)
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001: String = SparkSpec.sf0001
}
