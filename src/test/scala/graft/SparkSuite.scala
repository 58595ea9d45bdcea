package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites: the bench session at a fixed
  * 8 cores (getOrCreate reuses one context across the sbt test JVM). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.builder(cpus = 8).getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}
