package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Engine.session(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val tiny = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
