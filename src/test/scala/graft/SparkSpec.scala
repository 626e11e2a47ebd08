package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * startup dominates suite runtime otherwise).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Tables.localSession(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = Tables.sfDir("0.001")
}
