package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; ScalaTest
  * suites run sequentially in the forked test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Session.build(4, Map.empty)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
}
