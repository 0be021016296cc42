package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * session startup dominates test time otherwise), built like every
  * engine session by [[GraftSession]].
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf01 = "/root/testdata/sf0.1"
}
