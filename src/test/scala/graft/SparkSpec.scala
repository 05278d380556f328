package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast; forked JVM per build.sbt), built by the same factory
  * as the mains. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.create("2")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
