package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests must not mutate global catalog state). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
