package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, SparkSession}
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

  /** The Spark jobs `body` starts on this thread, each named by the
    * description Spark gave it (e.g. "Listing leaf files and
    * directories for N paths"), else by its result stage's call site
    * (e.g. "parquet at LsdDb.scala:285"). A job starts
    * inside the call that runs it, so once `body` returns and the
    * listener bus is drained, every one has been seen. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"spec-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          val d = e.properties.getProperty("spark.job.description")
          seen.add(if (d != null && d != group) d
            else e.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val out = body
      GraftShims.waitForListeners(spark)
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}
