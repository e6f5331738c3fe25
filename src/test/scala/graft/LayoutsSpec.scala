package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Every registered write-once layout really is written once: a second
  * call returns the same value and starts no Spark job. */
class LayoutsSpec extends SpecBase {

  /** Descriptions of the jobs `body` starts on this thread. The
    * listener bus is asynchronous but ordered: once a marker job run
    * after `body` is seen, every job `body` started has been seen. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"layouts-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(e.properties.getProperty("spark.job.description"))
            .filter(_ == "marker")
            .getOrElse(e.properties.getProperty("callSite.short")))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "layout")
      val out = body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      val jobs = Iterator.continually(
          seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .map { d => assert(d != null, "marker job never seen"); d }
        .takeWhile(_ != "marker").toList
      (out, jobs)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("layout names are unique") {
    val names = Registry.layouts.map(_._1)
    assert(names.distinct == names)
  }

  for ((name, build) <- Registry.layouts)
    test(s"layout $name: a second call returns the same value, no job") {
      val first = build(spark, sfDir)
      val (second, jobs) = jobsDuring(build(spark, sfDir))
      assert(second == first)
      assert(jobs.isEmpty, s"second call ran ${jobs.size} job(s): $jobs")
    }
}
