package graft.tools

import graft.{Bench, GraftSession, QuerySpec, Registry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.util.control.NonFatal

/** Dev tool: profile declared queries under Bench's conditions — the
  * same session, `Bench.prepare` (Preflight, warmup, every write-once
  * layout pre-built, so a cold rep does not include a layout write)
  * and Bench's drain. Each query runs cold + 2 warm reps; each rep
  * prints its wall time, its slowest stages (wall, summed task time,
  * CPU, GC, task count, shuffle records in/out and the physical
  * operators the stage ran — the stage→plan mapping available with
  * the UI disabled) and, for streaming queries, each micro-batch's
  * duration breakdown and state-store metrics. After the last rep it
  * prints the executed plan, or with `--plans` writes
  * `explain("formatted")` to `<outDir>/<query>_<tag>.txt` (the
  * `plans/rNN` artifacts). For a streaming replay that plan is the
  * last micro-batch's, not the scan of the collected result.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dataDir> Profile [--plans <outDir> <tag>] <query...>
  *
  * An unknown query name is rejected before the session starts; a
  * query that fails makes the run exit 1.
  */
object Profile {
  final case class Stage(wallMs: Long, taskMs: Long, cpuMs: Long,
                         gcMs: Long, tasks: Int, recIn: Long, recOut: Long,
                         name: String)
  final case class Rep(label: String, seconds: Double, stages: Seq[Stage],
                       batches: Seq[String], batchPlan: Option[String])

  /** The stages and streaming micro-batches a session completes, and
    * the formatted plan Spark posts with each micro-batch's SQL
    * execution: one SparkListener and one StreamingQueryListener,
    * registered on construction. */
  final class Recorder(spark: SparkSession) {
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val batches = new ConcurrentLinkedQueue[String]()
    private val batchPlans = new ConcurrentLinkedQueue[String]()
    // run ids of the streaming queries started; a micro-batch runs in
    // the job group named by its query's run id
    private val runIds = ConcurrentHashMap.newKeySet[String]()
    private val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val wall = (for { a <- i.completionTime; b <- i.submissionTime }
          yield a - b).getOrElse(-1L)
        val ops = i.rddInfos.flatMap(_.scope)
          .map(_.name.takeWhile(_ != '\n')).distinct.mkString(" <- ")
        stages.add(Stage(wall, m.executorRunTime,
          m.executorCpuTime / 1000000, m.jvmGCTime, i.numTasks,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.recordsWritten, ops.take(200)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart
            if x.jobGroupId.exists(runIds.contains) =>
          batchPlans.add(x.physicalPlanDescription)
        case _ =>
      }
    }
    private val streamListener = new StreamingQueryListener {
      // delivered on the stream's own thread before its first batch
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        runIds.add(e.runId.toString)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val state = p.stateOperators.map { so =>
          s"{op:${so.operatorName}, commitMs:${so.commitTimeMs}, " +
            s"rows:${so.numRowsTotal}, mem:${so.memoryUsedBytes}}"
        }.mkString("[", " ", "]")
        batches.add(s"batch ${p.batchId}: rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs} state=$state")
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(stageListener)
    spark.streams.addListener(streamListener)

    /** Everything completed since the previous call, with the last
      * micro-batch's plan. */
    def take(): (Seq[Stage], Seq[String], Option[String]) = {
      GraftShims.waitForListeners(spark)
      def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
        Iterator.continually(q.poll()).takeWhile(_ != null).toList
      (drain(stages), drain(batches), drain(batchPlans).lastOption)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** `[--plans <outDir> <tag>] <query...>` → the plan target and the
    * queries. Throws on a missing argument or an unknown query name. */
  def parse(args: Array[String]): (Option[(Path, String)], Seq[QuerySpec]) = {
    val (plans, names) = args.toSeq match {
      case "--plans" +: out +: tag +: rest => (Some((Paths.get(out), tag)), rest)
      case "--plans" +: _ => throw new IllegalArgumentException(
        "--plans needs <outDir> <tag>")
      case rest => (None, rest)
    }
    require(names.nonEmpty,
      "usage: Profile [--plans <outDir> <tag>] <query...>")
    val byName = Registry.specs.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    (plans, names.distinct.map(byName))
  }

  /** Cold + 2 warm reps of `q` at `dir`, each printed, then the plan. */
  def profile(spark: SparkSession, dir: String, q: QuerySpec,
              rec: Recorder, plans: Option[(Path, String)]): Seq[Rep] = {
    rec.take() // drop whatever ran before this query
    val runs = Seq("cold", "warm", "warm").map { label =>
      val (seconds, df) = Bench.runOnce(spark, dir, q.fn)
      val (stages, batches, batchPlan) = rec.take()
      val rep = Rep(label, seconds, stages, batches, batchPlan)
      println(f"${q.name} $label: $seconds%.2f s")
      println("-- stages (wall | task | cpu | gc | tasks | recIn | recOut | name)")
      stages.sortBy(-_.wallMs).take(8).foreach { s =>
        println(f"${s.wallMs}%7d | ${s.taskMs}%7d | ${s.cpuMs}%7d | " +
          f"${s.gcMs}%5d | ${s.tasks}%5d | ${s.recIn}%9d | " +
          f"${s.recOut}%9d | ${s.name}")
      }
      println(s"-- total stage wall: ${stages.map(_.wallMs).sum} ms over " +
        s"${stages.size} stages")
      batches.foreach(b => println(s"  $b"))
      (rep, df)
    }
    // the drained DataFrame's plan: AQE has finalized it, so it shows
    // the executed join strategies and AQEShuffleReads. A streaming
    // replay drains a scan of its collected rows; its operators ran in
    // the micro-batches, so the last batch's plan stands for it.
    val (lastRep, df) = runs.last
    plans match {
      case Some((outDir, tag)) =>
        Files.createDirectories(outDir)
        val file = outDir.resolve(s"${q.name}_$tag.txt")
        Files.writeString(file, lastRep.batchPlan.getOrElse(
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))))
        println(s"wrote $file")
      case None =>
        println(lastRep.batchPlan.getOrElse(
          df.queryExecution.executedPlan.toString).take(6000))
    }
    runs.map(_._1)
  }

  /** [[profile]] each query with one [[Recorder]]; returns the names
    * of the queries that failed, each reported on stderr. */
  def profileAll(spark: SparkSession, dir: String, queries: Seq[QuerySpec],
                 plans: Option[(Path, String)]): Seq[String] = {
    val rec = new Recorder(spark)
    try queries.filterNot { q =>
      try { profile(spark, dir, q, rec, plans); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[profile] ${q.name} failed: ${e.getMessage}")
        false
      }
    }.map(_.name)
    finally rec.close()
  }

  def main(args: Array[String]): Unit = {
    val (plans, queries) = parse(args)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "SPARK_GRAFT_SF_DIR must name the data dir"))
    val spark = GraftSession.local()
    Bench.prepare(spark, dir)
    val failed = profileAll(spark, dir, queries, plans)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[profile] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
