package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{LsdDb, Preflight, SparkEntry}
import graft.sources.{MarginCache, Snapshots, SpatialWriter, TimeWriter}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One benchmark run: three set-ups, each followed by a first pass;
  * warm passes in the first session, between its first pass and the
  * next set-up; then the correctness checks. A pass runs every
  * operation of the workload once, one after another (a closed loop
  * with one client), in an order drawn from the seed.
  *
  * In traced runs the traced warm passes give the per-layer numbers;
  * the difference between the traced and untraced pass medians is the
  * tracing overhead. */
final class Run(w: Workload, seed: Long, seconds: Double,
                traced: Boolean, dataDir: String, work: String,
                expected: Map[String, String]) {
  private val cpus = Runtime.getRuntime.availableProcessors
  private val tracer = new Tracer(traced)
  private val rng = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private val tally = new Tally
  private var nextOp = 0
  private var cycle = 0
  private val touched = mutable.LinkedHashSet.empty[String]

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNow = osBean.getProcessCpuTime

  /** Per warm pass: traced?, its operation ids, seconds. */
  private final case class Pass(traced: Boolean, ops: Seq[Int],
                                seconds: Double)
  private val passes = mutable.ArrayBuffer.empty[Pass]
  /** Heap still reachable after the warm passes, in MiB. */
  private var liveHeap = 0.0
  private var checkSeconds = 0.0
  private val opSeconds = mutable.ArrayBuffer.empty[Double]
  private val opTime = mutable.HashMap.empty[Int, Double]
  private val opName = mutable.HashMap.empty[Int, String]
  private val catalyst = mutable.HashMap.empty[Int, (Double, Double,
    Double, Int)]

  private def now = System.nanoTime()

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ---- setup ------------------------------------------------------

  private def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  /** Set-up `i`: seconds of (session, preflight, layouts). Each set-up
    * starts a new session and builds its layouts under a fresh
    * java.io.tmpdir (where the engine keys its write-once caches), so
    * no set-up reuses another's layouts. */
  private def setup(i: Int): (Double, Double, Double) = {
    stopSession()
    val tmp = s"$work/tmp/setup$i"
    new File(tmp).mkdirs()
    System.setProperty("java.io.tmpdir", tmp)
    if (i > 0) Files.delete(new File(s"$work/tmp/setup${i - 1}"))
    val t0 = now
    spark = tracer.span("setup.session", -1)(Run.session(work))
    tracer.attach(spark.sparkContext)
    val t1 = now
    tracer.span("setup.preflight", -1)(Preflight.check(spark, dataDir))
    val t2 = now
    tracer.span("setup.layouts", -1)(buildLayouts())
    val t3 = now
    log(f"setup $i: session ${(t1 - t0) / 1e9}%.2f s, preflight " +
      f"${(t2 - t1) / 1e9}%.2f s, layouts ${(t3 - t2) / 1e9}%.2f s")
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  private def buildLayouts(): Unit = w.ingest match {
    case Some(p) => Ingest.stage(spark, p, seed, s"$work/input")
    case None => w.layouts.foreach { name =>
      val build = Layouts.builders.getOrElse(name, throw
        new IllegalArgumentException(s"unknown layout '$name'"))
      val t0 = now
      try build(spark, dataDir)
      catch { case NonFatal(e) => throw new IllegalStateException(
        s"building layout '$name' failed", e) }
      log(f"layout $name: ${(now - t0) / 1e9}%.2f s")
    }
  }

  // ---- operations -------------------------------------------------

  private def drain(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(
      (it: Iterator[_]) => while (it.hasNext) it.next())

  /** One operation: `build` makes the DataFrame, `run` executes it
    * (by default draining every output row). An operation that
    * throws is counted as failed and gives None; the run goes on. */
  private def op(name: String, ids: mutable.Buffer[Int], warm: Boolean,
                 build: => DataFrame,
                 run: Option[DataFrame => Unit] = None): Option[DataFrame] = {
    val id = { nextOp += 1; nextOp }
    ids += id
    tally.attempt {
      val t0 = now
      val df = tracer.span(s"op.$name", id) {
        val df = tracer.span("operators.build", id)(build)
        tracer.span("exec.drain", id)(run.getOrElse(drain _)(df))
        df
      }
      val dt = (now - t0) / 1e9
      opTime(id) = dt
      opName(id) = name
      if (warm) opSeconds += dt
      else if (tracer.enabled && run.isEmpty) touched ++= df.inputFiles
      if (tracer.recording && run.isEmpty) catalyst(id) = planStats(df)
      df
    }.left.map(e => log(s"operation $name failed: $e")).toOption
  }

  private def planStats(df: DataFrame): (Double, Double, Double, Int) = {
    val ph = df.queryExecution.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    // the executed plan: AQE's final plan, whose query stages wrap the
    // exchanges that ran
    def exchanges(p: SparkPlan): Int = (p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: Exchange => 1 + e.children.map(exchanges).sum
      case other => other.children.map(exchanges).sum
    }) + p.subqueries.map(exchanges).sum
    (ms("analysis"), ms("optimization"), ms("planning"),
      exchanges(df.queryExecution.executedPlan))
  }

  /** The workload's operations for one pass, in a seeded order.
    * Returns their ids and summed seconds (checks excluded). */
  private def pass(warm: Boolean): (Seq[Int], Double) = {
    val ids = mutable.ArrayBuffer.empty[Int]
    w.ingest match {
      case Some(p) =>
        // one cycle's output is kept until the next one ends
        Files.delete(new File(s"$work/out/c${cycle - 1}"))
        Ingest.cycle(spark, p, s"$work/input", s"$work/out/c$cycle", rng,
          new Ingest.Steps {
            def write(name: String, in: => DataFrame)
                     (run: DataFrame => Unit): Unit =
              op(name, ids, warm, in, Some(run))
            def read(name: String, df: => DataFrame): Option[DataFrame] =
              op(name, ids, warm, df)
            def check(what: String, ok: => Boolean): Unit =
              Run.this.check(what, ok)
          })
        cycle += 1
      case None => Run.order(rng, w.queries).foreach { q =>
        op(q, ids, warm, SparkEntry.queries(q)(spark, dataDir))
      }
    }
    (ids.toSeq, ids.flatMap(opTime.get).sum)
  }

  /** A correctness check: counted as an attempted operation, a false
    * result as a failed one. */
  private def check(what: String, ok: => Boolean): Unit = {
    val t0 = now
    if (!tally.check(try ok catch { case NonFatal(e) =>
      log(s"check $what threw: $e"); throw e }))
      log(s"check failed: $what")
    checkSeconds += (now - t0) / 1e9
  }

  private def checkQueries(): Unit = w.queries.sorted.foreach { q =>
    val want = expected.getOrElse(q, throw new IllegalStateException(
      s"no committed fingerprint for $q"))
    check(s"$q fingerprint", {
      val got = Stats.fingerprint(SparkEntry.queries(q)(spark, dataDir))
        .toString
      if (got != want) log(s"$q: fingerprint $got, expected $want")
      got == want
    })
  }

  // ---- the run ----------------------------------------------------

  /** At least three warm passes and `seconds` of them. Traced runs add
    * an untraced warm-up pass, then run traced and untraced passes in
    * T U U T order, so that a trend in pass times cancels. The live
    * heap is taken once, after the last pass, so that the forced
    * collection changes no pass's garbage collection. */
  private def warmPasses(): Unit = {
    if (traced) tracer.suspended(pass(warm = false))
    val minPasses = if (traced) 4 else 3
    while (passes.size < minPasses || passes.map(_.seconds).sum < seconds)
      warmPass(traced && Set(0, 3)(passes.size % 4))
    liveHeap = Run.liveHeapMb
    log(f"live heap after the warm passes: $liveHeap%.0f MB")
  }

  private def warmPass(tracedPass: Boolean): Unit = {
    val c0 = cpuNow
    val (ids, dt) =
      if (tracedPass || !traced) pass(warm = true)
      else tracer.suspended(pass(warm = true))
    passes += Pass(tracedPass, ids, dt)
    log(f"warm pass ${passes.size}${if (tracedPass) " (traced)" else ""}" +
      f": $dt%.2f s, process cpu ${(cpuNow - c0) / 1e9}%.2f s")
  }

  /** Fingerprint of every listed query after one set-up. */
  def fingerprintAll(): Seq[(String, String)] = {
    setup(0)
    try w.queries.map(q => q -> Stats.fingerprint(
      SparkEntry.queries(q)(spark, dataDir)).toString)
    finally stopSession()
  }

  def execute(): Result = {
    val missing = w.queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"workload ${w.name} lists queries missing " +
      s"from SparkEntry.queries: ${missing.mkString(", ")}")
    // Each set-up is followed by its first pass, as a one-shot run pays
    // it. The warm passes run in the first session, before the other
    // set-ups: the JIT compiler settles during them, so that the later
    // set-ups and first passes measure a new session, not a cold JVM.
    val (setupParts, firstPasses) = (0 until Run.Setups).map { i =>
      val parts = setup(i)
      val (_, first) = pass(warm = false)
      log(f"first pass $i: $first%.2f s")
      if (i == 0) warmPasses()
      (parts, first)
    }.unzip
    log("warm seconds by operation: " + passes.flatMap(_.ops)
      .groupBy(opName).toSeq.map { case (k, v) =>
        k -> Stats.median(v.map(opTime).toSeq) }.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    if (w.ingest.isEmpty) checkQueries()
    tracer.settle()
    log(s"failed_frac: ${tally.failed} / ${tally.attempted} = " +
      f"${tally.failedFrac}, checks took $checkSeconds%.2f s")
    val result = Result(tally.attempted, tally.failed,
      if (traced) perLayer(setupParts) else endToEnd(setupParts, firstPasses))
    stopSession()
    result
  }

  private def endToEnd(setupParts: Seq[(Double, Double, Double)],
                       firstPasses: Seq[Double]): Seq[Metric] = {
    val warm = passes.map(_.seconds).toSeq
    // per-operation latency is logged, not reported: a run has 9 to 30
    // warm operations of 3 to 6 kinds, too few for a steady median or
    // any tail percentile
    log(f"warm operations: ${opSeconds.size}, passes: ${warm.size}, " +
      f"p50: ${Stats.median(opSeconds.toSeq)}%.3f s, tail: " +
      Stats.tailPercentile(opSeconds.toSeq).fold("n/a (needs 11)") {
        case (v, pct) => f"p${pct * 100}%.1f = $v%.3f s" })
    Seq(
      Metric("setup_s", Stats.median(setupParts.map(p => p._1 + p._2 +
        p._3)), "s"),
      Metric("first_pass_s", Stats.median(firstPasses), "s"),
      Metric("pass_s", Stats.median(warm), "s"),
      Metric("stored_bytes_ratio", storedBytesRatio, "ratio"),
      Metric("live_heap_mb", liveHeap, "MB"))
  }

  /** Bytes the workload's writes left on disk per byte of the plain
    * parquet they were built from: the last set-up's layouts over the
    * source tables, or one ingest cycle's layouts over its input. */
  private def storedBytesRatio: Double = w.ingest match {
    case Some(_) => Files.bytes(written).toDouble /
      Files.bytes(new File(s"$work/input"))
    case None => Files.bytes(written).toDouble / Files.bytes(new File(dataDir))
  }

  private def perLayer(setupParts: Seq[(Double, Double, Double)])
      : Seq[Metric] = {
    val tracedPasses = passes.filter(_.traced).toSeq
    val untraced = passes.filterNot(_.traced).map(_.seconds).toSeq
    val n = tracedPasses.size.toDouble
    val opIds = tracedPasses.flatMap(_.ops).toSet
    val spans = tracer.spans.filter(s => opIds(s.op))
    def ids(name: String) = spans.filter(_.name == name).map(_.id)
    def secs(name: String) =
      spans.filter(_.name == name).map(_.seconds).sum / n
    // table opens, timed once per traced pass on every table the
    // workload touched
    val opens = tables()
    val openSpans = tracedPasses.flatMap { _ =>
      opens.map { case (root, t) =>
        tracer.span("lsddb.open", -2)(LsdDb(spark, root).table(t).schema)
        tracer.lastSpan
      }
    }
    tracer.settle()
    val build = tracer.workOf(ids("operators.build"))
    val drain = tracer.workOf(ids("exec.drain"))
    val openWork = tracer.workOf(openSpans.map(_.id))
    val cat = catalyst.filter { case (k, _) => opIds(k) }.values.toSeq
    val drainS = secs("exec.drain")
    val out = written
    val mb = 1024.0 * 1024.0
    log(s"traced passes: ${tracedPasses.size}, untraced: ${untraced.size}" +
      s", tables opened per pass: ${opens.map(_._2).mkString(",")}")
    val stepSpans = spans.filter(_.name.startsWith("op.sources."))
    if (stepSpans.nonEmpty) log("ingest step seconds per traced pass: " +
      stepSpans.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, v) =>
        f"$k=${v.map(_.seconds).sum / n}%.3f" }.mkString(" "))
    Seq(
      Metric("setup.session_s", Stats.median(setupParts.map(_._1)), "s"),
      Metric("setup.preflight_s", Stats.median(setupParts.map(_._2)), "s"),
      Metric("setup.layouts_s", Stats.median(setupParts.map(_._3)), "s"),
      Metric("lsddb.open_s", openSpans.map(_.seconds).sum / n, "s"),
      Metric("lsddb.open_jobs", openWork.jobs / n, "count"),
      Metric("operators.build_s", secs("operators.build"), "s"),
      Metric("operators.build_jobs", build.jobs / n, "count"),
      Metric("catalyst.analysis_s", cat.map(_._1).sum / n, "s"),
      Metric("catalyst.optimization_s", cat.map(_._2).sum / n, "s"),
      Metric("catalyst.planning_s", cat.map(_._3).sum / n, "s"),
      Metric("catalyst.exchanges", cat.map(_._4).sum / n, "count"),
      Metric("exec.drain_s", drainS, "s"),
      Metric("exec.jobs", drain.jobs / n, "count"),
      Metric("exec.stages", drain.stages / n, "count"),
      Metric("exec.tasks", drain.tasks / n, "count"),
      Metric("exec.task_cpu_s", drain.cpuNs / 1e9 / n, "s"),
      Metric("exec.task_run_s", drain.runMs / 1e3 / n, "s"),
      Metric("exec.gc_s", drain.gcMs / 1e3 / n, "s"),
      Metric("exec.cpu_util", drain.cpuNs / 1e9 / n / (cpus * drainS),
        "ratio"),
      Metric("exec.shuffle_read_mb", drain.shuffleRead / mb / n, "MB"),
      Metric("exec.shuffle_write_mb", drain.shuffleWrite / mb / n, "MB"),
      Metric("exec.spill_mb", drain.spill / mb / n, "MB"),
      Metric("sources.files_written", Files.dataFiles(out).toDouble,
        "count"),
      Metric("sources.bytes_written_mb", Files.bytes(out) / mb, "MB"),
      Metric("sources.commit_retries", Files.commitRetries(spark, out)
        .toDouble, "count"),
      Metric("sources.margin_rows_ratio", marginRowsRatio(out), "ratio"),
      Metric("trace.overhead_s", Stats.median(tracedPasses.map(_.seconds)) -
        Stats.median(untraced), "s"))
  }

  /** Rows including neighbor-margin replicas per primary row, over
    * every margin layout (a dataset with a `_MARGIN` sidecar) in `dir`;
    * NaN when there is none. */
  private def marginRowsRatio(dir: File): Double = {
    val layouts = Files.walk(dir).filter(_.getName == "_MARGIN")
      .map(_.getParent)
    val counts = layouts.map { p =>
      val df = spark.read.parquet(p)
      (df.count(), df.filter(!col("is_margin")).count())
    }
    counts.map(_._1).sum.toDouble / counts.map(_._2).sum
  }

  /** Where the measured writes landed: the last set-up's layouts, or
    * the last ingest cycle's output. */
  private def written: File = w.ingest match {
    case Some(_) => new File(s"$work/out/c${cycle - 1}")
    case None => new File(s"$work/tmp/setup${Run.Setups - 1}")
  }

  /** (db root, table) of every table the workload reads. */
  private def tables(): Seq[(String, String)] = w.ingest match {
    case Some(_) => Seq(s"$work/input" -> "detections") ++
      Ingest.layouts.map(written.getPath -> _)
    case None =>
      val prefix = new File(dataDir).getCanonicalPath
      touched.toSeq
        .map(f => new File(new java.net.URI(f).getPath).getCanonicalPath)
        .filter(_.startsWith(prefix + "/"))
        .map(_.stripPrefix(prefix + "/").takeWhile(_ != '/')
          .stripSuffix(".parquet"))
        .distinct.sorted.map(dataDir -> _)
  }

  def traceLines: Seq[String] = tracer.jsonLines
}

final case class Metric(name: String, value: Double, unit: String)

final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null"
        else java.lang.Double.toString(m.value)
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$ms}}"""
  }
}

object Run {
  /** Set-ups (each with its first pass) per run; the medians are
    * reported. */
  val Setups = 3

  /** A local session on every core, its scratch space under `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The seeded order of one pass (and of the ingest epoch batches). */
  def order[T](rng: scala.util.Random, items: Seq[T]): Seq[T] =
    rng.shuffle(items)

  /** Heap the program still reaches, in MiB: heap used right after a
    * full collection. Independent of how much heap the collector has
    * grown or touched. */
  def liveHeapMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** The write-once layouts a query workload can pre-build in set-up,
  * by the name `workloads.json` uses. */
object Layouts {
  import graft.operators.{Core, Joins}
  val builders: Map[String, (SparkSession, String) => Any] = Map(
    "events_daily" -> Core.ensureTimePartitionedEvents,
    "snapshot_events" -> Core.ensureSnapshotEvents,
    "xmatch_margin_cache" -> Joins.ensureXmatchMarginCache,
    "sky_customer" -> Joins.ensureSkyPartitionedCustomer)
}

/** The `ingest` workload: seeded synthetic detections with a dense
  * declination stripe, split into epoch batches, written through the
  * sources layer's public API into every layout it offers. */
object Ingest {
  val schema: StructType = StructType(Seq(
    StructField("det_id", LongType), StructField("ra", DoubleType),
    StructField("dec", DoubleType), StructField("mjd", DoubleType),
    StructField("epoch", IntegerType), StructField("mag", FloatType),
    StructField("mag_err", FloatType), StructField("ts", TimestampType)))

  /** Tables each cycle writes under its db root. */
  val layouts: Seq[String] = Seq("cells", "daily", "snap")

  def rows(p: IngestParams, seed: Long): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed)
    (0 until p.rows).map { i =>
      val epoch = (i.toLong * p.epochs / p.rows).toInt
      val dec =
        if (r.nextDouble() < p.stripeFrac)
          (r.nextDouble() * 2 - 1) * p.stripeHalfWidth
        else (r.nextDouble() - 0.5) * p.decSpan
      // mjd on a one-second grid inside the epoch's window
      val mjd = 60000.0 + epoch * p.epochDays +
        r.nextInt(p.epochDays * 86400) / 86400.0
      val ts = new java.sql.Timestamp(
        math.round((mjd - 40587.0) * 86400.0) * 1000L)
      Row(i.toLong, r.nextDouble() * p.raSpan, dec, mjd, epoch,
        (14 + r.nextInt(8000) / 1000.0).toFloat,
        (0.01 + r.nextInt(100) / 1000.0).toFloat, ts)
    }
  }

  /** The input exactly as generated, for the same-seed test. */
  def bytes(rows: Seq[Row]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val o = new java.io.DataOutputStream(bo)
    rows.foreach { r =>
      o.writeLong(r.getLong(0)); o.writeDouble(r.getDouble(1))
      o.writeDouble(r.getDouble(2)); o.writeDouble(r.getDouble(3))
      o.writeInt(r.getInt(4)); o.writeFloat(r.getFloat(5))
      o.writeFloat(r.getFloat(6)); o.writeLong(r.getTimestamp(7).getTime)
    }
    o.close()
    bo.toByteArray
  }

  def header: String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")

  private var inputFp: Stats.Fingerprint = _

  /** Stage the generated rows as plain parquet under `root`. */
  def stage(spark: SparkSession, p: IngestParams, seed: Long,
            root: String): Unit = {
    val rs = rows(p, seed)
    inputFp = Stats.fingerprint(header, rs.iterator)
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
      .write.mode("overwrite").parquet(s"$root/detections.parquet")
  }

  private def fp(df: DataFrame): Stats.Fingerprint = fps(Seq(df)).head

  private def fps(dfs: Seq[DataFrame]): Seq[Stats.Fingerprint] =
    Stats.fingerprints(dfs.map(_.select(schema.fieldNames.map(col).toSeq: _*)))

  /** How a cycle runs its steps: writes and reads are timed
    * operations, checks run between them, outside the timing. */
  trait Steps {
    def write(name: String, in: => DataFrame)(run: DataFrame => Unit): Unit
    /** The DataFrame read, None when the read failed. */
    def read(name: String, df: => DataFrame): Option[DataFrame]
    def check(what: String, ok: => Boolean): Unit
  }

  /** One ingest cycle into the fresh db root `out`: a cell layout with
    * neighbor margins, a day-bucketed time layout, one snapshot
    * append per epoch batch (in a seeded order), compaction, a margin
    * cache of the compacted snapshot table, then a read-back of every
    * layout. */
  def cycle(spark: SparkSession, p: IngestParams, input: String,
            out: String, rng: scala.util.Random, steps: Steps): Unit = {
    def in = LsdDb(spark, input).table("detections")
    val db = LsdDb(spark, out)
    val snap = s"$out/snap.parquet"
    steps.write("sources.spatial_write", in)(SpatialWriter.write(_, "ra",
      "dec", p.level, s"$out/cells.parquet", margin = Some(p.marginDeg)))
    steps.write("sources.time_write", in)(TimeWriter.write(_, "ts", "day",
      s"$out/daily.parquet"))
    Run.order(rng, 0 until p.epochs).foreach { e =>
      steps.write("sources.snapshot_append",
        in.filter(col("epoch") === e))(df =>
        Snapshots.append(df, snap, statsCols = Seq("mjd")))
    }
    val head = fp(db.table("snap"))
    steps.check("snapshot head equals the union of the appended batches",
      head == inputFp)
    steps.write("sources.compact", null)(_ => Snapshots.compact(spark, snap))
    steps.write("sources.margin_build", null)(_ => MarginCache.build(spark,
      out, "snap", "ra", "dec", p.level, p.marginDeg,
      fromSnapshot = Some(None)))
    val back = layouts.map(t => steps.read("sources.readback", db.table(t))) :+
      steps.read("sources.readback", db.tableMargined("snap"))
    // what the cycle left, as read back, fingerprinted in one job
    lazy val got = {
      val Seq(cells, daily, snap, margined) = back.map(_.getOrElse(throw
        new IllegalStateException("a read-back failed")))
      fps(Seq(snap, cells, daily, margined.filter(!col("is_margin"))))
    }
    steps.check("compact preserves the snapshot head", got(0) == head)
    steps.check("primaries read back from the cell layout equal the input",
      got(1) == inputFp)
    steps.check("rows read back from the time layout equal the input",
      got(2) == inputFp)
    steps.check("margin cache primaries equal the input", got(3) == inputFp)
  }
}

/** Small file-system helpers for what a run leaves on disk. */
object Files {
  def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .sortBy(_.getName).flatMap(walk)
    else if (f.exists) Seq(f) else Nil

  def bytes(f: File): Long = walk(f).map(_.length).sum

  /** Parquet data files (not sidecars, markers or checksums). */
  def dataFiles(f: File): Int =
    walk(f).count(x => x.getName.endsWith(".parquet") &&
      !x.getName.startsWith("."))

  def commitRetries(spark: SparkSession, f: File): Long =
    walk(f).filter(_.getName == "_COMMITS")
      .map(c => Snapshots.ocStats(spark, c.getParent)._1).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    if (f.exists && !f.delete())
      throw new java.io.IOException(s"could not delete $f")
  }
}
