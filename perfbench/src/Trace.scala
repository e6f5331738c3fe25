package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Spans of one benchmark operation share `op`;
  * `parent` is the id of the enclosing span (-1 at the top). */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: the jobs submitted while it was
  * the innermost open span, and their completed stages and tasks. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill
  }
}

/** Spans kept in memory, plus a SparkListener (registered through
  * the public `SparkContext.addSparkListener`) that attributes every
  * job to the innermost open span through a job-local property.
  * Listener events arrive asynchronously, so attribution never
  * depends on when an event is delivered; [[settle]] waits until
  * every started job has ended before the counts are read.
  *
  * With `enabled = false` no listener is registered and [[span]] only
  * runs its body, so untraced runs carry no tracing cost. */
final class Tracer(val enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private var sc: SparkContext = _
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private var started, ended = 0L
  private var paused = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        started += 1
        val id = Option(e.properties)
          .flatMap(p => Option(p.getProperty(Prop))).map(_.toInt)
          .getOrElse(-1)
        work.getOrElseUpdate(id, new Work).jobs += 1
        e.stageInfos.foreach(s => stageSpan(s.stageId) = id)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { ended += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        val w = work.getOrElseUpdate(stageSpan.getOrElse(i.stageId, -1),
          new Work)
        val m = i.taskMetrics
        w.stages += 1
        w.tasks += i.numTasks
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.runMs += m.executorRunTime
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Attach to a (new) SparkContext; detaches from the previous one. */
  def attach(context: SparkContext): Unit = if (enabled) {
    if (sc != null) sc.removeSparkListener(listener)
    sc = context
    sc.addSparkListener(listener)
  }

  def detach(): Unit = if (enabled && sc != null) {
    settle()
    sc.removeSparkListener(listener)
    sc = null
  }

  /** True outside [[suspended]] in a traced run. */
  def recording: Boolean = enabled && !paused

  /** Run `body` with the listener off and no spans recorded. */
  def suspended[T](body: => T): T =
    if (!enabled || paused) body
    else {
      val context = sc
      detach()
      paused = true
      try body
      finally { paused = false; attach(context) }
    }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!recording) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      if (sc != null) sc.setLocalProperty(Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (sc != null) sc.setLocalProperty(Prop,
          stack.headOption.map(_.toString).orNull)
        synchronized { spansBuf += Span(id, name, op, parent, t0, t1) }
      }
    }

  /** Wait (at most 10 s) until every job the listener saw start has
    * ended and its stage events have been delivered. */
  def settle(): Unit = if (enabled && sc != null) {
    val deadline = System.nanoTime() + 10000000000L
    var stable = 0
    var last = -1L
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (s, e) = synchronized((started, ended))
      if (s == e && s == last) stable += 1 else stable = 0
      last = s
    }
  }

  def spans: Seq[Span] = synchronized(spansBuf.toList)

  def lastSpan: Span = synchronized(spansBuf.last)

  /** Work of the spans with the given ids. */
  def workOf(ids: Iterable[Int]): Work = synchronized {
    val w = new Work
    ids.foreach(i => work.get(i).foreach(w.add))
    w
  }

  /** Spans as JSON lines: the trace file written when a run ends. */
  def jsonLines: Seq[String] = spans.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
      s""""parent":${s.parent},"start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs}}""")
}
