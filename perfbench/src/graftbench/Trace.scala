package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced call into a layer. Times are epoch milliseconds with
  * sub-millisecond resolution, comparable with Spark's event times.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double)

/** Spark work attributed to one span. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; inputBytes += o.inputBytes
  }

  def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "empty_tasks" -> emptyTasks, "task_cpu_ns" -> cpuNs, "task_run_ms" -> runMs,
    "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes, "input_bytes" -> inputBytes)
}

/** Records spans around the benchmark's calls into each layer, and (through
  * [[Listener]]) the jobs, stages and tasks that ran inside them. The load
  * is one serial client, so the span open when a job, stage or task started
  * is the one that caused it. With `on = false` nothing is recorded.
  */
final class Tracer(val on: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  def nowMs: Double = baseMs + (System.nanoTime() - baseNanos) / 1e6

  private val closed = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Int, Double)] = Nil // (id, name, op, start)
  private var nextId = 0
  private var nextOp = 0

  def spans: Seq[Span] = closed.toSeq

  /** Id of the innermost open span, 0 outside every span. */
  def current: Int = open.headOption.map(_._1).getOrElse(0)

  /** A root span: a new operation id for it and everything under it. */
  def op[T](name: String)(f: => T): T = { nextOp += 1; span(name)(f) }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      nextId += 1
      val id = nextId
      val parent = current
      open = (id, name, nextOp, nowMs) :: open
      try f
      finally {
        val (_, _, op, start) = open.head
        open = open.tail
        closed += Span(id, name, parent, op, start, nowMs)
      }
    }

  val listener = new Listener

  /** Work of every span, keyed by span id, from the listener's events. */
  def counts: Map[Int, Counts] = {
    val out = mutable.Map.empty[Int, Counts]
    def at(t: Double): Option[Counts] = Tracer.innermost(spans, t).map(s => out.getOrElseUpdate(s.id, new Counts))
    listener.jobStarts.foreach(t => at(t).foreach(_.jobs += 1))
    listener.stageStarts.foreach(t => at(t).foreach(_.stages += 1))
    listener.tasks.foreach { case (t, c) => at(t).foreach(_.add(c)) }
    out.toMap
  }
}

object Tracer {
  /** The latest-starting span whose interval holds `t`. */
  def innermost(spans: Seq[Span], t: Double): Option[Span] =
    spans.filter(s => s.start <= t && t <= s.end).maxByOption(s => (s.start, s.id))

  /** Duration minus the part of the span's interval its children cover. */
  def selfTime(span: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (span.end - span.start) - covered
  }
}

/** Collects job, stage and task events for [[Tracer]]. Events arrive on
  * Spark's listener bus after the fact; [[drain]] waits for them.
  */
final class Listener extends SparkListener {
  val jobStarts = mutable.ArrayBuffer.empty[Double]
  val stageStarts = mutable.ArrayBuffer.empty[Double]
  val tasks = mutable.ArrayBuffer.empty[(Double, Counts)]
  @volatile private var marker = -1
  @volatile private var markerDone = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(p => p.getProperty("spark.job.description") == Listener.Marker))
      marker = e.jobId
    else jobStarts += e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == marker) markerDone = true

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageStarts += t.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = new Counts
      c.tasks = 1
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (records == 0) c.emptyTasks = 1
      c.cpuNs = m.executorCpuTime
      c.runMs = m.executorRunTime
      c.gcMs = m.jvmGCTime
      c.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      c.inputBytes = m.inputMetrics.bytesRead
      tasks += ((e.taskInfo.launchTime.toDouble, c))
    }
  }

  /** Run a marker job and wait until its end event arrives: the bus is in
    * order, so every earlier event has been delivered by then.
    */
  def drain(sc: SparkContext): Unit = {
    sc.setJobDescription(Listener.Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!markerDone && System.nanoTime() < deadline) Thread.sleep(10)
    require(markerDone, "listener bus did not drain within 60 s")
  }
}

object Listener {
  val Marker = "graftbench-drain"
}
