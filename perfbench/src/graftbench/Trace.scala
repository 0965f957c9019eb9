package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into the program. Spark-side counts arrive from the
  * listener for every job that ran while this span was the innermost
  * open one (the span id rides the job's local properties).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val trace: Int, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  // listener-fed
  var jobs = 0
  var tasks = 0L
  var maxStageTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory spans around calls into the program's public functions,
  * plus a SparkListener that charges every job, stage and task to the
  * span it ran under. Disabled, `span` is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  private val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var traceId = 0
  private var sc: SparkContext = _

  private val byId = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.flatMap(i => byId.get(i.toInt)).foreach { s =>
        s.jobs += 1
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(st => stageSpan(st) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) =>
        s.jobSpans += ((t0, e.time)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { s =>
          s.maxStageTasks = math.max(s.maxStageTasks, e.stageInfo.numTasks) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageSpan.get(e.stageId).filter(_ => m != null).foreach { s =>
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  def attach(context: SparkContext): Unit =
    if (enabled) { sc = context; sc.addSparkListener(Listener) }

  /** Deliver every queued listener event before spans are read. */
  def drain(): Unit =
    if (enabled) org.apache.spark.graft.GraftSparkHooks.drainListenerBus(sc)

  /** A root span: one operation of the workload, with its own trace id. */
  def op[A](name: String)(body: => A): A = {
    traceId += 1
    span(name)(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled || sc == null) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        traceId, System.nanoTime(), System.currentTimeMillis())
      Listener.synchronized { spans += s; byId(s.id) = s }
      open = s :: open
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (enabled && sc != null) open.headOption.foreach(_.attrs(key) = v)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - Tracer.unionMs(children(s).map(c => (c.startNs / 1e6, c.endNs / 1e6)))

  /** Span wall time covered by no Spark job of its own or its subtree. */
  def driverMs(s: Span): Double = {
    val jobs = subtree(s).flatMap(_.jobSpans).map { case (a, b) =>
      (math.max(a, s.startMs).toDouble, math.min(b, s.endMs).toDouble) }
      .filter { case (a, b) => b > a }
    math.max(0.0, (s.endMs - s.startMs) - Tracer.unionMs(jobs))
  }

  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq
}

object Tracer {
  /** Length of the union of [a, b) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
