package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work attributed to one span by the benchmark's listener. */
final class Counters {
  val jobs, tasks, taskRunMs, bytesRead, bytesWritten, recordsWritten, shuffleBytes =
    new AtomicLong
  /** (launch, finish) wall-clock millis of every task of the span. */
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]
}

/** One layer boundary: `parent` is 0 for an operation's root span, and all
  * spans of one operation share `runId`. Times are wall-clock millis for the
  * task overlap and nanos for durations. */
final case class Span(id: Long, name: String, parent: Long, runId: Long,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder plus a `SparkListener` that attributes jobs and
  * task metrics to the innermost open span.
  *
  * Attribution rides Spark's job-local properties: a span sets
  * `perfbench.span` on the driver thread, every job submitted under it
  * (including broadcast and AQE sub-jobs, which inherit the property)
  * carries the id, and task-end events are mapped back through their
  * stage. When disabled, `span` only runs its body and no listener is
  * registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.Prop

  private val spans = ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private var nextId = 1L
  private var runs = 0L
  private var open: List[Long] = Nil

  private def countersOf(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { s =>
        val id = s.toLong
        countersOf(id).jobs.incrementAndGet()
        e.stageIds.foreach(stageSpan.put(_, id))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      if (id != 0L) {
        val c = countersOf(id)
        c.tasks.incrementAndGet()
        c.taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs.addAndGet(m.executorRunTime)
          c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`. A span opened outside any
    * other starts a new operation; nested spans share its run id. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0L)
      if (parent == 0L) runs += 1
      val runId = runs
      val outer = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      open = id :: open
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      try body
      finally {
        val endNs = System.nanoTime()
        spans += Span(id, name, parent, runId, startMs, System.currentTimeMillis(), startNs, endNs)
        open = open.tail
        sc.setLocalProperty(Prop, outer)
      }
    }

  /** Wait until every queued listener event has been counted. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def counters(s: Span): Counters = countersOf(s.id)

  /** Duration minus the part covered by child spans. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Span wall time during which none of its tasks ran: planning, listing,
    * driver-side collects and commit renames. */
  def driverSeconds(s: Span): Double = {
    val iv = counters(s).taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var busyMs = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busyMs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busyMs += curB - curA
    math.max(s.seconds - busyMs / 1000.0, 0.0)
  }

  /** Spans as JSON lines (name, start, end, parent, run id, counters). */
  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = counters(s)
      w.println(
        s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.runId},""" +
          s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},""" +
          s""""jobs":${c.jobs.get},"tasks":${c.tasks.get},"task_run_ms":${c.taskRunMs.get},""" +
          s""""bytes_read":${c.bytesRead.get},"bytes_written":${c.bytesWritten.get},""" +
          s""""shuffle_bytes":${c.shuffleBytes.get}}""")
    }
    finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
