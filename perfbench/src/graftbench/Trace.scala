package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * Spans around the benchmark's calls into each graft layer. A span sets
 * a job group (a local property the scheduler copies onto every job the
 * call runs), so a [[SparkListener]] can tie jobs, stages and tasks back
 * to the innermost open span. Spans live in memory; attribution and the
 * span file are produced once, at exit. With tracing off, [[span]] only
 * runs its body.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as span `name` of `layer`, under request `req`
    * (inherited from the parent when empty). */
  def span[A](layer: String, name: String, req: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, name, layer, parent.fold(-1)(_.id),
        if (req.nonEmpty) req else parent.fold("")(_.req), nowMs)
      spans += s
      open.push(s)
      sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        open.pop()
        parent match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** All spans with Spark work attributed inclusively (a span's counts
    * include its descendants'), once the listener bus has caught up. */
  def finish(): Seq[Attributed] = {
    if (!enabled) return Seq.empty
    listener.quiesce()
    val kids = spans.toSeq.groupBy(_.parent)
    val byGroup = listener.byGroup
    def subtree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Seq.empty).flatMap(subtree)
    spans.toSeq.map { s =>
      val tree = subtree(s)
      val w = tree.flatMap(t => byGroup.get(group(t.id)))
      val jobs = w.flatMap(_.jobs)
      val self = (s.end - s.start) - covered(
        kids.getOrElse(s.id, Seq.empty).map(c => (c.start, c.end)), s.start, s.end)
      val gap = (s.end - s.start) - covered(jobs, s.start, s.end)
      Attributed(s, self, jobs.size, w.map(_.stages).sum, w.map(_.tasks).sum,
        w.map(_.busyMs).sum, w.map(_.shuffleWrite).sum, w.map(_.spill).sum,
        w.map(_.gcMs).sum, gap)
    }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, layer: String, parent: Int, req: String,
      start: Double) {
    var end: Double = start
  }

  final case class Attributed(span: Span, selfMs: Double, jobs: Int, stages: Int,
      tasks: Long, busyMs: Double, shuffleWrite: Long, spill: Long, gcMs: Double,
      driverGapMs: Double) {
    def json: String = Json.obj(Seq(
      "id" -> span.id, "name" -> span.name, "layer" -> span.layer, "parent" -> span.parent,
      "req" -> span.req, "start_ms" -> span.start, "end_ms" -> span.end, "self_ms" -> selfMs,
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_busy_ms" -> busyMs,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill, "gc_ms" -> gcMs,
      "driver_gap_ms" -> driverGapMs))
  }

  private def group(id: Int): String = s"graftbench-span-$id"

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  final class Work {
    val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
    var stages = 0
    var tasks = 0L
    var busyMs = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0.0
  }

  /** Per job group: job intervals, stage and task counts, task run
    * time, shuffle write, spill (memory + disk) and GC time. */
  final class Listener extends SparkListener {
    private val jobGroup = mutable.HashMap.empty[Int, String]
    private val jobStart = mutable.HashMap.empty[Int, Double]
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val work = mutable.HashMap.empty[String, Work]
    @volatile private var lastEvent = System.nanoTime()

    private def touch(): Unit = lastEvent = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      touch()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          jobGroup(e.jobId) = g
          jobStart(e.jobId) = e.time.toDouble
          e.stageIds.foreach(stageGroup(_) = g)
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      touch()
      for (g <- jobGroup.get(e.jobId); t0 <- jobStart.remove(e.jobId))
        work.getOrElseUpdate(g, new Work).jobs += ((t0, e.time.toDouble))
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      touch()
      stageGroup.get(e.stageInfo.stageId).foreach(g => work.getOrElseUpdate(g, new Work).stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      touch()
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val w = work.getOrElseUpdate(g, new Work)
        w.tasks += 1
        w.busyMs += m.executorRunTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }

    /** Wait until every started job has ended and no event arrived for a
      * moment: all traced calls have returned, so their events are posted. */
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 30e9.toLong
      while (System.nanoTime() < deadline &&
        (synchronized(jobStart.nonEmpty) || System.nanoTime() - lastEvent < 300e6.toLong))
        Thread.sleep(50)
    }

    def byGroup: Map[String, Work] = synchronized(work.toMap)
  }
}
