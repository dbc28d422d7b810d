package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Sums executor CPU over every finished task. Attached for the whole run,
  * traced or not, so `cpu_s` is counted the same way in both modes (the
  * way `graft.Bench` counts it).
  */
final class CpuListener extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** One timed region recorded by the benchmark around a call into a layer. */
final case class Span(id: Int, name: String, layer: String, pass: Int,
    startMs: Double, endMs: Double) {
  def interval: (Double, Double) = (startMs, endMs)
}

/** Task-metric sums attributed to one span. */
final class TaskSums {
  var tasks, cpuNs, runMs, gcMs, shuffleWrite, spill = 0L
  var bytesRead, bytesWritten, recordsWritten = 0L
}

/** Span recorder plus the listener that attributes Spark work to spans.
  *
  * A span sets the Spark local property [[Tracer.Key]] on the calling
  * thread, so every job submitted inside it (including jobs from threads it
  * starts, such as a stream's execution thread) carries the span id. The
  * listener maps job → span and stage → span from `onJobStart`, sums task
  * metrics per span, keeps job intervals for driver-time accounting, and
  * catches streaming `QueryProgressEvent`s through `onOtherEvent`: the
  * stream gates run on `newSession()` children, which a session-scoped
  * `StreamingQueryListener` would miss. Everything stays in memory until
  * the run ends.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val nextId = new AtomicInteger(0)
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var pass: Int = 0

  def spans: Seq[Span] = recorded.asScala.toSeq

  def span[T](name: String, layer: String)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id.toString)
    val t0 = nowMs
    try body
    finally {
      recorded.add(Span(id, name, layer, pass, t0, nowMs))
      sc.setLocalProperty(Key, prev)
    }
  }

  // Listener state: written on the listener-bus thread, read after a drain.
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  val sums = mutable.Map.empty[Int, TaskSums]
  val stagesOf = mutable.Map.empty[Int, mutable.Set[(Int, Int)]]
  val taskRunMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** (trigger start epoch ms, durationMs parts) per micro-batch. */
  val progress = mutable.ArrayBuffer.empty[(Double, Map[String, Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .map(_.toInt).getOrElse(0)
    jobSpan(e.jobId) = (sid, e.time)
    e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, sid))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (sid, t0) =>
      jobs += ((sid, t0.toDouble, e.time.toDouble))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val sid = stageSpan.getOrElse(e.stageId, 0)
    val s = sums.getOrElseUpdate(sid, new TaskSums)
    s.tasks += 1
    s.cpuNs += m.executorCpuTime
    s.runMs += m.executorRunTime
    s.gcMs += m.jvmGCTime
    s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    s.spill += m.diskBytesSpilled
    s.bytesRead += m.inputMetrics.bytesRead
    s.bytesWritten += m.outputMetrics.bytesWritten
    s.recordsWritten += m.outputMetrics.recordsWritten
    val stage = (e.stageId, e.stageAttemptId)
    stagesOf.getOrElseUpdate(sid, mutable.Set.empty) += stage
    taskRunMs.getOrElseUpdate(stage, mutable.ArrayBuffer.empty) += m.executorRunTime
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      val pr = p.progress
      val ts = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      progress += ((ts, pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    case _ =>
  }

  /** Work attributed to a set of spans. */
  final class Usage(val spans: Seq[Span]) {
    private val ids = spans.map(_.id).toSet
    private val own = sums.collect { case (k, v) if ids(k) => v }
    private def total(f: TaskSums => Long): Long = own.map(f).sum
    val jobIntervals: Seq[(Double, Double)] =
      jobs.collect { case (sid, a, b) if ids(sid) => (a, b) }.toSeq
    val stages: Set[(Int, Int)] =
      stagesOf.collect { case (k, v) if ids(k) => v }.flatten.toSet
    def jobCount: Int = jobIntervals.size
    def tasks: Long = total(_.tasks)
    def cpuS: Double = total(_.cpuNs) / 1e9
    def runS: Double = total(_.runMs) / 1e3
    def gcS: Double = total(_.gcMs) / 1e3
    def shuffleMb: Double = total(_.shuffleWrite) / MiB
    def spillMb: Double = total(_.spill) / MiB
    def readMb: Double = total(_.bytesRead) / MiB
    def writeMb: Double = total(_.bytesWritten) / MiB
    def rowsWritten: Long = total(_.recordsWritten)
    /** Union of the spans' intervals, in seconds. */
    def busyS: Double = Intervals.length(spans.map(_.interval)) / 1e3
    /** First start to last end, in seconds. */
    def wallS: Double =
      if (spans.isEmpty) 0.0
      else (spans.map(_.endMs).max - spans.map(_.startMs).min) / 1e3
    /** Span time during which none of the spans' own jobs was running. */
    def driverS: Double = {
      val covered = Intervals.intersection(spans.map(_.interval), jobIntervals)
      busyS - covered / 1e3
    }
    /** Max over median task run time in the stage with the most run time. */
    def taskSkew: Double = {
      val runs = stages.toSeq.flatMap(st => taskRunMs.get(st))
      if (runs.isEmpty) 0.0
      else {
        val costly = runs.maxBy(_.sum).sorted
        val med = Stats.median(costly.map(_.toDouble).toSeq)
        if (med <= 0) 0.0 else costly.max / med
      }
    }
    /** Micro-batches whose trigger started inside one of the spans. */
    def batches: Seq[Map[String, Long]] = progress.collect {
      case (ts, d) if spans.exists(s => ts >= s.startMs - 1 && ts <= s.endMs) => d
    }.toSeq
  }
}

object Tracer {
  val Key = "perfbench.span"
  private val MiB = 1024.0 * 1024.0
}

/** Interval arithmetic over (start, end) pairs, in milliseconds. */
object Intervals {
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  def length(xs: Seq[(Double, Double)]): Double =
    union(xs).map { case (a, b) => b - a }.sum

  /** Length of (∪ xs) ∩ (∪ ys). */
  def intersection(xs: Seq[(Double, Double)], ys: Seq[(Double, Double)]): Double = {
    val us = union(ys)
    union(xs).map { case (a, b) =>
      us.map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum
    }.sum
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
