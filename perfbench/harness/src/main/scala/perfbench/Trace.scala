package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and counters recorded by the benchmark's own code around each
  * call into a program layer. A disabled tracer records nothing, so an
  * untraced run pays only the branch.
  *
  * Span names are layer keys ("htn.cohort", "sweep.core", ...); a layer's
  * self time is the summed duration of its spans minus the part of each
  * span that its child spans cover. Times are wall-clock milliseconds so
  * they line up with the Spark listener's job timestamps. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack.set(stack.get.tail)
        val t1 = System.currentTimeMillis()
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  def set(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = v }

  /** Self seconds per span name, over spans that start at or after `from`. */
  def selfSeconds(from: Long): Map[String, Double] = synchronized {
    val kept = spans.filter(_.start >= from)
    val children = kept.groupBy(_.parent)
    kept.groupMapReduce(_.name) { s =>
      val covered = Intervals.unionLength(
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end)
      (s.end - s.start - covered) / 1000.0
    }(_ + _)
  }

  /** Span lines (name, start, end, parent) then counter lines, as JSON. */
  def write(path: java.nio.file.Path, extra: Map[String, Double]): Unit = synchronized {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},"start_ms":${s.start},"end_ms":${s.end}}"""
    } ++ (counters ++ extra).map { case (k, v) => s"""{"counter":"$k","value":$v}""" }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

object Intervals {
  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    total + (curE - curS)
  }
}

/** Per-run Spark counters from the listener bus: job intervals, stage and
  * task counts, task CPU/GC, bytes scanned, shuffled, spilled and written,
  * and the worst per-stage task skew (max task time over median). */
final class SparkCounters extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var stages = 0L
  private var tasks = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var scan = 0L
  private var shRead = 0L
  private var shWrite = 0L
  private var spill = 0L
  private var output = 0L
  private var skew = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    stageTaskMs.remove(key).foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        skew = math.max(skew, sorted.last.toDouble / median)
      }
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      scan += m.inputMetrics.bytesRead
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      output += m.outputMetrics.bytesWritten
    }
  }

  /** Counters for the window [from, to] (wall ms); call after draining. */
  def snapshot(from: Long, to: Long): Map[String, Double] = synchronized {
    val inWindow = jobIntervals.filter { case (s, _) => s >= from && s <= to }.toSeq
    val jobSec = Intervals.unionLength(inWindow, from, to) / 1000.0
    Map(
      "spark.jobs" -> inWindow.size.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.job_s" -> jobSec,
      "spark.driver_gap_s" -> ((to - from) / 1000.0 - jobSec),
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.task_gc_s" -> gcMs / 1000.0,
      "spark.scan_bytes" -> scan.toDouble,
      "spark.shuffle_read_bytes" -> shRead.toDouble,
      "spark.shuffle_write_bytes" -> shWrite.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.output_bytes" -> output.toDouble,
      "spark.max_task_skew" -> skew)
  }
}

object SparkCounters {
  def register(sc: SparkContext): SparkCounters = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c
  }
}
