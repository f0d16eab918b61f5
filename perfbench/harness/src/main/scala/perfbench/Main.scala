package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One timed operation of a cycle: its layer-level name, seconds, and
  * whether its output check passed. */
final case class Op(name: String, sec: Double, ok: Boolean)

/** A benchmark workload. Inputs are made from the seed in [[stage]],
  * outside every timed region; [[setup]] is the program's own set-up that
  * `setup_s` times; a [[cycle]] is one unit of the workload's work. */
trait Workload {
  def stage(spark: SparkSession): Unit = ()
  def setup(spark: SparkSession): Unit = ()
  def cycle(spark: SparkSession, tr: Tracer): Seq[Op]
  /** Release what the program holds after a run; returns failed checks. */
  def finish(spark: SparkSession, tr: Tracer): Int = 0
}

/** Workloads run one after the other as one: staged, set up and cycled
  * together, their ops concatenated. */
final class Composite(parts: Seq[Workload]) extends Workload {
  override def stage(spark: SparkSession): Unit = parts.foreach(_.stage(spark))
  override def setup(spark: SparkSession): Unit = parts.foreach(_.setup(spark))
  override def cycle(spark: SparkSession, tr: Tracer): Seq[Op] = parts.flatMap(_.cycle(spark, tr))
  override def finish(spark: SparkSession, tr: Tracer): Int = parts.map(_.finish(spark, tr)).sum
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, data: Path, out: Path)

object Main {
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    graft.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores, 4)))
      .getOrCreate()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** CPU seconds this process has used, on all its threads. Time the host
    * steals from the guest is not in it. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def jvmGcSec(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val wl: Workload = a.workload match {
      case "htn" => new HtnWorkload(a)
      case "sweep_stream" => new Composite(Seq(new SweepWorkload(a), new StreamWorkload(a)))
      case other => sys.error(s"unknown workload $other")
    }

    // inputs from the seed, then SetupReps fresh sessions each paying the
    // program's set-up; the last one stays up for the measured cycles
    val start = System.nanoTime()
    var spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    wl.stage(spark)
    System.err.println(f"[perfbench] inputs staged and process warm after ${(System.nanoTime() - start) / 1e9}%.1fs")
    val setups = (1 to SetupReps).map { i =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      spark.sparkContext.setLogLevel("ERROR")
      wl.setup(spark)
      val sec = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) wl.finish(spark, new Tracer(false))
      sec
    }

    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cycleCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timedCycle(t: Tracer): (Seq[Op], Double) = {
      val (t0, c0) = (System.nanoTime(), processCpuSec())
      val ops = t.span("bench.cycle")(wl.cycle(spark, t))
      cycleCpu += processCpuSec() - c0
      (ops, (System.nanoTime() - t0) / 1e9)
    }
    val sc = spark.sparkContext
    val tr = new Tracer(a.trace)
    val listener = if (a.trace) Some(SparkCounters.register(sc)) else None
    val gc0 = jvmGcSec()
    val wall0 = System.currentTimeMillis()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    do {
      val (c, sec) = timedCycle(tr)
      ops ++= c
      cycles += sec
    } while (System.nanoTime() < deadline)
    val wall1 = System.currentTimeMillis()
    System.err.println(s"[perfbench] setups ${setups.mkString(" ")} cycles ${cycles.mkString(" ")}")
    if (a.trace) {
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      sc.removeSparkListener(listener.get)
      val wallSec = (wall1 - wall0) / 1000.0
      layer ++= listener.get.snapshot(wall0, wall1)
      layer("jvm.gc_s") = jvmGcSec() - gc0
      val self = tr.selfSeconds(wall0)
      self.foreach { case (k, v) => if (k != "bench.cycle") layer(s"${k}_s") = v }
      val attributed = self.filter(_._1 != "bench.cycle").values.sum
      layer("trace.wall_s") = wallSec
      layer("trace.closure_pct") = 100.0 * math.abs(wallSec - attributed) / wallSec
    }
    // the closing release census is one more checked operation
    val attempted = ops.size + 1
    val failed = ops.count(!_.ok) + (if (wl.finish(spark, tr) > 0) 1 else 0)
    if (a.trace) {
      tr.counters.foreach { case (k, v) => layer(k) = v }
      layer("jvm.peak_rss_mb") = peakRssMb()
      tr.write(a.out.resolveSibling(a.out.getFileName.toString + ".trace.jsonl"), layer.toMap)
    }
    spark.stop()

    val e2e = Map(
      "wall_s" -> median(cycles.toSeq),
      "cpu_s" -> median(cycleCpu.toSeq),
      "setup_s" -> median(setups))
    val values = if (a.trace) layer.toMap else e2e
    val detail = ops.map(o => s"""{"op":"${o.name}","sec":${o.sec},"ok":${o.ok}}""")
    Files.write(a.out, (Seq(
      s"""{"cycles":[${cycles.mkString(",")}],"setups":[${setups.mkString(",")}]}""") ++ detail)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    // raw values by name; the runner names them with units from BENCHMARK.json
    val valueJson = values.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"values":$valueJson}""")
    System.exit(0)
  }
}
