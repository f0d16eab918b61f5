package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

/** Committed-medians artifact: one [[Sweep]] at `sfDir` that times every
  * SparkEntry query — or the named ones — `reps` times and writes
  * per-query {median, min, max} JSON, plus one `build_<family>` row per
  * index prepare. Bench's ratio gate compares its one-shot times against
  * these rows, so both come from the same sweep: the same session, the
  * full warm-up (never filtered by the names), the five prepares on the
  * same concurrent pool, then the timed runs. A prepare is timed once,
  * cold: the caches are per (session, dir), so a second rep would time
  * the cache.
  *
  * Each rep carries the host-steal share of its own window: identical
  * reps swing up to 6× under steal bursts, so `min` — the least-stolen
  * rep — is the quotable steady-state estimator and `steal_min_rep` says
  * how clean it was. With a few names and reps this is also the per-query
  * timing probe.
  * Usage: runMain graft.tools.MedianBench [sfDir] [reps] [outFile] [q1,q2,...] */
object MedianBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val outFile = args.lift(2).getOrElse("perf_medians.json")
    val only = args.lift(3).map(_.split(",").toSet)
    val spark = Sweep.session(sfDir)
    Sweep.warmUp(spark, sfDir)
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    def row(secs: Seq[(Double, Double)]): ListMap[String, Double] = {
      val sorted = secs.sortBy(_._1)
      ListMap("median" -> r4(sorted(sorted.size / 2)._1), "min" -> r4(sorted.head._1),
        "max" -> r4(sorted.last._1), "steal_min_rep" -> math.round(sorted.head._2 * 10) / 10.0)
    }
    val buildRows = Sweep.prepare(spark, sfDir).map { b =>
      b.err.foreach(e => throw new IllegalStateException(s"index build ${b.name} failed: $e"))
      System.err.println(f"[medians] build_${b.name} ${b.sec}%.2fs (steal ${b.stealPct}%.1f%%)")
      s"build_${b.name}" -> row(Seq((b.sec, b.stealPct)))
    }

    val runSteal0 = HostCpu.snapshot()
    val spinBefore = HostCpu.spinScore()
    val timer = new Sweep.Timer(spark)
    val rows = try graft.SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n))).map {
      name =>
        val runs = (1 to reps).map { _ =>
          val r = timer.time(name, sfDir)
          r.error.foreach(throw _)
          (r.wall, r.stealPct)
        }
        val sorted = runs.sortBy(_._1)
        System.err.println(f"[medians] $name min ${sorted.head._1}%.2fs " +
          f"(steal ${sorted.head._2}%.1f%%) med ${sorted(reps / 2)._1}%.2fs")
        name -> row(runs)
    } finally timer.close()
    val runStealPct = HostCpu.stealPct(runSteal0, HostCpu.snapshot())
    val spinAfter = HostCpu.spinScore()
    val commit =
      try new String(Runtime.getRuntime.exec(Array("git", "rev-parse", "--short", "HEAD"))
        .getInputStream.readAllBytes(), StandardCharsets.UTF_8).trim
      catch { case _: Throwable => "unknown" }
    val json = graft.io.Jsons.obj(Seq("sf" -> sfDir, "reps" -> reps, "commit" -> commit,
      "machine_cpus" -> Runtime.getRuntime.availableProcessors(),
      "steal_pct_run" -> math.round(runStealPct * 10) / 10.0,
      "cpu_spin_score_before" -> spinBefore, "cpu_spin_score_after" -> spinAfter,
      "queries" -> ListMap(rows ++ buildRows: _*)))
    Files.write(Paths.get(outFile), (json + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[medians] wrote $outFile")
    graft.queries.SessionIndexes.releaseAll(spark)
    spark.stop()
  }
}
