package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Committed-medians artifact: run EVERY SparkEntry query `reps` times at
  * `sfDir` and write per-query {median, min, max} JSON. This is the
  * builder-side discipline PERF.md quotes, promoted from prose to a machine
  * artifact (r8 verdict task 2): a later bench.json that diverges from
  * these medians can be diffed query-by-query, and the divergence either
  * reproduces under reps (real regression) or doesn't (box noise / cache
  * path miss — which bench.json's index_cache/index_builds fields now
  * name directly).
  *
  * Index builds happen ONCE before timing (same contract as Bench), so the
  * medians measure the probe path the bench measures.
  * Usage: runMain graft.tools.MedianBench [sfDir] [reps] [outFile] */
object MedianBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val outFile = args.lift(2).getOrElse("perf_medians.json")
    // optional 4th arg: comma-separated query names — a surgical re-measure
    // of stale/new entries that fits inside a short healthy host window
    // (the full 170+-query sweep needs ~40 min of clean capacity); the
    // caller merges the subset file into the committed medians
    val only = args.lift(3).map(_.split(",").toSet)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    graft.io.Tables.canaryEvents(spark, sfDir)
    // codegen/footer warm-up on the small sf, then one-time index builds.
    // The warm-up is NOT filtered by `only`: the build_* references below
    // must share Bench's regime (full warm-up sweep, then concurrent
    // builds) — a subset run that warmed one query stamped cold-JIT build
    // references 45% above Bench's own warm concurrent spans.
    graft.SparkEntry.queries
      .foreach { case (_, fn) =>
        try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
      }
    // Per-family build references, stamped as `build_<family>` rows next
    // to the query medians (r14 verdict #2: the driver's index_build_sec
    // read 122.9 s vs 22.4 s healthy and NOTHING in the artifact could
    // say which family regressed vs which window starved). One cold
    // in-session measurement per family — the caches are per (session,
    // dir), so reps would time the cache; Bench compares its own per-
    // family build seconds against these via the same ratio gate.
    // Measured under Bench's OWN regime — the five builds run
    // concurrently on the same bounded 3-thread pool Bench.prepare uses,
    // because a sequential-cold reference compared against a
    // contended-concurrent measurement is a ratio between two different
    // execution regimes: on a core-constrained box every build would
    // read over the gate with no real regression (review catch).
    val buildRows = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
        (r: Runnable) => {
          val t = new Thread(r, "graft-medians-prepare"); t.setDaemon(true); t
        })
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val futs = graft.queries.SessionIndexes.prepares.map { case (name, prepare) => Future {
        val (sec, steal) = graft.tools.HostCpu.measuring {
          val t0 = System.nanoTime()
          prepare(spark, sfDir)
          (System.nanoTime() - t0) / 1e9
        }
        (name, sec, steal)
      }}
      try futs.map { f =>
        val (name, sec, steal) = Await.result(f, Duration.Inf)
        System.err.println(f"[medians] build_$name $sec%.2fs (steal $steal%.1f%%)")
        f""""build_$name":{"median":$sec%.4f,"min":$sec%.4f,"max":$sec%.4f,""" +
          f""""steal_min_rep":${math.round(steal * 10) / 10.0}%s}"""
      } finally pool.shutdown()
    }

    // Each rep carries the host-steal share of its own window (HostCpu):
    // on this shared-host guest, identical reps swing up to 6× under
    // steal bursts, so `min` — the least-stolen rep — is the quotable
    // steady-state estimator and `steal_min_rep` says how clean it was.
    val runSteal0 = graft.tools.HostCpu.snapshot()
    val spinBefore = graft.tools.HostCpu.spinScore()
    val rows = graft.SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val ts = (1 to reps).map { _ =>
        graft.tools.HostCpu.measuring {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
      }.sortBy(_._1)
      val med = ts(reps / 2)._1
      System.err.println(
        f"[medians] $name min ${ts.head._1}%.2fs (steal ${ts.head._2}%.1f%%) med $med%.2fs")
      f""""$name":{"median":$med%.4f,"min":${ts.head._1}%.4f,"max":${ts.last._1}%.4f,""" +
        f""""steal_min_rep":${math.round(ts.head._2 * 10) / 10.0}%s}"""
    }
    val runStealPct = graft.tools.HostCpu.stealPct(runSteal0, graft.tools.HostCpu.snapshot())
    val spinAfter = graft.tools.HostCpu.spinScore()
    val commit =
      try new String(Runtime.getRuntime.exec(Array("git", "rev-parse", "--short", "HEAD"))
        .getInputStream.readAllBytes(), StandardCharsets.UTF_8).trim
      catch { case _: Throwable => "unknown" }
    val json = s"""{"sf":"$sfDir","reps":$reps,"commit":"$commit",""" +
      s""""machine_cpus":${Runtime.getRuntime.availableProcessors()},""" +
      s""""steal_pct_run":${math.round(runStealPct * 10) / 10.0},""" +
      s""""cpu_spin_score_before":$spinBefore,"cpu_spin_score_after":$spinAfter,""" +
      s""""queries":{${(rows ++ buildRows).mkString(",")}}}"""
    Files.write(Paths.get(outFile), (json + "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println(s"[medians] wrote $outFile")
    graft.queries.SessionIndexes.releaseAll(spark)
    spark.stop()
  }
}
