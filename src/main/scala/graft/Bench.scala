package graft

import scala.collection.immutable.{ListMap, TreeMap}

import graft.io.Jsons
import graft.operators.{DedupMetrics, IndexStats}
import graft.queries.SessionIndexes
import graft.tools.{HostCpu, Sweep}

/** The bench: one [[graft.tools.Sweep]] at `SPARK_GRAFT_SF_DIR` (sf0.1 by
  * default) — warm-up, the five index prepares timed as their own phase,
  * then every query once — written in full to `bench.json` with a compact
  * summary as the last stdout line.
  *
  * Self-defense against contaminated measurements: a bench taken while
  * other work still drained once reported a phantom 2.8× regression, and
  * host-side bursts slow identical queries ~2× while the guest's loadavg
  * reads quiet. So the bench first waits (bounded) for a healthy box — low
  * load AND a spin score over the per-core floor — and records how long it
  * waited; every timing carries the steal% and worst sampled capacity of
  * its own window; and a time over its committed median is re-timed on a
  * recovered window, keeping the minimum of the two real runs. */
object Bench {

  /** Names over their gate, with (seconds, median), worst ratio first. */
  private[graft] type Flags = Seq[(String, (Double, Double))]

  /** One [[retime]]: the one-shot flags, each retry's seconds, the
    * retries that threw, min(one-shot, retry) per name, and the flags that
    * survive the retry. */
  private[graft] final case class Retimed(oneShot: Flags, retried: Map[String, Double],
                                          failed: List[String], secs: Map[String, Double],
                                          after: Flags)

  /** The one ratio gate, for queries (`floor` 0.3 s: sub-100 ms queries
    * jitter past any ratio on scheduler noise) and index builds (`floor`
    * 2 s: builds are seconds). A time is flagged when it exceeds `gate` ×
    * its median and the median by more than `floor`. Each flagged name
    * re-runs once, after `beforeRetry` (a bounded wait for capacity), and
    * reports the minimum of its two real runs — a starved window cannot
    * inflate it, and a real regression stays slow and stays flagged. A
    * retry that throws keeps the one-shot time (a fast failure is no
    * timing) and is named in `failed`. */
  private[graft] def retime(secs: Map[String, Double], medians: Map[String, Double],
                            gate: Double, floor: Double, beforeRetry: () => Unit)
                           (rerun: String => Double): Retimed = {
    def flagged(rs: Map[String, Double]): Flags = rs.toSeq.flatMap { case (name, sec) =>
      medians.get(name).collect {
        case med if med > 0 && sec > gate * med && sec - med > floor => name -> ((sec, med))
      }
    }.sortBy { case (_, (sec, med)) => -(sec / med) }
    val oneShot = flagged(secs)
    if (oneShot.nonEmpty) beforeRetry()
    val tries = oneShot.map { case (name, _) =>
      name -> (try Right(rerun(name)) catch { case e: Throwable =>
        System.err.println(s"[bench] retry of $name failed (one-shot time kept): " +
          e.toString.take(200))
        Left(e)
      })
    }
    val retried = tries.collect { case (name, Right(sec)) => name -> sec }.toMap
    val kept = secs.map { case (name, sec) => name -> math.min(sec, retried.getOrElse(name, sec)) }
    Retimed(oneShot, retried, tries.collect { case (name, Left(_)) => name }.toList, kept,
      flagged(kept))
  }

  /** The committed per-query and per-family (`build_<family>`) medians of
    * `file`, with its commit. Empty when the file is unreadable or stamped
    * for another scale factor: a ratio against another sf's medians is
    * noise, not a guard. */
  private def readMedians(file: String, sfDir: String): (Map[String, Double], String) =
    try {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
      val commit = Option(root.get("commit")).map(_.asText).getOrElse("unknown")
      if (!Option(root.get("sf")).exists(sf => Sweep.canonical(sf.asText) == Sweep.canonical(sfDir)))
        (Map.empty, s"$commit (sf mismatch - ratios skipped)")
      else (root.get("queries").fields().asScala.flatMap { e =>
        Option(e.getValue.get("median")).map(m => e.getKey -> m.asDouble)
      }.toMap, commit)
    } catch { case _: Throwable => (Map.empty, "unreadable") }

  private def r1(v: Double): Double = math.round(v * 10) / 10.0
  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  private def ratios(ws: Flags): ListMap[String, Any] = ListMap(ws.map { case (n, (sec, med)) =>
    n -> ListMap("sec" -> sec, "median" -> med, "ratio" -> math.round(sec / med * 100) / 100.0)
  }: _*)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val machineCpus = Runtime.getRuntime.availableProcessors()
    // The spin floor scales with the core count the spin runs on
    // (HostCpu.defaultMinSpin); SPARK_GRAFT_BENCH_MIN_SPIN sets an
    // absolute floor instead.
    val spinThreshold = sys.env.get("SPARK_GRAFT_BENCH_MIN_SPIN")
      .map(_.toLong).getOrElse(HostCpu.defaultMinSpin(machineCpus))
    val start = HostCpu.awaitHealthy(spinThreshold,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "600").toLong, 30000L,
      "[bench] box not healthy")
    if (!start.healthy) System.err.println(
      f"[bench] WARNING: box still unhealthy after ${start.waitedSec}s (load ${start.load}%.2f " +
        s"on $machineCpus CPUs, spin ${start.spin} vs min $spinThreshold) - timings on a " +
        "degraded box are not comparable across rounds; re-run when the host quiets.")
    val retryWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_WAIT_SEC", "300").toLong
    def awaitCapacity(what: String): () => Unit = () => {
      HostCpu.awaitHealthy(spinThreshold, Double.PositiveInfinity, retryWaitSec, 15000L,
        s"[bench] $what; waiting for capacity before the retime")
      ()
    }

    val spark = Sweep.session(sfDir)
    Sweep.warmUp(spark, sfDir)
    // scope the cache and drop counters to the prepares + timed queries
    IndexStats.reset()
    DedupMetrics.reset()
    // Index construction is a build-time step, not query cost: its wall
    // is its own field, and each build's outcome is recorded, so a failed
    // prepare is never mistaken for a slow query.
    val stealIdx0 = HostCpu.snapshot()
    val idxT0 = System.nanoTime()
    val builds = Sweep.prepare(spark, sfDir)
    val idxSec = (System.nanoTime() - idxT0) / 1e9 // wall, not the sum
    val stealIdxPct = HostCpu.stealPct(stealIdx0, HostCpu.snapshot())
    // Phase-split cache counters: every miss belongs to the prepares, and
    // `timed_index_misses` counts the builds that leaked into a timing.
    val prepareCache = IndexStats.snapshot()
    IndexStats.reset()

    val spinBefore = HostCpu.spinScore()
    val stealQ0 = HostCpu.snapshot()
    val timer = new Sweep.Timer(spark)
    val runs = try SparkEntry.queries.keys.toSeq.map(timer.time(_, sfDir)) finally timer.close()
    val spinSamples = timer.sampler.all().map(_._2)
    val stealQueriesPct = HostCpu.stealPct(stealQ0, HostCpu.snapshot())
    val spinAfter = HostCpu.spinScore()
    val loadAfter = HostCpu.loadavg1()
    val timedCache = IndexStats.snapshot()
    val timedMisses = timedCache.collect { case (k, v) if k.endsWith(".miss") => v }.sum

    // One-shot-vs-median guard against the committed perf_medians.json
    // (same box class, 5-rep discipline). Queries re-time first; the
    // build retime runs after every query timing, because it releases a
    // family's cache to measure a real build.
    val ratioGate = sys.env.getOrElse("SPARK_GRAFT_BENCH_RATIO", "1.5").toDouble
    val mediansFile = sys.env.getOrElse("SPARK_GRAFT_MEDIANS", "perf_medians.json")
    val (medians, mediansCommit) = readMedians(mediansFile, sfDir)
    val oneShot = runs.map(r => r.name -> r.wall).toMap
    val queries = retime(oneShot, medians, ratioGate, 0.3,
      awaitCapacity("ratio-flagged queries")) { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    val prepares = SessionIndexes.prepares.toMap
    val rebuilt = retime(builds.collect { case b if b.err.isEmpty => b.name -> b.sec }.toMap,
      medians.collect { case (k, v) if k.startsWith("build_") => k.stripPrefix("build_") -> v },
      ratioGate, 2.0, awaitCapacity("ratio-flagged index builds")) { name =>
      SessionIndexes.release(spark, name)
      val t0 = System.nanoTime()
      prepares(name)(spark, sfDir)
      (System.nanoTime() - t0) / 1e9
    }
    val total = oneShot.values.sum
    val totalRetimed = queries.secs.values.sum
    // the sum of committed medians over exactly the queries timed: the
    // window-independent reference a reader diffs a headline against
    val medianCovered = oneShot.keySet.intersect(medians.keySet)
    val totalOfMedians = medianCovered.toSeq.map(medians).sum
    // survivors of the retime, split by what they cost the headline:
    // over 1 s of excess reads as a regression, under it as the jitter
    // the 1.5× gate over-catches on sub-second medians
    val (ratioMajor, ratioMinor) = queries.after.partition { case (_, (sec, med)) => sec - med > 1.0 }

    // Persisted-block census: the standing residents before release, and
    // the leaked list after every family release, which must be empty.
    // The WARN-noisy localCheckpoint releases are silenced so the compact
    // summary stays the last stdout line.
    spark.sparkContext.setLogLevel("ERROR")
    val standing = spark.sparkContext.getRDDStorageInfo.toSeq
    val releaseErr =
      try { SessionIndexes.releaseAll(spark); None } catch { case t: Throwable =>
        System.err.println(s"[bench] release failed (results unaffected): $t")
        Some(t.toString.take(300))
      }
    val leaked = spark.sparkContext.getRDDStorageInfo.toSeq
    val byName = (f: Sweep.Run => Any) => TreeMap(runs.map(r => r.name -> f(r)): _*)
    val sampled = if (spinSamples.isEmpty) Nil else Seq("cpu_spin_sampled_min" -> spinSamples.min)
    val json = Jsons.obj(Seq(
      "metric" -> "total", "value" -> totalRetimed, "unit" -> "sec",
      "total_oneshot" -> total,
      "total_of_medians" -> r3(totalOfMedians), "medians_covered" -> medianCovered.size,
      "queries" -> byName(_.wall),
      "queries_retry" -> queries.retried, "retried" -> queries.retried.size,
      "retry_failed" -> queries.failed,
      "index_build_sec" -> idxSec, "index_build_cpu_sec" -> builds.map(_.sec).sum,
      "index_builds" -> ListMap(builds.map(b =>
        b.name -> ListMap("ok" -> b.err.isEmpty, "sec" -> b.sec, "err" -> b.err)): _*),
      "index_build_failed" -> builds.exists(_.err.nonEmpty),
      "index_cache_prepare" -> TreeMap(prepareCache.toSeq: _*),
      "index_cache" -> TreeMap(timedCache.toSeq: _*),
      "timed_index_misses" -> timedMisses,
      "build_ratio_warnings" -> ratios(rebuilt.after),
      "build_ratio_warnings_oneshot" -> ratios(rebuilt.oneShot),
      "build_retry" -> rebuilt.retried, "build_retry_failed" -> rebuilt.failed,
      // capped-kernel drops void the d03/d06/d09/d11 exactness guarantees
      "dedup_drops" -> TreeMap(DedupMetrics.snapshot().toSeq.map { case (k, s) =>
        k -> ListMap("buckets" -> s.buckets, "rows" -> s.rows) }: _*),
      "persisted_rdds_standing" -> ListMap("count" -> standing.size,
        "mem_bytes" -> standing.map(_.memSize).sum, "disk_bytes" -> standing.map(_.diskSize).sum),
      "persisted_rdds_leaked" -> leaked.map(i => ListMap("id" -> i.id,
        "name" -> Option(i.name).getOrElse("").linesIterator.take(2).mkString(" | ").take(160),
        "cached_parts" -> i.numCachedPartitions, "parts" -> i.numPartitions,
        "mem_bytes" -> i.memSize, "disk_bytes" -> i.diskSize)),
      "release_error" -> releaseErr,
      "ratio_warnings" -> ratios(ratioMajor), "ratio_warnings_minor" -> ratios(ratioMinor),
      "ratio_warnings_oneshot" -> ratios(queries.oneShot),
      "medians_file" -> mediansFile, "medians_commit" -> mediansCommit,
      "machine_cpus" -> machineCpus,
      "loadavg_before" -> start.load, "loadavg_after" -> loadAfter,
      "idle_wait_sec" -> start.waitedSec, "load_warning" -> !start.healthy,
      "steal_pct_index" -> r1(stealIdxPct), "steal_pct_queries" -> r1(stealQueriesPct),
      "steal_warning" -> (stealQueriesPct > 5.0),
      "cpu_spin_score_before" -> spinBefore, "cpu_spin_score_after" -> spinAfter) ++
      sampled ++ spinSamples.sorted.lift(spinSamples.size / 2).map("cpu_spin_sampled_med" -> _) ++
      Seq("cpu_spin_starved" -> timer.sampler.starved(),
      "query_steal_pct" -> byName(r => r1(r.stealPct)), "query_spin_min" -> byName(_.spinMin),
      // per query: jobs and stages it ran, the union of its job intervals
      // and the driver time around them, and the persisted RDDs it added
      "query_breakdown" -> byName(r => ListMap("jobs" -> r.jobs, "stages" -> r.stages,
        "job_sec" -> r3(r.jobSec), "driver_gap_sec" -> r3(r.driverGapSec),
        "rdds_added" -> r.rddsAdded)),
      "sf" -> sfDir))
    // File-only for the wide line: a stdout copy overflowed the ~2 KB
    // tail capture of its readers; the compact summary below is the only
    // stdout JSON.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote $outFile")
    } catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    val compact = Jsons.obj(Seq(
      "metric" -> "total", "value" -> r3(totalRetimed), "unit" -> "sec",
      "total_oneshot" -> r3(total),
      "total_of_medians" -> r3(totalOfMedians), "retried" -> queries.retried.size,
      "n" -> runs.size,
      "worst5" -> ListMap(queries.secs.toSeq.sortBy(-_._2).take(5)
        .map { case (k, v) => k -> r3(v) }: _*),
      "index_build_sec" -> r3(idxSec), "index_build_failed" -> builds.exists(_.err.nonEmpty),
      "build_ratio_warnings" -> rebuilt.after.size, "build_retried" -> rebuilt.retried.size,
      "timed_index_misses" -> timedMisses,
      "load_warning" -> !start.healthy,
      "steal_pct_queries" -> r1(stealQueriesPct), "steal_warning" -> (stealQueriesPct > 5.0)) ++
      sampled ++ Seq(
      "cpu_spin_starved" -> timer.sampler.starved(),
      "leaked_rdds" -> leaked.size,
      "ratio_warnings" -> ratioMajor.size, "ratio_warnings_minor" -> ratioMinor.size,
      "full" -> outFile, "sf" -> sfDir))
    // Every release ran before the census; the summary prints in the
    // finally, so a Throwable out of spark.stop() cannot eat the one
    // machine-readable stdout line.
    try spark.stop()
    catch { case t: Throwable =>
      System.err.println(s"[bench] cleanup failed (results unaffected): $t")
    } finally println(compact)
  }
}
