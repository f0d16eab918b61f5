package graft.tools

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The one sweep over [[graft.SparkEntry.queries]] that `graft.Bench`,
  * [[MedianBench]] and `graft.Verify` run: one session, one warm-up, one
  * prepare pool, one timed loop.
  *
  * The timed loop records, per query run, the wall, the host-steal share
  * and the worst sampled single-core spin of its own window, and — from
  * one listener keyed by a job group set around the query — its jobs,
  * submitted stages, the union of its job intervals (`jobSec`) and the
  * persisted RDDs it added. Job counts are the cheapest per-plan cost
  * feature and, unlike wall time, deterministic on a warm session. A
  * structured stream started inside a query runs its micro-batch jobs
  * under the stream's own group, so those jobs are not counted. */
object Sweep {

  /** The smallest scale factor: the warm-up pass runs on it. */
  val WarmDir = "/root/testdata/sf0.001"

  /** Local cores of a sweep session: `SPARK_GRAFT_CPUS`, else all cores. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A [[graft.GraftSession.local]] session on [[cores]], refused unless
    * `sfDir` passes the start-up checks: every table's footer schema
    * matches the declared read schema, and the events timestamps decode
    * at the right unit. A mis-decoded source would yield plausible timings
    * and results for wrong answers. */
  def session(sfDir: String): SparkSession = {
    val spark = graft.GraftSession.local(cores)
    graft.io.Tables.assertSchemaContract(spark, sfDir)
    graft.io.Tables.canaryEvents(spark, sfDir)
    spark
  }

  private[graft] def canonical(dir: String): String = new java.io.File(dir).getCanonicalPath

  /** Warm the JVM, codegen and parquet-footer paths with one pass over
    * every query at [[WarmDir]], so the first timed query doesn't absorb
    * session start-up. Skipped when `sfDir` IS the warm-up dir: persisted
    * signature frames are matched by canonicalized plan, so a same-dir
    * warm-up would serve the timed run from cache. Failures are logged —
    * a query that breaks at warm-up will mis-measure at timing. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    if (canonical(WarmDir) != canonical(sfDir))
      SparkEntry.queries.foreach { case (name, fn) =>
        try fn(spark, WarmDir).count()
        catch { case e: Throwable => System.err.println(s"[sweep] warm-up failed for $name: $e") }
      }

  /** One prepare's outcome: seconds from its own start (not its queue
    * wait), host-steal share of its window, and its error, if any. */
  final case class Build(name: String, sec: Double, stealPct: Double, err: Option[String])

  /** The five [[graft.queries.SessionIndexes.prepares]] of `sfDir`, built
    * concurrently on one bounded 3-thread daemon pool: the prepares are
    * independent, so the phase pays the slowest build, not the sum. Each
    * build runs under its own job group and is awaited against one shared
    * 1800 s deadline; a build that fails or misses the deadline records
    * its error, a timed-out one has its jobs cancelled so they cannot
    * occupy executor slots through the timed queries, and the rest go on. */
  def prepare(spark: SparkSession, sfDir: String): Seq[Build] = {
    val sc = spark.sparkContext
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
      (r: Runnable) => { val t = new Thread(r, "graft-sweep-prepare"); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val futs = graft.queries.SessionIndexes.prepares.map { case (name, prepare) =>
      name -> Future {
        val t0 = System.nanoTime()
        started.put(name, t0)
        sc.setJobGroup(s"sweep-prepare-$name", s"index build $name", interruptOnCancel = true)
        val s0 = HostCpu.snapshot()
        val err = try { prepare(spark, sfDir); None } catch { case e: Throwable =>
          System.err.println(s"[sweep] $name index build FAILED: $e")
          Some(e.toString.take(300))
        } finally sc.clearJobGroup()
        Build(name, (System.nanoTime() - t0) / 1e9, HostCpu.stealPct(s0, HostCpu.snapshot()), err)
      }
    }
    val deadline = System.nanoTime() + 1800L * 1000000000L
    try futs.map { case (name, f) =>
      try Await.result(f, Duration(math.max(1000000L, deadline - System.nanoTime()),
        java.util.concurrent.TimeUnit.NANOSECONDS))
      catch { case e: Throwable =>
        try sc.cancelJobGroup(s"sweep-prepare-$name") catch { case _: Throwable => () }
        System.err.println(s"[sweep] $name index build did not finish: $e")
        // a build that never started charges 0 s, not its queue wait
        val t0 = Option(started.get(name)).map(_.longValue).getOrElse(System.nanoTime())
        Build(name, (System.nanoTime() - t0) / 1e9, -1.0, Some(s"await: ${e.toString.take(250)}"))
      }
    } finally { pool.shutdownNow(); () }
  }

  /** One timed query run. `jobSec` is the union of the query's job
    * intervals, clamped to its window; `rddsAdded` the persisted RDD ids
    * that exist after it and did not before; `spinMin` -1 when no
    * capacity sample fell inside the run. */
  final case class Run(name: String, wall: Double, stealPct: Double, spinMin: Long,
                       jobs: Int, stages: Int, jobSec: Double, rddsAdded: Seq[Int],
                       error: Option[Throwable]) {
    def driverGapSec: Double = wall - jobSec
  }

  /** The timed loop's instruments over one session: a capacity
    * [[HostCpu.Sampler]] and one job listener. Runs are sequential; close
    * the timer to stop both. */
  final class Timer(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val jobs = new JobsByGroup
    sc.addSparkListener(jobs)
    val sampler: HostCpu.Sampler = HostCpu.sampler()
    private var runs = 0L

    /** Run `name` over `sfDir` once, through `count()`. A query that throws
      * is logged and returned with its error and the time it took. */
    def time(name: String, sfDir: String): Run = {
      runs += 1
      val group = s"sweep-$runs-$name"
      jobs.watch(group)
      val persisted0 = sc.getPersistentRDDs.keySet
      val steal0 = HostCpu.snapshot()
      sc.setJobGroup(group, s"sweep $name")
      val (from, t0) = (System.currentTimeMillis(), System.nanoTime())
      val error =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          System.err.println(s"[sweep] $name failed: ${e.toString.take(300)}")
          Some(e)
        } finally sc.clearJobGroup()
      val (t1, to) = (System.nanoTime(), System.currentTimeMillis())
      val steal = HostCpu.stealPct(steal0, HostCpu.snapshot())
      org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
      val g = jobs.take(group)
      val wall = (t1 - t0) / 1e9
      Run(name, wall, steal, sampler.minIn(t0, t1), g.jobs, g.stages,
        math.min(wall, unionMs(g.intervals.toSeq, from, to) / 1000.0),
        (sc.getPersistentRDDs.keySet -- persisted0).toSeq.sorted, error)
    }

    def close(): Unit = { sampler.stop(); sc.removeSparkListener(jobs) }
  }

  /** Length of the union of `[start, end]` intervals, clamped to
    * `[from, to]`. */
  private[tools] def unionMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val (lo, hi) = (math.max(s, reach), math.min(e, to))
      if (hi > lo) { total += hi - lo; reach = hi }
    }
    total
  }

  /** Jobs, submitted stages and ended-job intervals per watched job group.
    * The listener bus calls it from one thread; reads come from another. */
  private final class JobsByGroup extends SparkListener {
    final class Counts {
      var jobs = 0
      var stages = 0
      val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    }
    private val watched = mutable.Map.empty[String, Counts]
    private val running = mutable.Map.empty[Int, (Counts, Long)]

    def watch(group: String): Unit = synchronized { watched(group) = new Counts }
    def take(group: String): Counts = synchronized { watched.remove(group).get }

    private def of(p: java.util.Properties): Option[Counts] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).flatMap(watched.get)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      of(e.properties).foreach { c => c.jobs += 1; running(e.jobId) = (c, e.time) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach { case (c, start) => c.intervals += ((start, e.time)) }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      of(e.properties).foreach(_.stages += 1)
    }
  }
}
