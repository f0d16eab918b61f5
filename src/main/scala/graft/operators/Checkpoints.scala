package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Checkpoint-mode selection for the engine's iterative operators
  * ([[Components]], [[Hierarchy]]) — the fault-tolerance contract of a
  * multi-hour run on a real cluster.
  *
  * `localCheckpoint()` (the default) truncates lineage by persisting blocks
  * on the executors that computed them. That is the right call for local
  * mode and short jobs — zero filesystem traffic — but those blocks "cannot
  * be recomputed after unpersisting": lose ONE executor mid-run and the
  * whole iterative job dies unrecoverably. A 100-TB connected-components
  * run over hours WILL lose executors.
  *
  * Reliable mode writes each round to the session's checkpoint directory
  * (HDFS/S3 on a cluster) via `Dataset.checkpoint()` instead: a lost
  * executor re-reads the round from the fault-tolerant store and the job
  * continues — the same restart-from-the-middle property the reference
  * pipeline gets from its stage tables
  * (ref: 2_data_importing_cleaning.R:39-40, 3_blood_pressure.R:44-55).
  *
  * Opt in with [[graft.GraftSession.enableReliableCheckpoints]] (sets the
  * Spark checkpoint dir AND the [[ReliableConf]] runtime flag); every
  * operator that iterates picks the mode per-call through [[stage]], and
  * [[release]] cleans whichever artifact was produced — executor blocks
  * for local, `rdd-*` directories for reliable (Spark's own cleaner only
  * removes them at context shutdown, and only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints` — an hours-long run
  * must reclaim round N's files as soon as round N+1 is durable, or it
  * holds O(rounds × |E|) of the cluster store).
  */
object Checkpoints {

  /** Runtime conf flag (settable mid-session on the root): when
    * `true`, [[stage]] uses reliable `Dataset.checkpoint()`; requires
    * `SparkContext.setCheckpointDir` to have been called. */
  val ReliableConf = "spark.graft.checkpoint.reliable"

  /** Is reliable mode on for this frame's session? */
  def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))

  /** Materialize a round of an iterative computation with lineage
    * truncated: reliable `checkpoint()` when configured (survives executor
    * loss), `localCheckpoint()` otherwise (fastest, not fault-tolerant).
    * Eager in both modes — callers rely on the returned frame being
    * computed so the PREVIOUS round can be [[release]]d immediately. */
  def stage(df: DataFrame): DataFrame =
    if (reliable(df)) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true but no checkpoint dir — call " +
          "GraftSession.enableReliableCheckpoints(spark, dir) or SparkContext.setCheckpointDir")
      df.checkpoint()
    } else df.localCheckpoint()

  /** Free a checkpointed frame's storage NOW, whichever mode produced it.
    *
    * `Dataset.unpersist` only reaches CacheManager-registered plans (those
    * from `.persist()`/`.cache()`); a checkpoint's artifacts hang off the
    * internal RDD inside the plan's `LogicalRDD` leaf, which otherwise only
    * GC + ContextCleaner reclaim — "release" through `unpersist()` silently
    * frees nothing. This digs every `LogicalRDD` out of the analyzed plan
    * and, per RDD: drops its persisted blocks (localCheckpoint), and
    * deletes its `rdd-*` checkpoint directory from the checkpoint store
    * (reliable). Works on the checkpointed frame itself AND on any frame
    * whose plan still references one — pass an operator's RESULT and every
    * level/round it retained is freed in one call. */
  def release(df: DataFrame): Unit = releaseExcept(df)

  /** [[release]], but any `LogicalRDD` leaf that also appears in one of
    * `keep` is left alone — for plans that compose per-call checkpoint
    * chains OVER a long-lived cached frame (d13's fold stages away from
    * the delta-CC remap checkpoint while the standing label index it
    * joined must keep serving other queries). Matching is by RDD id, so
    * any frame whose plan references the kept checkpoint protects it. */
  def releaseExcept(df: DataFrame, keep: DataFrame*): Unit = {
    val keepIds: Set[Int] = keep.flatMap(_.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }).toSet
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if !keepIds.contains(lr.rdd.id) => lr.rdd
    }.foreach { rdd =>
      rdd.unpersist(false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }
  }

  /** Partition count for a measured per-round row volume: one partition
    * per ~500k rows, floor 4 (keep a few cores busy), capped by the root
    * session's width inside [[sized]]. The ceiling division cannot
    * overflow and the result is clamped to Int range BEFORE the narrowing
    * cast — an extreme row count must degrade to the no-op path, never
    * wrap to the floor. */
  def partitionsForRows(rows: Long, rowsPerPartition: Long = 500000L): Int =
    math.min(Int.MaxValue.toLong, math.max(Floor.toLong,
      if (rows <= 0) 0L else (rows - 1) / rowsPerPartition + 1)).toInt

  private val Floor = 4

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Checkpoints")

  /** `df` re-bound to a session whose shuffles fit a MEASURED row volume:
    * width `min(root width, partitionsForRows(rows, rowsPerPartition))`,
    * and when that lands at the floor of 4 (a genuinely tiny carrier)
    * AQE off too, plus broadcast joins off if `broadcastOffAtFloor`.
    * Everything built FROM the returned frame — joins with it on the
    * left, aggregates, stages, writes, a caller's later action — plans
    * and runs under that conf; a frame built from the root session (or a
    * root frame on the left of a join) does not. Bind the frame each
    * shuffle chain starts from.
    *
    * Why these knobs: on tiny per-round frames the cost is task-count
    * overhead (a k-core round at sf0.1: 0.68 s at 32 shuffle partitions,
    * 0.34 s at 8, with AQE coalescing NOT recovering it — join-stage
    * symmetry keeps the map sides wide), and at the floor every AQE
    * shuffle is its own stage-materialization job plus a driver-side
    * final-plan update (r17 at sf0.1/local[32]: 76 of t40's 92 jobs, 41
    * of d14's 55, 40.7% of v27's wall in
    * `AdaptiveSparkPlanExec.withFinalPlanUpdate`; width alone took t40
    * 8.29→6.89 s, width + AQE off 5.62 s, v27 5.28→4.24, d14 5.96→3.88),
    * while AQE's coalescing is superseded by the measured width and its
    * skew split has nothing to split in 4 partitions. A planner-chosen
    * broadcast at the floor is a driver-synchronous build per round where
    * two 4-task exchanges are cheaper (PageRank's round join, q65
    * 1.66→1.12 s at sf0.1); explicit `broadcast()` hints still win. A
    * large volume keeps the cluster width and AQE — the sizing only ever
    * lowers, never a local-core-count constant.
    *
    * Concurrency contract: no session conf is ever written. The derived
    * session ([[graft.GraftSession.derived]]) is cloned from the root with
    * its three keys set before any frame binds to it and never mutated
    * afterwards, so concurrent scopes on one root each get their own
    * conf, and a query planned elsewhere meanwhile sees the root conf
    * unchanged. A scope inside a scope resolves against the root, not the
    * outer scope; `df` comes back unchanged when nothing would change.
    * Each call logs its decision at INFO (no Spark job: `rows` is the
    * caller's existing measurement or a parquet footer count). */
  def sized(df: DataFrame, rows: Long, rowsPerPartition: Long = 500000L,
            broadcastOffAtFloor: Boolean = false): DataFrame = {
    val n = partitionsForRows(rows, rowsPerPartition)
    val floor = n <= Floor
    val scope = graft.GraftSession.derived(df.sparkSession, n,
      adaptiveOff = floor, broadcastOff = floor && broadcastOffAtFloor)
    log.info(s"sized: rows=$rows rowsPerPartition=$rowsPerPartition " +
      s"width=${scope.width} aqe=${if (scope.adaptive) "on" else "off"} " +
      s"broadcast=${if (scope.broadcast) "on" else "off"} derived=" +
      scope.reused.fold("none")(r => if (r) "reused" else "new"))
    if (scope.session eq df.sparkSession) df
    else org.apache.spark.sql.GraftSqlBridge.ofRows(scope.session,
      df.queryExecution.analyzed)
  }

  // Per-context overlap ledger for sweepingOnFailure: `active` counts
  // in-flight builds, `started` counts entries ever — together they
  // detect overlap in EITHER direction (a builder already running at our
  // entry, or one that entered during our window, even if it exited
  // before our failure). The per-thread twins subtract SAME-THREAD
  // nesting (an operator building inside another operator's build is one
  // logical build — its RDDs belong to the outer window, and both sweeps
  // fire on the shared failure path), so only genuinely concurrent
  // threads read as overlap.
  private final class BuildLedger {
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val started = new java.util.concurrent.atomic.AtomicLong(0L)
    val myDepth = new ThreadLocal[Integer] {
      override def initialValue(): Integer = 0
    }
    val myStarted = new ThreadLocal[java.lang.Long] {
      override def initialValue(): java.lang.Long = 0L
    }
  }
  private val buildLedgers =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, BuildLedger]()

  /** Failure-path sweep for eager iterative builds (the ONE shared copy of
    * what PageRank/LabelPropagation/KCore/BfsHops/CheapestPaths/Triangles
    * each previously inlined): staging is eager, so an error mid-build —
    * e.g. an overflow guard firing — must not strand the frames this call
    * persisted/staged, including a FAILED round's half-created checkpoint
    * RDD, which stays registered even though its job never finished and
    * which no DataFrame handle can reach. On Throwable, every RDD
    * registered since entry is unpersisted.
    *
    * Concurrency contract (enforced): RDD registrations carry no owner, so
    * a sweep cannot distinguish this build's frames from a concurrent
    * builder's. The ledger detects ANY overlapping build in the same
    * context (running at entry, or entered during the window); on failure
    * under overlap the sweep is SKIPPED with a WARN — a leaked frame is
    * recoverable (session teardown / explicit release), unpersisting a
    * live sibling's rounds mid-run is not. Single-builder sessions (every
    * current caller) sweep exactly as before. */
  def sweepingOnFailure[A](sc: org.apache.spark.SparkContext)(build: => A): A = {
    val ledger = buildLedgers.computeIfAbsent(sc, _ => new BuildLedger)
    // overlap = activity NOT attributable to this thread's own nesting
    val overlapAtEntry = ledger.active.get() - ledger.myDepth.get() > 0
    val globalSnapshot = ledger.started.incrementAndGet()
    ledger.myStarted.set(ledger.myStarted.get() + 1L)
    val mySnapshot = ledger.myStarted.get()
    ledger.active.incrementAndGet()
    ledger.myDepth.set(ledger.myDepth.get() + 1)
    val preexisting = sc.getPersistentRDDs.keySet
    try build catch {
      case t: Throwable =>
        val othersActive = ledger.active.get() - ledger.myDepth.get() > 0
        val othersStartedSince = (ledger.started.get() - globalSnapshot) >
          (ledger.myStarted.get() - mySnapshot)
        val overlapped = overlapAtEntry || othersActive || othersStartedSince
        if (overlapped) {
          log.warn("sweepingOnFailure: overlapping builds detected in " +
            "this context — skipping the failure sweep (cannot attribute " +
            "newly registered RDDs to this build); release leaked frames " +
            "via the operators' handles or session teardown")
        } else {
          sc.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!preexisting.contains(id)) {
              try rdd.unpersist(blocking = true) catch { case _: Exception => () }
            }
          }
        }
        throw t
    } finally {
      ledger.active.decrementAndGet()
      ledger.myDepth.set(ledger.myDepth.get() - 1)
    }
  }
}
