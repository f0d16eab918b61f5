package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with scale-oriented defaults.
  *
  * Design notes (SURVEY.md §4): the engine relies on Catalyst + AQE for
  * physical planning — broadcast promotion of small dimension tables,
  * skew-join splitting, and partition coalescing. Everything here is a
  * default that also holds on a real cluster; only `local[*]` master and
  * the shuffle-partition count are test-environment choices.
  */
object GraftSession {

  /** The `spark.sql.extensions` entry this engine needs on every session:
    * native functions, optimizer rewrites (FuseSetJaccard) and the
    * TopKPerKey planner strategy. The same value a cluster deployment
    * passes via --conf. It is the only install path: query code registers
    * nothing at query time. */
  val ExtensionsClass = "graft.plans.GraftExtensions"

  /** Fail loudly, at entry, on a session not built through [[tune]]: every
    * function of [[graft.plans.GraftExtensions.functions]] and the
    * TopKPerKey planner strategy must be installed, or a query would fail
    * deep in analysis or planning instead. */
  def requireExtensions(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val functions = graft.plans.GraftExtensions.functions.collect {
      case (id, _, _) if !registry.functionExists(id) => id.funcName
    }
    val strategy =
      if (spark.sessionState.planner.strategies.contains(graft.plans.TopKStrategy)) Nil
      else Seq("TopKStrategy")
    val missing = functions ++ strategy
    require(missing.isEmpty, s"session lacks ${missing.mkString(", ")}; build it " +
      s"through GraftSession.tune, which installs $ExtensionsClass")
  }

  /** APPEND our extensions to whatever the caller already configured —
    * `spark.sql.extensions` is a comma-separated list, and a plain
    * `config()` would overwrite earlier builder writes / --conf values
    * (last write wins). Sources checked: the builder's own option map
    * (public `options()`), then system properties (spark-submit --conf). */
  private def mergedExtensions(b: SparkSession.Builder): String = {
    val existing: Option[String] =
      org.apache.spark.sql.GraftSqlBridge
        .builderOption(b, "spark.sql.extensions")
        .orElse(sys.props.get("spark.sql.extensions"))
    existing match {
      case Some(list) if list.split(",").map(_.trim).contains(ExtensionsClass) =>
        list
      case Some(list) if list.trim.nonEmpty => s"$list,$ExtensionsClass"
      case _ => ExtensionsClass
    }
  }

  /** Apply engine defaults to an existing builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", mergedExtensions(b))
    // If a TIMESTAMP(NANOS) parquet is ever read, decode as nanos-long
    // engine-wide rather than erroring; graft.io.Tables branches on the
    // file footer's actual logical type and converts to TimestampType
    // explicitly (micros files never hit this flag). Set here so read
    // behavior never depends on which table loaded first.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // Commit with one rename per file instead of two (FileOutputCommitter
    // v1 renames task → job-temp → final; v2 renames task → final at task
    // commit). The epoch stores' torn-write detection never relied on the
    // v1 job-commit barrier — a commit is visible only once its meta
    // marker (written AFTER the data) validates — so v2's weaker
    // mid-job visibility is invisible to readers here, and every epoch
    // write (the tiered rolls commit 5–10 per query) saves a
    // driver-side rename pass. Same reasoning holds on HDFS at cluster
    // scale; object stores use their own committers anyway.
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.ui.enabled", "false")

  /** Opt this session's iterative operators (connected components,
    * hierarchy traversal) into RELIABLE checkpoints: each round is written
    * to `dir` (HDFS/S3/object store on a cluster) instead of
    * executor-local blocks, so a lost executor mid-run recovers from the
    * store rather than killing the job — the fault-tolerance mode an
    * hours-long 100-TB run needs. `dir` must be a fault-tolerant,
    * cluster-visible path in production; operators delete their round
    * files as soon as the next round is durable (see
    * [[graft.operators.Checkpoints]]), so steady-state usage is
    * O(2 rounds), not O(all rounds). Idempotent; runtime-revocable with
    * `spark.conf.set(Checkpoints.ReliableConf, "false")`. */
  def enableReliableCheckpoints(spark: SparkSession, dir: String): Unit = {
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.operators.Checkpoints.ReliableConf, "true")
  }

  /** The conf a [[graft.operators.Checkpoints.sized]] scope resolved to:
    * the session to bind frames to (the root itself when nothing would
    * change), the width and AQE/broadcast state it runs under, and
    * whether a memoized derived session served it (`None` for the root). */
  private[graft] final case class Scope(session: SparkSession, width: Int,
      adaptive: Boolean, broadcast: Boolean, reused: Option[Boolean])

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val Adaptive = "spark.sql.adaptive.enabled"
  private val BroadcastThreshold = "spark.sql.autoBroadcastJoinThreshold"

  // A root's derived sessions, valid for the root runtime conf they were
  // cloned from; a conf change starts a fresh memo. Roots are held weakly,
  // but a derived session references its root's state, so entries of a
  // stopped context are also dropped whenever a new session is derived.
  private final class Derived(val rootConf: Map[String, String]) {
    val sessions =
      scala.collection.mutable.HashMap.empty[(Int, Boolean, Boolean), SparkSession]
  }
  private val derivedByRoot = new java.util.WeakHashMap[SparkSession, Derived]()
  private val rootOfDerived =
    new java.util.WeakHashMap[SparkSession, java.lang.ref.WeakReference[SparkSession]]()

  /** Resolve a sizing scope for frames of `spark`: width
    * `min(root width, width)`, AQE off when `adaptiveOff`, broadcast
    * joins off when `broadcastOff`. Always resolved against the ROOT
    * session (a derived session maps back to the root it came from), so
    * nested scopes never compound. A change is made on a derived session
    * — `cloneSession()` of the root, keeping its runtime conf, temp views
    * and extensions, with these keys set once before any frame binds to
    * it — memoized per (root, root conf, width, flags): a fresh clone
    * costs ~140 ms at first use, a memoized one nothing. The root's conf
    * is never written. */
  private[graft] def derived(spark: SparkSession, width: Int, adaptiveOff: Boolean,
                             broadcastOff: Boolean): Scope = derivedByRoot.synchronized {
    val root = Option(rootOfDerived.get(spark)).flatMap(r => Option(r.get)).getOrElse(spark)
    val rootWidth = root.conf.get(ShufflePartitions).toInt
    val rootAdaptive = root.conf.get(Adaptive).trim.toBoolean
    val rootBroadcast = root.conf.get(BroadcastThreshold).trim != "-1"
    val w = math.min(width, rootWidth)
    val aqeOff = adaptiveOff && rootAdaptive
    val bOff = broadcastOff && rootBroadcast
    val key = (w, aqeOff, bOff)
    if (key == ((rootWidth, false, false)))
      Scope(root, rootWidth, rootAdaptive, rootBroadcast, None)
    else {
      val rootConf = root.conf.getAll
      val memo = Option(derivedByRoot.get(root)).filter(_.rootConf == rootConf)
        .getOrElse {
          val m = new Derived(rootConf)
          derivedByRoot.put(root, m)
          m
        }
      val reused = memo.sessions.contains(key)
      val session = memo.sessions.getOrElseUpdate(key, {
        derivedByRoot.keySet.removeIf(_.sparkContext.isStopped)
        val d = org.apache.spark.sql.GraftSqlBridge.cloneSession(root)
        d.conf.set(ShufflePartitions, w.toLong)
        if (aqeOff) d.conf.set(Adaptive, false)
        if (bOff) d.conf.set(BroadcastThreshold, -1L)
        rootOfDerived.put(d, new java.lang.ref.WeakReference(root))
        d
      })
      Scope(session, w, rootAdaptive && !aqeOff, rootBroadcast && !bOff, Some(reused))
    }
  }

  /** Local session for tests / benchmarks. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", math.max(cores, 4))
        .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    requireExtensions(s)
    s
  }
}
