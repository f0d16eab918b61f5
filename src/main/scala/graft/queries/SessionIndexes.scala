package graft.queries

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.operators.IndexStats

/** The one home of every query-level structure a session holds between
  * invocations: the prepared indexes (IVF/PQ/IVFADC, cluster labels,
  * signatures, co-purchase graphs, postings), the one-generation swap
  * ledger of the self-dedup and q83 queries, and m05's parquet copy.
  *
  * Lifecycle, written once: look up by (session, family, key) → build on
  * a miss, exactly once per key however many threads ask → hold until
  * [[release]] / [[releaseAll]] retires the session. Entries strongly
  * retain their session and its persisted frames, so a long-lived JVM
  * that runs many sessions must release each one it retires.
  *
  * A build runs under its own entry's lock, not the map's: concurrent
  * builds of different keys overlap (the prepare steps depend on it),
  * and a build may itself look up other entries. */
object SessionIndexes {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.queries.SessionIndexes")

  private final case class Key(s: SparkSession, family: String, key: String)

  /** One entry: empty until its first build, closed once released. */
  private final class Slot {
    private var held: Option[(Any, () => Unit)] = None
    private var closed = false

    /** The held value, built on first use; None when the slot was
      * released meanwhile (the caller resolves a fresh one). */
    def resolve[A](build: => A, release: A => Unit): Option[A] =
      synchronized {
        if (closed) None
        else held match {
          case Some((v, _)) => Some(v.asInstanceOf[A])
          case None =>
            val v = build
            held = Some((v, () => release(v)))
            Some(v)
        }
      }

    def close(): Unit = {
      val r = synchronized { closed = true; val r = held; held = None; r }
      r.foreach(_._2())
    }
  }

  private val entries = TrieMap.empty[Key, Slot]

  /** `(s, family, key)`'s value, built by `build` on the first lookup and
    * released by `release` when its family is. Counts one
    * `IndexStats.lookup(stat, …)` per call: a miss only in the thread that
    * builds (or fails to), a hit for every other caller. */
  def get[A](s: SparkSession, family: String, key: String, stat: String)
            (build: => A)(release: A => Unit): A = {
    var built = false
    try hold(s, family, key) { built = true; build }(release)
    finally IndexStats.lookup(stat, hit = !built)
  }

  /** [[get]] without the hit/miss count — for session state that is not
    * an index (m05's parquet copy). */
  def hold[A](s: SparkSession, family: String, key: String)
             (build: => A)(release: A => Unit): A = {
    var out: Option[A] = None
    while (out.isEmpty)
      out = entries.getOrElseUpdate(Key(s, family, key), new Slot)
        .resolve(build, release)
    out.get
  }

  /** The one-generation ledger: release the held generation of
    * `(s, family, key)`, build the next, hold it until the next call or
    * the family's release. The order is load-bearing: Spark's
    * CacheManager keys persisted frames by canonicalized plan, so a
    * plan-identical new generation's persist() dedups onto the old
    * entry, and releasing the old one after the build would un-cache the
    * new one too (q83's diagnosis: 10 s → 45 s per rep). Releasing a
    * generation a caller still holds is safe for persists — Spark
    * recomputes — just slower. */
  def swap[A](s: SparkSession, family: String, key: String)
             (build: => A)(release: A => Unit): A = {
    val k = Key(s, family, key)
    entries.remove(k).foreach(close(k, _))
    val v = build
    val slot = new Slot
    slot.resolve(v, release)
    entries.put(k, slot).foreach(close(k, _))
    v
  }

  /** Release every entry of `family` held for `s`. */
  def release(s: SparkSession, family: String): Unit =
    drain(k => (k.s eq s) && k.family == family)

  /** Release every entry held for `s` — session retirement. */
  def releaseAll(s: SparkSession): Unit = drain(_.s eq s)

  /** Remove and release each matching entry; a release that throws is
    * logged with its family and key, and the rest still drain. */
  private def drain(p: Key => Boolean): Unit =
    entries.keys.filter(p).foreach(k => entries.remove(k).foreach(close(k, _)))

  private def close(k: Key, slot: Slot): Unit =
    try slot.close() catch { case NonFatal(e) =>
      log.warn(s"release of ${k.family} entry '${k.key}' failed; draining the rest", e)
    }

  /** The five index families a serving session prepares before its timed
    * queries: name → the (session, dir) build-and-materialize step. Each
    * name is also the registry family [[release]] drops. */
  val prepares: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "ivf" -> VectorQueries.prepareIvfIndex,
    "cluster" -> TextQueries.prepareClusterIndex,
    "signature" -> TextQueries.prepareSignatureIndex,
    "graph" -> CoreQueries.prepareGraphIndex,
    "postings" -> TextQueries.preparePostingsIndex)

  /** Run `tasks` at once on a daemon pool of one thread each, named
    * `name`, and wait for all (30 min bound); the first failure in task
    * order rethrows. A prepare's builds are independent and each is
    * dominated by driver round-trips that leave executors idle, so its
    * wall pays the slowest build, not the sum. */
  def inParallel(name: String)(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size,
      (r: Runnable) => { val t = new Thread(r, name); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val futs = tasks.map(t => Future(t()))
    try futs.foreach(f => Await.result(f,
      scala.concurrent.duration.Duration(1800L, java.util.concurrent.TimeUnit.SECONDS)))
    finally { pool.shutdownNow(); () }
  }
}
