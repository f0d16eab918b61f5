package perfbench

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{DedupMetrics, IndexStats}
import graft.queries._

/** The oracle query surface: `SparkEntry.queries` over the committed
  * TPC-H-style tables. One cycle is the five index prepares (timed as one
  * op, so work moved between prepares and queries stays inside the
  * cycle's wall), then one pass over the query panel in name order, each
  * query timed through `count()` (the action `graft.Bench` times) and
  * checked against the committed expected count. The seed does not change
  * the order: a query's time depends on what ran before it in the process.
  * A pass ends with the release calls `graft.Bench` makes, after which
  * nothing may stay persisted and no query may have missed an index cache. */
final class SweepWorkload(a: Args) extends Workload {
  private val dir = a.data.toString
  private val expected: Map[String, Long] = SweepWorkload.readCounts(
    a.data.resolveSibling(a.data.getFileName.toString + ".counts.json"))

  /** The start-up checks `graft.Bench` and `graft.Verify` make on a table
    * directory before any query runs. */
  override def setup(spark: SparkSession): Unit = {
    graft.io.Tables.canaryEvents(spark, dir)
    val violations = graft.io.Tables.schemaContractViolations(spark, dir)
    require(violations.isEmpty, violations.mkString("; "))
  }

  override def cycle(spark: SparkSession, tr: Tracer): Seq[Op] = {
    IndexStats.reset()
    DedupMetrics.reset()
    val t0 = System.nanoTime()
    val prepared = tr.span("prepare.all") {
      try Some(SweepWorkload.prepareAll(spark, dir)) catch { case e: Throwable =>
        System.err.println(s"[perfbench] prepare failed: $e"); None }
    }
    val prepareOp = Op("sweep.prepare", (System.nanoTime() - t0) / 1e9, prepared.nonEmpty)
    prepared.getOrElse(Map.empty).foreach { case (k, v) => tr.set(s"prepare.${k}_s", v) }
    IndexStats.reset()
    val ops = SweepWorkload.Panel.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = tr.span(s"sweep.${SweepWorkload.module(name)}") {
        try fn(spark, dir).count() catch { case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e"); -1L }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (SweepWorkload.tiered(name)) tr.add("sweep.tiered_rows_s", sec)
      val ok = expected.get(name).contains(n)
      System.err.println(f"[perfbench] $name%-28s $sec%7.3fs rows $n" +
        (if (ok) "" else s" expected ${expected.get(name)}"))
      Op(name, sec, ok)
    }
    val secs = ops.map(_.sec)
    tr.set("sweep.query_p50_s", Main.median(secs))
    tr.set("sweep.query_p90_s", Main.pct(secs, 0.9))
    val r0 = System.nanoTime()
    val clean = release(spark, tr) == 0
    // a persisted RDD left or a timed cache miss fails the release op
    (prepareOp +: ops) :+ Op("sweep.release", (System.nanoTime() - r0) / 1e9, clean)
  }

  /** `graft.Bench`'s release calls, then the persisted-RDD and cache-miss
    * census; returns how many of either were found. */
  private def release(spark: SparkSession, tr: Tracer): Int = {
    val cache = IndexStats.snapshot()
    val misses = cache.collect { case (k, v) if k.endsWith(".miss") => v }.sum
    val hits = cache.collect { case (k, v) if k.endsWith(".hit") => v }.sum
    val dropped = DedupMetrics.snapshot().values.map(_.buckets).sum
    VectorQueries.releaseIvfIndexes(spark)
    TextQueries.releaseClusterLabels(spark)
    TextQueries.releaseSignatureIndexes(spark)
    CoreQueries.releaseGraphIndexes(spark)
    TextQueries.releasePostingsIndexes(spark)
    TextQueries.releaseSwapHeld(spark)
    HtnQueries.releaseHeld(spark)
    val leaked = spark.sparkContext.getRDDStorageInfo.length
    if (leaked > 0 || misses > 0)
      System.err.println(s"[perfbench] after pass: $leaked persisted RDDs, $misses timed index misses")
    tr.add("index.timed_hits", hits.toDouble)
    tr.add("index.timed_misses", misses.toDouble)
    tr.add("dedup.dropped_buckets", dropped.toDouble)
    tr.add("spark.persisted_rdds_leaked", leaked.toDouble)
    (leaked + misses).toInt
  }

}

object SweepWorkload {
  private def names(m: Map[String, _]): Set[String] = m.keySet

  def module(name: String): String =
    if (names(CoreQueries.queries)(name)) "core"
    else if (names(TextQueries.queries)(name)) "text"
    else if (names(VectorQueries.queries)(name)) "vector"
    else if (names(MediaQueries.queries)(name)) "media"
    else "htn"

  /** The rows that run a tiered roll inside the query. */
  val TieredRows = Set("q81", "q82", "q84", "v27", "v28", "v33", "t40", "m07", "d14")
  def tiered(name: String): Boolean = TieredRows(name.takeWhile(_ != '_'))

  /** The measured panel: every 13th query by name from the 5th, a
    * systematic sample across all five modules that holds one tiered row. */
  val Panel: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
    .collect { case (n, i) if i % 13 == 4 => n }

  /** The five prepares on a pool of three threads, as `graft.Bench` runs
    * them; seconds per prepare. */
  def prepareAll(spark: SparkSession, dir: String): Map[String, Double] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val builds = Seq[(String, () => Unit)](
      "ivf" -> (() => VectorQueries.prepareIvfIndex(spark, dir)),
      "cluster" -> (() => TextQueries.prepareClusterIndex(spark, dir)),
      "signature" -> (() => TextQueries.prepareSignatureIndex(spark, dir)),
      "graph" -> (() => CoreQueries.prepareGraphIndex(spark, dir)),
      "postings" -> (() => TextQueries.preparePostingsIndex(spark, dir)))
    try builds.map { case (name, build) => Future {
      val t0 = System.nanoTime(); build(); name -> (System.nanoTime() - t0) / 1e9
    }}.map(f => Await.result(f, Duration.Inf)).toMap
    finally { pool.shutdownNow(); () }
  }

  /** `{"query": {"rows": n, "source": "..."}, ...}` → query → rows. */
  def readCounts(p: java.nio.file.Path): Map[String, Long] = {
    val text = new String(Files.readAllBytes(p), "UTF-8")
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).toLong).toMap
  }
}
