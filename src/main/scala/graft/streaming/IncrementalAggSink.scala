package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.IncrementalAgg

/** Streaming aggregate-state maintenance: each micro-batch is folded into
  * a persistent per-key rollup table with [[IncrementalAgg]] — the
  * continuously-maintained corpus statistics (counts, exact fixed-point
  * sums, min/max) a training-data pipeline reads instead of re-scanning
  * the corpus. Work per batch is O(batch + touched state), never O(corpus).
  *
  * Storage is [[BucketedState]]'s, the same as [[ExactlyOnceSink]]'s:
  * hash-bucketed parquet, the `_commits/` batch ledger, crash-healing
  * bucket swaps. A metric MERGE is not idempotent (re-folding the same
  * batch doubles its counts), and the store's per-bucket
  * `_applied-<appId>-<batchId>` markers are what make it safe: a re-apply
  * after a crash between "some buckets swapped" and "ledger written"
  * merges only the buckets that do not carry the batch's marker yet.
  *
  * CDC deletes: rows flagged by `deleteCol` are built into deleted-state
  * and RETRACTED (count/sum subtraction; [[IncrementalAgg.retract]]).
  * Retraction is only sound for invertible metrics, so a sink with
  * `deleteCol` set must not track min/max — enforced at construction.
  *
  * @param root      target directory (`state/` + `_commits/`)
  * @param keys      grouping key columns of the maintained aggregate
  * @param sums      (column, scale) fixed-point exact sums (IncrementalAgg)
  * @param minMax    columns to track min/max of (append-only sinks only)
  * @param deleteCol boolean column marking CDC delete rows in each batch
  * @param nBuckets  hash-bucket count of the state layout
  * @param appId     ledger namespace — see [[BucketedState.appId]]
  */
final case class IncrementalAggSink(root: String, keys: Seq[String],
                                    sums: Seq[(String, Int)] = Nil,
                                    minMax: Seq[String] = Nil,
                                    deleteCol: Option[String] = None,
                                    nBuckets: Int = 64,
                                    appId: String = "default") {
  private val store = BucketedState(root, keys, nBuckets, appId)
  require(deleteCol.isEmpty || minMax.isEmpty,
    "CDC deletes require invertible metrics only: min/max state cannot " +
      "retract (IncrementalAgg.retract) — drop minMax or deleteCol")

  /** True iff (appId, batchId) has fully applied (global ledger marker). */
  def committed(spark: SparkSession, batchId: Long): Boolean =
    store.committed(spark, batchId)

  /** Current aggregate state (keys + metric columns), decoded for reading
    * via [[IncrementalAgg.finish]]. */
  def read(spark: SparkSession): DataFrame = {
    val raw = readRaw(spark)
    if (raw.columns.isEmpty) raw else IncrementalAgg.finish(raw)
  }

  /** Current RAW state (cnt_/sum_/min_/max_ columns) — the mergeable form.
    * Buckets holding only an `_applied` marker (every key fully retracted)
    * carry no data files and are skipped — a state where ALL buckets are
    * in that condition reads as the empty frame, not a schema-inference
    * error. */
  def readRaw(spark: SparkSession): DataFrame = store.read(spark)

  /** Fold one micro-batch of RAW rows into the state: the batch's inserts
    * merged in, its deletes (when `deleteCol` is set) retracted. Returns
    * false (and does nothing) on a post-commit replay of the same batchId. */
  def applyBatch(batch: DataFrame, batchId: Long): Boolean = {
    val isDel = coalesce(deleteCol.map(col(_) === true).getOrElse(lit(false)),
      lit(false))
    def build(rows: Column) = IncrementalAgg.build(
      batch.filter(rows).drop(deleteCol.toSeq: _*), keys, sums, minMax)
    val stateKeys = keys :+ "_bucket"
    store.apply(batch.sparkSession, batchId)(
      build(!isDel) +: deleteCol.map(_ => build(isDel)).toSeq) {
      (current, parts) =>
        val ins = current.fold(IncrementalAgg.merge(stateKeys, parts.head))(
          IncrementalAgg.merge(stateKeys, _, parts.head))
        parts.tail.headOption.fold(ins)(IncrementalAgg.retract(ins, _))
    }
  }

  /** Wire onto a streaming frame: Append-mode foreachBatch (raw rows in,
    * state folded per trigger) with the ledger + markers absorbing every
    * redelivery shape. */
  def start(stream: DataFrame, checkpointDir: String): StreamingQuery =
    store.start(stream, checkpointDir, OutputMode.Append())(applyBatch)
}
