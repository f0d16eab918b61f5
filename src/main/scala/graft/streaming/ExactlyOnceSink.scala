package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.operators.Merge

/** Exactly-once streaming sink: an idempotent `foreachBatch` merge-upsert
  * into a keyed parquet target (the sink half of a streaming pipeline —
  * sources, state, joins, and dedup live in [[EventStreams]]; this is where
  * a naive implementation corrupts data on retry, because a replayed
  * micro-batch APPENDS its rows a second time).
  *
  * Exactly-once here is the standard two-layer construction Spark's own
  * docs prescribe for `foreachBatch` (the epoch/ledger discipline of
  * Delta/Iceberg commit protocols, re-expressed over plain parquet). The
  * storage half is [[BucketedState]]: hash-bucketed state where a batch
  * rewrites only the buckets its keys touch, the `_commits/` ledger that
  * skips a redelivered batch whole, per-bucket `_applied` markers, and
  * crash-healing bucket swaps. The merge half is this sink's: a keyed
  * UPSERT ([[Merge.resolveUpdates]] to one row per key, then
  * [[Merge.upsertResolved]] — anti-join the touched buckets on the batch's
  * keys, union the batch). The upsert is idempotent, so a root written
  * before the markers existed still converges on re-apply; append-only
  * sinks have no such self-repair, which is why the merge, not an
  * append, is the pattern worth shipping.
  *
  * Reference: the pipeline's own restart-from-the-middle property
  * (hypertension_dashboard_pipeline `2_data_importing_cleaning.R:39-40` —
  * stage outputs re-entrant after a failure), carried to the streaming
  * sink.
  *
  * @param root     target directory; holds `state/` (bucketed parquet) and
  *                 `_commits/` (the batch ledger)
  * @param keys     upsert key columns — one row per key survives. NULL
  *                 keys are one key like any other (null-safe matching
  *                 throughout) — a redelivered NULL-key row upserts, never
  *                 accumulates.
  * @param nBuckets hash-bucket count for the state layout (fixed for the
  *                 sink's lifetime; changing it means a rebuild)
  * @param orderBy  within-batch conflict resolution: keep the row with the
  *                 MAX of this column per key (e.g. the event timestamp).
  *                 None = arbitrary-but-single row per key.
  * @param appId    ledger namespace ([[BucketedState.appId]]): a stream
  *                 restarted from a FRESH checkpoint restarts batchIds at
  *                 0, and under the same appId those would be skipped as
  *                 replays and their rows silently lost.
  */
final case class ExactlyOnceSink(root: String, keys: Seq[String],
                                 nBuckets: Int = 64,
                                 orderBy: Option[String] = None,
                                 appId: String = "default") {
  private val store = BucketedState(root, keys, nBuckets, appId)

  /** True iff (appId, batchId) has already been applied (marker on disk). */
  def committed(spark: SparkSession, batchId: Long): Boolean =
    store.committed(spark, batchId)

  /** Current target contents (key columns + payload; the internal
    * `_bucket` partition column is dropped). Live buckets only — a
    * parked `._old` directory from a mid-swap crash is never read, so a
    * reader between the crash and the healing next batch sees each row
    * at most once. Before the first commit there is no schema on disk:
    * returns the zero-column empty frame. */
  def read(spark: SparkSession): DataFrame = store.read(spark)

  /** Apply one micro-batch. Returns false (and does nothing) when the
    * batchId is already in the ledger — the replay-after-commit path.
    * Safe to call concurrently never; Spark serializes foreachBatch. */
  def upsertBatch(batch: DataFrame, batchId: Long): Boolean =
    // within-batch resolution: exactly one row per key enters the merge
    store.apply(batch.sparkSession, batchId)(
      Seq(Merge.resolveUpdates(batch, keys, orderBy.toSeq))) {
      (current, parts) =>
        current.fold(parts.head)(Merge.upsertResolved(_, parts.head, keys))
    }

  /** Wire this sink onto a streaming frame: Update-mode foreachBatch with
    * a checkpoint, the replayable-source half of the exactly-once
    * contract (Spark redelivers the SAME batchId with the SAME rows after
    * a failure; the ledger + idempotent merge absorb the redelivery).
    * Update, not the Append default: an aggregated upstream (the natural
    * input for a keyed upsert) must emit changed rows per trigger, not
    * defer every group to watermark close. */
  def start(stream: DataFrame, checkpointDir: String): StreamingQuery =
    store.start(stream, checkpointDir, OutputMode.Update())(upsertBatch)
}
