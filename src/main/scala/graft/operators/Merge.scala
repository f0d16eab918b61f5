package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch MERGE/upsert — the keyed merge that
  * [[graft.streaming.ExactlyOnceSink]] runs per micro-batch, as a
  * first-class batch operator (r8 verdict task 6): the missing PRODUCER
  * half of the SCD family. q46 builds history from a log and q62 reads
  * it point-in-time; this is what maintains a live current-state table
  * between them —
  * `MERGE INTO target USING updates ON keys`, re-expressed as the
  * anti-join + union plan shape Catalyst optimizes well.
  *
  * Semantics (Delta/Iceberg MERGE, reduced to the keyed-upsert core):
  *  - WHEN MATCHED THEN UPDATE: a target row whose key appears in
  *    `updates` is replaced whole by the update row.
  *  - WHEN NOT MATCHED THEN INSERT: update rows with unseen keys append.
  *  - [[merge]] adds WHEN MATCHED [AND deleteCol] THEN DELETE: an update
  *    row flagged as a tombstone removes the key instead of replacing it.
  *
  * Contracts:
  *  - `target` and `updates` share one schema (the whole-row-replace
  *    model; project upstream for partial-column updates).
  *  - One surviving row per key in the output. `updates` may carry many
  *    rows per key: `orderBy` picks the winner (MAX of the columns,
  *    descending, in order — e.g. `Seq("ts", "event_id")` keeps the
  *    latest event with a deterministic tiebreak). Empty `orderBy` keeps
  *    an arbitrary-but-single row ([[DataFrame.dropDuplicates]]).
  *  - NULL keys match null-safely (`<=>`): a NULL-key update upserts the
  *    NULL-key row, it does not accumulate duplicates.
  *
  * Scale shape: resolution is one window over the updates (small side);
  * the merge itself is ONE null-safe anti-join of target against the
  * update KEY SET (not the full update rows) plus a union — with a small
  * batch against a huge target, AQE broadcasts the key set and the target
  * is never shuffled. When the target lives as a hash-bucketed table,
  * [[graft.streaming.ExactlyOnceSink]] is [[resolveUpdates]] +
  * [[upsertResolved]] over the touched buckets of its bucketed state
  * (partition pruning, crash-safe bucket swaps) — use the sink for
  * maintained-on-disk state, this for frame-level merges.
  */
object Merge {

  /** One deterministic row per key from `updates`: the row with the MAX
    * `orderBy` tuple (each column descending, left-to-right priority). */
  def resolveUpdates(updates: DataFrame, keys: Seq[String],
                     orderBy: Seq[String] = Nil): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    if (orderBy.isEmpty) updates.dropDuplicates(keys)
    else {
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(orderBy.map(col(_).desc): _*)
      updates.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }
  }

  /** Keyed upsert of ALREADY-RESOLVED updates (exactly one row per key —
    * the caller's contract, unchecked to avoid a redundant shuffle; this
    * is the piece [[graft.streaming.ExactlyOnceSink.upsertBatch]] runs
    * after [[resolveUpdates]]). */
  def upsertResolved(target: DataFrame, resolved: DataFrame,
                     keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val rk = resolved.select(keys.map(col): _*)
    val cond = keys.map(k => target(k) <=> rk(k)).reduce(_ && _)
    target.join(rk, cond, "left_anti").unionByName(resolved)
  }

  /** MERGE with update+insert actions: replace matched keys with their
    * winning update row, insert unseen keys. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String],
             orderBy: Seq[String] = Nil): DataFrame =
    upsertResolved(target, resolveUpdates(updates, keys, orderBy), keys)

  /** Full MERGE with a delete action: update rows where `deleteCol` is
    * true are tombstones — the key's target row is removed and the
    * tombstone itself does not survive. Resolution happens BEFORE the
    * delete split, so a key whose LATEST intent is a tombstone deletes
    * even if earlier rows in the same batch were upserts (and vice
    * versa) — the per-key last-writer-wins a changelog consumer needs.
    * `deleteCol` lives in `updates` (dropped from the output; ignored on
    * `target` if present). */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
            orderBy: Seq[String], deleteCol: String): DataFrame = {
    val resolved = resolveUpdates(updates, keys, orderBy)
    val survivors = resolved
      .filter(!coalesce(col(deleteCol), lit(false))).drop(deleteCol)
    val touched = resolved.select(keys.map(col): _*)
    val t = target.drop(deleteCol)
    val cond = keys.map(k => t(k) <=> touched(k)).reduce(_ && _)
    t.join(touched, cond, "left_anti").unionByName(survivors)
  }
}
