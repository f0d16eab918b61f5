package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{
  StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** A standing epoch handle for the serving streams: keep the loaded (and
  * cache-persisted) index pinned ACROSS micro-batches, swapping only when
  * a newer epoch has committed.
  *
  * Why: the per-batch serve floor was dominated by re-loading the newest
  * epoch every batch — a fresh persist of the index frames that the first
  * probe re-materializes from parquet, then unpersists at batch end
  * (BENCH_r12 serve sections: 0.5–1.7 s/batch fixed cost). The epochs the
  * roll commits change on ROLL cadence (minutes), not QUERY cadence, so a
  * serving stream re-paying the load per batch is pure waste. The pin
  * replaces the reload with a staleness check: the tiered roll's
  * `currentEpochId` (listing + marker peeks, zero Spark jobs), reusing the
  * standing frames on a hit.
  *
  * Freshness contract: [[get]] runs at each batch start, so every batch
  * answers under the newest epoch committed at its own start — a
  * mid-stream roll changes answers at the next batch boundary, never
  * mid-batch. The tiered retention grace (a reader pinned to one
  * generation survives one later major) covers the pinned epoch for the
  * batch, and its persisted frames (MEMORY_AND_DISK — spill, not eviction)
  * carry the data even after the swapped-out epoch's files are pruned.
  *
  * Built over an index root by [[TieredRoll.pin]], the one constructor
  * site in the library; the closure constructor also lets specs substitute
  * fakes.
  *
  * Thread safety: `foreachBatch` bodies of one query are serial, but
  * [[close]] can race a terminating stream — both are synchronized and
  * close is idempotent. */
final class EpochPin[I](newestId: () => Option[Long],
                        load: () => Option[(Long, I)],
                        releaseIdx: I => Unit) extends AutoCloseable {
  private var cur: Option[(Long, I)] = None
  private var closed = false
  private var lastSwapped = false

  /** The pinned `(epochId, index)`: the standing handle when it is still
    * the newest committed epoch, else release-and-swap to the newest.
    * Throws when no epoch has committed (the serve bootstrap contract). */
  def get(): (Long, I) = poll().getOrElse(throw new IllegalStateException(
    "no committed epoch to pin — bootstrap the roll before serving"))

  /** [[get]], with None when no epoch has committed. */
  private def poll(): Option[(Long, I)] = synchronized {
    require(!closed, "epoch pin already closed")
    val newest = newestId()
    cur match {
      case Some((id, _)) if newest.contains(id) =>
        lastSwapped = false
      case prev =>
        prev.foreach(p => releaseIdx(p._2))
        cur = None // a throwing load must not leave a dangling handle
        cur = load()
        lastSwapped = cur.nonEmpty
    }
    cur
  }

  /** Whether the last [[get]] loaded a handle (the first load counts). */
  private def swapped: Boolean = synchronized(lastSwapped)

  override def close(): Unit = synchronized {
    cur.foreach(p => releaseIdx(p._2))
    cur = None
    closed = true
  }
}

object EpochPin {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.EpochPin")

  /** Answer ONE batch of `queries` under `pin`, which this call owns: get,
    * plan, then an EAGER `localCheckpoint` — the answers are computed
    * executor-side before the pin closes (in `finally`), so they outlive
    * the index handle and retention pruning its files without ever
    * round-tripping the driver. The caller owns the checkpoint blocks
    * ([[graft.operators.Checkpoints.release]] once written). `what` names
    * the index in the error when nothing has committed. */
  def once[I](queries: DataFrame, pin: EpochPin[I], what: String)(
      plan: (DataFrame, I) => DataFrame): (Long, DataFrame) =
    try {
      val (epochId, idx) = pin.poll().getOrElse(throw new IllegalStateException(
        s"no committed $what — bootstrap the roll before serving"))
      (epochId, plan(queries, idx).localCheckpoint())
    } finally pin.close()

  /** The one serving stream: `queries` → per batch `plan` over the pinned
    * index → one `batch=<batchId>` parquet directory under `outDir`, rows
    * stamped with `batch_id` and the answering `epoch_id`.
    *
    *  - The pin is checked at each batch start ([[EpochPin.get]]) and
    *    reloads only when a roll committed since the last batch; it closes
    *    when the query terminates ([[bound]]).
    *  - No per-batch `localCheckpoint`: the pin keeps the index frames
    *    alive through the batch's write, and a swap happens only at the
    *    NEXT batch's staleness check.
    *  - Replay idempotence: the batch directory is written with overwrite,
    *    so a replayed batch rewrites it instead of appending duplicates.
    *    A replay after a roll may answer under the newer epoch; the
    *    recorded `epoch_id` makes that visible.
    *
    * Each batch logs one INFO line on `graft.streaming.EpochPin` (family,
    * batch, epoch, whether the pin swapped, seconds) and runs no job for
    * it. */
  def serve[I](family: String, queries: DataFrame, pin: EpochPin[I],
               outDir: String, checkpointDir: String, trigger: Trigger)(
      plan: (DataFrame, I) => DataFrame): StreamingQuery =
    bound(queries.sparkSession, pin) {
      queries.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val t0 = System.nanoTime()
          val (epochId, idx) = pin.get()
          val swapped = pin.swapped
          plan(batch, idx)
            .withColumn("batch_id", lit(batchId))
            .withColumn("epoch_id", lit(epochId))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          log.info(f"$family serve: batch=$batchId epoch=$epochId " +
            f"swapped=$swapped seconds=${(System.nanoTime() - t0) / 1e9}%.3f")
        }
        .start()
    }

  /** Run `startQuery` with `pin`'s lifetime bound to the query's: the pin
    * closes when the query terminates (however it ends). The terminated
    * listener registers BEFORE the query starts, so even an instantly-
    * finishing `AvailableNow` run cannot slip its event past registration;
    * a start failure closes the pin on the spot. */
  def bound[I](spark: SparkSession, pin: EpochPin[I])
              (startQuery: => StreamingQuery): StreamingQuery = {
    val qid = new java.util.concurrent.atomic.AtomicReference[java.util.UUID]()
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        seen.add(e.id)
        if (e.id == qid.get()) {
          pin.close()
          spark.streams.removeListener(this)
        }
      }
    }
    spark.streams.addListener(listener)
    val q =
      try startQuery
      catch { case t: Throwable =>
        spark.streams.removeListener(listener)
        pin.close()
        throw t
      }
    qid.set(q.id)
    // the event may have landed between start and the id becoming visible
    if (seen.contains(q.id)) {
      pin.close()
      spark.streams.removeListener(listener)
    }
    q
  }
}
