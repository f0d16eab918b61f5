package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Multimodal

/** The QUERY side of the media tier — the serve loop for
  * [[MediaTieredStream]]. Answer a stream of `(media_id, media)` probe
  * images against the NEWEST committed tiered aHash view while the roll
  * commits underneath: each micro-batch pays |Δ| decode + aHash for its
  * own images only, the standing side is the pinned hash-frame view
  * ([[EpochPin]] — swap on a minor OR major commit, never mid-batch), and
  * the probe is the banded Hamming join
  * ([[Multimodal.nearDupProbeFromHashes]] — no probe×probe pairs, probe
  * side broadcast, standing side never re-decoded).
  *
  * Probe ids should come from a namespace disjoint from the corpus (the
  * sibling servers' contract). The pin and sink contract are
  * [[EpochPin.serve]]'s. */
object MediaServeStream {

  /** Answer ONE batch of `(media_id LONG, media BINARY)` probe images
    * against the newest committed tiered view under `indexRoot`. Returns
    * `(epochId, answers)` with answers `(qid, media_id, hamming)` eagerly
    * checkpointed ([[EpochPin.once]]). Pure batch logic — unit-testable
    * without a stream. */
  def answerBatch(probes: DataFrame, indexRoot: String, maxHamming: Int = 3)
      : (Long, DataFrame) =
    EpochPin.once(probes, tieredPinFor(probes.sparkSession, indexRoot),
      s"media epoch under $indexRoot")(answerPlan(_, _, maxHamming))

  private def answerPlan(probes: DataFrame, view: MediaTieredStream.Tiered,
                         maxHamming: Int): DataFrame =
    Multimodal.nearDupProbeFromHashes(view.hashes,
      Multimodal.imageHashes(probes), maxHamming)

  /** A standing pin on the newest committed tiered view — staleness check
    * is the zero-job `currentEpochId` listing; the hash-frame view holds
    * no persists, so release is a no-op and the swap is free. */
  def tieredPinFor(spark: SparkSession, indexRoot: String)
      : EpochPin[MediaTieredStream.Tiered] =
    new EpochPin(
      () => MediaTieredStream.currentEpochId(spark, indexRoot),
      () => MediaTieredStream.loadCurrent(spark, indexRoot)
        .map(t => t.epochId -> t),
      (_: MediaTieredStream.Tiered) => ())

  /** Start the serving stream ([[EpochPin.serve]]): `probes` (a streaming
    * `(media_id, media)` frame) → per-batch banded Hamming probe → one
    * `batch=<batchId>` parquet directory each under `outDir`. */
  def startTiered(probes: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, maxHamming: Int = 3,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EpochPin.serve("media", probes, tieredPinFor(probes.sparkSession, indexRoot),
      outDir, checkpointDir, trigger)(answerPlan(_, _, maxHamming))
}
