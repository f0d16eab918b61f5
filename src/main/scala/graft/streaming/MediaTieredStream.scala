package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexStore, Multimodal}

/** TIERED (L0/L1) epoch commits for the MEDIA family on the shared
  * [[TieredRoll]]: a continuously-ingesting image corpus folds each
  * micro-batch's perceptual hashes into a durable aHash index without
  * re-decoding standing blobs or rewriting the standing index per batch.
  *
  *  - **No bootstrap**: there is no model; the roll serves from L0s alone
  *    until the first major.
  *  - **L0 (minor)**: the batch's `(media_id, phash)` rows — |Δ| decode +
  *    aHash via [[Multimodal.imageHashes]].
  *  - **L1 (major)**: a UNION of the standing and delta hash frames —
  *    16-byte rows, zero blob re-decode (the hash column is the index),
  *    which makes this family's major the cheapest of the seven.
  *
  * Readers merge ≤ 2 tiers ([[loadCurrent]] → [[Tiered]]); near-dup
  * queries run [[Multimodal.imageNearDupPairsFromHashes]] over the merged
  * view (banding admits no false negatives within the Hamming budget, so
  * tiered ≡ flat ≡ rebuild — certified hash-exact by m07), and per-batch
  * NEW pairs come from [[Multimodal.incrementalNearDupPairsFromHashes]]
  * probed batch-side against the pre-fold view (the m06 fold identity).
  *
  * Id contract (the d06/m06 one): media_ids are assigned by ONE authority
  * and never repeat across batches — cross-tier merge is a disjoint
  * union, no dedup shuffle. Replays can't violate it (committed markers
  * skip), and [[foldHashes]] dedups within its own batch only. */
object MediaTieredStream {

  private[streaming] final class Roll(session: SparkSession, root: String)
      extends TieredRoll[DataFrame, Tiered](session, root, "media") {
    protected val bootstraps = false
    protected val l1Codec = IndexStore.stage
    // storage params: the tier layout only — the Hamming budget is a QUERY
    // parameter (banding happens at read), so one committed index serves
    // every budget ≤ 15, unlike the model-carrying families
    protected val l1Params = Map("index_kind" -> "ahash_tiered", "tier" -> "l1_hashes")
    protected val l0Tier = "l0_hashes"
    protected def releaseView(v: Tiered): Unit = ()
    protected def view(t: TieredRoll.Tiers[DataFrame]): Tiered =
      Tiered(t.epochId, (t.l1.toSeq ++ t.l0Frames).reduce(_ unionByName _))
    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit =
      save(delta)
    protected def major(t: TieredRoll.Tiers[DataFrame], delta: DataFrame,
                        n: => Long, epochId: Long, dir: String,
                        note: String): Unit =
      commit(view(t).hashes.unionByName(delta), dir, note)

    override protected def compactKernel(view: Tiered, tombstones: DataFrame,
        tombId: String, threshold: Double): Option[DataFrame] =
      TieredRoll.survivors(view.hashes, tombstones, tombId, "media_id", threshold)
  }

  /** `(media_id, phash)` as longs, deduped within the batch; cross-batch
    * ids are disjoint by the id contract. */
  private def hashFrame(batchHashes: DataFrame): DataFrame =
    batchHashes.select(col("media_id").cast("long").as("media_id"),
      col("phash").cast("long").as("phash")).dropDuplicates("media_id")

  /** A `(media_id, media)` blob batch as its hash frame: |Δ| decode +
    * aHash ([[Multimodal.imageHashes]]; undecodable blobs are skipped). */
  private def prepare(media: DataFrame): DataFrame =
    hashFrame(Multimodal.imageHashes(media))

  /** The ≤-2-tier reader view: newest committed L1 (absent pre-first-
    * major) unioned with the live L0 deltas above it. Pure lazy parquet —
    * no persisted handles to release. */
  final case class Tiered(epochId: Long, hashes: DataFrame) {

    /** Full near-dup pair set over the merged view — the tiered twin of
      * the flat [[Multimodal.imageNearDupPairsFromHashes]] (banded
      * candidates, popcount verify, never all-pairs). */
    def nearDupPairs(maxHamming: Int = 3): DataFrame =
      Multimodal.imageNearDupPairsFromHashes(hashes, maxHamming)

    /** NEW pairs a hash batch would introduce against this view (≥ 1
      * batch side, batch×batch included) — the m06 incremental fold,
      * served from the tiers. */
    def newPairsFor(batchHashes: DataFrame, maxHamming: Int = 3): DataFrame =
      Multimodal.incrementalNearDupPairsFromHashes(hashes, batchHashes,
        maxHamming)
  }

  /** Load the newest committed tiered view; `None` before any commit.
    * Zero Spark jobs until the frame is consumed. */
  def loadCurrent(spark: SparkSession, root: String): Option[Tiered] =
    new Roll(spark, root).loadCurrent

  /** Fold ONE batch of `(media_id, media)` blobs: |Δ| decode + aHash,
    * then [[TieredRoll.fold]]. Undecodable blobs are skipped (the
    * [[Multimodal.imageHashes]] contract). */
  def foldBatch(batch: DataFrame, root: String, batchId: Long,
                majorEvery: Int = 8): BatchOutcome =
    new Roll(batch.sparkSession, root).fold(prepare(batch), batchId,
      majorEvery)

  /** Fold an already-hashed `(media_id, phash)` batch — the stored-hash-
    * column ingest path — through [[TieredRoll.fold]]. */
  def foldHashes(batchHashes: DataFrame, root: String, batchId: Long,
                 majorEvery: Int = 8): BatchOutcome =
    new Roll(batchHashes.sparkSession, root).fold(hashFrame(batchHashes),
      batchId, majorEvery)

  /** Maintenance-window PHYSICAL tombstone compaction ([[TieredRoll.compact]])
    * on a model-free hash frame. `None` below threshold, when no dead id
    * is stored, AND on a minors-only root (the dead ids fall out at the
    * first major's merge instead). */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0): Option[Long] =
    new Roll(spark, root).compact(tombstones, tombId, threshold)

  /** Start the tiered roll: `media` (a streaming `(media_id, media)`
    * frame) → per-batch [[foldBatch]]'s decode, hash and fold, with
    * optional scheduled compaction ([[TieredRoll.start]]). */
  def start(media: DataFrame, root: String, checkpointDir: String,
            majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(media.sparkSession, root).start(media, checkpointDir, trigger,
      majorEvery, maintenance)(prepare)
}
