package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Checkpoints, Dedup, IndexStore}

/** TIERED (L0/L1) epoch commits for the DEDUP family's MinHash
  * [[Dedup.SignatureIndex]] on the shared [[TieredRoll]] — the LSM path
  * between the flat per-epoch rebuild ([[NearDupAdmission]]'s index roll)
  * and the durable store ([[IndexStore.saveSignatureIndex]]): a
  * continuously-ingesting corpus folds each micro-batch's signatures
  * without re-tokenizing standing documents.
  *
  *  - **No bootstrap**: the MinHash family is fixed by (k, shingle width),
  *    so minors need no standing state.
  *  - **L0 (minor)**: the batch's `(id, sig, ss)` rows
  *    ([[Dedup.signatureFrame]] — ONE tokenize pass over |Δ|).
  *  - **L1 (major)**: the standing and delta sigs re-aggregated into a
  *    full index (one [[Dedup.bucketsFromSigs]] pass — signatures are NOT
  *    recomputed; the tokenize work is paid once per document, at its L0
  *    commit).
  *
  * Readers merge ≤ 2 tiers ([[loadCurrent]] → [[Tiered]]). The serving
  * trick that keeps probes O(|batch| + touched buckets) WITHOUT a
  * per-probe merge: [[Tiered.probeIndex]] presents the committed L1
  * buckets UNIONED with delta-side buckets (a |Δ|-sized aggregation) as
  * one bucket frame — the probe's candidate `distinct()` collapses the
  * duplicate batch×batch candidates the two tiers both propose, and
  * verification reads the merged sig frame, so
  * [[Dedup.incrementalExactPairsIndexedManaged]] runs UNCHANGED against
  * a tiered standing corpus. (Bucket caps apply per TIER-bucket row here
  * rather than per merged bucket — strictly more conservative about
  * dropping than the flat index, and a no-op below the cap.)
  *
  * Id contract (d06's): ids are assigned by one authority and never
  * repeat across batches — cross-tier merge is a disjoint union. */
object SignatureTieredStream {

  private[streaming] final class Roll(spark: SparkSession, root: String,
                                      k: Int, bands: Int, shingleWidth: Int)
      extends TieredRoll[Dedup.SignatureIndex, Tiered](spark, root, "signature") {
    private val pm = Map("k" -> k.toString, "bands" -> bands.toString,
      "shingle_width" -> shingleWidth.toString)
    protected val bootstraps = false
    protected val l0Params: Map[String, String] = pm + ("tier" -> "l0_sigs")
    protected def l1Committed(dir: String): Boolean =
      IndexStore.loadSignatureIndexMeta(spark, dir, pm).isDefined
    protected def loadL1(dir: String): Option[Dedup.SignatureIndex] =
      IndexStore.loadSignatureIndex(spark, dir, expectedParams = pm)
    protected def saveL1(l1: Dedup.SignatureIndex, dir: String,
                         note: String): Unit =
      IndexStore.saveSignatureIndex(spark, l1, dir, note)
    protected def releaseL1(l1: Dedup.SignatureIndex): Unit = l1.release()

    protected def view(t: TieredRoll.Tiers[Dedup.SignatureIndex]): Tiered =
      Tiered(t.epochId, k, bands, shingleWidth, t.l1,
        t.l0Frames.reduceOption(_ unionByName _),
        () => t.l1.foreach(_.release()))

    // mapPartitions sig frame + parquet write — no shuffle, so no width
    // window to open (the probe and the major carry the windows)
    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit =
      save(delta)

    // major width: the bucket re-aggregation shuffles the MERGED sig
    // corpus, so the window is sized standing+delta — standing row counts
    // come free off the committed tiers' parquet footers (zero jobs), and
    // a grown corpus self-widens back to the session conf (and keeps AQE)
    protected def major(t: TieredRoll.Tiers[Dedup.SignatureIndex],
                        delta: DataFrame, n: => Long, epochId: Long, dir: String,
                        note: String): Unit = {
      val standingRows =
        t.l1Id.map(id => IndexStore.parquetRowCount(spark, s"${l1Dir(id)}/sigs"))
          .getOrElse(0L) +
        t.liveL0.map(id => IndexStore.parquetRowCount(spark, s"${l0Dir(id)}/data")).sum
      val sigs = view(t).sigs.unionByName(delta)
      Checkpoints.withDeltaWindow(spark, standingRows + n)(commit(
        Dedup.SignatureIndex(k, bands, shingleWidth, sigs,
          Dedup.bucketsFromSigs(sigs, k, bands), () => ()), dir, note))
    }
  }

  /** Committed L1 epoch ids, newest first. Listing + marker peek only. */
  def l1Epochs(spark: SparkSession, root: String, k: Int, bands: Int,
               shingleWidth: Int): Seq[Long] =
    new Roll(spark, root, k, bands, shingleWidth).l1Epochs

  /** Committed L0 epoch ids, newest first. */
  def l0Epochs(spark: SparkSession, root: String, k: Int, bands: Int,
               shingleWidth: Int): Seq[Long] =
    new Roll(spark, root, k, bands, shingleWidth).l0Epochs

  /** The ≤-2-tier reader view: newest committed L1 (absent pre-first-
    * major) plus the live L0 sig deltas above it. `release()` frees the
    * L1 frame persists. */
  final case class Tiered(
      epochId: Long,
      k: Int, bands: Int, shingleWidth: Int,
      l1: Option[Dedup.SignatureIndex],
      deltaSigs: Option[DataFrame],
      release: () => Unit) {

    /** Merged `(id, sig, ss)` frame across both tiers (lazy union). */
    def sigs: DataFrame =
      (l1.map(_.sigs).toSeq ++ deltaSigs.toSeq).reduce(_ unionByName _)

    /** A probe-ready [[Dedup.SignatureIndex]] over the tiers WITHOUT a
      * bucket re-aggregation of the standing corpus: committed L1 buckets
      * ∪ delta-side buckets (|Δ|-sized [[Dedup.bucketsFromSigs]]). A
      * (band, bh) bucket split across tiers yields one candidate row per
      * tier — the probe's candidate distinct() collapses the overlap. */
    def probeIndex: Dedup.SignatureIndex = {
      val buckets = (l1.map(_.buckets).toSeq ++
        deltaSigs.map(d => Dedup.bucketsFromSigs(d, k, bands)).toSeq)
        .reduce(_ unionByName _)
      Dedup.SignatureIndex(k, bands, shingleWidth, sigs, buckets, () => ())
    }

    /** Exact near-dup pairs a TEXT batch introduces against this view
      * (batch×standing and batch×batch — the d06 contract, served off the
      * tiers): batch-side signatures computed once in the probe, standing
      * side never re-tokenized. Caller consumes `.pairs`, then
      * `.release()` (frees the batch-side signature cache only). */
    def newPairsFor(batch: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8, estMargin: Double = 0.2,
                    maxBucket: Int = 1000): Dedup.ManagedPairs =
      Dedup.incrementalExactPairsIndexedManaged(batch, probeIndex, idCol,
        textCol, threshold, estMargin, maxBucket)

    /** [[newPairsFor]] over a PRECOMPUTED (caller-persisted) batch
      * signature frame — a caller that both probes AND folds a batch
      * computes [[Dedup.signatureFrame]] once and shares it with
      * [[foldSigs]] instead of tokenizing the batch twice (the returned
      * release is a no-op; the caller owns the frame). */
    def newPairsForSigs(batchSigs: DataFrame, threshold: Double = 0.8,
                        estMargin: Double = 0.2,
                        maxBucket: Int = 1000): Dedup.ManagedPairs =
      Dedup.incrementalPairsFromSigs(batchSigs, probeIndex, threshold,
        estMargin, maxBucket)

    /** Full re-aggregated index over the merged sigs — pays the bucket
      * groupBy a major would (use at L1 cadence, not per probe). Caller
      * releases; this [[Tiered]] stays usable. */
    def mergedIndex(): Dedup.SignatureIndex = {
      val s = sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val b = Dedup.bucketsFromSigs(s, k, bands)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      s.count(); b.count()
      Dedup.SignatureIndex(k, bands, shingleWidth, s, b,
        () => { s.unpersist(); b.unpersist(); () })
    }
  }

  /** The id [[loadCurrent]] would return (listing + marker peeks only).
    * `None` before any commit. */
  def currentEpochId(spark: SparkSession, root: String, k: Int = 128,
                     bands: Int = 32, shingleWidth: Int = 3): Option[Long] =
    new Roll(spark, root, k, bands, shingleWidth).currentEpochId

  /** Load the newest committed tiered view; `None` before any commit. */
  def loadCurrent(spark: SparkSession, root: String, k: Int = 128,
                  bands: Int = 32, shingleWidth: Int = 3): Option[Tiered] =
    new Roll(spark, root, k, bands, shingleWidth).loadCurrent

  /** Fold ONE batch of `(id, text)` documents: an O(|Δ|) tokenize +
    * signature L0 commit, except every `majorEvery`-th live delta
    * triggers the L1 major (bucket re-aggregation over merged sigs — no
    * re-tokenize). Idempotent under replay. */
  def foldBatch(batch: DataFrame, idCol: String, textCol: String,
                root: String, batchId: Long, majorEvery: Int = 8,
                k: Int = 128, bands: Int = 32, shingleWidth: Int = 3)
      : BatchOutcome =
    // the frame is lazy: a Skipped replay never executes the tokenize
    foldSigs(Dedup.signatureFrame(batch, idCol, textCol, k, shingleWidth),
      root, batchId, majorEvery, k, bands, shingleWidth)

  /** [[foldBatch]] over a PRECOMPUTED `(id, sig, ss)` signature frame —
    * the probe-then-fold shape (d14) computes [[Dedup.signatureFrame]]
    * once per batch and shares it between [[Tiered.newPairsForSigs]] and
    * this commit, halving the batch's tokenize+MinHash cost. Same checks,
    * same commits, same idempotency as [[foldBatch]]. */
  def foldSigs(sigs: DataFrame, root: String, batchId: Long,
               majorEvery: Int = 8, k: Int = 128, bands: Int = 32,
               shingleWidth: Int = 3): BatchOutcome =
    new Roll(sigs.sparkSession, root, k, bands, shingleWidth)
      .fold(sigs, batchId, majorEvery)

  /** Maintenance-window PHYSICAL tombstone compaction ([[TieredRoll.compact]]):
    * survivors anti-joined out of the merged sigs ONCE, buckets
    * re-aggregated over survivors only (a dead id inside a committed
    * bucket's member array cannot be dropped in place — the bucket frame
    * is rebuilt, same cost class as a data major). `None` below
    * `threshold` (dead share of stored docs), when no dead id is stored,
    * AND on a minors-only root (the dead ids fall out at the first major's
    * re-aggregation instead). */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, k: Int = 128, bands: Int = 32,
                   shingleWidth: Int = 3): Option[Long] =
    new Roll(spark, root, k, bands, shingleWidth).compact { view =>
      val dead = broadcast(tombstones.select(
        col(tombId).cast("long").as("id")).distinct())
      if (!TieredRoll.deadShareReached(view.sigs, dead, Seq("id"), threshold))
        None
      else {
        val survivors = view.sigs.join(dead, Seq("id"), "left_anti")
        Some(Dedup.SignatureIndex(k, bands, shingleWidth, survivors,
          Dedup.bucketsFromSigs(survivors, k, bands), () => ()))
      }
    }

  /** Start the tiered roll: `docs` (a streaming `(id, text)` frame) →
    * per-batch [[foldBatch]], with optional scheduled compaction
    * ([[MaintenancePolicy]]). */
  def start(docs: DataFrame, idCol: String, textCol: String, root: String,
            checkpointDir: String, majorEvery: Int = 8, k: Int = 128,
            bands: Int = 32, shingleWidth: Int = 3,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(docs.sparkSession, root, k, bands, shingleWidth).start(docs,
      checkpointDir, trigger, maintenance)(foldBatch(_, idCol, textCol, root,
      _, majorEvery, k, bands, shingleWidth)) { (p, batch) =>
      p.tombstones.foreach(ts => compactMajor(batch.sparkSession, root, ts(),
        p.tombId, p.threshold, k, bands, shingleWidth))
    }
}
