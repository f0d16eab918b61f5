package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Checkpoints, IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the IVFADC family on the shared
  * [[TieredRoll]] — the production two-stage index, which otherwise has
  * only `ivfPqBuild` + a durable store. A batch commits only its DELTA
  * codes:
  *
  *  - **Bootstrap**: the first non-empty batch trains BOTH models
  *    ([[Similarity.ivfPqBuild]] — coarse centroids, then residual
  *    codebooks) and commits the first L1; minors need both standing
  *    models to encode against.
  *  - **L0 (minor)**: the batch routed + residual-encoded under the
  *    STANDING models ([[Similarity.ivfPqEncodeWith]] — assignCells +
  *    float residuals + the shared PQ encode kernel, all map-only); only
  *    the two tiny models are loaded ([[IndexStore.loadIvfPqModels]]).
  *  - **L1 (major)**: the standing codes unioned with the live deltas and
  *    the batch — SAME models, both encode stages commute with union under
  *    a fixed quantizer, zero re-encode.
  *
  * Readers ([[loadCurrent]] → [[Tiered]]) get an ordinary
  * [[Similarity.IvfPqIndex]] — [[Similarity.ivfPqProbe]] and both drift
  * audits work on the tiered view unchanged, codes bit-identical to the
  * flat `ivfPqBuild` + [[Similarity.ivfPqAppend]] chain. Epochs store the
  * routed CODES only, so retraining both models is the maintenance
  * window's [[retrainMajor]] over the retained corpus, gated by
  * [[retrainMajorIfDrifted]]; [[compactMajor]] is the physical tombstone
  * drop. */
object IvfPqTieredStream {

  private[streaming] final class Roll(spark: SparkSession, root: String,
      dim: Int, nCells: Int, m: Int, k: Int, coarseIters: Int, pqIters: Int,
      trainSample: Int, idCol: String = "", vecCol: String = "")
      extends TieredRoll[Similarity.IvfPqIndex, Tiered](spark, root, "ivfpq") {
    private val pm = Map("roll_dim" -> dim.toString,
      "roll_n_cells" -> nCells.toString,
      "roll_m" -> m.toString, "roll_k" -> k.toString,
      "roll_coarse_iters" -> coarseIters.toString,
      "roll_pq_iters" -> pqIters.toString,
      "roll_train_sample" -> trainSample.toString)
    protected val bootstraps = true
    protected val l0Params: Map[String, String] =
      pm + ("tier" -> "l0_ivfpq_codes")
    protected def l1Committed(dir: String): Boolean =
      IndexStore.ivfPqIndexMeta(spark, dir, pm).isDefined
    protected def loadL1(dir: String): Option[Similarity.IvfPqIndex] =
      IndexStore.loadIvfPqIndex(spark, dir, expectedParams = pm)
    protected def saveL1(l1: Similarity.IvfPqIndex, dir: String,
                         note: String): Unit =
      IndexStore.saveIvfPqIndex(spark, l1, dir, note, pm)
    protected def releaseL1(l1: Similarity.IvfPqIndex): Unit = l1.release()

    protected def view(t: TieredRoll.Tiers[Similarity.IvfPqIndex]): Tiered = {
      val l1 = t.l1.get
      Tiered(t.epochId,
        l1.copy(coded = t.l0Frames.foldLeft(l1.coded)(_ unionByName _)),
        t.liveL0, l1.release)
    }

    // coarse + residual k-means aggregates are sample-sized: the build
    // runs under the measured width (minors/majors encode map-side)
    override protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                                     note: String): Unit =
      Checkpoints.withDeltaWindow(spark, n)(commit(Similarity.ivfPqBuild(
        delta, idCol, vecCol, dim, nCells, m, k, coarseIters, pqIters,
        trainSample), dir, note))

    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit = {
      val (cents, books, subDim) =
        standingModel(standing)(IndexStore.loadIvfPqModels(spark, _, pm))
      save(Similarity.ivfPqEncodeWith(cents, books, subDim, delta, idCol,
        vecCol))
    }

    protected def major(t: TieredRoll.Tiers[Similarity.IvfPqIndex],
                        delta: DataFrame, n: => Long, epochId: Long,
                        dir: String, note: String): Unit = {
      val idx = view(t).index
      commit(idx.copy(coded = idx.coded.unionByName(Similarity.ivfPqEncodeWith(
        idx.centroids, idx.codebooks, idx.subDim, delta, idCol, vecCol)),
        release = () => ()), dir, note)
    }
  }

  /** Committed L1 epoch ids, newest first. Listing + marker peek only. */
  def l1Epochs(spark: SparkSession, root: String, dim: Int,
               nCells: Int = 8, m: Int = 4, k: Int = 8,
               coarseIters: Int = 4, pqIters: Int = 4,
               trainSample: Int = 10000): Seq[Long] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).l1Epochs

  /** Committed L0 epoch ids, newest first. */
  def l0Epochs(spark: SparkSession, root: String, dim: Int,
               nCells: Int = 8, m: Int = 4, k: Int = 8,
               coarseIters: Int = 4, pqIters: Int = 4,
               trainSample: Int = 10000): Seq[Long] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).l0Epochs

  /** The ≤-2-tier reader view: `index` is an ordinary
    * [[Similarity.IvfPqIndex]] whose coded frame is the newest committed
    * L1's plus the live L0 deltas above it (lazy union — the deltas are
    * zero-job stage reads). `release()` frees the L1 handle. */
  final case class Tiered(
      epochId: Long,
      index: Similarity.IvfPqIndex,
      liveL0s: Seq[Long],
      release: () => Unit)

  /** The id [[loadCurrent]] would return (listing + marker peeks only). */
  def currentEpochId(spark: SparkSession, root: String, dim: Int,
                     nCells: Int = 8, m: Int = 4, k: Int = 8,
                     coarseIters: Int = 4, pqIters: Int = 4,
                     trainSample: Int = 10000): Option[Long] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).currentEpochId

  /** Load the newest committed tiered view; `None` before the bootstrap
    * L1 commits. Zero Spark jobs until the codes are probed. */
  def loadCurrent(spark: SparkSession, root: String, dim: Int,
                  nCells: Int = 8, m: Int = 4, k: Int = 8,
                  coarseIters: Int = 4, pqIters: Int = 4,
                  trainSample: Int = 10000): Option[Tiered] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).loadCurrent

  /** Fold ONE batch of embeddings (`idCol` numeric, `vecCol`
    * array&lt;float&gt; — the [[Similarity.ivfPqBuild]] contract) through
    * [[TieredRoll.fold]]. */
  def foldBatch(batch: DataFrame, idCol: String, vecCol: String,
                root: String, batchId: Long, dim: Int,
                nCells: Int = 8, m: Int = 4, k: Int = 8,
                coarseIters: Int = 4, pqIters: Int = 4,
                trainSample: Int = 10000,
                majorEvery: Int = 8): BatchOutcome =
    new Roll(batch.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample, idCol, vecCol).fold(batch, batchId, majorEvery)

  /** Maintenance-window PHYSICAL tombstone compaction ([[TieredRoll.compact]]):
    * the tombstoned ids dropped from the merged codes
    * ([[Similarity.ivfPqCompact]] — models untouched, no re-encode). The
    * new generation carries ZERO tombstone debt — the caller resets its
    * tombstone set on `Some`. `None` when the dead share of the stored
    * codes is below `threshold` (or no dead id is stored): keep excluding
    * at query time. */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, dim: Int = 64,
                   nCells: Int = 8, m: Int = 4, k: Int = 8,
                   coarseIters: Int = 4, pqIters: Int = 4,
                   trainSample: Int = 10000): Option[Long] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).compact(v =>
      // the compacted index must not own (and re-release) the L1 handle
      Similarity.ivfPqCompact(v.index.copy(release = () => ()), tombstones,
        tombId, threshold))

  /** Maintenance-window MODEL RETRAIN ([[TieredRoll.retrain]]): BOTH
    * models trained fresh over the caller-supplied RETAINED corpus (epochs
    * store codes only, so raw vectors come from the corpus of record) and
    * the re-encoded index committed as a new L1 generation. `None` when
    * no generation is standing (bootstrap via [[foldBatch]]). */
  def retrainMajor(corpus: DataFrame, idCol: String, vecCol: String,
                   root: String, dim: Int, nCells: Int = 8, m: Int = 4,
                   k: Int = 8, coarseIters: Int = 4, pqIters: Int = 4,
                   trainSample: Int = 10000): Option[Long] =
    new Roll(corpus.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample).retrain(Similarity.ivfPqBuild(corpus, idCol,
      vecCol, dim, nCells, m, k, coarseIters, pqIters, trainSample))

  /** [[retrainMajor]] gated on [[Similarity.driftAudit]] of a recent
    * arrival batch's coarse-cell routing against the tiered view (the
    * coded frame carries the cell column — codes only, no raw vectors):
    * fires when more than `maxDriftedCells` cells drift. */
  def retrainMajorIfDrifted(corpus: DataFrame, recent: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            maxDriftedCells: Int, dim: Int,
                            nCells: Int = 8, m: Int = 4, k: Int = 8,
                            coarseIters: Int = 4, pqIters: Int = 4,
                            trainSample: Int = 10000): Option[Long] =
    new Roll(corpus.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample).retrainIfDrifted(maxDriftedCells)(v =>
      Similarity.driftAudit(Similarity.IvfIndex(v.index.centroids,
        v.index.nCells, v.index.coded, () => ()), recent, idCol, vecCol)
        .filter(col("drifted")).count())(
      Similarity.ivfPqBuild(corpus, idCol, vecCol, dim, nCells, m, k,
        coarseIters, pqIters, trainSample))

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[foldBatch]], with optional scheduled
    * maintenance ([[MaintenancePolicy]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String, dim: Int,
            nCells: Int = 8, m: Int = 4, k: Int = 8,
            coarseIters: Int = 4, pqIters: Int = 4,
            trainSample: Int = 10000, majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample).start(vectors, checkpointDir, trigger,
      maintenance)(foldBatch(_, idCol, vecCol, root, _, dim, nCells, m, k,
      coarseIters, pqIters, trainSample, majorEvery)) { (p, batch) =>
      p.tombstones.foreach(ts => compactMajor(batch.sparkSession, root, ts(),
        p.tombId, p.threshold, dim, nCells, m, k, coarseIters, pqIters,
        trainSample))
      p.retrainCorpus.foreach(c => retrainMajorIfDrifted(c(), batch, idCol,
        vecCol, root, p.maxDrifted, dim, nCells, m, k, coarseIters, pqIters,
        trainSample))
    }
}
