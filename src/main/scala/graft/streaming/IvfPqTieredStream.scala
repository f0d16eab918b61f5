package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the IVFADC family on the shared
  * [[QuantizerRoll]] — the production two-stage index, which otherwise has
  * only `ivfPqBuild` + a durable store. A batch commits only its DELTA
  * codes. The model is BOTH quantizers (coarse centroids, then residual
  * codebooks): the bootstrap trains them ([[Similarity.ivfPqBuild]]), and
  * minors and majors route + residual-encode under the standing pair
  * ([[Similarity.ivfPqEncodeWith]] — assignCells + float residuals + the
  * shared PQ encode kernel, all map-only); both stages commute with union.
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

  private[streaming] type Model = (Array[Array[Double]], Array[Array[Array[Double]]], Int)

  private[streaming] final class Roll(session: SparkSession, root: String,
      dim: Int, nCells: Int, m: Int, k: Int, coarseIters: Int, pqIters: Int,
      trainSample: Int, idCol: String = "", vecCol: String = "")
      extends QuantizerRoll[Similarity.IvfPqIndex, Model](session, root, "ivfpq") {
    protected val l1Codec = IndexStore.ivfPq
    protected val l1Params = Map("roll_dim" -> dim.toString,
      "roll_n_cells" -> nCells.toString,
      "roll_m" -> m.toString, "roll_k" -> k.toString,
      "roll_coarse_iters" -> coarseIters.toString,
      "roll_pq_iters" -> pqIters.toString,
      "roll_train_sample" -> trainSample.toString)
    protected val l0Tier = "l0_ivfpq_codes"

    override protected def train(corpus: DataFrame): Similarity.IvfPqIndex =
      Similarity.ivfPqBuild(corpus, idCol, vecCol, dim, nCells, m, k,
        coarseIters, pqIters, trainSample)
    protected def readModel(r: IndexStore.Reader): Model =
      (r.centroids, r.codebooks, r.int("sub_dim"))
    protected def model(i: Similarity.IvfPqIndex): Model =
      (i.centroids, i.codebooks, i.subDim)
    protected def encode(model: Model, batch: DataFrame): DataFrame =
      Similarity.ivfPqEncodeWith(model._1, model._2, model._3, batch, idCol,
        vecCol)
    protected def coded(i: Similarity.IvfPqIndex) = i.coded
    protected def withCoded(i: Similarity.IvfPqIndex, coded: DataFrame,
                            release: () => Unit) =
      i.copy(coded = coded, release = release)

    // the coarse-cell routing drift: the coded frame carries the cell
    // column (codes only, no raw vectors)
    protected def driftAudit(i: Similarity.IvfPqIndex, recent: DataFrame) =
      Similarity.driftAudit(Similarity.IvfIndex(i.centroids, i.nCells,
        i.coded, () => ()), recent, idCol, vecCol)
  }

  /** The ≤-2-tier reader view ([[TieredView]]): `index` is an ordinary
    * [[Similarity.IvfPqIndex]] whose coded frame is the newest committed
    * L1's plus the live L0 deltas above it. */
  type Tiered = TieredView[Similarity.IvfPqIndex]

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
    * at query time. `dim` is required: epochs are keyed by it, and a root
    * of another dim has no L1 to compact. */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, dim: Int,
                   nCells: Int = 8, m: Int = 4, k: Int = 8,
                   coarseIters: Int = 4, pqIters: Int = 4,
                   trainSample: Int = 10000): Option[Long] =
    new Roll(spark, root, dim, nCells, m, k, coarseIters, pqIters,
      trainSample).compact(tombstones, tombId, threshold)

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
      pqIters, trainSample, idCol, vecCol).retrain(corpus)

  /** [[retrainMajor]] gated on [[Similarity.driftAudit]] of a recent
    * arrival batch's coarse-cell routing against the tiered view: fires
    * when more than `maxDriftedCells` cells drift. */
  def retrainMajorIfDrifted(corpus: DataFrame, recent: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            maxDriftedCells: Int, dim: Int,
                            nCells: Int = 8, m: Int = 4, k: Int = 8,
                            coarseIters: Int = 4, pqIters: Int = 4,
                            trainSample: Int = 10000): Option[Long] =
    new Roll(corpus.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample, idCol, vecCol)
      .retrainIfDrifted(corpus, recent, maxDriftedCells)

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[TieredRoll.fold]], with optional
    * scheduled maintenance ([[TieredRoll.start]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String, dim: Int,
            nCells: Int = 8, m: Int = 4, k: Int = 8,
            coarseIters: Int = 4, pqIters: Int = 4,
            trainSample: Int = 10000, majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, dim, nCells, m, k, coarseIters,
      pqIters, trainSample, idCol, vecCol).start(vectors, checkpointDir,
      trigger, majorEvery, maintenance)(identity)
}
