package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the VECTOR (IVF) family on the shared
  * [[QuantizerRoll]]: a batch commits only its delta assignment, never an
  * O(|corpus|) full-assignment rewrite. The model is the coarse quantizer:
  * the bootstrap trains it ([[Similarity.ivfBuild]]), and minors and
  * majors assign under the standing centroids ([[Similarity.assignCells]]
  * — one broadcast-map pass, no training, no shuffle).
  *
  * Readers ([[loadCurrent]] → [[Tiered]]) get an ordinary
  * [[Similarity.IvfIndex]]: every probe in the family works on the tiered
  * view unchanged, bit-identical to the flat [[Similarity.ivfAppend]]
  * chain (v27's oracle certifies the lifecycle against a from-scratch
  * replay). Centroids are the bootstrap batch's k-means optimum, the
  * [[Similarity.ivfAppend]] contract; [[retrainMajorIfDrifted]] is the
  * maintenance window's fix. Epochs are keyed by the REQUESTED model shape. */
object VectorTieredStream {

  private[streaming] final class Roll(session: SparkSession, root: String,
      nCells: Int, trainSample: Int, iters: Int,
      idCol: String = "", vecCol: String = "")
      extends QuantizerRoll[Similarity.IvfIndex, Array[Array[Double]]](
        session, root, "vector") {
    protected val l1Codec = IndexStore.ivf
    protected val l1Params = Map("roll_n_cells" -> nCells.toString,
      "roll_train_sample" -> trainSample.toString,
      "roll_iters" -> iters.toString)
    protected val l0Tier = "l0_assigned"

    override protected def train(corpus: DataFrame): Similarity.IvfIndex =
      Similarity.ivfBuild(corpus, idCol, vecCol, nCells, trainSample, iters)
    protected def readModel(r: IndexStore.Reader) = r.centroids
    protected def model(i: Similarity.IvfIndex) = i.centroids
    protected def encode(centroids: Array[Array[Double]],
                         batch: DataFrame): DataFrame =
      Similarity.assignCells(batch, idCol, vecCol, centroids)
    protected def coded(i: Similarity.IvfIndex) = i.assigned
    protected def withCoded(i: Similarity.IvfIndex, coded: DataFrame,
                            release: () => Unit) =
      i.copy(assigned = coded, release = release)

    protected def driftAudit(i: Similarity.IvfIndex, recent: DataFrame) =
      Similarity.driftAudit(i, recent, idCol, vecCol)
  }

  /** The ≤-2-tier reader view ([[TieredView]]): `index` is an ordinary
    * [[Similarity.IvfIndex]] whose assignment is the newest committed
    * L1's plus the live L0 deltas above it. */
  type Tiered = TieredView[Similarity.IvfIndex]

  /** Load the newest committed tiered view; `None` before the bootstrap
    * L1 commits. Zero Spark jobs until the assignment is probed. */
  def loadCurrent(spark: SparkSession, root: String,
                  nCells: Int = 16, trainSample: Int = 10000, iters: Int = 8)
      : Option[Tiered] =
    new Roll(spark, root, nCells, trainSample, iters).loadCurrent

  /** Fold ONE batch of embeddings (`idCol` numeric, `vecCol`
    * array&lt;float&gt; — the [[Similarity.ivfBuild]] contract) through
    * [[TieredRoll.fold]]. */
  def foldBatch(batch: DataFrame, idCol: String, vecCol: String,
                root: String, batchId: Long,
                nCells: Int = 16, trainSample: Int = 10000, iters: Int = 8,
                majorEvery: Int = 8): BatchOutcome =
    new Roll(batch.sparkSession, root, nCells, trainSample, iters, idCol,
      vecCol).fold(batch, batchId, majorEvery)

  /** Maintenance-window PHYSICAL tombstone compaction ([[TieredRoll.compact]]):
    * the tombstoned ids dropped from the merged assignment
    * ([[Similarity.ivfCompact]] — centroids untouched). `None` below
    * `threshold` (dead share of stored rows) or when no dead id is
    * stored. */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, nCells: Int = 16,
                   trainSample: Int = 10000, iters: Int = 8): Option[Long] =
    new Roll(spark, root, nCells, trainSample, iters)
      .compact(tombstones, tombId, threshold)

  /** Maintenance-window MODEL RETRAIN ([[TieredRoll.retrainIfDrifted]]):
    * fresh centroids trained over the caller-supplied retained corpus
    * ([[Similarity.ivfBuild]]) and the re-assigned index committed as a
    * new L1 generation — retraining is a deliberate maintenance window
    * (or [[MaintenancePolicy]]'s drift trigger), never an ingest step.
    * Gated on [[Similarity.driftAudit]] over the tiered view vs a recent
    * arrival batch: fires when more than `maxDriftedCells` cells drift. */
  def retrainMajorIfDrifted(corpus: DataFrame, recent: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            maxDriftedCells: Int, nCells: Int = 16,
                            trainSample: Int = 10000,
                            iters: Int = 8): Option[Long] =
    new Roll(corpus.sparkSession, root, nCells, trainSample, iters, idCol,
      vecCol).retrainIfDrifted(corpus, recent, maxDriftedCells)

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[TieredRoll.fold]]. `maintenance`
    * opts into scheduled compaction and drift-gated retrain after data
    * majors ([[TieredRoll.start]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String,
            nCells: Int = 16, trainSample: Int = 10000, iters: Int = 8,
            majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, nCells, trainSample, iters, idCol,
      vecCol).start(vectors, checkpointDir, trigger, majorEvery,
      maintenance)(identity)
}
