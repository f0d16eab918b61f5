package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the PQ family on the shared
  * [[QuantizerRoll]]: a batch commits only its DELTA codes, never an
  * O(|corpus codes|) rewrite. The model is the per-subspace codebooks: the
  * bootstrap trains them ([[Similarity.pqBuild]]), and minors and majors
  * encode under the standing m·k codebooks ([[Similarity.pqEncodeWith]] —
  * the one shared encode kernel, map-only).
  *
  * Readers ([[loadCurrent]] → [[Tiered]]) get an ordinary
  * [[Similarity.PqIndex]] — ADC probes and drift audits work on the
  * tiered view unchanged, codes bit-identical to the `pqBuild` +
  * `pqAppend` chain over the same batches (v28's oracle certifies the
  * lifecycle).
  * Epochs store int8 CODES ONLY, so the standing state cannot re-derive
  * training vectors: retraining is [[retrainMajorIfDrifted]] over the retained
  * source corpus. Parameter-keyed epochs (`roll_dim/m/k/iters/train_sample`). */
object PqTieredStream {

  /** The codebooks and their subspace width. */
  private[streaming] type Model = (Array[Array[Array[Double]]], Int)

  private[streaming] final class Roll(session: SparkSession, root: String,
      dim: Int, m: Int, k: Int, iters: Int, trainSample: Int,
      idCol: String = "", vecCol: String = "")
      extends QuantizerRoll[Similarity.PqIndex, Model](session, root, "pq") {
    protected val l1Codec = IndexStore.pq
    protected val l1Params = Map("roll_dim" -> dim.toString, "roll_m" -> m.toString,
      "roll_k" -> k.toString, "roll_iters" -> iters.toString,
      "roll_train_sample" -> trainSample.toString)
    protected val l0Tier = "l0_codes"

    override protected def train(corpus: DataFrame): Similarity.PqIndex =
      Similarity.pqBuild(corpus, idCol, vecCol, dim, m, k, iters, trainSample)
    protected def readModel(r: IndexStore.Reader): Model =
      (r.codebooks, r.int("sub_dim"))
    protected def model(i: Similarity.PqIndex): Model = (i.codebooks, i.subDim)
    protected def encode(model: Model, batch: DataFrame): DataFrame =
      Similarity.pqEncodeWith(model._1, model._2, batch, idCol, vecCol)
    protected def coded(i: Similarity.PqIndex) = i.encoded
    protected def withCoded(i: Similarity.PqIndex, coded: DataFrame,
                            release: () => Unit) =
      i.copy(encoded = coded, release = release)

    protected def driftAudit(i: Similarity.PqIndex, recent: DataFrame) =
      Similarity.pqDriftAudit(i, recent, idCol, vecCol)
  }

  /** The ≤-2-tier reader view ([[TieredView]]): `index` is an ordinary
    * [[Similarity.PqIndex]] whose encoded frame is the newest committed
    * L1's plus the live L0 deltas above it. */
  type Tiered = TieredView[Similarity.PqIndex]

  /** Load the newest committed tiered view; `None` before the bootstrap
    * L1 commits. Zero Spark jobs until the codes are probed. */
  def loadCurrent(spark: SparkSession, root: String, dim: Int,
                  m: Int = 4, k: Int = 8, iters: Int = 4,
                  trainSample: Int = 10000): Option[Tiered] =
    new Roll(spark, root, dim, m, k, iters, trainSample).loadCurrent

  /** Fold ONE batch of embeddings (`idCol` numeric, `vecCol`
    * array&lt;float&gt; — the [[Similarity.pqBuild]] contract) through
    * [[TieredRoll.fold]]. */
  def foldBatch(batch: DataFrame, idCol: String, vecCol: String,
                root: String, batchId: Long, dim: Int,
                m: Int = 4, k: Int = 8, iters: Int = 4,
                trainSample: Int = 10000,
                majorEvery: Int = 8): BatchOutcome =
    new Roll(batch.sparkSession, root, dim, m, k, iters, trainSample, idCol,
      vecCol).fold(batch, batchId, majorEvery)

  /** Maintenance-window PHYSICAL tombstone compaction ([[TieredRoll.compact]]):
    * the tombstoned ids dropped from the merged codes
    * ([[Similarity.pqCompact]] — codebooks untouched). `None` below
    * `threshold` (dead share of stored codes) or when no dead id is
    * stored. `dim` is required: epochs are keyed by it, and a root of
    * another dim has no L1 to compact. */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, dim: Int,
                   m: Int = 4, k: Int = 8, iters: Int = 4,
                   trainSample: Int = 10000): Option[Long] =
    new Roll(spark, root, dim, m, k, iters, trainSample)
      .compact(tombstones, tombId, threshold)

  /** Maintenance-window MODEL RETRAIN ([[TieredRoll.retrainIfDrifted]]):
    * fresh codebooks over the caller-supplied retained corpus
    * ([[Similarity.pqBuild]] — raw vectors come from the corpus of record)
    * and the re-encoded index committed as a new L1 generation. Gated on
    * [[Similarity.pqDriftAudit]] (the recent batch encoded under the
    * standing codebooks, per-subspace code shares compared): fires when
    * more than `maxDriftedCodes` (subspace, code) cells drift. */
  def retrainMajorIfDrifted(corpus: DataFrame, recent: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            maxDriftedCodes: Int, dim: Int,
                            m: Int = 4, k: Int = 8, iters: Int = 4,
                            trainSample: Int = 10000): Option[Long] =
    new Roll(corpus.sparkSession, root, dim, m, k, iters, trainSample, idCol,
      vecCol).retrainIfDrifted(corpus, recent, maxDriftedCodes)

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[TieredRoll.fold]], with optional
    * scheduled maintenance ([[TieredRoll.start]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String, dim: Int,
            m: Int = 4, k: Int = 8, iters: Int = 4,
            trainSample: Int = 10000, majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, dim, m, k, iters, trainSample, idCol,
      vecCol).start(vectors, checkpointDir, trigger, majorEvery,
      maintenance)(identity)
}
