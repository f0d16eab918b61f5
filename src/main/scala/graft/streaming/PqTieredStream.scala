package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Checkpoints, IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the PQ family on the shared
  * [[TieredRoll]]: a batch commits only its DELTA codes, never an
  * O(|corpus codes|) rewrite.
  *
  *  - **Bootstrap**: the first non-empty batch trains the per-subspace
  *    codebooks ([[Similarity.pqBuild]]) and commits the first L1 —
  *    minors need standing codebooks to encode against.
  *  - **L0 (minor)**: the batch encoded under the STANDING codebooks
  *    ([[Similarity.pqEncodeWith]] — the one shared encode kernel,
  *    map-only); only the m·k codebook model is loaded
  *    ([[IndexStore.Reader.codebooks]]), no persistent handles.
  *  - **L1 (major)**: the standing codes unioned with the live deltas and
  *    the batch — SAME codebooks, encoding under a fixed quantizer
  *    commutes, zero re-encode work.
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

  private[streaming] final class Roll(spark: SparkSession, root: String,
      dim: Int, m: Int, k: Int, iters: Int, trainSample: Int,
      idCol: String = "", vecCol: String = "")
      extends TieredRoll[Similarity.PqIndex, Tiered](spark, root, "pq") {
    protected val l1Codec = IndexStore.pq
    protected val l1Params = Map("roll_dim" -> dim.toString, "roll_m" -> m.toString,
      "roll_k" -> k.toString, "roll_iters" -> iters.toString,
      "roll_train_sample" -> trainSample.toString)
    protected val bootstraps = true
    protected val l0Params: Map[String, String] = l1Params + ("tier" -> "l0_codes")
    protected def releaseView(v: Tiered): Unit = v.release()

    protected def view(t: TieredRoll.Tiers[Similarity.PqIndex]): Tiered = {
      val l1 = t.l1.get
      Tiered(t.epochId,
        l1.copy(encoded = t.l0Frames.foldLeft(l1.encoded)(_ unionByName _)),
        t.liveL0, l1.release)
    }

    // per-subspace k-means aggregates are sample-sized: the build runs
    // under the measured width (minors/majors encode map-side)
    override protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                                     note: String): Unit =
      commit(Similarity.pqBuild(Checkpoints.sized(delta, n),
        idCol, vecCol, dim, m, k, iters, trainSample), dir, note)

    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit = {
      val (codebooks, subDim) =
        standingModel(standing)(r => (r.codebooks, r.int("sub_dim")))
      save(Similarity.pqEncodeWith(codebooks, subDim, delta, idCol, vecCol))
    }

    protected def major(t: TieredRoll.Tiers[Similarity.PqIndex],
                        delta: DataFrame, n: => Long, epochId: Long,
                        dir: String, note: String): Unit = {
      val idx = view(t).index
      commit(idx.copy(encoded = idx.encoded.unionByName(Similarity.pqEncodeWith(
        idx.codebooks, idx.subDim, delta, idCol, vecCol)), release = () => ()),
        dir, note)
    }
  }

  /** The ≤-2-tier reader view: `index` is an ordinary
    * [[Similarity.PqIndex]] whose encoded frame is the newest committed
    * L1's plus the live L0 deltas above it (lazy union — the deltas are
    * zero-job stage reads). `release()` frees the L1 handle. */
  final case class Tiered(
      epochId: Long,
      index: Similarity.PqIndex,
      liveL0s: Seq[Long],
      release: () => Unit)

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
    * stored. */
  def compactMajor(spark: SparkSession, root: String,
                   tombstones: DataFrame, tombId: String,
                   threshold: Double = 0.0, dim: Int = 64,
                   m: Int = 4, k: Int = 8, iters: Int = 4,
                   trainSample: Int = 10000): Option[Long] =
    new Roll(spark, root, dim, m, k, iters, trainSample).compact(v =>
      Similarity.pqCompact(v.index.copy(release = () => ()), tombstones,
        tombId, threshold))

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
    new Roll(corpus.sparkSession, root, dim, m, k, iters, trainSample)
      .retrainIfDrifted(maxDriftedCodes)(v => Similarity.pqDriftAudit(v.index,
        recent, idCol, vecCol).filter(col("drifted")).count())(
        Similarity.pqBuild(corpus, idCol, vecCol, dim, m, k, iters,
          trainSample))

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[foldBatch]], with optional scheduled
    * maintenance ([[MaintenancePolicy]]). */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String, dim: Int,
            m: Int = 4, k: Int = 8, iters: Int = 4,
            trainSample: Int = 10000, majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, dim, m, k, iters, trainSample)
      .start(vectors, checkpointDir, trigger, maintenance)(
        foldBatch(_, idCol, vecCol, root, _, dim, m, k, iters, trainSample,
          majorEvery)) { (p, batch) =>
        p.tombstones.foreach(ts => compactMajor(batch.sparkSession, root,
          ts(), p.tombId, p.threshold, dim, m, k, iters, trainSample))
        p.retrainCorpus.foreach(c => retrainMajorIfDrifted(c(), batch, idCol,
          vecCol, root, p.maxDrifted, dim, m, k, iters, trainSample))
      }
}
