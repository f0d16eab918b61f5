package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Checkpoints, IndexStore, Similarity}

/** TIERED (L0/L1) epoch commits for the VECTOR (IVF) family on the shared
  * [[TieredRoll]] — its crash matrix, retention and epoch-id contract —
  * closing the O(|corpus|) full-assignment rewrite per batch that
  * [[VectorEpochStream]] pays for durability.
  *
  *  - **Bootstrap**: the first non-empty batch trains the coarse quantizer
  *    ([[Similarity.ivfBuild]]) and commits the first L1 — minors need
  *    standing centroids to assign against.
  *  - **L0 (minor)**: the batch assigned under the STANDING centroids
  *    ([[Similarity.assignCells]] — one broadcast-map pass, no training,
  *    no shuffle); only the tiny centroid model is loaded
  *    ([[IndexStore.loadIvfCentroids]]), no persistent handles.
  *  - **L1 (major)**: the standing assignment unioned with the live deltas
  *    and the batch — SAME centroids, and assignment under a fixed
  *    quantizer commutes, so the union IS the full assignment with zero
  *    re-assignment work.
  *
  * Readers ([[loadCurrent]] → [[Tiered]]) get an ordinary
  * [[Similarity.IvfIndex]]: every probe in the family works on the tiered
  * view unchanged, bit-identical to the flat [[Similarity.ivfAppend]]
  * chain (v27's oracle certifies the lifecycle against a from-scratch
  * replay). Centroids are the bootstrap batch's k-means optimum, the
  * [[Similarity.ivfAppend]] contract; [[retrainMajor]] is the maintenance
  * window's fix. Epochs are keyed by the REQUESTED model shape. */
object VectorTieredStream {

  private[streaming] final class Roll(spark: SparkSession, root: String,
      nCells: Int, trainSample: Int, iters: Int,
      idCol: String = "", vecCol: String = "")
      extends TieredRoll[Similarity.IvfIndex, Tiered](spark, root, "vector") {
    private val pm = Map("roll_n_cells" -> nCells.toString,
      "roll_train_sample" -> trainSample.toString,
      "roll_iters" -> iters.toString)
    protected val bootstraps = true
    protected val l0Params: Map[String, String] = pm + ("tier" -> "l0_assigned")
    protected def l1Committed(dir: String): Boolean =
      IndexStore.ivfIndexMeta(spark, dir, pm).isDefined
    protected def loadL1(dir: String): Option[Similarity.IvfIndex] =
      IndexStore.loadIvfIndex(spark, dir, expectedParams = pm)
    protected def saveL1(l1: Similarity.IvfIndex, dir: String, note: String): Unit =
      IndexStore.saveIvfIndex(spark, l1, dir, note, pm)
    protected def releaseL1(l1: Similarity.IvfIndex): Unit = l1.release()

    protected def view(t: TieredRoll.Tiers[Similarity.IvfIndex]): Tiered = {
      val l1 = t.l1.get
      Tiered(t.epochId,
        l1.copy(assigned = t.l0Frames.foldLeft(l1.assigned)(_ unionByName _)),
        t.liveL0, l1.release)
    }

    // Lloyd's per-iteration aggregates are sample/|Δ|-sized, so the build
    // runs under the measured-width window (minors and majors have no
    // shuffle to size)
    override protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                                     note: String): Unit =
      Checkpoints.withDeltaWindow(spark, n)(commit(Similarity.ivfBuild(delta,
        idCol, vecCol, nCells, trainSample, iters), dir, note))

    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit =
      save(Similarity.assignCells(delta, idCol, vecCol,
        standingModel(standing)(IndexStore.loadIvfCentroids(spark, _, pm))))

    protected def major(t: TieredRoll.Tiers[Similarity.IvfIndex],
                        delta: DataFrame, n: => Long, epochId: Long,
                        dir: String, note: String): Unit = {
      val idx = view(t).index
      commit(idx.copy(assigned = idx.assigned.unionByName(
        Similarity.assignCells(delta, idCol, vecCol, idx.centroids)),
        release = () => ()), dir, note)
    }
  }

  /** Committed L1 epoch ids, newest first. Listing + marker peek only. */
  def l1Epochs(spark: SparkSession, root: String,
               nCells: Int, trainSample: Int = 10000, iters: Int = 8): Seq[Long] =
    new Roll(spark, root, nCells, trainSample, iters).l1Epochs

  /** Committed L0 epoch ids, newest first. */
  def l0Epochs(spark: SparkSession, root: String,
               nCells: Int, trainSample: Int = 10000, iters: Int = 8): Seq[Long] =
    new Roll(spark, root, nCells, trainSample, iters).l0Epochs

  /** The ≤-2-tier reader view: `index` is an ordinary
    * [[Similarity.IvfIndex]] whose assignment is the newest committed
    * L1's plus the live L0 deltas above it (lazy union — the deltas are
    * zero-job stage reads). Probe it with any of the family's probes;
    * `release()` frees the L1 handle. */
  final case class Tiered(
      epochId: Long,
      index: Similarity.IvfIndex,
      liveL0s: Seq[Long],
      release: () => Unit)

  /** The id [[loadCurrent]] would return (listing + marker peeks only). */
  def currentEpochId(spark: SparkSession, root: String,
                     nCells: Int = 16, trainSample: Int = 10000,
                     iters: Int = 8): Option[Long] =
    new Roll(spark, root, nCells, trainSample, iters).currentEpochId

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
    new Roll(spark, root, nCells, trainSample, iters).compact(v =>
      Similarity.ivfCompact(v.index.copy(release = () => ()), tombstones,
        tombId, threshold))

  /** Maintenance-window MODEL RETRAIN ([[TieredRoll.retrain]]): fresh
    * centroids trained over the caller-supplied retained corpus
    * ([[Similarity.ivfBuild]]) and the re-assigned index committed as a
    * new L1 generation. The flat [[VectorEpochStream]] retrains inline;
    * here retraining is a deliberate maintenance window. `None` when no
    * generation is standing. */
  def retrainMajor(corpus: DataFrame, idCol: String, vecCol: String,
                   root: String, nCells: Int = 16, trainSample: Int = 10000,
                   iters: Int = 8): Option[Long] =
    new Roll(corpus.sparkSession, root, nCells, trainSample, iters).retrain(
      Similarity.ivfBuild(corpus, idCol, vecCol, nCells, trainSample, iters))

  /** [[retrainMajor]] gated on [[Similarity.driftAudit]] over the tiered
    * view vs a recent arrival batch: fires when more than
    * `maxDriftedCells` cells drift. */
  def retrainMajorIfDrifted(corpus: DataFrame, recent: DataFrame,
                            idCol: String, vecCol: String, root: String,
                            maxDriftedCells: Int, nCells: Int = 16,
                            trainSample: Int = 10000,
                            iters: Int = 8): Option[Long] =
    new Roll(corpus.sparkSession, root, nCells, trainSample, iters)
      .retrainIfDrifted(maxDriftedCells)(v => Similarity.driftAudit(v.index,
        recent, idCol, vecCol).filter(col("drifted")).count())(
        Similarity.ivfBuild(corpus, idCol, vecCol, nCells, trainSample, iters))

  /** Start the tiered roll: `vectors` (a streaming frame with
    * `idCol`/`vecCol`) → per-batch [[foldBatch]]. `maintenance` opts into
    * scheduled compaction and drift-gated retrain after data majors
    * ([[MaintenancePolicy]]); `recent` for the drift gate is the batch
    * that triggered the major. */
  def start(vectors: DataFrame, idCol: String, vecCol: String,
            root: String, checkpointDir: String,
            nCells: Int = 16, trainSample: Int = 10000, iters: Int = 8,
            majorEvery: Int = 8,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(vectors.sparkSession, root, nCells, trainSample, iters)
      .start(vectors, checkpointDir, trigger, maintenance)(
        foldBatch(_, idCol, vecCol, root, _, nCells, trainSample, iters,
          majorEvery)) { (p, batch) =>
        p.tombstones.foreach(ts => compactMajor(batch.sparkSession, root,
          ts(), p.tombId, p.threshold, nCells, trainSample, iters))
        p.retrainCorpus.foreach(c => retrainMajorIfDrifted(c(), batch, idCol,
          vecCol, root, p.maxDrifted, nCells, trainSample, iters))
      }
}
