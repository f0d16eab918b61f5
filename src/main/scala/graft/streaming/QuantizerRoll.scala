package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Checkpoints, IndexStore, Similarity}

/** The one [[TieredRoll]] of the three quantizer families (IVF, PQ,
  * IVFADC), whose L1 is a trained model `M` plus the corpus coded under
  * it. It rests on one fact: encoding under a FIXED quantizer commutes
  * with union. So
  *
  *  - **Bootstrap**: the first non-empty batch trains the model (the
  *    family's [[train]], at the batch's measured width — its k-means
  *    aggregates are sample/|Δ|-sized) and commits the first L1; minors
  *    need a standing model to encode against.
  *  - **L0 (minor)**: the batch encoded under the STANDING model, read off
  *    the newest L1's meta ([[readModel]] — no persisted handle), map-only.
  *  - **L1 (major)**: the standing codes unioned with the live deltas and
  *    the batch encoded under the SAME model — zero re-encode work, and
  *    the union IS the full coded corpus.
  *  - **View**: the L1 index with the live L0 deltas unioned into its
  *    coded frame ([[TieredView]]), so every probe and drift audit of
  *    the family works on the tiered view unchanged, bit-identical to the
  *    flat build + append chain over the same batches.
  *  - **Compaction**: deletion commutes too — the survivor codes under the
  *    untouched model, no re-encode.
  *
  * A family supplies its build, its model (from a meta reader and from a
  * loaded index), its encode under a model, its coded frame's getter and
  * copy, and its drift audit. */
private[streaming] abstract class QuantizerRoll[I, M](
    session: SparkSession, root: String, family: String)
    extends TieredRoll[I, TieredView[I]](session, root, family) {

  protected val bootstraps = true
  override protected def retrains: Boolean = true

  /** The standing model off an L1 meta (a zero-job model-only read). */
  protected def readModel(r: IndexStore.Reader): M
  /** The model of a loaded index. */
  protected def model(index: I): M
  /** `batch`'s rows coded under `model`: the family's one encode kernel. */
  protected def encode(model: M, batch: DataFrame): DataFrame
  /** The index's coded frame. */
  protected def coded(index: I): DataFrame
  /** `index` over another coded frame, released by `release`. */
  protected def withCoded(index: I, coded: DataFrame, release: () => Unit): I
  /** The family's drift audit of `recent` against `index` (a `drifted`
    * flag per model cell). */
  protected def driftAudit(index: I, recent: DataFrame): DataFrame

  protected def releaseView(v: TieredView[I]): Unit = v.release()

  protected def view(t: TieredRoll.Tiers[I]): TieredView[I] = {
    val l1 = t.l1.get
    val release = () => l1Codec.release(l1)
    TieredView(t.epochId, withCoded(l1,
      t.l0Frames.foldLeft(coded(l1))(_ unionByName _), release), t.liveL0, release)
  }

  override protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                                   note: String): Unit =
    commit(train(Checkpoints.sized(delta, n)), dir, note)

  protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                      standing: Option[Long])(save: DataFrame => Unit): Unit =
    save(encode(standing
      .flatMap(id => IndexStore.committed(spark, l1Codec, l1Dir(id), l1Params))
      .map(readModel).getOrElse(sys.error(
        s"$family tier: standing L1 epoch=${standing.mkString} vanished mid-fold")),
      delta))

  protected def major(t: TieredRoll.Tiers[I], delta: DataFrame, n: => Long,
                      epochId: Long, dir: String, note: String): Unit = {
    val idx = view(t).index
    commit(withCoded(idx, coded(idx).unionByName(encode(model(idx), delta)),
      () => ()), dir, note)
  }

  override protected def drifted(v: TieredView[I], recent: DataFrame): Long =
    driftAudit(v.index, recent).filter(col("drifted")).count()

  override protected def compactKernel(v: TieredView[I], tombstones: DataFrame,
      tombId: String, threshold: Double): Option[I] =
    Similarity.compactFrame(coded(v.index), tombstones, tombId, threshold,
      persist = true).map { case (live, release) => withCoded(v.index, live, release) }
}
