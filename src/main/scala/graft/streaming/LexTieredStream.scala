package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Checkpoints, IndexStore, Postings}

/** TIERED (L0/L1) epoch commits for the LEXICAL (BM25 postings) family on
  * the shared [[TieredRoll]]: a batch commits its delta, never an
  * O(|corpus postings|) rewrite. Unlike the other families a lex batch can
  * EDIT or DELETE standing documents, so tiers must shadow, not just
  * append.
  *
  *  - **Bootstrap**: the first non-empty batch builds and commits the
  *    first L1 ([[Postings.build]]).
  *  - **L0 (minor)**: the batch as a self-contained [[Postings.tierFrame]]
  *    — per-doc postings with token-free docs as explicit NULL tombstone
  *    rows — an O(|Δ|) tokenize + write that reads no standing state.
  *  - **L1 (major)**: the standing L1 merged with the live tiers and the
  *    batch by [[Postings.mergeTiers]] (sequential foldDocs semantics:
  *    tier docs shadow standing, newest tier wins).
  *  - **Ids**: raw batch ids — deletes ride tombstone rows inside data
  *    epochs, so this tier has no maintenance writer and no stride.
  *
  * Readers ([[loadCurrent]] → [[Tiered]]) get an ordinary
  * [[Postings.Index]]; because [[Postings.mergeTiers]] replays the foldDocs
  * chain exactly, ranked answers equal a `Postings.build` + `foldDocs`
  * chain over the same batches (t40's oracle
  * certifies the lifecycle, edits and deletes included). Unlike the other
  * tiered reads, a lex load pays THREE doc-grain jobs (the closed-form
  * nDocs/sumDl stats must be exact Longs); probes after the load are
  * plan-only. */
object LexTieredStream {

  /** Window sizing for doc-count-based widths: tokenization amplifies a
    * doc row ~100× (whitespace tokens), so ~5k docs/partition keeps the
    * post-tokenize shuffles near the default 500k-rows/partition target
    * of [[Checkpoints.partitionsForRows]]. */
  private val DocsPerPartition = 5000L

  // every fold shuffle is |Δ|-sized by design (minors never read standing
  // state; the major's standing side moves through broadcast anti-joins or
  // lazy unions), so each write runs at a measured width — the major
  // sized by standing+delta docs, so a grown corpus self-widens (and
  // re-enables AQE) instead of inheriting a delta-sized width
  private[streaming] final class Roll(session: SparkSession, root: String)
      extends TieredRoll[Postings.Index, Tiered](session, root, "lex") {
    protected val bootstraps = true
    override protected val strided = false
    protected val l1Codec = IndexStore.postings
    protected val l1Params = Map("tokenizer" -> "ws")
    protected val l0Tier = "l0_postings"
    protected def releaseView(v: Tiered): Unit = v.release()

    protected def view(t: TieredRoll.Tiers[Postings.Index]): Tiered = {
      val l1 = t.l1.get
      val merged = Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Postings.mergeTiers(l1, t.l0))
      TieredView(t.epochId, merged, t.liveL0,
        () => { merged.release(); l1.release() })
    }

    override protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                                     note: String): Unit =
      commit(Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Postings.build(Checkpoints.sized(delta, n, DocsPerPartition))), dir, note)

    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit =
      save(Postings.tierFrame(Checkpoints.sized(delta, n, DocsPerPartition)))

    // major width: standing docs (free off the loaded L1's meta stats) +
    // this delta — the committed tf/dl rewrite reads the corpus, so the
    // sizing stops lowering anything once the index outgrows a few floors.
    // The merge's shuffles start from the standing tf/dl and the tier
    // union, so all of them are bound.
    protected def major(t: TieredRoll.Tiers[Postings.Index], delta: DataFrame,
                        n: => Long, epochId: Long, dir: String,
                        note: String): Unit = {
      val l1 = t.l1.get
      val rows = l1.nDocs + n
      def bind(df: DataFrame) = Checkpoints.sized(df, rows, DocsPerPartition)
      commit(Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Postings.mergeTiers(l1.copy(tf = bind(l1.tf), dl = bind(l1.dl)),
          (t.l0 :+ (epochId -> Postings.tierFrame(delta)))
            .map { case (e, f) => e -> bind(f) })), dir, note)
    }
  }

  /** The ≤-2-tier reader view ([[TieredView]]): `index` is an ordinary
    * [[Postings.Index]] (the newest committed L1 merged with the live L0
    * tiers above it, foldDocs semantics). `release()` frees the merge's
    * persist AND the underlying L1 handle. */
  type Tiered = TieredView[Postings.Index]

  /** Load the newest committed tiered view; `None` before the bootstrap
    * L1 commits. Pays the mergeTiers stats jobs when live L0s exist
    * (zero jobs otherwise). */
  def loadCurrent(spark: SparkSession, root: String): Option[Tiered] =
    new Roll(spark, root).loadCurrent

  /** Fold ONE batch of documents (`doc_id`, `text` columns) through
    * [[TieredRoll.fold]]. */
  def foldBatch(docsBatch: DataFrame, root: String, batchId: Long,
                majorEvery: Int = 8): BatchOutcome =
    new Roll(docsBatch.sparkSession, root).fold(docsBatch, batchId, majorEvery)

  /** Start the tiered roll: `docs` (a streaming `(doc_id, text)` frame) →
    * per-batch [[foldBatch]] → committed L0/L1 epochs under `root`. */
  def start(docs: DataFrame, root: String, checkpointDir: String,
            majorEvery: Int = 8,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(docs.sparkSession, root).start(docs, checkpointDir, trigger,
      majorEvery, None)(identity)
}
