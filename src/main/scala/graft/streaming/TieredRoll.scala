package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IndexStore

/** The ONE tiered (L0/L1) epoch roll under the seven index families'
  * `*TieredStream` objects (graph, vector, lexical, PQ, IVFADC, media,
  * signature), and the only roll design: a batch commits only its DELTA.
  * The tier contract lives here once: the crash matrix, retention, epoch
  * ids, serving, the streaming wrapper and its scheduled maintenance; a
  * family's roll supplies only its codec and kernels (the three quantizer
  * families through one [[QuantizerRoll]]).
  *
  *  - **L0 (minor)**: the batch, encoded by the family, lands as its own
  *    committed stage epoch under `root/l0/epoch=<id>` — an O(|Δ|) write.
  *  - **L1 (major)**: every `majorEvery`-th live delta merges the standing
  *    L1, every live L0 and the batch into a full index under
  *    `root/l1/epoch=<id>`. Amortized per-batch rewrite cost drops from
  *    O(|corpus|) to O(|corpus| / majorEvery + |Δ|).
  *  - **Bootstrap** (families whose minors encode against a standing
  *    model: vector, PQ, IVFADC, lexical): the first non-empty batch builds
  *    and commits the first L1. The other families serve from L0s alone
  *    until their first major.
  *
  * Readers ([[loadCurrent]]) merge ≤ 2 tiers: the newest committed L1 plus
  * the live L0s above it. [[currentEpochId]] is the serving pin's zero-job
  * staleness check (listing + marker peeks): a minor OR a major bumps it.
  * The roll serves its own index: [[pin]] is the only [[EpochPin]] built
  * over a root, and [[answer]] / [[serve]] run a family's probe plan under
  * it, so a `*ServeStream` is its plan and nothing else.
  *
  * EPOCH IDS: data epochs sit at [[TierIds.dataEpoch]] strides and
  * maintenance majors ([[compact]], [[retrain]]) commit at the current
  * epoch + 1, strictly between two data epochs, so a maintenance commit
  * can never take the next batch's id; every strided fold stamps/requires
  * the root's layout marker ([[TierIds.ensureStrideLayout]]). The lexical
  * tier keeps raw batch ids — its deletes ride tombstone rows inside data
  * epochs, so it has no out-of-band writer.
  *
  * CRASH MATRIX — each epoch's IndexStore meta is its commit marker,
  * written last:
  *  - crash mid-L0 write → no marker → the dir is invisible, and the
  *    replayed batch re-encodes deterministically and overwrites it;
  *  - crash mid-L1 major → no marker → the standing L1 and every L0 it was
  *    merging are still live (pruning runs only after the commit) → the
  *    replay merges again and overwrites;
  *  - crash after either commit, before the stream checkpoint → the
  *    replayed batch finds its marker in one of the tiers and returns
  *    `Skipped`: a delta is never applied twice;
  *  - a listed committed epoch that fails to load on the fold or
  *    maintenance path fails loudly — it would otherwise be silently
  *    absent from the new L1 (durable data loss); readers tolerate the
  *    listing race.
  *
  * RETENTION: L1 keeps 2 generations, and a major prunes only L0s ≤ the
  * PREVIOUS L1's id, so a reader pinned to generation N−1 (its L1 and its
  * L0s) survives one subsequent major. Epochs are parameter-keyed: meta
  * records the family's params map, and readers with other params see no
  * epochs rather than a chain built under someone else's model. Single
  * writer; concurrent writers need an external lock.
  *
  * MAINTENANCE: [[compact]] (the family's tombstone kernel), [[retrain]]
  * and [[retrainIfDrifted]] (the model families' build and drift
  * measure) commit through the major path, and [[start]] runs them on a
  * [[MaintenancePolicy]]'s cadence, so no family wires a policy itself.
  *
  * Every epoch is an [[IndexStore]] store: L0s through
  * [[IndexStore.stage]] under `l1Params` retagged `tier -> l0Tier`, L1s
  * through the family's `l1Codec` under `l1Params`, so the core does
  * every marker peek, load, save and release. A subclass supplies the rest of the family: the
  * reader view and its release, the minor's delta encode, the major's
  * merge, the optional bootstrap build and its maintenance kernels. One
  * instance serves one (session, root, params) call. */
private[streaming] abstract class TieredRoll[L1, T](
    private var session: SparkSession, root: String, family: String) {

  import BatchOutcome._
  import TieredRoll.Tiers

  /** The session every read and write runs under: the constructor's, and
    * in [[start]] each micro-batch's own (the stream's clone, whose conf
    * the batch's plans were built under). */
  protected final def spark: SparkSession = session

  // ---- the codec

  /** Minors encode against a standing L1 model, so the first non-empty
    * batch builds one. `n`, the batch's row count handed to the writes
    * below, is by-name: only the writes that size a window force it. */
  protected def bootstraps: Boolean
  /** Data epochs at [[TierIds]] strides; false keeps raw batch ids. */
  protected def strided: Boolean = true
  protected def l1Codec: IndexStore.Codec[L1]
  protected def l1Params: Map[String, String]
  /** The L0 epochs' `tier` param; the rest of their params are L1's. */
  protected def l0Tier: String
  private lazy val l0Params = l1Params + ("tier" -> l0Tier)
  /** The reader view over loaded tiers; it owns the L1 handle. */
  protected def view(t: Tiers[L1]): T
  /** Free what a view holds (its L1 handle, any merge persist). */
  protected def releaseView(v: T): Unit
  /** Build the first L1 from a non-empty batch and [[commit]] it at `dir`. */
  protected def bootstrap(delta: DataFrame, n: => Long, dir: String,
                          note: String): Unit =
    throw new UnsupportedOperationException(s"$family tiers do not bootstrap")
  /** Encode the batch as its L0 delta and hand it to `save`; `standing` is
    * the newest committed L1 (None before a non-bootstrapping family's
    * first major). */
  protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                      standing: Option[Long])(save: DataFrame => Unit): Unit
  /** Merge the loaded tiers and the batch into a full L1 committed at
    * `dir`. The core releases the loaded L1 afterwards. */
  protected def major(t: Tiers[L1], delta: DataFrame, n: => Long, epochId: Long,
                      dir: String, note: String): Unit

  // ---- the maintenance kernels

  /** The survivor L1 of view `v` without the `tombstones` ids (column
    * `tombId`); None below `threshold` (dead share of the stored rows) or
    * when no dead id is stored. Lex takes no tombstones: its deletes ride
    * tombstone rows inside data epochs. */
  protected def compactKernel(v: T, tombstones: DataFrame, tombId: String,
                              threshold: Double): Option[L1] =
    throw new UnsupportedOperationException(s"$family tiers take no tombstones")
  /** The L1 carries a trained model, which [[retrain]] rebuilds. */
  protected def retrains: Boolean = false
  /** The model cells of view `v` that the `recent` batch drifts. */
  protected def drifted(v: T, recent: DataFrame): Long =
    throw new UnsupportedOperationException(s"$family tiers carry no model")
  /** A fresh L1 trained over `corpus`: the bootstrap's and the retrain's
    * build. */
  protected def train(corpus: DataFrame): L1 =
    throw new UnsupportedOperationException(s"$family tiers carry no model")

  protected def commit(l1: L1, dir: String, note: String): Unit =
    try IndexStore.save(spark, l1Codec, l1, dir, note, l1Params)
    finally l1Codec.release(l1)

  // ---- layout and listing

  private val l0Root = s"$root/l0"
  private val l1Root = s"$root/l1"
  protected def l0Dir(id: Long): String = EpochDirs.dir(l0Root, id)
  protected def l1Dir(id: Long): String = EpochDirs.dir(l1Root, id)

  private def epochOf(batchId: Long): Long =
    if (strided) TierIds.dataEpoch(batchId) else batchId

  // zero-job commit-marker peeks
  private def l0Committed(id: Long): Boolean =
    IndexStore.committed(spark, IndexStore.stage, l0Dir(id), l0Params).isDefined
  private def l1Committed(id: Long): Boolean =
    IndexStore.committed(spark, l1Codec, l1Dir(id), l1Params).isDefined

  /** Committed L1 / L0 epoch ids, newest first. Listing + marker peek
    * only. */
  def l1Epochs: Seq[Long] = committedIds(l1Root, l1Committed)
  def l0Epochs: Seq[Long] = committedIds(l0Root, l0Committed)
  private def committedIds(tier: String, ok: Long => Boolean): Seq[Long] =
    EpochDirs.rawIds(spark, tier).filter(ok).sorted(Ordering[Long].reverse)

  /** The newest L1 id and the live L0 ids above it, oldest first; None
    * before a bootstrapping family's first L1. */
  private def listed: Option[(Option[Long], Seq[Long])] = {
    val l1Id = l1Epochs.headOption
    if (bootstraps && l1Id.isEmpty) None
    else Some(l1Id -> l0Epochs.filter(id => l1Id.forall(id > _)).reverse)
  }

  /** The id [[loadCurrent]] would return. */
  def currentEpochId: Option[Long] =
    listed.flatMap { case (l1Id, live) => (l1Id.toSeq ++ live).maxOption }

  /** The newest committed view; None before any commit. */
  def loadCurrent: Option[T] = loadPinned.map(_._2)

  private def loadPinned: Option[(Long, T)] = current.map { t =>
    try t.epochId -> view(t)
    catch { case e: Throwable => t.l1.foreach(l1Codec.release); throw e }
  }

  private def current: Option[Tiers[L1]] =
    listed.flatMap { case (l1Id, live) => tiers(l1Id, live, strict = false) }

  /** The tiers of an ALREADY-LISTED (l1Id, live) pair, so a major never
    * re-lists what it just enumerated. `strict` (fold and maintenance):
    * a listed epoch that fails to load throws. Otherwise a vanished L1 —
    * or every listed epoch vanished — reads as no view. */
  private[streaming] def tiers(l1Id: Option[Long], live: Seq[Long],
                               strict: Boolean): Option[Tiers[L1]] = {
    def vanished(what: String): Nothing =
      sys.error(s"$family tier: committed $what vanished mid-major")
    // stage reads hold no handle, so they go first: a strict failure
    // leaves no persisted L1 behind
    val l0 = live.flatMap { id =>
      val st = IndexStore.load(spark, IndexStore.stage, l0Dir(id), None, l0Params)
      if (strict && st.isEmpty) vanished(s"L0 epoch=$id")
      st.map(id -> _)
    }
    val l1 = l1Id.flatMap(id => IndexStore.load(spark, l1Codec, l1Dir(id), None, l1Params))
    if (strict && l1.isEmpty) l1Id.foreach(id => vanished(s"L1 epoch=$id"))
    if (l1.isEmpty && (l1Id.nonEmpty || l0.isEmpty)) None
    else Some(Tiers((l1Id.toSeq ++ live).max, l1Id, l1, live, l0))
  }

  // ---- serving

  /** The one serving handle on this root ([[EpochPin]]): the staleness
    * check is [[currentEpochId]] (zero jobs; a minor OR a major bumps it),
    * a swap loads the newest view once per roll commit, not per batch,
    * and releases the old one. */
  def pin: EpochPin[T] = new EpochPin(() => currentEpochId, () => loadPinned,
    releaseView)

  /** Answer ONE batch of `queries` under a fresh [[pin]]
    * ([[EpochPin.once]]): `(epochId, answers)`, the answers eagerly
    * checkpointed. `what` names the index in the no-epoch error. */
  def answer(queries: DataFrame, what: String)(
      plan: (DataFrame, T) => DataFrame): (Long, DataFrame) =
    EpochPin.once(queries, pin, s"$what under $root")(plan)

  /** The serving stream over [[pin]] ([[EpochPin.serve]]): per batch `plan`
    * over the pinned view → one `batch=<batchId>` parquet directory under
    * `outDir`, rows stamped with `batch_id` and the answering `epoch_id`. */
  def serve(queries: DataFrame, outDir: String, checkpointDir: String,
            trigger: Trigger)(plan: (DataFrame, T) => DataFrame): StreamingQuery =
    EpochPin.serve(family, queries, pin, outDir, checkpointDir, trigger)(plan)

  // ---- writes

  /** Fold ONE (family-encoded) batch: Skipped on replay, EmptyBatch on
    * zero rows, else a bootstrap, a minor, or every `majorEvery`-th live
    * delta a major. Pure batch logic — unit-testable without a stream.
    *
    * Each fold logs one INFO line: family, batch, outcome, epoch and
    * seconds, split into `listing` (stride-layout stamp, commit-marker
    * peeks, tier listing), `write` and `prune` (a major's retention). The
    * L0 encode is lazy and runs inside the commit's job, so `write` is
    * encode and commit together. The rest of `seconds` is the emptiness
    * probe, the batch's first action, which also materializes it. */
  def fold(batch: DataFrame, batchId: Long, majorEvery: Int): BatchOutcome = {
    require(majorEvery >= 2, s"majorEvery must be >= 2, got $majorEvery")
    val t0 = System.nanoTime()
    val nanos = Array(0L, 0L, 0L) // listing, write, prune
    def timed[A](phase: Int)(body: => A): A = {
      val t = System.nanoTime()
      try body finally nanos(phase) += System.nanoTime() - t
    }
    val epochId = epochOf(batchId)
    val replayed = timed(0) {
      if (strided) TierIds.ensureStrideLayout(spark, root)
      l0Committed(epochId) || l1Committed(epochId)
    }
    val outcome =
      if (replayed) Skipped // replayed after a committed save — already applied
      else Deltas.withMaterialized(batch) { delta =>
        // a bootstrapping family sizes its build and write windows from |Δ|,
        // so its count is also the emptiness probe; the others probe with
        // isEmpty (fewer jobs over the pin) and count only where a write
        // needs the size
        lazy val n = delta.count()
        if (if (bootstraps) n == 0L else delta.isEmpty) EmptyBatch // no content-free epochs
        else {
          val standing = timed(0)(l1Epochs.headOption)
          if (bootstraps && standing.isEmpty) {
            timed(1)(bootstrap(delta, n, l1Dir(epochId), s"batch:$batchId bootstrap"))
            Bootstrapped
          } else {
            val live = timed(0)(l0Epochs.filter(id => standing.forall(id > _)).reverse)
            if (live.size + 1 < majorEvery) {
              timed(1)(minor(delta, n, epochId, standing)(IndexStore.save(spark,
                IndexStore.stage, _, l0Dir(epochId), s"batch:$batchId", l0Params)))
              Minor
            } else {
              timed(1) {
                val t = tiers(standing, live, strict = true).get
                try major(t, delta, n, epochId, l1Dir(epochId),
                  s"batch:$batchId major absorbed=${live.size}")
                finally t.l1.foreach(l1Codec.release)
              }
              timed(2)(pruneAfter(standing, epochId))
              Major(live.size)
            }
          }
        }
      }
    if (TieredRoll.log.isInfoEnabled) {
      val Array(listing, write, prune) = nanos.map(_ / 1e9)
      TieredRoll.log.info(f"$family tiered roll: batch=$batchId " +
        f"outcome=$outcome epoch=$epochId " +
        f"seconds=${(System.nanoTime() - t0) / 1e9}%.3f " +
        f"listing=$listing%.3f write=$write%.3f prune=$prune%.3f")
    }
    outcome
  }

  /** Post-commit retention for a new L1 at `newId` over the standing
    * `prev`: 2 L1 generations; L0s ≤ `prev` are two generations old, the
    * rest stay for the pinned reader's grace. */
  private def pruneAfter(prev: Option[Long], newId: Long): Unit = {
    EpochDirs.prune(spark, l1Root, l1Epochs.take(2).toSet)
    prev.foreach(p =>
      EpochDirs.prune(spark, l0Root, l0Epochs.filter(_ > p).toSet + newId))
  }

  /** Maintenance-window compaction through the major path: the family's
    * [[compactKernel]] sees the current view and its survivor L1 (None:
    * below threshold or nothing dead — nothing committed) commits at the
    * view's epoch + 1. The view is released whether the kernel returns or
    * throws. None on a root without a standing L1 — compaction rewrites an
    * L1. */
  def compact(tombstones: DataFrame, tombId: String,
              threshold: Double): Option[Long] =
    l1Epochs.headOption.flatMap { prev =>
      val t = tiers(Some(prev), l0Epochs.filter(_ > prev).reverse,
        strict = true).get
      val newId = t.epochId + 1
      val committed =
        try compactKernel(view(t), tombstones, tombId, threshold)
          .map(commit(_, l1Dir(newId), s"compact after=$prev"))
        finally t.l1.foreach(l1Codec.release)
      committed.map { _ => pruneAfter(Some(prev), newId); newId }
    }

  /** Maintenance-window model retrain: [[train]] over the caller's
    * retained corpus, its L1 committed at the current epoch + 1 (atomic
    * at the marker write). None before the first L1. */
  def retrain(corpus: DataFrame): Option[Long] =
    l1Epochs.headOption.map { prev =>
      val newId = (prev +: l0Epochs.filter(_ > prev)).max + 1
      commit(train(corpus), l1Dir(newId), s"retrain after=${newId - 1}")
      pruneAfter(Some(prev), newId)
      newId
    }

  /** [[retrain]] when the [[drifted]] count of `recent` on the current
    * view exceeds `maxDrifted`. */
  def retrainIfDrifted(corpus: DataFrame, recent: DataFrame,
                       maxDrifted: Int): Option[Long] =
    current.flatMap { t =>
      val n = try drifted(view(t), recent) finally t.l1.foreach(l1Codec.release)
      if (n > maxDrifted) retrain(corpus) else None
    }

  /** The streaming wrapper: each micro-batch, normalized by the family's
    * `prepare`, folds through this roll rebound to the batch's session
    * (the roll's own fold logs each batch). After every `everyMajors`-th
    * data major it runs the policy: [[compact]] over the current
    * tombstones, then the drift-gated [[retrainIfDrifted]] with the batch
    * that triggered the major as `recent`. The major count is per stream
    * instance: a restart resets it and a replayed batch Skips without
    * advancing it, which can only delay maintenance. A policy asking a
    * model-free family to retrain is rejected before the stream starts. */
  def start(input: DataFrame, checkpointDir: String, trigger: Trigger,
            majorEvery: Int, maintenance: Option[MaintenancePolicy])(
      prepare: DataFrame => DataFrame): StreamingQuery = {
    require(retrains || maintenance.forall(_.retrainCorpus.isEmpty),
      s"$family tiers carry no model to retrain")
    var majorsSeen = 0L
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        session = batch.sparkSession
        fold(prepare(batch), batchId, majorEvery) match {
          case Major(_) =>
            majorsSeen += 1
            maintenance.filter(_.due(majorsSeen)).foreach { p =>
              p.tombstones.foreach(ts => compact(ts(), p.tombId, p.threshold))
              p.retrainCorpus.foreach(c => retrainIfDrifted(c(), batch, p.maxDrifted))
            }
          case _ => ()
        }
        ()
      }
      .start()
  }
}

private[streaming] object TieredRoll {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.TieredRoll")

  /** Loaded tiers: `epochId` is the newest listed id, `liveL0` the listed
    * live L0 ids (oldest first) and `l0` the ones that loaded. */
  final case class Tiers[L1](epochId: Long, l1Id: Option[Long], l1: Option[L1],
                             liveL0: Seq[Long], l0: Seq[(Long, DataFrame)]) {
    def l0Frames: Seq[DataFrame] = l0.map(_._2)
  }

  /** The one-scan compaction decision over `stored`: true when the rows
    * matching the (broadcast-hinted, distinct) `dead` keys reach
    * `threshold` of the stored rows and at least one is stored. */
  def deadShareReached(stored: DataFrame, dead: DataFrame, keys: Seq[String],
                       threshold: Double): Boolean = {
    val r = stored.join(dead.withColumn("__dead", lit(1)), keys, "left")
      .agg(count(lit(1)).as("total"), sum("__dead").as("dead"))
      .collect()(0)
    val total = r.getLong(0)
    val deadN = if (r.isNullAt(1)) 0L else r.getLong(1)
    deadN > 0 && total > 0 && deadN.toDouble / total >= threshold
  }

  /** The `stored` rows whose `key` is not among the tombstones' `tombId`
    * ids (cast to long) when their dead share reaches `threshold`
    * ([[deadShareReached]]); None otherwise. The survivors are anti-joined
    * out once, against the same broadcast dead set. */
  def survivors(stored: DataFrame, tombstones: DataFrame, tombId: String,
                key: String, threshold: Double): Option[DataFrame] = {
    val dead = broadcast(tombstones.select(col(tombId).cast("long").as(key)).distinct())
    if (!deadShareReached(stored, dead, Seq(key), threshold)) None
    else Some(stored.join(dead, Seq(key), "left_anti"))
  }
}

/** The ≤-2-tier reader view of a family whose readers get an ordinary
  * index `I` (IVF, PQ, IVFADC, lexical): `index` is the newest committed
  * L1 with the live L0 deltas above it (`liveL0s`) merged in.
  * `release()` frees what the view holds. */
final case class TieredView[I](
    epochId: Long,
    index: I,
    liveL0s: Seq[Long],
    release: () => Unit)
