package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.IndexStore

/** The ONE tiered (L0/L1) epoch roll under the seven index families'
  * `*TieredStream` façades (graph, vector, lexical, PQ, IVFADC, media,
  * signature). The flat rolls pay an O(|corpus|) index rewrite per batch
  * for durability; here a batch commits only its DELTA:
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
  * A subclass is the family's codec: params and L1 meta peek, L1
  * save/load/release, the reader view, the minor's delta encode, the
  * major's merge and the optional bootstrap build. One instance serves one
  * (session, root, params) call. */
private[streaming] abstract class TieredRoll[L1, T](
    spark: SparkSession, root: String, family: String) {

  import BatchOutcome._
  import TieredRoll.Tiers

  // ---- the codec

  /** Minors encode against a standing L1 model, so the first non-empty
    * batch builds one. `n`, the batch's row count handed to the writes
    * below, is by-name: only the writes that size a window force it. */
  protected def bootstraps: Boolean
  /** Data epochs at [[TierIds]] strides; false keeps raw batch ids. */
  protected def strided: Boolean = true
  protected def l0Params: Map[String, String]
  /** Zero-job commit-marker peek at an L1 epoch dir. */
  protected def l1Committed(dir: String): Boolean
  protected def loadL1(dir: String): Option[L1]
  protected def saveL1(l1: L1, dir: String, note: String): Unit
  protected def releaseL1(l1: L1): Unit
  /** The reader view over loaded tiers; it owns the L1 handle. */
  protected def view(t: Tiers[L1]): T
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

  protected def commit(l1: L1, dir: String, note: String): Unit =
    try saveL1(l1, dir, note) finally releaseL1(l1)

  /** A model-only load off the standing L1 (the bootstrapping families'
    * minors need no persisted handle). */
  protected def standingModel[A](standing: Option[Long])(
      load: String => Option[A]): A =
    standing.flatMap(id => load(l1Dir(id))).getOrElse(sys.error(
      s"$family tier: standing L1 epoch=${standing.mkString} vanished mid-fold"))

  // ---- layout and listing

  private val l0Root = s"$root/l0"
  private val l1Root = s"$root/l1"
  protected def l0Dir(id: Long): String = EpochDirs.dir(l0Root, id)
  protected def l1Dir(id: Long): String = EpochDirs.dir(l1Root, id)

  private def epochOf(batchId: Long): Long =
    if (strided) TierIds.dataEpoch(batchId) else batchId

  /** Committed L1 epoch ids, newest first. Listing + marker peek only. */
  def l1Epochs: Seq[Long] =
    EpochDirs.rawIds(spark, l1Root).filter(id => l1Committed(l1Dir(id)))
      .sorted(Ordering[Long].reverse)

  /** Committed L0 epoch ids, newest first. */
  def l0Epochs: Seq[Long] =
    EpochDirs.rawIds(spark, l0Root)
      .filter(id => IndexStore.stageMeta(spark, l0Dir(id), l0Params).isDefined)
      .sorted(Ordering[Long].reverse)

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
  def loadCurrent: Option[T] = current.map { t =>
    try view(t) catch { case e: Throwable => t.l1.foreach(releaseL1); throw e }
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
      val st = IndexStore.loadStage(spark, l0Dir(id), None, l0Params)
      if (strict && st.isEmpty) vanished(s"L0 epoch=$id")
      st.map(id -> _)
    }
    val l1 = l1Id.flatMap(id => loadL1(l1Dir(id)))
    if (strict && l1.isEmpty) l1Id.foreach(id => vanished(s"L1 epoch=$id"))
    if (l1.isEmpty && (l1Id.nonEmpty || l0.isEmpty)) None
    else Some(Tiers((l1Id.toSeq ++ live).max, l1Id, l1, live, l0))
  }

  // ---- writes

  /** Fold ONE (family-encoded) batch: Skipped on replay, EmptyBatch on
    * zero rows, else a bootstrap, a minor, or every `majorEvery`-th live
    * delta a major. Pure batch logic — unit-testable without a stream. */
  def fold(batch: DataFrame, batchId: Long, majorEvery: Int): BatchOutcome = {
    require(majorEvery >= 2, s"majorEvery must be >= 2, got $majorEvery")
    if (strided) TierIds.ensureStrideLayout(spark, root)
    val epochId = epochOf(batchId)
    if (IndexStore.stageMeta(spark, l0Dir(epochId), l0Params).isDefined ||
        l1Committed(l1Dir(epochId)))
      return Skipped // replayed after a committed save — already applied
    Deltas.withMaterialized(batch) { delta =>
      // a bootstrapping family sizes its build and write windows from |Δ|,
      // so its count is also the emptiness probe; the others probe with
      // isEmpty (fewer jobs over the pin) and count only where a write
      // needs the size
      lazy val n = delta.count()
      if (if (bootstraps) n == 0L else delta.isEmpty) EmptyBatch // no content-free epochs
      else {
        val standing = l1Epochs.headOption
        if (bootstraps && standing.isEmpty) {
          bootstrap(delta, n, l1Dir(epochId), s"batch:$batchId bootstrap")
          Bootstrapped
        } else {
          val live = l0Epochs.filter(id => standing.forall(id > _)).reverse
          if (live.size + 1 < majorEvery) {
            minor(delta, n, epochId, standing)(IndexStore.saveStage(spark, _,
              l0Dir(epochId), s"batch:$batchId", l0Params))
            Minor
          } else {
            val t = tiers(standing, live, strict = true).get
            try major(t, delta, n, epochId, l1Dir(epochId),
              s"batch:$batchId major absorbed=${live.size}")
            finally t.l1.foreach(releaseL1)
            pruneAfter(standing, epochId)
            Major(live.size)
          }
        }
      }
    }
  }

  /** Post-commit retention for a new L1 at `newId` over the standing
    * `prev`: 2 L1 generations; L0s ≤ `prev` are two generations old, the
    * rest stay for the pinned reader's grace. */
  private def pruneAfter(prev: Option[Long], newId: Long): Unit = {
    EpochDirs.prune(spark, l1Root, l1Epochs.take(2).toSet)
    prev.foreach(p =>
      EpochDirs.prune(spark, l0Root, l0Epochs.filter(_ > p).toSet + newId))
  }

  /** Maintenance-window compaction through the major path: `kernel` sees
    * the current view and returns the survivor L1 (None: below threshold
    * or nothing dead — nothing committed), committed at the view's epoch +
    * 1. The view is released whether the kernel returns or throws. None
    * on a root without a standing L1 — compaction rewrites an L1. */
  def compact(kernel: T => Option[L1]): Option[Long] =
    l1Epochs.headOption.flatMap { prev =>
      val t = tiers(Some(prev), l0Epochs.filter(_ > prev).reverse,
        strict = true).get
      val newId = t.epochId + 1
      val committed =
        try kernel(view(t)).map(commit(_, l1Dir(newId), s"compact after=$prev"))
        finally t.l1.foreach(releaseL1)
      committed.map { _ => pruneAfter(Some(prev), newId); newId }
    }

  /** Maintenance-window model retrain: `build` trains over the caller's
    * retained corpus and its L1 commits at the current epoch + 1 (atomic
    * at the marker write). None before the first L1. */
  def retrain(build: => L1): Option[Long] =
    l1Epochs.headOption.map { prev =>
      val newId = (prev +: l0Epochs.filter(_ > prev)).max + 1
      commit(build, l1Dir(newId), s"retrain after=${newId - 1}")
      pruneAfter(Some(prev), newId)
      newId
    }

  /** [[retrain]] when `drifted`, measured on the current view, exceeds
    * `maxDrifted`. */
  def retrainIfDrifted(maxDrifted: Int)(drifted: T => Long)(
      build: => L1): Option[Long] =
    current.flatMap { t =>
      val n = try drifted(view(t)) finally t.l1.foreach(releaseL1)
      if (n > maxDrifted) retrain(build) else None
    }

  /** The streaming wrapper: `fold` per micro-batch, one INFO line per batch
    * (family, batch, outcome, epoch, seconds), and after every
    * `everyMajors`-th data major the policy's `maintain`. The major count
    * is per stream instance: a restart resets it and a replayed batch
    * Skips without advancing it, which can only delay maintenance. */
  def start(input: DataFrame, checkpointDir: String, trigger: Trigger,
            maintenance: Option[MaintenancePolicy])(
      fold: (DataFrame, Long) => BatchOutcome)(
      maintain: (MaintenancePolicy, DataFrame) => Unit): StreamingQuery = {
    var majorsSeen = 0L
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val t0 = System.nanoTime()
        val outcome = fold(batch, batchId)
        TieredRoll.log.info(f"$family tiered roll: batch=$batchId " +
          f"outcome=$outcome epoch=${epochOf(batchId)} " +
          f"seconds=${(System.nanoTime() - t0) / 1e9}%.3f")
        outcome match {
          case Major(_) =>
            majorsSeen += 1
            maintenance.filter(_.due(majorsSeen)).foreach(maintain(_, batch))
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
}
