package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.io.JobLabels.labeled
import graft.operators.{Adjacency, Checkpoints, IndexStore}

/** TIERED (L0/L1) epoch commits for the GRAPH family on the shared
  * [[TieredRoll]] — the LSM answer to the O(|V|) full-index rewrite per
  * batch that [[GraphEpochStream]] pays for durability.
  *
  *  - **No bootstrap**: minors need no model, so the roll serves from L0
  *    deltas alone until the first major.
  *  - **L0 (minor)**: the batch's normalized, within-batch-distinct
  *    `(src, dst)` edges.
  *  - **L1 (major)**: the standing L1's edges, the live deltas and the batch
  *    built into a full [[Adjacency.Hybrid]] ([[IndexStore.saveGraphIndex]]).
  *
  * Readers merge ≤ 2 tiers ([[loadCurrent]] → [[Tiered]]). Point reads
  * ([[Tiered.neighbors]]) stay query-proportional — probe the L1 hybrid
  * AND the (small) delta union, dedup per query; full-graph consumers
  * (PageRank and friends) call [[Tiered.mergedHybrid]], which pays the
  * one build a major would.
  *
  * Degree-exactness: a ranking that reads [[Adjacency.Hybrid.outDegrees]]
  * off the L1 tier alone is stale by at most `majorEvery − 1` deltas
  * (standard LSM trade); [[Tiered.mergedOutDegrees]] restores exactness
  * mid-window at |Δ|-proportional cost (the serving path uses it).
  *
  * RETRACTION: query-time, the `…Excluding` reads on [[Tiered]] anti-join
  * a caller-held tombstone EDGE set — a GDPR-style "drop this user's
  * co-purchase edges" is served immediately, at dead-set-proportional
  * extra cost per read; maintenance-window, [[compactMajor]] physically
  * rebuilds over the survivor edges into a NEW L1 generation, after which
  * plain reads are clean and the tombstone set can be retired. Tombstones
  * are EDGE-level (src, dst) pairs; node-level retraction derives its edge
  * set from a neighbors read first.
  *
  * Prototype scope: unweighted edges (the [[GraphEpochStream]] (src, dst)
  * contract); cross-tier duplicates collapse at read and at the major's
  * dedup=true build — a multiplicity-preserving tiering needs per-edge
  * counts in L0 and is out of scope. */
object GraphTieredStream {

  private[streaming] final class Roll(spark: SparkSession, root: String,
                                      hubLimit: Long)
      extends TieredRoll[Adjacency.Hybrid, Tiered](spark, root, "graph") {
    private val pm = Map("dedup" -> "true", "hub_limit" -> hubLimit.toString)
    protected val bootstraps = false
    protected val l0Params: Map[String, String] = pm + ("tier" -> "l0_edges")
    protected def l1Committed(dir: String): Boolean =
      IndexStore.graphIndexMeta(spark, dir, pm).isDefined
    protected def loadL1(dir: String): Option[Adjacency.Hybrid] =
      IndexStore.loadGraphIndex(spark, dir, expectedParams = pm)
    protected def saveL1(l1: Adjacency.Hybrid, dir: String, note: String): Unit =
      IndexStore.saveGraphIndex(spark, l1, dir, note, pm)
    protected def releaseL1(l1: Adjacency.Hybrid): Unit = l1.release()

    protected def view(t: TieredRoll.Tiers[Adjacency.Hybrid]): Tiered = {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
      Tiered(t.epochId, t.l1, t.l0Frames.foldLeft(empty)(_ unionByName _),
        () => t.l1.foreach(_.release()))
    }

    protected def minor(delta: DataFrame, n: => Long, epochId: Long,
                        standing: Option[Long])(save: DataFrame => Unit): Unit =
      labeled(spark.sparkContext, s"graph-tier e$epochId: minor-save")(save(delta))

    // the merged union feeds the build RAW (no pre-distinct): with
    // dedup=true the build's own collect_set / flat-distinct collapses
    // cross-tier duplicates, so a distinct here would be a full extra
    // shuffle of the merged corpus (hub routing is by raw multiplicity by
    // contract — conservative, result-identical)
    protected def major(t: TieredRoll.Tiers[Adjacency.Hybrid], delta: DataFrame,
                        n: => Long, epochId: Long, dir: String,
                        note: String): Unit = {
      val sc = spark.sparkContext
      val built = labeled(sc, s"graph-tier e$epochId: major-build")(
        Checkpoints.sweepingOnFailure(sc)(Adjacency.build(
          view(t).rawEdges.unionByName(delta), dedup = true,
          hubLimit = hubLimit)))
      labeled(sc, s"graph-tier e$epochId: major-save")(commit(built, dir, note))
    }
  }

  /** Committed L1 epoch ids, newest first. Listing + marker peek only. */
  def l1Epochs(spark: SparkSession, root: String, hubLimit: Long): Seq[Long] =
    new Roll(spark, root, hubLimit).l1Epochs

  /** Committed L0 epoch ids, newest first. */
  def l0Epochs(spark: SparkSession, root: String, hubLimit: Long): Seq[Long] =
    new Roll(spark, root, hubLimit).l0Epochs

  /** The ≤-2-tier reader view: newest committed L1 (possibly absent —
    * pre-first-major streams serve from deltas alone) plus the live L0
    * deltas ABOVE it, unioned lazily. `release()` frees the L1 handle. */
  final case class Tiered(
      epochId: Long,
      l1: Option[Adjacency.Hybrid],
      delta: DataFrame,
      release: () => Unit) {

    /** Query-proportional point read: distinct neighbors of each `per`
      * row's `src` across both tiers, as (qid…payload, dst). The L1 side
      * is the hybrid's join-then-explode; the delta side is a plain
      * equi-join on the (≤ majorEvery batches of) delta rows. Distinct
      * AFTER the union collapses cross-tier duplicate edges — per query,
      * never over the corpus. */
    def neighbors(per: DataFrame): DataFrame = {
      val payload = per.columns.filter(_ != "src").toSeq.map(col)
      val outCols = payload :+ col("dst")
      val l1Side = l1.map(_.expand(per).select(outCols: _*))
      val deltaSide = delta.join(per, Seq("src")).select(outCols: _*)
      l1Side.fold(deltaSide)(_.unionByName(deltaSide)).distinct()
    }

    /** The merged edge set (src, dst), deduped across tiers — the L1
      * edges pay one explode (the [[Adjacency.Hybrid.edges]] contract). */
    def mergedEdges: DataFrame = rawEdges.distinct()

    /** [[mergedEdges]] WITHOUT the cross-tier distinct — the major/compact
      * path feeds this straight into `Adjacency.build(dedup = true)`,
      * whose collect_set / flat-distinct collapses duplicates anyway; a
      * pre-distinct there was a full extra shuffle of the merged corpus.
      * (L1 edges are already deduped by the build contract; duplicates
      * can only come from delta rows re-deriving a stored edge.) */
    private[graft] def rawEdges: DataFrame = {
      val d = delta.select(col("src"), col("dst"))
      l1.map(_.edges.select(col("src"), col("dst")).unionByName(d))
        .getOrElse(d)
    }

    /** EXACT cross-tier out-degrees at |Δ| cost — upgrades the
      * degree-staleness trade documented above without paying
      * [[mergedHybrid]]'s full build: the L1 degrees are adjusted by the
      * delta edges NOT already present in L1 (cross-tier duplicates must
      * not double-count). The L1-membership probe is one-hop and
      * delta-proportional: only the DELTA's srcs are expanded (work
      * bounded by their total L1 degree), never the corpus; the
      * adjustment and new-src frames are |Δ|-sized (AQE broadcasts them
      * at runtime when small — no forced hint, see below). The
      * tiered serve path ranks with this, so tiered-served answers equal
      * flat-served answers exactly. */
    def mergedOutDegrees: DataFrame = {
      val d = delta.select(col("src"), col("dst")).distinct()
      l1 match {
        case None =>
          d.groupBy("src").agg(count(lit(1)).as("outdeg"))
        case Some(hyb) =>
          val srcs = d.select("src").distinct()
          val existing = hyb.expand(srcs.withColumn("qid", col("src")))
            .select(col("qid").as("src"), col("dst"))
          val add = d.join(existing, Seq("src", "dst"), "left_anti")
            .groupBy("src").agg(count(lit(1)).as("add"))
          // srcs with ≥1 L1 out-edge have ≥1 expand row, so this small
          // frame IS the delta-srcs ∩ L1-degree-table membership set.
          // No forced broadcast on either delta-derived frame: |Δ_src| is
          // bounded only by the majorEvery window, and this plan runs per
          // serve micro-batch — a measured-count guard (the Adjacency
          // convention) would cost a count job per batch, so the runtime
          // decision is left to AQE, which broadcasts small sides without
          // a driver-OOM risk on a fat delta window (review finding).
          val srcsInL1 = existing.select("src").distinct()
          hyb.outDegrees.select(col("src"), col("outdeg"))
            .join(add, Seq("src"), "left")
            .select(col("src"),
              (col("outdeg") + coalesce(col("add"), lit(0L))).as("outdeg"))
            .unionByName(add.join(srcsInL1, Seq("src"), "left_anti")
              .select(col("src"), col("add").as("outdeg")))
      }
    }

    /** Full-adjacency view for whole-graph consumers: pays the build a
      * major compaction would (use at L1 cadence, not per query). Caller
      * releases the returned hybrid; this [[Tiered]] stays usable. */
    def mergedHybrid(hubLimit: Long = Adjacency.DefaultHubLimit): Adjacency.Hybrid =
      Checkpoints.sweepingOnFailure(delta.sparkSession.sparkContext)(
        Adjacency.build(mergedEdges, dedup = true, hubLimit = hubLimit))

    // ---- tombstoned-edge exclusion reads (query-time retraction) ----
    // `dead` is a (src, dst) edge tombstone frame held by the caller (the
    // ivfProbeExcluding pattern at the graph layer). No forced broadcast
    // on it: tombstone sets are usually tiny and AQE broadcasts them at
    // runtime, but a bulk GDPR sweep may not be — the mergedOutDegrees
    // review convention.

    /** [[neighbors]] with a tombstone edge set excluded — the point-read
      * retraction path. The anti-join keys on the PRE-projection
      * (src, dst), so only the queried sources' dead edges ever join;
      * cost stays query-proportional plus the dead-set join. */
    def neighborsExcluding(per: DataFrame, dead: DataFrame): DataFrame = {
      val payload = per.columns.filter(_ != "src").toSeq.map(col)
      val outCols = payload :+ col("dst")
      // "__src" survives expand as payload, keeping the src key next to
      // each produced dst so the edge-level anti-join has both halves
      val keyed = per.withColumn("__src", col("src"))
      val l1Side = l1.map(_.expand(keyed).select((col("__src") +: outCols): _*))
      val deltaSide = delta.join(keyed, Seq("src"))
        .select((col("__src") +: outCols): _*)
      l1Side.fold(deltaSide)(_.unionByName(deltaSide))
        .join(dead.select(col("src").as("__src"), col("dst")).distinct(),
          Seq("__src", "dst"), "left_anti")
        .select(outCols: _*).distinct()
    }

    /** [[mergedEdges]] minus the tombstone set — the survivor edge
      * multiset a physical compaction would store. */
    def mergedEdgesExcluding(dead: DataFrame): DataFrame =
      mergedEdges.join(
        dead.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti")

    /** EXACT out-degrees over the survivor edge set at |dead|-proportional
      * extra cost (never a full re-count): only the tombstoned SOURCES'
      * stored edges are recovered (the semi-join sits below the L1
      * explode, the [[mergedOutDegrees]] discipline), a tombstone naming
      * an edge that is not actually stored subtracts nothing, and sources
      * whose every edge died vanish from the output — degrees equal
      * `mergedEdgesExcluding(dead).groupBy(src).count()` exactly. */
    def mergedOutDegreesExcluding(dead: DataFrame): DataFrame = {
      val dd = dead.select(col("src"), col("dst")).distinct()
      val srcs = dd.select("src").distinct()
      val l1Side = l1.map(h => h.expand(srcs.withColumn("qid", col("src")))
        .select(col("qid").as("src"), col("dst")))
      val dSide = delta.join(srcs, Seq("src")).select(col("src"), col("dst"))
      val stored = l1Side.fold(dSide)(_.unionByName(dSide)).distinct()
      val rm = dd.join(stored, Seq("src", "dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("__rm"))
      mergedOutDegrees.join(rm, Seq("src"), "left")
        .select(col("src"),
          (col("outdeg") - coalesce(col("__rm"), lit(0L))).as("outdeg"))
        .filter(col("outdeg") > 0)
    }

    /** Full-adjacency view over the survivor edges — what [[compactMajor]]
      * commits durably, available to a whole-graph consumer that cannot
      * wait for the maintenance window. Caller releases. */
    def mergedHybridExcluding(dead: DataFrame,
        hubLimit: Long = Adjacency.DefaultHubLimit): Adjacency.Hybrid =
      Checkpoints.sweepingOnFailure(delta.sparkSession.sparkContext)(
        Adjacency.build(mergedEdgesExcluding(dead), dedup = true,
          hubLimit = hubLimit))
  }

  /** The id [[loadCurrent]] would return (listing + marker peeks only).
    * `None` before any commit (either tier counts). */
  def currentEpochId(spark: SparkSession, root: String,
                     hubLimit: Long = Adjacency.DefaultHubLimit): Option[Long] =
    new Roll(spark, root, hubLimit).currentEpochId

  /** Load the newest committed tiered view; `None` before any commit.
    * Zero Spark jobs until a frame is consumed. */
  def loadCurrent(spark: SparkSession, root: String,
                  hubLimit: Long = Adjacency.DefaultHubLimit): Option[Tiered] =
    new Roll(spark, root, hubLimit).loadCurrent

  /** Fold ONE batch of `(src, dst)` edges through [[TieredRoll.fold]]. */
  def foldBatch(edges: DataFrame, root: String, batchId: Long,
                majorEvery: Int = 8,
                hubLimit: Long = Adjacency.DefaultHubLimit): BatchOutcome =
    new Roll(edges.sparkSession, root, hubLimit).fold(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .distinct(), // within-batch dedup; cross-tier dedup is the read/major's
      batchId, majorEvery)

  /** Maintenance-window PHYSICAL edge retraction ([[TieredRoll.compact]]):
    * one scan decides (total + dead edges counted together against the
    * broadcast tombstone pair set over the merged view), and at dead share
    * ≥ `threshold` the survivor edges are anti-joined out ONCE and rebuilt
    * into a full [[Adjacency.Hybrid]] — exactly the build a data major
    * pays. `None` below threshold, when no tombstoned edge is stored, AND
    * on a minors-only root (no L1 generation to rewrite yet; read through
    * [[Tiered.mergedEdgesExcluding]] until the first major). Idempotent
    * under re-run: a second call with the same tombstones finds no stored
    * dead edge. */
  def compactMajor(spark: SparkSession, root: String, tombstones: DataFrame,
                   threshold: Double = 0.0,
                   hubLimit: Long = Adjacency.DefaultHubLimit): Option[Long] = {
    val sc = spark.sparkContext
    new Roll(spark, root, hubLimit).compact { view =>
      val dead = broadcast(tombstones
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")).distinct())
      val keys = Seq("src", "dst")
      if (!labeled(sc, "graph-tier compact: dead-share")(
          TieredRoll.deadShareReached(view.mergedEdges, dead, keys, threshold)))
        None
      else
        // survivors feed the build RAW: the anti-join drops every copy of
        // a dead pair and the dedup=true build collapses the rest
        Some(labeled(sc, "graph-tier compact: rebuild")(
          Checkpoints.sweepingOnFailure(sc)(Adjacency.build(
            view.rawEdges.join(dead, keys, "left_anti"), dedup = true,
            hubLimit = hubLimit))))
    }
  }

  /** Start the tiered roll: `edges` (a streaming `(src, dst)` frame) →
    * per-batch [[foldBatch]]. `maintenance` opts into scheduled in-stream
    * compaction after data majors — the graph policy's tombstone supplier
    * yields (src, dst) EDGE pairs and `tombId` is ignored
    * ([[MaintenancePolicy]]). */
  def start(edges: DataFrame, root: String, checkpointDir: String,
            majorEvery: Int = 8,
            hubLimit: Long = Adjacency.DefaultHubLimit,
            maintenance: Option[MaintenancePolicy] = None,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new Roll(edges.sparkSession, root, hubLimit).start(edges, checkpointDir,
      trigger, maintenance)(foldBatch(_, root, _, majorEvery, hubLimit)) {
      (p, batch) => p.tombstones.foreach(ts => compactMajor(batch.sparkSession,
        root, ts(), p.threshold, hubLimit))
    }
}
