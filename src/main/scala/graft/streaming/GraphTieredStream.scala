package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.io.JobLabels.labeled
import graft.operators.{Adjacency, Checkpoints, IndexStore}

/** TIERED (L0/L1) epoch commits for the GRAPH family on the shared
  * [[TieredRoll]] — the LSM answer to an O(|V|) full-index rewrite per
  * batch: a batch commits only its delta edges.
  *
  *  - **No bootstrap**: minors need no model, so the roll serves from L0
  *    deltas alone until the first major.
  *  - **L0 (minor)**: the batch's normalized, within-batch-distinct
  *    `(src, dst)` edges.
  *  - **L1 (major)**: the standing L1's edges, the live deltas and the batch
  *    built into a full [[Adjacency.Hybrid]] ([[IndexStore.graph]]).
  *
  * Readers merge ≤ 2 tiers ([[loadCurrent]] → [[Tiered]]). Point reads
  * ([[Tiered.neighbors]]) stay query-proportional — probe the L1 hybrid
  * AND the (small) delta union, dedup per query; full-graph consumers
  * (PageRank and friends) build over [[Tiered.mergedEdges]], which pays
  * the one build a major would.
  *
  * Degree-exactness: a ranking that reads [[Adjacency.Hybrid.outDegrees]]
  * off the L1 tier alone is stale by at most `majorEvery − 1` deltas
  * (standard LSM trade); [[Tiered.mergedOutDegrees]] restores exactness
  * mid-window at |Δ|-proportional cost (the serving path uses it).
  *
  * RETRACTION: query-time, [[Tiered.mergedEdgesExcluding]] anti-joins a
  * caller-held tombstone EDGE set — a GDPR-style "drop this user's
  * co-purchase edges" is served immediately, at dead-set-proportional
  * extra cost per read; maintenance-window, [[compactMajor]] physically
  * rebuilds over the survivor edges into a NEW L1 generation, after which
  * plain reads are clean and the tombstone set can be retired. Tombstones
  * are EDGE-level (src, dst) pairs; node-level retraction derives its edge
  * set from a neighbors read first.
  *
  * Prototype scope: unweighted (src, dst) edges; cross-tier duplicates
  * collapse at read and at the major's dedup=true build — a
  * multiplicity-preserving tiering needs per-edge counts in L0 and is out
  * of scope. */
object GraphTieredStream {

  private[streaming] final class Roll(spark: SparkSession, root: String,
                                      hubLimit: Long)
      extends TieredRoll[Adjacency.Hybrid, Tiered](spark, root, "graph") {
    protected val l1Codec = IndexStore.graph
    protected val l1Params = Map("dedup" -> "true", "hub_limit" -> hubLimit.toString)
    protected val bootstraps = false
    protected val l0Params: Map[String, String] = l1Params + ("tier" -> "l0_edges")
    protected def releaseView(v: Tiered): Unit = v.release()

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
      * a full build over [[mergedEdges]]: the L1 degrees are adjusted by the
      * delta edges NOT already present in L1 (cross-tier duplicates must
      * not double-count). The L1-membership probe is one-hop and
      * delta-proportional: only the DELTA's srcs are expanded (work
      * bounded by their total L1 degree), never the corpus; the
      * adjustment and new-src frames are |Δ|-sized (AQE broadcasts them
      * at runtime when small — no forced hint, see below). The
      * tiered serve path ranks with this, so its answers equal top-k by
      * neighbour out-degree over the full edge set exactly. */
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

    /** [[mergedEdges]] minus a caller-held (src, dst) tombstone edge set —
      * the survivor edges a physical compaction would store, served before
      * the maintenance window. No forced broadcast on `dead`: a bulk GDPR
      * sweep may not be small (the [[mergedOutDegrees]] convention). */
    def mergedEdgesExcluding(dead: DataFrame): DataFrame =
      mergedEdges.join(
        dead.select(col("src"), col("dst")).distinct(),
        Seq("src", "dst"), "left_anti")
  }

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
