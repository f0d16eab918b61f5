package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance — the reachability-with-distance member
  * of the graph family ([[Components]] answers "connected to what",
  * q56's closure answers "reachable from where", this answers "HOW FAR":
  * blast-radius analysis, related-item rings, dependency depth).
  *
  * Semantics (exact, replayable):
  *  - dist(s) = 0 for every seed (graph membership NOT required — a seed
  *    is trivially 0 hops from itself, so it appears in the output even
  *    if it occurs in no edge);
  *  - dist(n) = min hops along directed edges from any seed;
  *  - nodes not reached within `maxHops` are ABSENT from the output (the
  *    caller left-joins a sentinel if it needs them).
  * BFS hop distance has no tie-break question — a node's distance is the
  * ROUND it is first reached, identical under any partitioning — so the
  * result is bit-exact and replayable by unrolled frontier CTEs (q74).
  *
  * Scale shape: the textbook frontier iteration. The edge list goes
  * through [[Adjacency.build]] (dedup'd array layout for bounded-degree
  * sources, auto-routed flat layout for extreme-degree hubs — a planted
  * hub frontier node no longer materializes its whole neighborhood as one
  * array row); each round expands ONLY the current frontier (the
  * newly-reached nodes, not the accumulated set) through both layouts,
  * and anti-joins the known set — so per-round shuffle work is
  * O(|frontier| · avg-degree), and total work across all rounds is O(|E|)
  * amortized, the property that makes BFS viable on a 100-TB graph. Each
  * RING (nodes first reached at hop d) is STAGED once ([[Checkpoints]])
  * and never rewritten; the known set the anti-join consumes is the lazy
  * union of the staged rings, so checkpoint writes total O(|known|), not
  * O(rounds·|known|). The anti-join broadcasts the known set below
  * `broadcastLimit` (measured count, the [[KCore]] adaptivity) and
  * shuffles above it.
  *
  * Early exit on an empty frontier is exact: once nothing new is
  * reached, later rounds are identities, so a fixed-budget oracle replay
  * and the early-exited run agree.
  */
object BfsHops {

  /** Distances plus the release handle ([[PageRank.ManagedRanks]]
    * contract). `dists` has columns (node LONG, dist INT). */
  final case class ManagedDists(dists: DataFrame, release: () => Unit)

  def hops(edges: DataFrame, srcCol: String, dstCol: String,
           seeds: DataFrame, seedCol: String, maxHops: Int,
           broadcastLimit: Long = Adjacency.BroadcastRowLimit,
           hubLimit: Long = Adjacency.DefaultHubLimit): ManagedDists = {
    require(maxHops >= 1 && maxHops <= 64,
      s"maxHops must be in [1,64], got $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val sc = edges.sparkSession.sparkContext
    def build(): ManagedDists = {
      // neighbor sets are deduped (BFS only cares about reachability) —
      // dedup=true collapses duplicates in both layouts
      val hyb = Adjacency.build(e, dedup = true, hubLimit = hubLimit)
      // no round-partition override (see LabelPropagation note): BFS
      // rounds move frontier-sized frames, measured too small for the
      // task-count saving to beat the measuring job's cost
      val ring0 = Checkpoints.stage(
        seeds.select(col(seedCol).cast("long").as("node")).distinct())
      buildRounds(hyb, ring0)
    }
    // a staged ring keeps the full shuffle-partition count of the
    // anti-join that produced it regardless of its size; the known set is
    // a union of ALL rings, so without this the per-round task count
    // grows linearly with d — coalesce each ring to its measured size
    // (narrow op on the checkpoint, no data movement)
    def sized(ring: DataFrame, rows: Long): DataFrame =
      ring.coalesce(math.min(100000L, rows / 500000L + 1L).toInt)
    def buildRounds(hyb: Adjacency.Hybrid, ring0Raw: DataFrame): ManagedDists = {
      // each RING (the nodes first reached at hop d) is staged exactly
      // once and never rewritten; the accumulated known set is the LAZY
      // union of the staged rings — re-staging the whole known frame per
      // round would rewrite every already-reached node's checkpoint
      // blocks once per round, O(maxHops·|known|) write amplification on
      // top of the O(|E|) join work (review finding)
      var frontierCount = ring0Raw.count()
      val ring0 = sized(ring0Raw, frontierCount)
      var rings = List((ring0, 0))
      var frontier = ring0
      var knownCount = frontierCount
      var d = 0
      // measured round width (r17): each round's exchange carries the
      // distinct-combined reached set — bounded by |E| pre-combine — and
      // the build already measured edgeCount, so the width costs zero
      // extra jobs (the old "too small to beat the measuring job" note
      // predates the count being a free field). Lower-only; the
      // AQE-off floor fires only for tiny measured graphs. Each round's
      // chain starts from the adjacency's array layout (expand), so
      // binding it sizes every round.
      val adj = hyb.copy(arrayAdj = Checkpoints.sized(hyb.arrayAdj, hyb.edgeCount))
      while (d < maxHops && frontierCount > 0) {
        d += 1
        val kn = rings.map(_._1).reduce(_ union _)
        val knHinted = if (knownCount <= broadcastLimit) broadcast(kn) else kn
        val reached = adj.expand(frontier.withColumnRenamed("node", "src"))
          .select(col("dst").as("node"))
          .distinct()
          .join(knHinted, Seq("node"), "left_anti")
        val nextFrontierRaw = Checkpoints.stage(reached)
        frontierCount = nextFrontierRaw.count()
        val nextFrontier = sized(nextFrontierRaw, frontierCount)
        if (frontierCount > 0) rings = (nextFrontier, d) :: rings
        else Checkpoints.release(nextFrontierRaw)
        frontier = nextFrontier
        knownCount += frontierCount
      }
      hyb.release()
      val dists = rings
        .map { case (ring, dd) => ring.withColumn("dist", lit(dd)) }
        .reduce(_ union _)
      // ONE release call frees every ring: Checkpoints.release digs all
      // LogicalRDD leaves out of the union plan (its documented contract)
      ManagedDists(dists, () => { Checkpoints.release(dists); () })
    }
    Checkpoints.sweepingOnFailure(sc)(build())
  }
}
