package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source WEIGHTED shortest paths (min-plus relaxation, bounded
  * rounds) — the weighted generalization of [[BfsHops]]: where BFS counts
  * hops, this minimizes an integer edge-cost sum (Bellman-Ford), the
  * "strongest association chain" primitive behind related-item distance,
  * influence radius, and cheapest-route rollups.
  *
  * Semantics (exact, replayable):
  *  - cost(s) = 0 for every seed;
  *  - after round i, cost(n) = minimum total weight over paths from any
  *    seed using ≤ i edges — the textbook Bellman-Ford invariant, an
  *    integer min under any partitioning, so bit-exact;
  *  - nodes unreached within `rounds` are absent from the output;
  *  - negative weights are REFUSED (a negative cycle makes bounded-round
  *    "cost" meaningless; with nonnegative weights every round only
  *    improves, monotone toward the true shortest path).
  *
  * Frontier optimization (exact, the SPFA argument): only nodes whose
  * cost IMPROVED in round i-1 can improve a neighbor in round i, so each
  * round relaxes edges out of the improved set only — identical results
  * to full relaxation, a fraction of the work once the graph stabilizes.
  * The oracle replays FULL relaxation per round; the equivalence is the
  * invariant above (pinned against a sequential replay in
  * CheapestPathsSpec).
  *
  * Scale shape: the edge list goes through [[Adjacency.build]] in its
  * weighted form — (dst, w) struct arrays for bounded-degree sources, an
  * auto-routed flat (src, dst, w) layout for extreme-degree hubs (see
  * [[Adjacency]]); each round expands the improved-frontier cost frame
  * through both layouts, min-aggregates candidate relaxations per dst,
  * and merges with the standing cost frame (min of old and new — a
  * full-outer shuffle join: new nodes enter, old nodes may improve). Cost
  * frames are STAGED with the previous round freed ([[Checkpoints]]).
  */
object CheapestPaths {

  /** Costs plus the release handle ([[PageRank.ManagedRanks]] contract).
    * `costs` has columns (node LONG, cost LONG). */
  final case class ManagedCosts(costs: DataFrame, release: () => Unit)

  def relax(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
            seeds: DataFrame, seedCol: String, rounds: Int,
            hubLimit: Long = Adjacency.DefaultHubLimit): ManagedCosts = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds must be in [1,64], got $rounds")
    // the weight guard rides the normalized edge frame — raise_error in
    // the persisted select, so it fires for EVERY edge (both layouts) at
    // the hybrid build's eager materialization, even when the seed set is
    // empty and the relaxation loop never runs ("REFUSED" can't depend on
    // the caller's seeds)
    val guardedW = when(col(wCol).cast("long") < 0, raise_error(concat(
      lit("CheapestPaths: negative weight "), col(wCol).cast("string"),
      lit(" on edge "), col(srcCol).cast("string"), lit("->"),
      col(dstCol).cast("string")))).otherwise(col(wCol).cast("long"))
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), guardedW.as("w"))
    val sc = edges.sparkSession.sparkContext
    def build(): ManagedCosts = {
      // weighted build: multiplicity kept (dedup never applies to
      // weighted edges); eager — the weight guard fires here. No
      // round-partition override (see LabelPropagation note): relaxation
      // rounds move frontier-sized frames, too small for the trick to pay.
      val hyb = Adjacency.build(e, dedup = false, hubLimit = hubLimit)
      val costs0 = Checkpoints.stage(
        seeds.select(col(seedCol).cast("long").as("node")).distinct()
          .withColumn("cost", lit(0L)))
      buildRounds(hyb, costs0)
    }
    def buildRounds(hyb: Adjacency.Hybrid, costs0: DataFrame): ManagedCosts = {
      // measured round width (r17): the relaxation's exchanges carry the
      // min-combined candidate frame and the two node-keyed sides of the
      // full-outer merge — all bounded by |E| pre-combine, a count the
      // build already measured (zero extra jobs; the old "too small to
      // beat the measuring job" note predates the free field).
      // Lower-only; the AQE-off floor fires only for tiny graphs. Every
      // round stage starts from `costs`, so binding it sizes them all.
      var costs = Checkpoints.sized(costs0, hyb.edgeCount)
      var frontier = Checkpoints.stage(costs)
      var frontierCount = costs.count()
      var r = 0
      while (r < rounds && frontierCount > 0) {
        r += 1
        val cand = hyb.expand(frontier.withColumnRenamed("node", "src"))
          .select(col("dst").as("node"),
            (col("cost") + col("w")).as("cand"))
          .groupBy("node").agg(min(col("cand")).as("cand"))
        // the merge is a FULL OUTER join (new nodes enter, old nodes may
        // improve) — full outer cannot broadcast in Spark, so it shuffles
        // both |V|-row frames on node; the frontier join above is where
        // the round's real work lives
        val merged = costs.join(cand, Seq("node"), "full_outer")
          .select(col("node"),
            least(coalesce(col("cost"), col("cand")),
              coalesce(col("cand"), col("cost"))).as("cost"),
            (col("cost").isNull ||
              (col("cand").isNotNull && col("cand") < col("cost")))
              .as("improved"))
        val nextCosts = Checkpoints.stage(merged.select("node", "cost", "improved"))
        val nextFrontier = Checkpoints.stage(
          nextCosts.filter(col("improved")).select("node", "cost"))
        frontierCount = nextFrontier.count()
        Checkpoints.release(costs)
        Checkpoints.release(frontier)
        costs = nextCosts
        frontier = nextFrontier
      }
      val fin = costs
      val lastFrontier = frontier
      hyb.release()
      ManagedCosts(fin.select("node", "cost"), () => {
        Checkpoints.release(fin)
        Checkpoints.release(lastFrontier)
        ()
      })
    }
    Checkpoints.sweepingOnFailure(sc)(build())
  }
}
