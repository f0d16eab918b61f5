package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (LPA) in EXACT,
  * replayable semantics — the clustering member of the graph family beside
  * [[PageRank]] (ranking), [[Components]] (connectivity) and the q56
  * transitive closure (reachability). The reference pipeline has no graph
  * verbs; this extends the engine the way the dedup/ANN operators extend
  * its text family.
  *
  * Classic LPA is famously nondeterministic (async update order + random
  * tie-breaks). This form removes both sources:
  *  - SYNCHRONOUS rounds: every round-i label is computed from the complete
  *    round-(i-1) labelling, so partition order cannot matter;
  *  - TOTAL-ORDER tie-break: the new label is the neighbor label with the
  *    highest multiplicity, ties broken by the SMALLEST label value —
  *    `min(struct(-count, label))` — an order-independent integer argmin.
  * The result is bit-identical under any partitioning and replayable by a
  * single-threaded SQL oracle as unrolled CTEs (one count + one argmax per
  * round), which is how q70 certifies it.
  *
  * Semantics (documented, deliberate):
  *  - label_0(n) = n for every node in src(E) ∪ dst(E);
  *  - label_{i+1}(n) = argmax-by-(count, then min-label) over the labels of
  *    n's IN-neighbors at round i (an edge (s,d) carries s's label to d,
  *    once per multiplicity unless `dedupEdges`);
  *  - a node with no in-edges keeps its previous label (cannot happen on
  *    symmetrized graphs, where in(n) = out(n) ≠ ∅ by construction);
  *  - synchronous LPA can two-cycle on bipartite-ish structures instead of
  *    converging — `iters` is therefore a FIXED budget, not a convergence
  *    loop, and the oracle replays exactly that budget.
  *
  * Scale shape: identical to [[PageRank]] — the edge list goes through
  * [[Adjacency.build]] (per-src array layout for bounded-degree sources,
  * auto-routed flat (src,dst) layout for extreme-degree hubs, dedup inside
  * the same pass); each round expands the |V|-row label frame through both
  * layouts, counts (dst, label) carriers with map-side partial
  * aggregation, and argmaxes per dst — identical integer arithmetic over
  * either layout (GraphHubSpec). Rounds are STAGED (eager [[Checkpoints]])
  * with the previous round freed immediately — unstaged rounds are lazy
  * subtrees every later round re-executes, O(iters²) total work (measured
  * on PageRank, same machinery).
  */
object LabelPropagation {

  /** Labels plus the handle that frees the persisted/staged frames (the
    * [[PageRank.ManagedRanks]] contract: release after the terminal
    * action). `labels` has columns (node LONG, label LONG). */
  final case class ManagedLabels(labels: DataFrame, release: () => Unit)

  /** @param edges directed edge list; symmetrize first for undirected LPA
    * @param iters fixed round budget (each replayable in an unrolled CTE)
    * @param dedupEdges collapse duplicate (src,dst) rows inside the
    *              adjacency build; false → a repeated edge carries its
    *              label once per repeat
    * @param symmetric caller asserts every node occurs as a src — the node
    *              set then reads off the adjacency sources directly;
    *              verified (loudly) when [[Adjacency.SymmetryCheckConf]]
    *              is set
    * @param hubLimit sources with more raw out-edges than this keep the
    *              flat (src,dst) layout — see [[Adjacency]] */
  def labels(edges: DataFrame, srcCol: String, dstCol: String,
             iters: Int, dedupEdges: Boolean = false,
             symmetric: Boolean = false,
             hubLimit: Long = Adjacency.DefaultHubLimit): ManagedLabels = {
    validate(iters)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    Checkpoints.sweepingOnFailure(edges.sparkSession.sparkContext) {
      val hyb = Adjacency.build(e, dedup = dedupEdges, hubLimit = hubLimit)
      labelRounds(hyb, iters, symmetric, ownsAdj = true)
    }
  }

  /** LPA over a CALLER-OWNED prebuilt adjacency — the build/probe split
    * [[PageRank.ranksOverAdjacency]] gives ranking, for clustering: one
    * hybrid build serves rank AND label probes (q78 chains both over the
    * same trimmed core). The returned handle frees ONLY this call's staged
    * rounds; `adj` stays alive and its release stays with whoever built
    * it. */
  def labelsOverAdjacency(adj: Adjacency.Hybrid, iters: Int,
                          symmetric: Boolean = false): ManagedLabels =
    labelRounds(adj, iters, symmetric, ownsAdj = false)

  private def validate(iters: Int): Unit =
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")

  /** The round engine over an existing adjacency. `ownsAdj` decides
    * whether the adjacency is freed when the rounds complete (true for
    * the edge-list entry point that built it; false for
    * [[labelsOverAdjacency]], whose caller owns the index). */
  private def labelRounds(hyb: Adjacency.Hybrid, iters: Int,
                          symmetric: Boolean, ownsAdj: Boolean): ManagedLabels = {
    validate(iters)
    val spark = hyb.arrayAdj.sparkSession
    def build(): ManagedLabels = {
      if (symmetric && Adjacency.symmetryCheckEnabled(spark))
        hyb.requireSymmetric()
      // size the round exchanges to the measured carrier volume — the
      // count is a field the hybrid build already measured, so unlike the
      // old per-call probe this costs zero extra jobs (lower-only: a
      // cluster session keeps its width). |E| is the honest carrier here
      // (unlike PageRank's map-combinable inflow): the vote groupBy keys
      // on (dst, lab) and round-1 labels are all distinct, so partial
      // aggregation cannot shrink below |E| pairs. Checkpoints.sized adds
      // the AQE-off floor for tiny measured graphs only; every round
      // stage starts from the label frame, so binding the node set sizes
      // them all.
      val nodes = Checkpoints.sized(if (symmetric) hyb.srcs else hyb.allNodes,
        hyb.edgeCount)
      var r = Checkpoints.stage(nodes.select(col("node"), col("node").as("lab")))
      for (_ <- 1 to iters) {
        // carriers: every in-edge delivers its src's round-(i-1) label
        val votes = hyb.expand(r.withColumnRenamed("node", "src"))
          .groupBy("dst", "lab")
          .agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc) as one order-independent
        // integer argmin — no window, one exchange on dst (a prefix of the
        // (dst,lab) count key, so AQE-local)
        val upd = votes.groupBy("dst")
          .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("m"))
          .select(col("dst"), col("m.lab").as("newlab"))
        val next = Checkpoints.stage(
          r.join(upd, r("node") === upd("dst"), "left")
            .select(r("node"), coalesce(col("newlab"), r("lab")).as("lab")))
        Checkpoints.release(r)
        r = next
      }
      val rFinal = r
      // rFinal is a staged checkpoint with no dependency on the adjacency —
      // free OWNED layout frames NOW, not at the caller's release (review
      // finding: holding them through the consume phase evicts blocks other
      // queries need; the sibling operators all free them here)
      if (ownsAdj) hyb.release()
      ManagedLabels(rFinal, () => { Checkpoints.release(rFinal); () })
    }
    Checkpoints.sweepingOnFailure(spark.sparkContext)(build())
  }
}
