package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition by iterative peeling — the density-extraction
  * member of the graph family (the k-core is the maximal subgraph where
  * every node keeps ≥ k neighbors; the standard scaffold for community
  * seeds, spam rings, and "dense cluster first" curriculum ordering).
  *
  * Peeling is the textbook distributed form: repeatedly delete nodes whose
  * CURRENT degree (in the surviving subgraph) is < k; the fixed point is
  * exactly the k-core. Each round is pure relational algebra — degree
  * count, threshold filter, two semi-joins to restrict the edge set — so
  * every round is integer-exact, order-independent, and replayable by an
  * unrolled SQL CTE (how q72's oracle certifies it).
  *
  * `rounds` is a FIXED budget, not a convergence loop: the result after R
  * rounds is a well-defined object in its own right (the survivors of R
  * synchronized peels), the oracle replays exactly R rounds, and the
  * returned frame carries `converged` so a caller that needs the true
  * fixed point can test it (peeling converges in O(peel-depth) rounds,
  * which is small on real graphs; q72 picks R past the measured depth).
  *
  * Scale shape: the undirected edge set is built and persisted ONCE (one
  * distinct shuffle); each round shuffles only the |V|-row survivor set —
  * degree agg + two broadcast-or-shuffle semi-joins against the persisted
  * edges — and survivor frames are STAGED ([[Checkpoints]]) with the
  * previous round freed immediately, the same O(iters²)-avoidance the
  * other iterative operators use.
  */
object KCore {

  /** Survivors plus the release handle ([[PageRank.ManagedRanks]]
    * contract). `core` has columns (node LONG, deg LONG) — the surviving
    * nodes with the degree MEASURED IN THE ROUND-(R-1) SURVIVOR SUBGRAPH
    * (the degree that admitted them to the final round): when
    * `converged=true` the last peel removed nothing, so that subgraph IS
    * the survivor set and deg is exact within it; when the budget stopped
    * mid-peel (`converged=false`) deg still counts edges to nodes peeled
    * in the final round. `converged` reports whether the frame is the
    * true k-core or just an R-round prefix. */
  final case class ManagedCore(core: DataFrame, converged: Boolean,
                               release: () => Unit)

  /** @param broadcastLimit survivor-count threshold below which the
    *        per-round semi-joins broadcast the survivor set instead of
    *        shuffling the |E|-row edge frame. The count is already in hand
    *        (convergence detection), so this is measured-stats adaptivity,
    *        not a guess: a 100-TB graph's early rounds (|V| ~ 1e9) shuffle,
    *        and the tail rounds — where the survivor set has collapsed to
    *        the dense core — switch to two map-side joins. The default
    *        is the family-shared [[Adjacency.BroadcastRowLimit]] (1M
    *        longs ≈ 8 MB, inside Spark's 10 MB autoBroadcast bar).
    *        Measured on the sf0.1 bipartite graph (33k survivors,
    *        6 rounds): 7.3 s all-shuffle → ~2 s broadcast. */
  def core(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int,
           broadcastLimit: Long = Adjacency.BroadcastRowLimit): ManagedCore = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64], got $rounds")
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    val sc = edges.sparkSession.sparkContext
    def degreesOf(e: DataFrame): DataFrame =
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    def build(): ManagedCore = {
      val und = edges.select(least(s, d).as("a"), greatest(s, d).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // measured-size round partitioning: per-round frames carry ≤ 2|E|
      // rows, and on small graphs the round cost is task-count overhead,
      // not data (Checkpoints.sized scaladoc — the sizing only ever
      // LOWERS the root session's width)
      buildRounds(und, und.count())
    }
    def buildRounds(und: DataFrame, undCount: Long): ManagedCore = {
      // round 0: everyone with initial degree >= k survives
      var surv = Checkpoints.stage(
        degreesOf(Checkpoints.sized(und, 2 * undCount))
          .filter(col("deg") >= k).select(col("node"), col("deg")))
      var prevCount = surv.count()
      var converged = false
      for (_ <- 1 to rounds if !converged) {
        // restrict edges to the current survivor set (two semi-joins on
        // the staged |V|-row frame), recount, re-threshold; the survivor
        // count from the previous round picks broadcast vs shuffle
        val keep0 = surv.select("node")
        val keep = if (prevCount <= broadcastLimit) broadcast(keep0) else keep0
        val e = und
          .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        // this round's exchange carries map-combined per-node degree
        // counts — ≤ maps×(survivors) rows with `prevCount` survivors, a
        // number already in hand from the convergence check: size the
        // round by it so a collapsed survivor set stops paying round 0's
        // |E|-sized width and the AQE-off floor can fire on tiny rounds
        // (measured r17: q72 2.40→2.08 s)
        val next = Checkpoints.stage(
          degreesOf(Checkpoints.sized(e, 2 * prevCount))
            .filter(col("deg") >= k).select(col("node"), col("deg")))
        val n = next.count()
        Checkpoints.release(surv)
        surv = next
        if (n == prevCount) converged = true
        prevCount = n
      }
      val fin = surv
      und.unpersist()
      ManagedCore(fin, converged, () => { Checkpoints.release(fin); () })
    }
    Checkpoints.sweepingOnFailure(sc)(build())
  }
}
