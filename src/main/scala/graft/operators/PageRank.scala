package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph ranking (PageRank) in EXACT fixed-point integer
  * arithmetic — the ranking companion to [[Components]]' connected
  * components (the reference pipeline has no graph verbs; this extends the
  * engine's graph family the way the dedup/ANN operators extend its text
  * family).
  *
  * Why fixed-point: float PageRank is reduction-order dependent — the sum
  * of per-edge contributions arrives in nondeterministic partition order,
  * so two runs (or two engines) can disagree in the last ulp and flip a
  * rank ordering. Here every rank is a LONG in units of 1/`scale`, per-edge
  * contributions are floor divisions (`div`), and the damping step is
  * `base + (inflow * 85) div 100` — integer sums are order-independent, so
  * the result is bit-identical under any partitioning and replayable by a
  * single-threaded SQL oracle.
  *
  * Semantics (documented, deliberate):
  *  - rank_0(n) = scale for every node in src(E) ∪ dst(E);
  *  - contribution of edge (s,d) at step i = rank_i(s) div outdeg(s);
  *  - rank_{i+1}(n) = (scale*15) div 100 + (inflow * 85) div 100;
  *  - dangling nodes (no out-edges) receive rank but emit none — their
  *    mass leaks, the standard simplification; symmetrized graphs (e.g.
  *    co-occurrence) have no dangling nodes by construction.
  *
  * Scale shape: the edge list goes through [[Adjacency.build]] — bounded-
  * degree sources collapse into a per-src ADJACENCY frame (|V| rows, built
  * by one aggregating shuffle that also dedups under `dedupEdges`), and
  * sources above `hubLimit` are auto-routed to a flat (src, dst) layout
  * whose per-row memory is bounded regardless of degree (a 10⁸-degree
  * power-law hub would OOM the array layout; measured in the same count
  * pre-pass that sizes the frames). Each round expands the |V|-row rank
  * frame through both layouts ([[Adjacency.Hybrid.expand]]) and
  * partial-aggregates contributions map-side before the one per-round
  * exchange — identical integer arithmetic either way, so routing cannot
  * change a single bit (pinned in GraphHubSpec). Rounds are STAGED (eager
  * localCheckpoint / reliable checkpoint via [[Checkpoints]]) with the
  * previous round freed immediately: an unstaged rank frame is a lazy
  * subtree that every later round's broadcast re-executes — O(iters²)
  * total work (measured 16.6 s for 5 rounds on the sf0.1 co-purchase
  * graph, degrading across calls; staged, the same job is flat and ~3×
  * faster end-to-end). Round exchanges run at the measured-size partition
  * count ([[Checkpoints.sized]], lower-only — a cluster session keeps its
  * width).
  *
  * Overflow: total mass never exceeds |V|·scale, and the damping multiply
  * is by 85, so the caller must keep |V|·scale·85 < 2^63.
  */
object PageRank {

  /** Ranks plus the handle that frees the persisted/staged frames. Same
    * contract as [[Dedup.ManagedPairs]]: the caller releases after its
    * terminal action. */
  final case class ManagedRanks(ranks: DataFrame, release: () => Unit)

  /** @param edges directed edge list
    * @param iters damping iterations (each replayable in an unrolled CTE)
    * @param scale fixed-point unit (rank_0 = scale); must be divisible by
    *              100 so the damping base (scale*15) div 100 is exact
    * @param dedupEdges true → duplicate (src,dst) rows collapse inside the
    *              adjacency build (collect_set); false → multiplicity
    *              counts, i.e. a repeated edge carries its contribution
    *              once per repeat
    * @param symmetric caller asserts every node occurs as a src (true for
    *              symmetrized / co-occurrence graphs) — the node set then
    *              reads straight off the adjacency sources instead of
    *              exploding and distinct-ing every dst; verified (loudly)
    *              when [[Adjacency.SymmetryCheckConf]] is set
    * @param hubLimit sources with more raw out-edges than this keep the
    *              flat (src,dst) layout — see [[Adjacency]] */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int, scale: Long = 1000000000L,
            dedupEdges: Boolean = false,
            symmetric: Boolean = false,
            hubLimit: Long = Adjacency.DefaultHubLimit): ManagedRanks =
    buildRanks(edges, srcCol, dstCol, iters, scale, dedupEdges, symmetric,
      hubLimit,
      nodes => nodes.select(col("node"),
        lit(scale * 15 / 100).as("base"), lit(scale).as("r0")))

  /** PERSONALIZED PageRank — the "related items" variant: teleport mass
    * restarts only at the `seeds` (rank_0 = scale and per-round base
    * (scale·15) div 100 for seed nodes; BOTH zero elsewhere), so rank
    * measures damped reachability FROM the seed set and the top
    * non-seeds are the recommendations. Same exact fixed-point
    * arithmetic, same adjacency/staging machinery, same oracle
    * replayability — the only delta is the seed-conditional base, joined
    * onto the node set once via broadcast (seed sets are small by
    * definition). Seeds absent from the graph are ignored (they occur in
    * no edge, so they can neither receive nor emit). */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: DataFrame, seedCol: String,
                        iters: Int, scale: Long = 1000000000L,
                        dedupEdges: Boolean = false,
                        symmetric: Boolean = false,
                        hubLimit: Long = Adjacency.DefaultHubLimit): ManagedRanks = {
    val sd = seeds.select(col(seedCol).cast("long").as("node")).distinct()
    buildRanks(edges, srcCol, dstCol, iters, scale, dedupEdges, symmetric,
      hubLimit,
      nodes => nodes
        .join(broadcast(sd.withColumn("__seed", lit(true))), Seq("node"), "left")
        .select(col("node"),
          when(col("__seed"), lit(scale * 15 / 100)).otherwise(lit(0L))
            .as("base"),
          when(col("__seed"), lit(scale)).otherwise(lit(0L)).as("r0")))
  }

  /** Global PageRank over a CALLER-OWNED prebuilt adjacency — the
    * build/probe split for rank consumers (the IVF/cluster/signature
    * index lifecycle applied to the graph family): build the hybrid
    * adjacency once per corpus version, then every rank query pays only
    * its rounds. The returned handle frees ONLY this call's frames
    * (node-base, staged rounds); `adj` stays alive for the next probe and
    * its release stays with whoever built it. */
  def ranksOverAdjacency(adj: Adjacency.Hybrid, iters: Int,
                         scale: Long = 1000000000L,
                         symmetric: Boolean = false): ManagedRanks =
    rankRounds(adj, iters, scale, symmetric, ownsAdj = false,
      nodes => nodes.select(col("node"),
        lit(scale * 15 / 100).as("base"), lit(scale).as("r0")))

  /** Shared core: `nodeBase` decorates the node set with its per-node
    * teleport (`base`) and initial rank (`r0`) — a constant for global
    * PageRank, seed-conditional for the personalized form. */
  private def buildRanks(edges: DataFrame, srcCol: String, dstCol: String,
                         iters: Int, scale: Long, dedupEdges: Boolean,
                         symmetric: Boolean, hubLimit: Long,
                         nodeBase: DataFrame => DataFrame): ManagedRanks = {
    validate(iters, scale) // fail fast — BEFORE the eager O(|E|) build
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // mid-build failures sweep this call's frames — Checkpoints.sweepingOnFailure
    Checkpoints.sweepingOnFailure(edges.sparkSession.sparkContext) {
      val hyb = Adjacency.build(e, dedup = dedupEdges, hubLimit = hubLimit)
      rankRounds(hyb, iters, scale, symmetric, ownsAdj = true, nodeBase)
    }
  }

  private def validate(iters: Int, scale: Long): Unit = {
    require(iters >= 1 && iters <= 64, s"iters must be in [1,64], got $iters")
    require(scale >= 100 && scale % 100 == 0,
      s"scale must be >= 100 and divisible by 100, got $scale")
    // scale*15 (the damping base) and per-node inflow*85 both run in Long:
    // bound scale so the DRIVER-side base can never wrap (the review-found
    // hole in the runtime guard, which only watches the inflow column)
    require(scale <= Long.MaxValue / 85,
      s"scale must be <= 2^63/85 so damping arithmetic cannot wrap, got $scale")
  }

  /** The round engine over an existing adjacency. `ownsAdj` decides
    * whether the returned release also frees the adjacency (true for the
    * edge-list entry points that built it; false for
    * [[ranksOverAdjacency]], whose caller owns the index). */
  private def rankRounds(hyb: Adjacency.Hybrid, iters: Int, scale: Long,
                         symmetric: Boolean, ownsAdj: Boolean,
                         nodeBase: DataFrame => DataFrame): ManagedRanks = {
    validate(iters, scale)
    val spark = hyb.arrayAdj.sparkSession
    val sc = spark.sparkContext
    def build(): ManagedRanks = {
      if (symmetric && Adjacency.symmetryCheckEnabled(spark))
        hyb.requireSymmetric()
      // size the round exchanges to the measured carrier volume: the
      // inflow groupBy is map-side partial-aggregated, so each round's
      // exchange carries ≤ maps×|V| partial sums and the reduce side
      // processes |V| groups — on a SYMMETRIC graph |V| = srcCount, a
      // field the hybrid build already measured (zero extra jobs); on a
      // directed graph dst-only nodes make srcCount an undercount, so the
      // conservative |E| bound stays. Tiny measured widths also switch
      // AQE and planner broadcasts off (Checkpoints.sized): per-round
      // stage materialization jobs + driver final-plan updates dominate
      // |V|-sized rounds (measured r17: q65 2.01→1.52 s, q69 2.28→2.02 s
      // at sf0.1/local[32]). Lower-only, so a cluster session keeps its
      // width and a billion-node graph keeps AQE. Every round stage
      // starts from `nodes`, so binding it sizes them all.
      val roundCarrier = if (symmetric) hyb.srcCount else hyb.edgeCount
      val nodes = Checkpoints.sized(nodeBase(if (symmetric) hyb.srcs else hyb.allNodes),
        roundCarrier, broadcastOffAtFloor = true)
        .persist(StorageLevel.MEMORY_AND_DISK)
      var r = Checkpoints.stage(nodes.select(col("node"), col("r0").as("r")))
      for (_ <- 1 to iters) {
        val inflow = hyb.expand(r.withColumnRenamed("node", "src"))
          .select(col("dst"),
            call_function("div", col("r"), col("outdeg")).as("c"))
          .groupBy("dst")
          .agg(sum(col("c")).as("m"))
        // overflow is a hard error, not silent wrap — two layers: the
        // session's ANSI mode (Spark 4 default) already throws on an
        // overflowing inflow SUM, and this guard turns the remaining case
        // (m representable, m*85 not) into a domain-specific message
        // before the multiply. The guard is part of the rank expression,
        // so column pruning can never drop it; m < 0 additionally covers
        // a non-ANSI session's wrapped sum.
        val mSafe = coalesce(col("m"), lit(0L))
        val guarded = when(mSafe < 0 || mSafe > lit(Long.MaxValue / 85),
          raise_error(concat(lit("PageRank overflow: inflow "),
            col("m").cast("string"),
            lit(s" breaks |V|*scale*85 < 2^63 at scale=$scale — lower scale"))))
          .otherwise(col("base") + call_function("div", mSafe * 85, lit(100L)))
        val next = Checkpoints.stage(
          nodes.join(inflow, nodes("node") === inflow("dst"), "left")
            .select(nodes("node"), guarded.as("r")))
        Checkpoints.release(r)
        r = next
      }
      val rFinal = r
      val deg = hyb.outDegrees
      val out = rFinal.join(deg, rFinal("node") === deg("src"), "left")
        .select(rFinal("node"), col("r").as("rank_fp"),
          coalesce(col("outdeg"), lit(0L)).as("outdeg"))
      ManagedRanks(out, () => {
        if (ownsAdj) hyb.release()
        nodes.unpersist()
        Checkpoints.release(rFinal)
        ()
      })
    }
    Checkpoints.sweepingOnFailure(sc)(build())
  }
}
