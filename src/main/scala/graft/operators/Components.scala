package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components — the cluster-resolution step that turns
  * near-duplicate PAIRS (from [[Dedup.minhashExactPairsManaged]] /
  * [[Dedup.simhashPairsManaged]] / [[Dedup.embeddingNearDupPairs]]) into per-document cluster assignments and a
  * canonical keep-list, i.e. the final "which copy survives" decision of a
  * web-scale dedup pipeline.
  *
  * Algorithm: the alternating large-star / small-star method (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond", SoCC 2014 — public literature). Each round is two
  * hash-shuffles on node id:
  *
  *  - '''large-star''': every node connects its strictly-larger neighbors to
  *    the minimum of its neighborhood (including itself);
  *  - '''small-star''': every node connects its smaller-or-equal neighbors to
  *    that minimum.
  *
  * Both operations preserve connectivity and strictly shrink the potential
  * function, converging in O(log²|V|) rounds (O(log|V|) observed) to a star
  * forest where every node points at its component minimum. Unlike naive
  * min-label propagation (O(diameter) rounds — fine for the near-clique
  * components similarity edges produce, hopeless on 100-TB chain-shaped
  * graphs), round count is independent of component shape, and per-round work
  * is |E| rows through two groupBy shuffles — no adjacency materialization,
  * no signatures, just (long, long) pairs.
  *
  * Scale notes: each round is materialized with lineage truncated through
  * [[Checkpoints.stage]] (iterative-DataFrame trap — without it the plan
  * doubles per iteration and the driver ooms on plan size long before data
  * size matters). Default mode is `localCheckpoint` (fast, executor-local);
  * a session that calls [[graft.GraftSession.enableReliableCheckpoints]]
  * gets reliable `checkpoint()` instead, so a lost executor mid-run recovers
  * from the checkpoint store rather than killing the job — identical labels
  * either way (ComponentsSpec runs both modes). Convergence
  * is detected by an exact edge-set comparison: a count + order-independent
  * xxhash64 checksum (ONE cheap aggregate per round — the previous round's
  * checksum is carried, not recomputed), then — only when the checksums
  * match — a definitive anti-join emptiness check, so a checksum collision
  * can never declare early convergence (measured negligible at convergence
  * because the sets are equal and AQE broadcasts the empty diff).
  */
object Components {

  /** Connected components of the undirected graph given as an edge list
    * (any orientation, self-loops ignored). Returns `(id, cluster)` for every
    * node incident to at least one edge, where `cluster` is the smallest node
    * id in the component. Nodes absent from `edges` (singletons) are absent
    * from the result — callers left-join and coalesce (see d05).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 64): DataFrame =
    connectedComponentsWithStats(edges, maxIter)._1

  /** [[connectedComponents]] plus the number of alternating rounds taken to
    * reach the confirmed fixed point (for scale probes / monitoring). */
  def connectedComponentsWithStats(edges: DataFrame,
                                   maxIter: Int = 64): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val Seq(src, dst) = edges.columns.take(2).toSeq.map(col)

    // Canonical (a < b) undirected edge set.
    var e = edges
      .select(least(src, dst).cast("long").as("a"), greatest(src, dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    e = Checkpoints.stage(e)

    var iter = 0
    var converged = false
    var eSig = sig(e) // carried across rounds: one checksum job per round
    while (!converged && iter < maxIter) {
      val next = Checkpoints.stage(smallStar(largeStar(e)))
      val nextSig = sig(next)
      converged = eSig == nextSig && confirmedEqual(e, next)
      // next is materialized (eager checkpoint, either mode) and the
      // convergence check has read both frames: the previous round's
      // checkpoint (blocks or files) can be released NOW instead of waiting
      // for GC-driven cleanup — otherwise a long run holds
      // O(rounds × |E|) storage.
      releaseCheckpoint(e)
      e = next
      eSig = nextSig
      iter += 1
    }
    // failure must not leak the final round's checkpoint — in reliable
    // mode those are durable rdd-* files in the cluster store that nothing
    // else reclaims (Hierarchy frees every failure path for the same reason)
    if (!converged) {
      releaseCheckpoint(e)
      sys.error(s"connectedComponents did not converge in $maxIter rounds")
    }

    // Star forest: every edge (a, b) has a = component min, b a member.
    // The roots themselves are members of their own cluster.
    val labels = e.select(col("b").as("id"), col("a").as("cluster"))
      .union(e.select(col("a").as("id"), col("a").as("cluster")))
      .distinct() // one dedup of the whole union; roots need no inner pass
    (labels, iter)
  }

  /** Free a checkpointed frame's storage NOW, whichever mode produced it —
    * see [[Checkpoints.release]] (kept here under its original name; every
    * operator and query that frees iterative state calls this). */
  def releaseCheckpoint(df: DataFrame): Unit = Checkpoints.release(df)

  /** Per-node neighborhood minimum m = min(Γ(u) ∪ {u}); strictly larger
    * neighbors re-attach to m. Every canonical edge (a,b), a < b, is seen
    * from its smaller endpoint's group (u = a, v = b > u), so one groupBy on
    * the symmetric adjacency covers the whole edge set. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("m").as("a"), col("v").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Smaller neighbors (the canonical orientation already points smaller →
    * larger: group by the larger endpoint b) re-attach to the group minimum,
    * and the group node itself attaches to it too. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("b").agg(min(col("a")).as("m"))
    e.join(mins, "b")
      .filter(col("a") =!= col("m"))
      .select(col("m").as("a"), col("a").as("b"))
      .union(mins.select(col("m").as("a"), col("b")))
      .distinct()
  }

  /** O(1)-row edge-set checksum (count + order-independent hash), ONE job.
    * bit_xor, not sum: order-independent AND overflow-free under ANSI
    * (a LongType sum of 2^63-scale hashes throws ArithmeticException). */
  private def sig(d: DataFrame): (Long, Long) = {
    val r = d.agg(count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Definitive equality confirm, run only when the checksums already
    * matched — a checksum collision can never declare early convergence. */
  private def confirmedEqual(x: DataFrame, y: DataFrame): Boolean =
    x.join(y, Seq("a", "b"), "left_anti").isEmpty &&
      y.join(x, Seq("a", "b"), "left_anti").isEmpty

  /** INCREMENTAL component maintenance: fold a batch of NEW edges into a
    * standing labelling without re-running CC over the full graph — the
    * missing half of [[graft.streaming.NearDupAdmission]]'s epoch contract
    * (aggregates fold via q58's identity, joins via q67's; this is the
    * monotone identity for components).
    *
    * New edges can only MERGE components — never split them — so the fold
    * is exact: contract each new edge's endpoints to their standing labels
    * (identity for nodes the standing labelling has never seen), drop the
    * edges that contract to self-loops (both endpoints already share a
    * component — the common case for a near-dup batch), and run
    * [[connectedComponents]] over the CONTRACTED delta graph only. That CC
    * yields a label→label remap whose labels compose: every standing label
    * is the min node id of its old component, so the min over merged old
    * labels ∪ new node ids IS the min node id of the merged component —
    * bit-identical to a full rebuild over old ∪ new edges (certified by
    * d13's oracle, which replays the full rebuild, and pinned in
    * ComponentsSpec on adversarial merge chains).
    *
    * Cost shape: two broadcast-or-shuffle joins of the delta against the
    * label table, a CC over |Δ|-sized contracted edges (not |E|), and ONE
    * remap join over the standing labels — a continuously-ingesting corpus
    * pays per-epoch work proportional to the batch, not the corpus.
    *
    * Contract matches [[connectedComponents]]: returns `(id, cluster)` for
    * every standing node plus every delta-incident node; singletons the
    * graph has never seen stay absent (callers coalesce). The result is
    * LAZY and references the delta CC's final checkpoint — callers stage
    * and release like any other CC consumer (see d13). */
  def foldEdges(labels: DataFrame, newEdges: DataFrame,
                maxIter: Int = 64): DataFrame = {
    val Seq(src, dst) = newEdges.columns.take(2).toSeq.map(col)
    val e = newEdges
      .select(src.cast("long").as("na"), dst.cast("long").as("nb"))
      .filter(col("na") =!= col("nb"))
    val lab = labels.select(col("id").cast("long").as("id"),
      col("cluster").cast("long").as("cluster"))
    val contracted = e
      .join(lab.select(col("id").as("na"), col("cluster").as("la")),
        Seq("na"), "left")
      .join(lab.select(col("id").as("nb"), col("cluster").as("lb")),
        Seq("nb"), "left")
      .select(coalesce(col("la"), col("na")).as("x"),
        coalesce(col("lb"), col("nb")).as("y"))
      .filter(col("x") =!= col("y"))
    // CC over the contracted delta: ids here are standing LABELS and new
    // node ids; its output is the remap old-label → merged min
    val remap = connectedComponents(contracted, maxIter)
    val updated = lab
      .join(remap.select(col("id").as("cluster"), col("cluster").as("newc")),
        Seq("cluster"), "left")
      .select(col("id"), coalesce(col("newc"), col("cluster")).as("cluster"))
    // delta-incident nodes the standing labelling has never seen: they
    // appear in the contracted CC under their own ids (a new node can
    // never contract away — its "label" is itself); the coalesce covers
    // only the theoretical all-self-loop case the filter already drops
    val newNodes = e.select(col("na").as("id"))
      .union(e.select(col("nb").as("id"))).distinct()
      .join(lab.select("id"), Seq("id"), "left_anti")
    val newLabels = newNodes.join(remap, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    updated.union(newLabels)
  }

  /** Dup-cluster resolution over a node frame: every node gets its component
    * min as `cluster` (its own id when it is a singleton or the canonical
    * representative) and `is_canonical` marks the survivor — the keep-list
    * a dedup pipeline feeds downstream. */
  def dupClusters(nodes: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dupClustersFromLabels(nodes, idCol, connectedComponents(pairs))

  /** [[dupClusters]] over a PRECOMPUTED label frame (`(id, cluster)` from
    * [[connectedComponents]]) — the build/probe split for cluster
    * consumers: resolve components once per corpus version, then every
    * downstream decision (cluster table, keep-list, cluster stats) is a
    * cheap join against the same labels instead of a fresh iterative
    * convergence. */
  def dupClustersFromLabels(nodes: DataFrame, idCol: String,
                            labels: DataFrame): DataFrame =
    nodes.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster"), col("id")).as("cluster"))
      .withColumn("is_canonical", col("id") === col("cluster"))

  /** The keep-list decision a dedup pipeline actually ships: per duplicate
    * cluster, keep the HIGHEST-QUALITY copy (quality DESC, id ASC — a
    * total order, so the survivor is engine-independent), not the
    * min-id copy [[dupClusters]] defaults to. Returns one row per node:
    * `(id, cluster, canonical_id, keep)`; downstream the corpus is
    * `filter(keep)` and every dropped doc knows its replacement.
    *
    * Scale shape: clustering as [[dupClusters]]; the per-cluster argmax
    * runs through the bounded-heap TopKPerKey operator (k = 1 — no
    * per-cluster sort, shuffle carries one candidate row per cluster per
    * input partition), and the winners broadcast back onto the membership
    * frame when small. */
  def keepList(nodes: DataFrame, idCol: String, qualityCol: String,
               pairs: DataFrame): DataFrame =
    keepListFromLabels(nodes, idCol, qualityCol, connectedComponents(pairs))

  /** [[keepList]] over a precomputed label frame — see
    * [[dupClustersFromLabels]]. */
  def keepListFromLabels(nodes: DataFrame, idCol: String, qualityCol: String,
                         labels: DataFrame): DataFrame = {
    val clustered = dupClustersFromLabels(nodes, idCol, labels)
      .join(nodes.select(col(idCol).cast("long").as("id"),
        col(qualityCol).as("q")), Seq("id"))
    val canon = graft.plans.TopK.perKey(
        clustered.select(col("cluster"), col("id"), col("q")),
        Seq("cluster"), Seq("q" -> false, "id" -> true), k = 1)
      .select(col("cluster"), col("id").as("canonical_id"))
    clustered.join(canon, Seq("cluster"))
      .select(col("id"), col("cluster"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
  }
}
