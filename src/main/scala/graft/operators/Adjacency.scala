package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** HUB-SAFE adjacency for the iterative graph operators ([[PageRank]],
  * [[LabelPropagation]], [[BfsHops]], [[CheapestPaths]]) — the one shared
  * mechanism that closes the family's documented scale hole.
  *
  * The array layout (one `(src, dsts[])` row per source, built by a single
  * aggregating shuffle) is the right trade for bounded-degree graphs: the
  * |V|-row frame is what every round re-reads, and collect_set dedups in
  * the same pass. But it bounds per-node memory by MAX OUT-DEGREE — a
  * power-law graph with a 10⁸-degree hub would materialize a multi-GB
  * array row and OOM the executor that gets it. Previously that fallback
  * was prose in the operators' scaladoc; this makes it code:
  *
  *  - a COUNT pre-pass over the (persisted) edge frame measures per-source
  *    multiplicity — cheap (map-side combinable, two longs per row) and
  *    the only way to know a hub exists without first building its array;
  *  - sources above `hubLimit` are routed to a FLAT (src, dst[, w]) layout
  *    — plain rows, partitioned like any fact table, no per-row bound —
  *    and their arrays are NEVER built (the anti-join removes them before
  *    the collect);
  *  - everyone else keeps the array layout, so the common case pays one
  *    extra count shuffle and nothing else;
  *  - [[Hybrid.expand]] joins a per-source frame into BOTH layouts and
  *    unions flat (dst [, w], outdeg, payload…) rows — the operators'
  *    round arithmetic is identical over either layout, so results are
  *    bit-identical whatever the routing (pinned per operator in
  *    GraphHubSpec against a planted extreme-degree hub).
  *
  * Routing is by RAW multiplicity, deliberately: with `dedup=true` a
  * source whose duplicates collapse below the limit may still route flat —
  * conservative (the flat path applies the same distinct), never wrong,
  * and it means the pre-pass needs no exact distinct-count per source.
  *
  * The pre-pass also yields measured sizes for free: the array frame is
  * coalesced to ~[[Checkpoints.partitionsForRows]] of the measured edge
  * count (a |V|-row frame left at the session's shuffle-partition width is
  * pure task-count overhead on small graphs — measured on a k-core round
  * at sf0.1), and
  * `srcCount`/`edgeCount` are exposed so operators can size their round
  * exchanges the same way.
  */
object Adjacency {

  /** Sources with more than this many (raw) out-edges keep the flat
    * layout. 2^17 longs ≈ 1 MB serialized per array row — comfortably
    * inside any executor, far above real bounded-degree graphs (q65's
    * co-purchase degrees are in the hundreds), far below the 10⁸-degree
    * hubs of web/social graphs. */
  val DefaultHubLimit: Long = 131072L

  /** Measured-count bar under which a (node)/(src, outdeg)-shaped frame
    * gets a broadcast hint. 10^6 single-long rows ≈ 8 MB serialized —
    * inside Spark's default 10 MB autoBroadcastJoinThreshold, so the hint
    * never forces a broadcast the planner's own bar would refuse. Shared
    * by this build, [[Hybrid.expand]], [[KCore]] and [[BfsHops]] so the
    * whole graph family routes through one constant; above it the joins
    * fall back to shuffle (exercised in GraphHubSpec). */
  val BroadcastRowLimit: Long = 1000000L

  /** Conf flag: when true, operators taking a `symmetric` caller
    * assertion verify it ([[Hybrid.requireSymmetric]]) instead of
    * trusting it — a lying caller fails loudly rather than silently
    * dropping dst-only nodes from the node set. Off by default: the check
    * costs the very explode+distinct+anti-join that `symmetric=true`
    * exists to skip. */
  val SymmetryCheckConf = "spark.graft.graph.symmetryCheck"

  def symmetryCheckEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption(SymmetryCheckConf)
      .exists(_.trim.equalsIgnoreCase("true"))

  /** The two-layout adjacency. `arrayAdj` = (src, dsts, outdeg) for
    * bounded-degree sources; `flat` = (src, dst[, w]) rows for hub
    * sources; `hubDeg` = (src, outdeg) for hubs only (≤ |E|/hubLimit rows
    * by construction, always broadcastable). Frames are MATERIALIZED at
    * build (the caller can rely on eager failure — e.g. CheapestPaths'
    * negative-weight refusal fires here even with empty seeds). */
  final case class Hybrid(
      weighted: Boolean,
      arrayAdj: DataFrame,
      flat: DataFrame,
      hubDeg: DataFrame,
      hubCount: Long,
      srcCount: Long,
      edgeCount: Long,
      release: () => Unit,
      bcastLimit: Long = BroadcastRowLimit) {

    /** Join a per-source frame (must carry a `src` column; every other
      * column is payload) into both layouts: returns flat rows
      * (dst [, w], outdeg, payload…) — one per out-edge of each `per`
      * source, multiplicity per the build's `dedup` flag. The array side
      * is the usual join-explode; the flat side is a plain equi-join with
      * the (tiny) hubDeg broadcast riding along for outdeg. When no hubs
      * exist the union is skipped entirely, keeping the common-case plan
      * identical to the pure-array form. */
    def expand(per: DataFrame): DataFrame = {
      val reserved = Set("dst", "w", "outdeg", "dsts", "__e")
      val clash = per.columns.filter(c => c != "src" && reserved(c))
      require(clash.isEmpty,
        s"expand payload column(s) ${clash.mkString(", ")} collide with " +
          "the columns expand produces (dst/w/outdeg) — rename them " +
          "before joining")
      val payload = per.columns.filter(_ != "src").toSeq.map(col)
      val arr =
        if (weighted)
          arrayAdj.join(per, Seq("src"))
            .select((explode(col("dsts")).as("__e") +: col("outdeg") +:
              payload): _*)
            .select((col("__e.dst").as("dst") +: col("__e.w").as("w") +:
              col("outdeg") +: payload): _*)
        else
          arrayAdj.join(per, Seq("src"))
            .select((explode(col("dsts")).as("dst") +: col("outdeg") +:
              payload): _*)
      if (hubCount == 0) arr
      else {
        // hubDeg has hubCount rows (up to |E|/hubLimit) — hint only under
        // the same measured bar the build uses; a graph pathological
        // enough to exceed it must shuffle, not OOM the driver
        val hd = if (hubCount <= bcastLimit) broadcast(hubDeg)
                 else hubDeg
        val base = flat.join(hd, Seq("src"))
          .join(per, Seq("src"))
        val fl =
          if (weighted)
            base.select((col("dst") +: col("w") +: col("outdeg") +:
              payload): _*)
          else base.select((col("dst") +: col("outdeg") +: payload): _*)
        arr.unionByName(fl)
      }
    }

    /** Distinct sources, as (node) — the layouts partition the source set,
      * so the union needs no distinct. */
    def srcs: DataFrame = {
      val a = arrayAdj.select(col("src").as("node"))
      if (hubCount == 0) a else a.union(hubDeg.select(col("src").as("node")))
    }

    /** src(E) ∪ dst(E), distinct, as (node). */
    def allNodes: DataFrame = {
      val dstExpr =
        if (weighted) explode(col("dsts")).as("__e") else explode(col("dsts")).as("node")
      val arrDsts =
        if (weighted)
          arrayAdj.select(dstExpr).select(col("__e.dst").as("node"))
        else arrayAdj.select(dstExpr)
      val all = srcs.union(arrDsts)
      (if (hubCount == 0) all
       else all.union(flat.select(col("dst").as("node")))).distinct()
    }

    /** (src, outdeg) across both layouts. */
    def outDegrees: DataFrame = {
      val a = arrayAdj.select(col("src"), col("outdeg"))
      if (hubCount == 0) a else a.union(hubDeg.select(col("src"), col("outdeg")))
    }

    /** The stored edge multiset as flat `(src, dst[, w])` rows across both
      * layouts — multiplicity per the build's `dedup` flag. The array side
      * pays one explode; consumers that only need degrees should read
      * [[outDegrees]] instead. */
    def edges: DataFrame = {
      val a =
        if (weighted)
          arrayAdj.select(col("src"), explode(col("dsts")).as("__e"))
            .select(col("src"), col("__e.dst").as("dst"), col("__e.w").as("w"))
        else arrayAdj.select(col("src"), explode(col("dsts")).as("dst"))
      if (hubCount == 0) a
      else a.unionByName(
        if (weighted) flat.select("src", "dst", "w")
        else flat.select("src", "dst"))
    }

    /** Verify the `symmetric` caller assertion (every node occurs as a
      * src): counts dst-only nodes and refuses if any exist. Costs the
      * full node-set pass the assertion normally skips — run under
      * [[SymmetryCheckConf]], not unconditionally. */
    def requireSymmetric(): Unit = {
      val dstOnly = allNodes.join(srcs, Seq("node"), "left_anti").count()
      require(dstOnly == 0L,
        s"symmetric=true but $dstOnly node(s) occur only as a dst — " +
          "they would silently get no output row; symmetrize the edge " +
          "list or pass symmetric=false")
    }
  }

  /** Build the hybrid adjacency. `edges` must already be normalized to
    * columns (src LONG, dst LONG) — plus (w LONG) for the weighted form,
    * detected by schema. `dedup=true` collapses duplicate (src,dst) rows
    * in BOTH layouts (collect_set / distinct); weighted edges are never
    * deduped (multiplicity is the caller's contract there).
    *
    * Materialization order matters: the edge frame is persisted so the
    * caller's (possibly expensive) edge generation runs ONCE across the
    * degree pre-pass and both layout builds, then freed as soon as the
    * layouts are durable. Callers wrap the build in
    * [[Checkpoints.sweepingOnFailure]] like every other eager iterative
    * build. */
  def build(edges: DataFrame, dedup: Boolean,
            hubLimit: Long = DefaultHubLimit,
            broadcastRowLimit: Long = BroadcastRowLimit): Hybrid = {
    require(hubLimit >= 1, s"hubLimit must be >= 1, got $hubLimit")
    val weighted = edges.columns.contains("w")
    require(!(weighted && dedup), "dedup applies to unweighted edges only")
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val degrees = e.groupBy("src").agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val srcCount = degrees.count()
    val edgeCount = degrees.agg(sum(col("n"))).collect()(0) match {
      case row if row.isNullAt(0) => 0L
      case row => row.getLong(0)
    }
    val hubSrcs = degrees.filter(col("n") > hubLimit).select("src")
    val hubCount = hubSrcs.count()
    // the hub source LIST is ≤ |E|/hubLimit rows — broadcast it below the
    // same measured-count bar the operators' semi-joins use
    val hub = if (hubCount > 0 && hubCount <= broadcastRowLimit)
                broadcast(hubSrcs)
              else hubSrcs
    val collected =
      if (weighted) collect_list(struct(col("dst"), col("w")))
      else if (dedup) collect_set(col("dst"))
      else collect_list(col("dst"))
    val nonHub = if (hubCount == 0) e else e.join(hub, Seq("src"), "left_anti")
    val arrayAdj = nonHub.groupBy("src").agg(collected.as("dsts"))
      .select(col("src"), col("dsts"),
        size(col("dsts")).cast("long").as("outdeg"))
      // measured sizing: array bytes scale with |E|, so size partitions by
      // the measured edge count, not the session's shuffle width — a 20k-
      // source graph becomes a handful of tasks per round instead of 32
      // (measured on a k-core round at sf0.1); a 100-TB graph keeps its
      // parallelism
      .coalesce(Checkpoints.partitionsForRows(edgeCount))
      .persist(StorageLevel.MEMORY_AND_DISK)
    arrayAdj.count()
    val (flat, hubDeg) =
      if (hubCount == 0) (e.limit(0), e.limit(0).groupBy("src")
        .agg(count(lit(1)).as("outdeg")))
      else {
        val f0 = e.join(hub, Seq("src"), "left_semi")
        val f = (if (dedup) f0.distinct() else f0)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val hd = f.groupBy("src").agg(count(lit(1)).as("outdeg")).persist()
        hd.count() // materializes f (first use) and hd in one job
        (f, hd)
      }
    e.unpersist()
    degrees.unpersist()
    Hybrid(weighted, arrayAdj, flat, hubDeg, hubCount, srcCount, edgeCount,
      () => {
        arrayAdj.unpersist()
        if (hubCount > 0) { flat.unpersist(); hubDeg.unpersist() }
        ()
      },
      bcastLimit = broadcastRowLimit)
  }

  /** INCREMENTAL adjacency maintenance: fold a batch of NEW edges into a
    * standing [[Hybrid]] without re-running the full build — the graph
    * layer's twin of [[Components.foldEdges]] (labels) and the signature
    * index's incremental probe (d06): a continuously-ingesting corpus pays
    * per-epoch work proportional to the batch, not the corpus.
    *
    * Shape: the delta's source set (|Δ_src| rows) semi-joins each standing
    * layout to RECOVER the stored edges of touched sources only — the
    * semi-join sits BELOW the array explode, so recovery reads |Δ_src|
    * array rows, not |V| — then a normal [[build]] over (recovered ∪
    * delta) re-derives those sources' rows with the same hub routing, and
    * the untouched standing rows pass through by anti-join. What the fold
    * SKIPS vs a rebuild is everything |E|-shaped: the caller's edge
    * generation (q65's pair-gen self-join), the degree pre-pass, and the
    * collect_set shuffle over the full corpus. The merged frames are
    * persisted and counted (the [[build]] eager contract), so the CALLER
    * may release the standing hybrid as soon as the fold returns; epoch
    * chains should periodically compact through
    * [[IndexStore.graph]] — the durable form is also how a folded
    * index outlives the session.
    *
    * Hub routing: the mini-build routes by the multiplicity of
    * (recovered ∪ delta) — for a deduped standing index the recovered side
    * is post-dedup, so a source whose RAW duplicates once exceeded
    * `hubLimit` may re-route to the array layout after a fold where a full
    * rebuild would keep it flat. That asymmetry is the documented
    * conservative-routing freedom: layouts bound memory, never change
    * results ([[Hybrid.expand]] is bit-identical either way, pinned in
    * AdjacencyFoldSpec), and the fold's routing is the TIGHTER one.
    *
    * `edgeCount` of a folded hybrid counts STORED (post-dedup) edges —
    * the same partition-sizing role as build's raw count.
    *
    * Wrap in [[Checkpoints.sweepingOnFailure]] like the build. */
  def foldEdges(standing: Hybrid, delta: DataFrame, dedup: Boolean,
                hubLimit: Long = DefaultHubLimit,
                broadcastRowLimit: Long = BroadcastRowLimit): Hybrid = {
    val weighted = delta.columns.contains("w")
    require(weighted == standing.weighted,
      s"delta weighted=$weighted, standing weighted=${standing.weighted}")
    require(!(weighted && dedup), "dedup applies to unweighted edges only")
    val cols = if (weighted) Seq("src", "dst", "w") else Seq("src", "dst")
    val d = delta.select(cols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val touched = d.select("src").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTouched = touched.count()
    val tb = if (nTouched <= broadcastRowLimit) broadcast(touched) else touched

    // recover the stored edges of touched sources — |Δ_src|-proportional
    // (the semi-join sits below the explode; computed once, inside the
    // mini-build's own edge persist)
    val arrTouched = standing.arrayAdj.join(tb, Seq("src"), "left_semi")
    val arrEdges =
      if (weighted)
        arrTouched.select(col("src"), explode(col("dsts")).as("__e"))
          .select(col("src"), col("__e.dst").as("dst"), col("__e.w").as("w"))
      else arrTouched.select(col("src"), explode(col("dsts")).as("dst"))
    val flatTouched = standing.flat.join(tb, Seq("src"), "left_semi")
    val mini = build(
      arrEdges.select(cols.map(col): _*)
        .unionByName(flatTouched.select(cols.map(col): _*))
        .unionByName(d),
      dedup, hubLimit, broadcastRowLimit)

    // count bookkeeping: ONE pass per standing layout gathers total stored
    // degree AND the touched subset's (count, degree) via a marker
    // left-join — at scale the arrayAdj scan is the |V|-sized cost here,
    // so it must not run twice
    def layerStats(layer: DataFrame): (Long, Long, Long) = {
      val r = layer.join(tb.withColumn("__t", lit(1)), Seq("src"), "left")
        .agg(coalesce(sum(col("outdeg")), lit(0L)).as("all_out"),
          count(col("__t")).as("t_cnt"),
          coalesce(sum(when(col("__t").isNotNull, col("outdeg"))), lit(0L))
            .as("t_out"))
        .collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def firstLong(df: DataFrame): Long = df.collect()(0).getLong(0)
    val (arrAllOut, arrTouchedCnt, arrTouchedOut) = layerStats(standing.arrayAdj)
    val (hubAllOut, hubTouchedCnt, hubTouchedOut) =
      if (standing.hubCount == 0) (0L, 0L, 0L) else layerStats(standing.hubDeg)
    val miniStoredOut =
      firstLong(mini.arrayAdj.agg(coalesce(sum(col("outdeg")), lit(0L)))) +
        (if (mini.hubCount == 0) 0L
         else firstLong(mini.hubDeg.agg(coalesce(sum(col("outdeg")), lit(0L)))))
    val newSrcCount = standing.srcCount - arrTouchedCnt - hubTouchedCnt +
      mini.srcCount
    val newHubCount = standing.hubCount - hubTouchedCnt + mini.hubCount
    val newEdgeCount =
      arrAllOut + hubAllOut - arrTouchedOut - hubTouchedOut + miniStoredOut

    // untouched standing rows pass through by anti-join; the merged frames
    // are materialized so the folded hybrid owns its storage
    val newArray = standing.arrayAdj.join(tb, Seq("src"), "left_anti")
      .unionByName(mini.arrayAdj)
      .coalesce(Checkpoints.partitionsForRows(newEdgeCount))
      .persist(StorageLevel.MEMORY_AND_DISK)
    newArray.count()
    val (newFlat, newHubDeg) =
      if (newHubCount == 0) (standing.flat.limit(0), standing.hubDeg.limit(0))
      else {
        val f = standing.flat.join(tb, Seq("src"), "left_anti")
          .unionByName(mini.flat)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val hd = standing.hubDeg.join(tb, Seq("src"), "left_anti")
          .unionByName(mini.hubDeg)
          .persist(StorageLevel.MEMORY_AND_DISK)
        f.count(); hd.count()
        (f, hd)
      }
    mini.release()
    touched.unpersist()
    d.unpersist()
    Hybrid(weighted, newArray, newFlat, newHubDeg, newHubCount, newSrcCount,
      newEdgeCount,
      () => {
        newArray.unpersist()
        if (newHubCount > 0) { newFlat.unpersist(); newHubDeg.unpersist() }
        ()
      },
      bcastLimit = broadcastRowLimit)
  }
}
