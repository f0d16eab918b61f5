package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The QUERY side of the graph tiered roll — [[LexServeStream]]'s twin for
  * the second index family: answer a stream of `(qid, node)`
  * recommendation probes against the NEWEST committed co-purchase graph
  * view while [[GraphTieredStream]] / [[CopurchaseStream]] (separate
  * single-writer streams) keep rolling the index underneath. Each
  * micro-batch pins ONE epoch, so a mid-stream roll changes answers at the
  * next batch boundary — never mid-batch.
  *
  * The probe is the QUERY-PROPORTIONAL serving shape (the graph analogue
  * of t37's postings probe): per query node, its top-k co-purchase
  * neighbors ranked by the neighbors' own degree — "most-connected parts
  * bought with X", the q65 recommendation surface without the per-batch
  * iteration a full PageRank would re-pay. Candidates come from
  * [[GraphTieredStream.Tiered.neighbors]] — tier-COMPLETE and
  * query-proportional (the L1 hybrid's join-then-explode ∪ the small delta
  * join, deduped per query) — and the degree signal is
  * [[GraphTieredStream.Tiered.mergedOutDegrees]], the exact cross-tier
  * degrees at |Δ|-proportional cost, so answers equal top-k by neighbour
  * out-degree over the full edge set (TieredServeSpec pins the identity).
  * The roll pins and serves it ([[TieredRoll.answer]] /
  * [[TieredRoll.serve]]). */
object GraphServeStream {

  /** Answer ONE batch of `(qid LONG, node LONG)` probes against the
    * newest committed view under `indexRoot`: per-probe top-k neighbors
    * by (neighbor outdeg DESC, dst ASC). Returns `(epochId, answers)`
    * with answers `(qid, rank, dst, dst_outdeg)` eagerly checkpointed
    * ([[TieredRoll.answer]]). Pure batch logic — unit-testable without a
    * stream. */
  def answerBatch(queries: DataFrame, indexRoot: String, k: Int = 5,
                  hubLimit: Long = graft.operators.Adjacency.DefaultHubLimit)
      : (Long, DataFrame) =
    new GraphTieredStream.Roll(queries.sparkSession, indexRoot, hubLimit)
      .answer(queries, "graph epoch")(answerPlan(_, _, k))

  /** The probe plan over a LIVE tiered view (the caller owns its
    * lifetime; the result's lineage reads its frames). */
  private def answerPlan(queries: DataFrame, t: GraphTieredStream.Tiered,
                         k: Int): DataFrame = {
    val per = queries.select(col("node").cast("long").as("src"),
      col("qid").cast("long").as("qid"))
    val cand = t.neighbors(per).select(col("qid"), col("dst"))
    val deg = t.mergedOutDegrees
      .select(col("src").as("dst"), col("outdeg").as("dst_outdeg"))
    val scored = cand.join(deg, Seq("dst"), "left")
      .na.fill(0L, Seq("dst_outdeg")) // sink-only neighbors have no row
    graft.plans.TopK.perKey(scored, Seq("qid"),
        Seq("dst_outdeg" -> false, "dst" -> true), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("dst_outdeg").desc, col("dst"))))
      .select(col("qid"), col("rank"), col("dst"), col("dst_outdeg"))
  }

  /** Start the serving stream ([[TieredRoll.serve]]): `queries` (a streaming
    * `(qid, node)` frame) → per-batch probe → one `batch=<batchId>`
    * parquet directory each under `outDir`, rows stamped with the
    * answering epoch. */
  def startTiered(queries: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, k: Int = 5,
                  hubLimit: Long = graft.operators.Adjacency.DefaultHubLimit,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new GraphTieredStream.Roll(queries.sparkSession, indexRoot, hubLimit)
      .serve(queries, outDir, checkpointDir, trigger)(answerPlan(_, _, k))
}
