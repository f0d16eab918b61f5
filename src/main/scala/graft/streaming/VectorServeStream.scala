package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The QUERY side of the vector tiered roll — the serve loop for the third
  * index family (lexical → [[LexServeStream]], graph →
  * [[GraphServeStream]], vector → this): answer a stream of `(qid, qvec)`
  * ANN probes against the NEWEST committed IVF view while
  * [[VectorTieredStream]] (a separate single-writer stream) keeps rolling
  * — minors, majors, maintenance retrains — underneath. Each micro-batch
  * pins ONE epoch, so a roll changes answers at the next batch boundary,
  * never mid-batch.
  *
  * The probe is [[graft.operators.Similarity.ivfProbe]] — pure plan
  * construction over the view's assignment: per query, `nProbe` cell
  * scores against the (literal) centroids, a hash join on cell, exact
  * cosine over the candidates, bounded-heap top-k. Work is
  * query-proportional in candidates; the load is zero-job until probed.
  * Note ivfProbe's query-by-corpus-member contract: a candidate whose nid
  * EQUALS the probe's qid is excluded — serve external query streams from
  * an id namespace disjoint from the corpus ids. The roll pins and serves
  * it ([[TieredRoll.answer]] / [[TieredRoll.serve]]); a pin swap reloads
  * the merged ≤2-tier view, an ordinary
  * [[graft.operators.Similarity.IvfIndex]] under the standing centroids. */
object VectorServeStream {

  /** Answer ONE batch of `(qid LONG, qvec ARRAY<FLOAT>)` probes against
    * the newest committed view under `indexRoot`: per-query cosine top-k
    * over the `nProbe` nearest cells. Returns `(epochId, answers)` with
    * answers `(qid, rank, nid, sim)` eagerly checkpointed
    * ([[TieredRoll.answer]]). Pure batch logic — unit-testable without a
    * stream. */
  def answerBatch(queries: DataFrame, indexRoot: String, k: Int = 5,
                  nProbe: Int = 4, nCells: Int = 16,
                  trainSample: Int = 10000, iters: Int = 8)
      : (Long, DataFrame) =
    new VectorTieredStream.Roll(queries.sparkSession, indexRoot, nCells,
      trainSample, iters)
      .answer(queries, "vector epoch")(answerPlan(_, _, k, nProbe))

  /** The probe plan over a LIVE view (the caller owns its lifetime; the
    * result's lineage reads its assignment frames). */
  private def answerPlan(queries: DataFrame, t: VectorTieredStream.Tiered,
                         k: Int, nProbe: Int): DataFrame =
    graft.operators.Similarity
      .ivfProbe(t.index, queries, "qid", "qvec", k, nProbe)
      .select(col("qid"), col("rank"), col("nid"), col("sim"))

  /** Start the serving stream ([[TieredRoll.serve]]): `queries` (a streaming
    * `(qid, qvec)` frame) → per-batch probe → one `batch=<batchId>`
    * parquet directory each under `outDir`, rows stamped with the tiered
    * epoch id (the newest commit in EITHER tier). */
  def startTiered(queries: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, k: Int = 5, nProbe: Int = 4,
                  nCells: Int = 16, trainSample: Int = 10000, iters: Int = 8,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new VectorTieredStream.Roll(queries.sparkSession, indexRoot, nCells,
      trainSample, iters)
      .serve(queries, outDir, checkpointDir, trigger)(answerPlan(_, _, k, nProbe))
}
