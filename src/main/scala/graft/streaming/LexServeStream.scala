package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The QUERY side of the lexical tiered roll: answer a stream of search
  * queries against the NEWEST committed postings view, batch by batch —
  * while [[LexTieredStream]] (a separate single-writer stream) keeps
  * rolling the index underneath. Together they close the retrieval
  * family's serve loop: ingest folds epochs, serving probes them, and a
  * mid-stream roll changes answers at the next micro-batch boundary —
  * never mid-batch (each batch pins ONE epoch).
  *
  * The probe pays only query-term postings work (t37's plan shape). The
  * roll pins and serves it ([[TieredRoll.answer]] / [[TieredRoll.serve]]);
  * a pin swap reloads the merged view, paying
  * [[graft.operators.Postings.mergeTiers]]'s three doc-grain stats jobs
  * once per roll commit, not per batch. */
object LexServeStream {

  /** Answer ONE batch of `(qid LONG, qtext STRING)` queries against the
    * newest committed view under `indexRoot`: per-query BM25 top-k, t37's
    * exact arithmetic. Returns `(epochId, answers)` where answers
    * `(qid, rank, doc_id, score_scaled, n_terms)` is eagerly
    * locally-checkpointed ([[TieredRoll.answer]]) — the serving hot path
    * ships no k×|batch| rows through the driver. Pure batch logic —
    * unit-testable without a stream. */
  def answerBatch(queries: DataFrame, indexRoot: String, k: Int = 5)
      : (Long, DataFrame) =
    new LexTieredStream.Roll(queries.sparkSession, indexRoot)
      .answer(queries, "postings epoch")(answerPlan(_, _, k))

  /** The probe plan itself — per-query BM25 top-k over a LIVE view (the
    * caller owns its lifetime; the result's lineage reads the index
    * frames). */
  private def answerPlan(queries: DataFrame, t: LexTieredStream.Tiered,
                         k: Int): DataFrame = {
    val qterms = queries
      .select(col("qid"),
        explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      .filter(col("tok") =!= "")
    val agg = graft.queries.TextQueries
      .bm25ScoresOverIndex(t.index, qterms, excludeSelf = false)
    graft.plans.TopK.perKey(agg, Seq("qid"),
        Seq("score_scaled" -> false, "doc_id" -> true), k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("score_scaled").desc, col("doc_id"))))
      .select(col("qid"), col("rank"), col("doc_id"),
        col("score_scaled"), col("n_terms"))
  }

  /** Start the serving stream ([[TieredRoll.serve]]): `queries` (a streaming
    * `(qid, qtext)` frame) → per-batch probe → one `batch=<batchId>`
    * parquet directory each under `outDir`, rows stamped with the
    * answering epoch. */
  def startTiered(queries: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, k: Int = 5,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new LexTieredStream.Roll(queries.sparkSession, indexRoot)
      .serve(queries, outDir, checkpointDir, trigger)(answerPlan(_, _, k))
}
