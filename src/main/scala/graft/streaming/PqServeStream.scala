package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The QUERY side of the PQ tiered roll — the fourth serve loop (lexical,
  * graph, vector, now the quantized tier): answer a stream of
  * `(qid, qvec)` ADC probes against the NEWEST committed PQ view while
  * [[PqTieredStream]] keeps rolling underneath. Each micro-batch pins ONE
  * epoch — roll commits land at the next batch boundary, never mid-batch.
  *
  * The probe is [[graft.operators.Similarity.pqTopK]] — ADC scoring with
  * the codebooks as codegen literals over the view's coded frame,
  * bounded-heap top-k; work is corpus-codes × m table lookups, zero
  * full-precision vector reads. Note pqTopK's query-by-corpus-member
  * contract: a candidate whose nid EQUALS the probe's qid is excluded —
  * serve external query streams from an id namespace disjoint from the
  * corpus ids. The roll pins and serves it ([[TieredRoll.serve]]). */
object PqServeStream {

  /** The probe plan over a LIVE view (the caller owns its lifetime; the
    * result's lineage reads its coded frames). */
  private def answerPlan(queries: DataFrame, t: PqTieredStream.Tiered,
                         k: Int): DataFrame =
    graft.operators.Similarity
      .pqTopK(t.index, queries, "qid", "qvec", k)
      .select(col("qid"), col("rank"), col("nid"), col("adc"))

  /** Start the serving stream ([[TieredRoll.serve]]): `queries` (a streaming
    * `(qid, qvec)` frame) → per-batch ADC probe → one `batch=<batchId>`
    * parquet directory each under `outDir`, rows stamped with the tiered
    * epoch id (the newest commit in EITHER tier). */
  def startTiered(queries: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, dim: Int, k: Int = 5,
                  m: Int = 4, codebookK: Int = 8, iters: Int = 4,
                  trainSample: Int = 10000,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new PqTieredStream.Roll(queries.sparkSession, indexRoot, dim, m,
      codebookK, iters, trainSample)
      .serve(queries, outDir, checkpointDir, trigger)(answerPlan(_, _, k))
}
