package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The QUERY side of the tiered IVFADC roll ([[IvfPqTieredStream]]): answer
  * a stream of `(qid, qvec)` probes with
  * [[graft.operators.Similarity.ivfPqProbe]] (coarse-cell pruning + ADC
  * over residual codes — the production two-stage index) against the
  * NEWEST committed tiered view while the roll keeps committing minors
  * and majors underneath. Answers change at batch boundaries only.
  *
  * The spec certifies tiered-served answers ≡ probing the equivalent
  * `ivfPqBuild` + `ivfPqAppend` chain (v31) directly. Same probe contract
  * as the sibling servers: a candidate whose nid equals the probe's qid is
  * excluded — serve external query streams from a disjoint id namespace.
  * The roll pins and serves it ([[TieredRoll.serve]]). */
object IvfPqServeStream {

  /** The probe plan over a LIVE view (the caller owns its lifetime; the
    * result's lineage reads its coded frames). */
  private def answerPlan(queries: DataFrame, t: IvfPqTieredStream.Tiered,
                         k: Int, nProbe: Int): DataFrame =
    graft.operators.Similarity
      .ivfPqProbe(t.index, queries, "qid", "qvec", k, nProbe)
      .select(col("qid"), col("rank"), col("nid"), col("adc"))

  /** Start the serving stream ([[TieredRoll.serve]]): `queries` (a streaming
    * `(qid, qvec)` frame) → per-batch two-stage probe → one
    * `batch=<batchId>` parquet directory each under `outDir`, rows
    * stamped with the tiered epoch id (the newest commit in EITHER
    * tier). */
  def startTiered(queries: DataFrame, indexRoot: String, outDir: String,
                  checkpointDir: String, dim: Int, k: Int = 5,
                  nProbe: Int = 2, nCells: Int = 8,
                  m: Int = 4, codebookK: Int = 8,
                  coarseIters: Int = 4, pqIters: Int = 4,
                  trainSample: Int = 10000,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    new IvfPqTieredStream.Roll(queries.sparkSession, indexRoot, dim, nCells,
      m, codebookK, coarseIters, pqIters, trainSample)
      .serve(queries, outDir, checkpointDir, trigger)(answerPlan(_, _, k, nProbe))
}
