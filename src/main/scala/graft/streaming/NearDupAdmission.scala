package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Streaming near-duplicate ADMISSION filter — the production front door
  * of a continuously-ingesting corpus: every arriving micro-batch of
  * documents is probed against the standing corpus
  * [[Dedup.SignatureIndex]] (built once per corpus epoch, possibly served
  * from the durable [[graft.operators.IndexStore]] form), and only
  * documents that near-duplicate neither the corpus nor a smaller-id
  * sibling of their own batch reach the accept log. The batch rule is by
  * PAIR, not by survivorship: a doc whose only smaller-id witness was
  * itself rejected as a corpus duplicate is still rejected — the
  * conservative choice (near-duplication is not transitive, but a doc
  * near-dupping a corpus-dup is overwhelmingly corpus-shaped too), and
  * the one that keeps each batch decision embarrassingly parallel — no
  * sequential within-batch survivor cascade.
  *
  * Composition, not new machinery: the per-batch decision is EXACTLY
  * [[Dedup.incrementalExactPairsIndexedManaged]] (batch signatures only, corpus
  * side served from the index frames, capped buckets, exact Jaccard
  * verify), wrapped in `foreachBatch` because the candidate join + verify
  * is a batch plan — a stream-stream formulation would have to buffer the
  * entire corpus as state.
  *
  * Snapshot semantics (documented, deliberate): admission is exact
  * against the index EPOCH the filter was started with, plus within-batch
  * (min-id survives, the engine-wide survivor contract). A document
  * duplicating a doc ADMITTED EARLIER IN THIS RUN but not yet folded into
  * the index is not rejected — production periodically rolls admitted
  * docs into the next index epoch (signatureBuild or ivfAppend-style
  * growth), the same staleness contract as [[graft.operators.Similarity]]
  * index maintenance, now measurable with v19's drift-audit shape. The
  * CLUSTER side of the roll is incremental too: the batch's witness pairs
  * fold into the standing dup-cluster labels via
  * [[graft.operators.Components.foldEdges]] (fold ≡ full rebuild — d13's
  * oracle identity), so an epoch pays |Δ|-sized cluster maintenance, not
  * a corpus-sized CC re-run (pinned in NearDupAdmissionSpec).
  *
  * Exactly-once: each batch writes to its own `batch=<id>` partition
  * directory with dynamic overwrite, so a replayed batch rewrites its own
  * output instead of double-appending (the idempotent-file-sink contract;
  * [[ExactlyOnceSink]] covers the keyed-upsert variant).
  */
object NearDupAdmission {

  /** One batch's admission decision: the documents of `batch` that
    * near-dup neither the index corpus nor a smaller-id batch sibling.
    * Pure batch plan — unit-testable without a stream. */
  def admit(batch: DataFrame, index: Dedup.SignatureIndex,
            idCol: String, textCol: String,
            threshold: Double = 0.8): DataFrame =
    // one materialization of the batch serves the signature pass, the id
    // projection, and the keep anti-join (the Deltas fold-path contract);
    // the returned kept frame is persisted+counted before the pin drops
    Deltas.withMaterialized(batch)(pinned =>
      admitPinned(pinned, index, idCol, textCol, threshold))

  private def admitPinned(batch: DataFrame, index: Dedup.SignatureIndex,
                          idCol: String, textCol: String,
                          threshold: Double): DataFrame = {
    val mp = Dedup.incrementalExactPairsIndexedManaged(
      batch, index, idCol, textCol, threshold)
    val bids = batch.select(col(idCol).as("__bid"))
    // pairs are (id_a < id_b); corpus×corpus pairs never occur. Reject the
    // batch-side doc of a batch×corpus pair, the larger id of a
    // batch×batch pair.
    val rejected = mp.pairs
      .join(bids.select(col("__bid").as("id_a"), lit(true).as("a_in")),
        Seq("id_a"), "left")
      .join(bids.select(col("__bid").as("id_b"), lit(true).as("b_in")),
        Seq("id_b"), "left")
      .select(
        when(col("a_in").isNotNull && col("b_in").isNull, col("id_a"))
          .otherwise(col("id_b")).as(idCol))
      .distinct()
    val kept = batch.join(rejected, Seq(idCol), "left_anti")
    // the batch-side signature cache must not outlive the decision — and
    // must not outlive a FAILED decision either: without the finally, a
    // candidate join throwing mid-batch would skip the release and leak
    // the signature frames across every later foreachBatch invocation of
    // a long-running stream (advice finding)
    val out = kept.persist()
    try { out.count() }
    catch { case t: Throwable => out.unpersist(); throw t }
    finally { mp.release() }
    out
  }

  /** Start the admission stream: `docs` (a streaming DataFrame of
    * documents) → per-batch [[admit]] → `batch=<id>` partitions under
    * `outDir`.
    *
    * @param trigger AvailableNow (default) drains what exists and stops —
    *                the replay/backfill shape; a continuously-ingesting
    *                deployment passes `Trigger.ProcessingTime(...)` to
    *                stay up between file drops */
  def start(docs: DataFrame, index: Dedup.SignatureIndex,
            idCol: String, textCol: String,
            outDir: String, checkpointDir: String,
            threshold: Double = 0.8,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = admit(batch, index, idCol, textCol, threshold)
        try {
          val dir = new Path(outDir, s"batch=$batchId")
          kept.write.mode("overwrite").parquet(dir.toString)
        } finally { kept.unpersist(); () }
      }
      .start()

  /** [[start]] against a TIERED signature root ([[SignatureTieredStream]])
    * — the admission front door over the dedup family's LSM path: each
    * batch admits against the newest COMMITTED tiered view (the roll's
    * [[TieredRoll.pin]] swaps on a minor or major commit, never
    * mid-batch), so
    * the index-epoch staleness this object's scaladoc documents shrinks
    * from "until the next flat rebuild" to "until the next O(|Δ|) minor".
    * The per-batch index is the view's [[SignatureTieredStream.Tiered
    * .probeIndex]] — committed L1 buckets ∪ delta-side buckets, no
    * standing re-aggregation. Accepted rows are stamped with the
    * answering epoch. Its own loop, not [[TieredRoll.serve]]: the kept
    * frame is unpersisted after the write, and no `batch_id` is stamped. */
  def startTiered(docs: DataFrame, indexRoot: String,
                  idCol: String, textCol: String,
                  outDir: String, checkpointDir: String,
                  threshold: Double = 0.8, k: Int = 128, bands: Int = 32,
                  shingleWidth: Int = 3,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = docs.sparkSession
    val pin = new SignatureTieredStream.Roll(spark, indexRoot, k, bands,
      shingleWidth).pin
    EpochPin.bound(spark, pin) {
      docs.writeStream
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val (epochId, view) = pin.get()
          val kept = admit(batch, view.probeIndex, idCol, textCol, threshold)
          try {
            val dir = new Path(outDir, s"batch=$batchId")
            kept.withColumn("epoch_id", lit(epochId))
              .write.mode("overwrite").parquet(dir.toString)
          } finally { kept.unpersist(); () }
        }
        .start()
    }
  }

  /** Read back the full accept log (all batch partitions). */
  def acceptLog(spark: SparkSession, outDir: String): DataFrame =
    spark.read
      .option("basePath", outDir)
      .parquet(outDir + "/batch=*")
}
