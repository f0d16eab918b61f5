package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** [[GraphServeStream]] — the query side of the graph tiered roll.
  * Contracts: answers come from the newest committed epoch (a roll
  * between batches flips the ranking at the batch boundary, never
  * mid-batch — every row of a batch carries ONE epoch), pre-bootstrap
  * serving fails loudly, answers outlive the answering epoch's release
  * and retention prune, and the streaming wrapper lands per-batch answer
  * directories stamped with the answering epoch. */
class GraphServeStreamSpec extends SparkSpec {

  import sqlImplicits._

  // epoch 0: node 1 → {2, 3}; outdeg(3)=2 > outdeg(2)=1 ⇒ top-1 is 3
  private val e0 = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (3L, 5L))
  // epoch 1 delta: node 2 gains 3 edges ⇒ outdeg(2)=4 > outdeg(3)=2 ⇒
  // the SAME probe's top-1 flips to 2
  private val d1 = Seq((2L, 5L), (2L, 6L), (2L, 7L))

  private def ranked(ans: org.apache.spark.sql.DataFrame): Seq[(Int, Long, Long)] =
    ans.collect().sortBy(_.getInt(1))
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).toSeq

  test("answers track the rolling graph: a fold flips the ranking at the " +
       "next call; pre-bootstrap serving fails loudly; answers outlive " +
       "the epoch") {
    val root = Files.createTempDirectory("gss_idx").toString
    val queries = Seq((10L, 1L)).toDF("qid", "node")

    val err = intercept[IllegalStateException] {
      GraphServeStream.answerBatch(queries, root)
    }
    assert(err.getMessage.contains("no committed graph epoch"))

    GraphTieredStream.foldBatch(e0.toDF("src", "dst"), root, batchId = 0L,
      majorEvery = 2)
    val (ep0, ans0) = GraphServeStream.answerBatch(queries, root, k = 2)
    assert(ep0 === TierIds.dataEpoch(0L))
    assert(ranked(ans0) === Seq((1, 3L, 2L), (2, 2L, 1L)),
      "epoch 0: degree-2 neighbor 3 outranks degree-1 neighbor 2")

    GraphTieredStream.foldBatch(d1.toDF("src", "dst"), root, batchId = 1L,
      majorEvery = 2)
    val (ep1, ans1) = GraphServeStream.answerBatch(queries, root, k = 2)
    assert(ep1 === TierIds.dataEpoch(1L))
    assert(ranked(ans1) === Seq((1, 2L, 4L), (2, 3L, 2L)),
      "epoch 1: the fold raised outdeg(2) to 4 — ranking flips")

    // roll on to the next major so retention prunes epoch 0's L0 (two
    // generations old), whose frames produced ans0 — the checkpointed
    // answers must survive both the release (already done inside
    // answerBatch) and the prune
    Seq(2L -> (8L, 9L), 3L -> (8L, 10L)).foreach { case (b, e) =>
      GraphTieredStream.foldBatch(Seq(e).toDF("src", "dst"), root,
        batchId = b, majorEvery = 2)
    }
    assert(!new java.io.File(EpochDirs.dir(s"$root/l0", 0L)).exists(),
      "precondition: retention pruned epoch 0")
    assert(ranked(ans0) === Seq((1, 3L, 2L), (2, 2L, 1L)),
      "epoch-0 answers stay readable after its prune")
    graft.operators.Checkpoints.release(ans0)
    graft.operators.Checkpoints.release(ans1)
  }

  test("streaming wrapper: a roll between micro-batches flips the ranking " +
       "at the batch boundary; each batch dir carries exactly one epoch") {
    val root = Files.createTempDirectory("gss2_idx").toString
    val landing = Files.createTempDirectory("gss2_in").toString
    val out = Files.createTempDirectory("gss2_out").toString
    val ckpt = Files.createTempDirectory("gss2_ck").toString
    val schema = Seq((0L, 0L)).toDF("qid", "node").schema

    GraphTieredStream.foldBatch(e0.toDF("src", "dst"), root, batchId = 0L)
    Seq((10L, 1L)).toDF("qid", "node").coalesce(1)
      .write.parquet(s"$landing/chunk0")
    val s0 = GraphServeStream.startTiered(
      spark.readStream.schema(schema).parquet(s"$landing/chunk*"),
      root, out, ckpt, k = 1)
    s0.awaitTermination(180000L)

    // ROLL between batches, then feed the SAME probe as a new batch
    GraphTieredStream.foldBatch(d1.toDF("src", "dst"), root, batchId = 1L)
    Seq((11L, 1L)).toDF("qid", "node").coalesce(1)
      .write.parquet(s"$landing/chunk1")
    val s1 = GraphServeStream.startTiered(
      spark.readStream.schema(schema).parquet(s"$landing/chunk*"),
      root, out, ckpt, k = 1)
    s1.awaitTermination(180000L)

    val b0 = spark.read.parquet(s"$out/batch=0")
    val b1 = spark.read.parquet(s"$out/batch=1")
    assert(b0.select("epoch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(TierIds.dataEpoch(0L)), "one epoch per batch")
    assert(b1.select("epoch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(TierIds.dataEpoch(1L)),
      "the roll lands exactly at the batch boundary")
    assert(b0.select("dst").collect().map(_.getLong(0)).toSeq === Seq(3L))
    assert(b1.select("dst").collect().map(_.getLong(0)).toSeq === Seq(2L),
      "same probe, new epoch — ranking flipped")
  }
}
