package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** [[VectorServeStream]] — the query side of the vector tiered roll.
  * Contracts: answers come from the newest committed epoch (an append
  * roll between batches changes answers at the next batch boundary —
  * each batch dir carries exactly one epoch), pre-bootstrap serving
  * fails loudly, and answers outlive the answering epoch's release and
  * retention prune. */
class VectorServeStreamSpec extends SparkSpec {

  private val N_CELLS = 2
  private val TRAIN = 50
  private val ITERS = 2

  // corpus ids < 1000; query ids ≥ 1000 (ivfProbe's self-exclusion
  // contract — see VectorServeStream scaladoc)
  private def corpus0: DataFrame = {
    import sqlImplicits._
    // cluster near the x-axis and one near the y-axis
    Seq((1L, Array(10f, 1f)), (2L, Array(9f, 2f)), (3L, Array(1f, 10f)),
      (4L, Array(2f, 9f))).toDF("vec_id", "emb")
  }

  private def queries: DataFrame = {
    import sqlImplicits._
    Seq((1000L, Array(10f, 0f))).toDF("qid", "qvec")
  }

  private def top1(ans: DataFrame): Long =
    ans.collect().filter(_.getInt(1) == 1).map(_.getLong(2)).head

  test("answers track the rolling epoch: an appended closer neighbor wins " +
       "at the next call; pre-bootstrap fails loudly; answers outlive the " +
       "epoch") {
    val root = Files.createTempDirectory("vss_idx").toString

    val err = intercept[IllegalStateException] {
      VectorServeStream.answerBatch(queries, root,
        nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    }
    assert(err.getMessage.contains("no committed vector epoch"))

    VectorTieredStream.foldBatch(corpus0, "vec_id", "emb", root, batchId = 0L,
      nCells = N_CELLS, trainSample = TRAIN, iters = ITERS, majorEvery = 2)
    val (ep0, ans0) = VectorServeStream.answerBatch(queries, root, k = 2,
      nProbe = 1, nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    assert(ep0 === TierIds.dataEpoch(0L))
    assert(top1(ans0) === 1L, "epoch 0: vec 1 is the closest to (10, 0)")

    // epoch 1 appends an EXACT-direction match — the new top-1
    import sqlImplicits._
    VectorTieredStream.foldBatch(
      Seq((5L, Array(20f, 0f))).toDF("vec_id", "emb"), "vec_id", "emb",
      root, batchId = 1L, nCells = N_CELLS, trainSample = TRAIN, iters = ITERS,
      majorEvery = 2)
    val (ep1, ans1) = VectorServeStream.answerBatch(queries, root, k = 2,
      nProbe = 1, nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    assert(ep1 === TierIds.dataEpoch(1L))
    assert(top1(ans1) === 5L, "epoch 1: the appended vector wins")

    // roll two more majors so retention (two L1 generations) prunes the
    // bootstrap L1 at epoch 0 — the checkpointed epoch-0 answers must
    // stay readable
    (2 to 4).foreach { b =>
      VectorTieredStream.foldBatch(
        Seq((4L + b, Array(0f, 20f))).toDF("vec_id", "emb"), "vec_id", "emb",
        root, batchId = b.toLong, nCells = N_CELLS, trainSample = TRAIN,
        iters = ITERS, majorEvery = 2)
    }
    assert(!new java.io.File(EpochDirs.dir(s"$root/l1", 0L)).exists(),
      "precondition: retention pruned epoch 0")
    assert(top1(ans0) === 1L, "epoch-0 answers readable after its prune")
    graft.operators.Checkpoints.release(ans0)
    graft.operators.Checkpoints.release(ans1)
  }

  test("streaming wrapper: per-batch answer directories stamped with the " +
       "answering epoch; a roll lands at the batch boundary") {
    val root = Files.createTempDirectory("vss2_idx").toString
    val landing = Files.createTempDirectory("vss2_in").toString
    val out = Files.createTempDirectory("vss2_out").toString
    val ckpt = Files.createTempDirectory("vss2_ck").toString
    import sqlImplicits._

    VectorTieredStream.foldBatch(corpus0, "vec_id", "emb", root, batchId = 0L,
      nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    queries.coalesce(1).write.parquet(s"$landing/chunk0")
    val s0 = VectorServeStream.startTiered(
      spark.readStream.schema(queries.schema).parquet(s"$landing/chunk*"),
      root, out, ckpt, k = 1, nProbe = 1,
      nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    s0.awaitTermination(180000L)

    VectorTieredStream.foldBatch(
      Seq((5L, Array(20f, 0f))).toDF("vec_id", "emb"), "vec_id", "emb",
      root, batchId = 1L, nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    Seq((1001L, Array(10f, 0f))).toDF("qid", "qvec")
      .coalesce(1).write.parquet(s"$landing/chunk1")
    val s1 = VectorServeStream.startTiered(
      spark.readStream.schema(queries.schema).parquet(s"$landing/chunk*"),
      root, out, ckpt, k = 1, nProbe = 1,
      nCells = N_CELLS, trainSample = TRAIN, iters = ITERS)
    s1.awaitTermination(180000L)

    val b0 = spark.read.parquet(s"$out/batch=0")
    val b1 = spark.read.parquet(s"$out/batch=1")
    assert(b0.select("epoch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(TierIds.dataEpoch(0L)))
    assert(b1.select("epoch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(TierIds.dataEpoch(1L)),
      "the roll lands exactly at the batch boundary")
    assert(b0.select("nid").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(b1.select("nid").collect().map(_.getLong(0)).toSeq === Seq(5L),
      "same probe direction, new epoch — the appended vector wins")
  }
}
