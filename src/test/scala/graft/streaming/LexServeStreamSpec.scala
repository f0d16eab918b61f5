package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

/** [[LexServeStream]] — the query side of the lexical tiered roll.
  * Contracts: answers come from the newest committed epoch (a roll
  * between batches changes answers and the recorded epoch), each batch
  * pins one epoch, serving before bootstrap fails loudly, and the
  * streaming wrapper lands per-batch answer directories stamped with the
  * answering epoch. */
class LexServeStreamSpec extends SparkSpec {

  import sqlImplicits._

  test("answers track the rolling index: a replacement epoch changes the " +
       "ranking at the next batch; pre-bootstrap serving fails loudly") {
    val root = Files.createTempDirectory("lss_idx").toString
    val queries = Seq((10L, "alpha beta")).toDF("qid", "qtext")

    val err = intercept[IllegalStateException] {
      LexServeStream.answerBatch(queries, root)
    }
    assert(err.getMessage.contains("no committed postings epoch"))

    // epoch 0 (the bootstrap L1): doc 1 matches both query terms, doc 2
    // one, doc 3 none
    LexTieredStream.foldBatch(Seq((1L, "alpha beta gamma"),
      (2L, "alpha delta"), (3L, "zeta zeta")).toDF("doc_id", "text"),
      root, batchId = 0L)
    val (ep0, ans0) = LexServeStream.answerBatch(queries, root)
    assert(ep0 === 0L)
    val got0 = ans0.collect().sortBy(_.getInt(1))
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(4)))
    assert(got0.toSeq === Seq((1, 1L, 2L), (2, 2L, 1L)),
      "epoch 0: doc 1 (two terms) above doc 2 (one); doc 3 absent")
    graft.operators.Checkpoints.release(ans0) // caller-owned blocks

    // epoch 1 (an L0 minor) REPLACES doc 1's text away from the query's
    // terms
    LexTieredStream.foldBatch(Seq((1L, "zeta")).toDF("doc_id", "text"),
      root, batchId = 1L)
    val (ep1, ans1) = LexServeStream.answerBatch(queries, root)
    assert(ep1 === 1L)
    val got1 = ans1.collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(got1 === Seq((1, 2L)),
      "epoch 1: the replaced doc 1 no longer matches; doc 2 is the only hit")
    graft.operators.Checkpoints.release(ans1)
  }

  test("answers outlive the answering epoch: readable after the epoch's " +
       "frames are released AND after retention prunes its directory") {
    val root = Files.createTempDirectory("lss3_idx").toString
    val queries = Seq((10L, "alpha beta")).toDF("qid", "qtext")
    LexTieredStream.foldBatch(Seq((1L, "alpha beta gamma"),
      (2L, "alpha delta")).toDF("doc_id", "text"), root, batchId = 0L,
      majorEvery = 2)

    // answerBatch releases the epoch's frames in its own finally — the
    // returned frame must already be independent of them
    val (ep0, ans0) = LexServeStream.answerBatch(queries, root)
    assert(ep0 === 0L)

    // roll two more majors: retention (two L1 generations) deletes the
    // bootstrap L1's directory — the files that produced ans0 are GONE
    // from disk
    (1 to 4).foreach { i =>
      LexTieredStream.foldBatch(Seq((2L + i, s"zeta$i")).toDF("doc_id", "text"),
        root, batchId = i.toLong, majorEvery = 2)
    }
    assert(!new java.io.File(EpochDirs.dir(s"$root/l1", 0L)).exists(),
      "precondition: retention pruned the answering epoch's directory")

    val got = ans0.collect().sortBy(_.getInt(1))
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, 1L), (2, 2L)),
      "answers computed under epoch 0 stay readable after its prune")
    graft.operators.Checkpoints.release(ans0) // caller-owned blocks
  }

  test("streaming wrapper: per-batch answer directories stamped with the " +
       "answering epoch") {
    val root = Files.createTempDirectory("lss2_idx").toString
    val landing = Files.createTempDirectory("lss2_in").toString
    val out = Files.createTempDirectory("lss2_out").toString
    val ckpt = Files.createTempDirectory("lss2_ck").toString
    LexTieredStream.foldBatch(Seq((1L, "alpha beta"), (2L, "alpha"))
      .toDF("doc_id", "text"), root, batchId = 0L)
    val q0 = Seq((10L, "alpha beta")).toDF("qid", "qtext")
    val q1 = Seq((11L, "alpha")).toDF("qid", "qtext")
    Seq(q0, q1).zipWithIndex.foreach { case (q, i) =>
      q.coalesce(1).write.parquet(s"$landing/chunk$i")
    }
    val stream = spark.readStream.schema(q0.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*")
    val sq = LexServeStream.startTiered(stream, root, out, ckpt)
    sq.awaitTermination(180000L)

    val b0 = spark.read.parquet(s"$out/batch=0")
    val b1 = spark.read.parquet(s"$out/batch=1")
    assert(b0.select("epoch_id").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(0L))
    assert(b0.select("qid").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(10L))
    assert(b1.select("qid").distinct().collect().map(_.getLong(0)).toSeq
      === Seq(11L))
    // both docs match "alpha"; the two-term doc is longer so per-term
    // normalization decides — just pin the structural contract
    assert(b1.count() === 2L)
  }
}
