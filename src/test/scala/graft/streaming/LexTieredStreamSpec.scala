package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Postings

/** [[LexTieredStream]] — L0/L1 tiered epoch commits for the BM25
  * postings index. Contracts: the merged ≤2-tier reader view equals the
  * sequential foldDocs chain EXACTLY (postings, doc lengths, and the
  * closed-form nDocs/sumDl stats) including cross-tier document EDITS
  * and edit-to-empty DELETES and across a replayed major, and minors are
  * delta-sized and read no standing state. The crash matrix and the
  * reader grace are [[TieredRollFaultSpec]]'s. */
class LexTieredStreamSpec extends SparkSpec {

  private def docsDF(rows: (Long, String)*): DataFrame = {
    import sqlImplicits._
    rows.toDF("doc_id", "text")
  }

  private def tfSet(idx: Postings.Index): Set[(Long, String, Long)] =
    idx.tf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def dlSet(idx: Postings.Index): Set[(Long, Long)] =
    idx.dl.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sameIndex(a: Postings.Index, b: Postings.Index): Unit = {
    assert(tfSet(a) === tfSet(b), "postings must match")
    assert(dlSet(a) === dlSet(b), "doc lengths must match")
    assert(a.nDocs === b.nDocs, "nDocs must match")
    assert(a.sumDl === b.sumDl, "sumDl must match")
  }

  test("lifecycle with cross-tier edits and deletes converges to the " +
       "sequential foldDocs chain; minors are delta-sized") {
    val root = Files.createTempDirectory("lts_idx").toString
    val batches = Seq(
      docsDF(1L -> "a b a", 2L -> "b c", 3L -> "d"),          // bootstrap L1
      docsDF(4L -> "a d d", 5L -> "e"),                        // minor
      docsDF(2L -> "x y", 6L -> "f f"),                        // minor: EDITS doc 2
      docsDF(3L -> "", 7L -> "g"),                             // major: DELETES doc 3
      docsDF(2L -> "z", 8L -> "h a"))                          // minor: re-EDITS doc 2
    // the major replays over a torn L1 (a crash mid-major): its
    // closed-form nDocs/sumDl must still be exact
    val torn = new java.io.File(s"$root/l1/epoch=3")
    assert(torn.mkdirs())
    Files.write(torn.toPath.resolve("junk"), Array[Byte](1))
    val outcomes = batches.zipWithIndex.map { case (b, i) =>
      LexTieredStream.foldBatch(b, root, i.toLong, majorEvery = 3)
    }
    assert(outcomes === Seq(BatchOutcome.Bootstrapped,
      BatchOutcome.Minor, BatchOutcome.Minor,
      BatchOutcome.Major(2), BatchOutcome.Minor))
    assert(new LexTieredStream.Roll(spark, root).l1Epochs === Seq(3L, 0L))

    // delta-sized minor: batch 4's L0 holds its own rows only (doc 2's
    // one posting + doc 8's two), not the corpus
    val l0rows = spark.read.parquet(s"$root/l0/epoch=4/data").count()
    assert(l0rows === 3L, s"a minor commit must be delta-sized, got $l0rows")

    val view = LexTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no tiered view"))
    assert(view.epochId === 4L)
    // flat twin: build batch 0, foldDocs 1–4 sequentially
    val twin = batches.tail.foldLeft(Postings.build(batches.head)) {
      (idx, b) =>
        try Postings.foldDocs(idx, b) finally idx.release()
    }
    try {
      sameIndex(view.index, twin)
      // the edits landed: doc 2's final text is "z", doc 3 is gone
      assert(tfSet(view.index).filter(_._1 == 2L) === Set((2L, "z", 1L)))
      assert(!dlSet(view.index).exists(_._1 == 3L), "deleted doc must be gone")
      // scale shape pinned as a PLAN property: the standing-side shadow
      // anti-join must broadcast the (|Δ|-sized) tier id set — a
      // shuffle anti-join here would pay a corpus-wide exchange per read
      val plan = view.index.tf.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"shadow anti-join must broadcast the tier ids, got:\n$plan")
    } finally { view.release(); twin.release() }
  }
}
