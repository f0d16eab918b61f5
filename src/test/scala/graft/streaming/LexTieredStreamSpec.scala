package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Postings

/** [[LexTieredStream]] — L0/L1 tiered epoch commits for the BM25
  * postings index. Contracts: the merged ≤2-tier reader view equals the
  * sequential foldDocs chain EXACTLY (postings, doc lengths, and the
  * closed-form nDocs/sumDl stats) including cross-tier document EDITS
  * and edit-to-empty DELETES, minors are delta-sized and read no
  * standing state, the crash matrix of the flat roll is preserved per
  * tier, and a reader pinned before a major survives it. */
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

  test("crash matrix: torn L0 and torn L1 replay identically; committed " +
       "batches replay as no-ops; empty batches commit nothing") {
    val root = Files.createTempDirectory("lts2_idx").toString
    assert(LexTieredStream.foldBatch(docsDF(), root, 0L, majorEvery = 3)
      === BatchOutcome.EmptyBatch)
    assert(LexTieredStream.loadCurrent(spark, root).isEmpty)

    LexTieredStream.foldBatch(docsDF(1L -> "a b", 2L -> "c"), root, 1L,
      majorEvery = 3)

    // torn L0: invisible, then overwritten by its deterministic replay
    val torn = new java.io.File(s"$root/l0/epoch=2")
    assert(torn.mkdirs())
    Files.write(torn.toPath.resolve("junk"), Array[Byte](1))
    assert(new LexTieredStream.Roll(spark, root).l0Epochs.isEmpty)
    assert(LexTieredStream.foldBatch(docsDF(3L -> "d"), root, 2L,
      majorEvery = 3) === BatchOutcome.Minor)
    assert(new LexTieredStream.Roll(spark, root).l0Epochs === Seq(2L))

    // second minor, then batch 4 is the major; tear its L1 dir first
    assert(LexTieredStream.foldBatch(docsDF(4L -> "e e"), root, 3L,
      majorEvery = 3) === BatchOutcome.Minor)
    val tornL1 = new java.io.File(s"$root/l1/epoch=4")
    assert(tornL1.mkdirs())
    Files.write(tornL1.toPath.resolve("junk"), Array[Byte](1))
    LexTieredStream.foldBatch(docsDF(5L -> "f"), root, 4L,
      majorEvery = 3) match {
      case BatchOutcome.Major(n) => assert(n === 2)
      case other => fail(s"expected Major, got $other")
    }
    assert(new LexTieredStream.Roll(spark, root).l1Epochs === Seq(4L, 1L))

    // replay of the committed major: a pure no-op (mtimes unchanged)
    def mtimes = new java.io.File(s"$root/l1/epoch=4").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val m0 = mtimes
    Thread.sleep(1100)
    assert(LexTieredStream.foldBatch(docsDF(5L -> "f"), root, 4L,
      majorEvery = 3) === BatchOutcome.Skipped)
    assert(mtimes === m0, "a committed batch must replay as a no-op")

    val view = LexTieredStream.loadCurrent(spark, root).getOrElse(fail("no view"))
    try {
      assert(dlSet(view.index).map(_._1) === Set(1L, 2L, 3L, 4L, 5L))
      assert(view.index.nDocs === 5L)
      assert(view.index.sumDl === 7L) // 2+1+1+2+1
    } finally view.release()
  }

  test("a reader pinned before a major survives it (one-major grace), and " +
       "the streaming wrapper converges like foldBatch") {
    val root = Files.createTempDirectory("lts3_idx").toString
    val landing = Files.createTempDirectory("lts3_in").toString
    val batches = (0 until 5).map(i =>
      docsDF((i * 10 + 1).toLong -> s"w$i x", (i * 10 + 2).toLong -> s"y$i"))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(f"$landing/chunk$i%02d")
    }
    val q = LexTieredStream.start(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      root, Files.createTempDirectory("lts3_ck").toString, majorEvery = 3)
    assert(q.awaitTermination(180000L), "stream must drain")

    val allIds = batches.flatMap(_.collect().map(_.getLong(0))).toSet
    val pinned = LexTieredStream.loadCurrent(spark, root).getOrElse(fail())
    assert(dlSet(pinned.index).map(_._1) === allIds)

    val more = (0 until 2).map(i => docsDF((900 + i).toLong -> "m m"))
    more.zipWithIndex.foreach { case (b, i) =>
      LexTieredStream.foldBatch(b, root, 100L + i, majorEvery = 3)
    }
    // the second extra fold is a major; the pinned generation survives it
    try assert(dlSet(pinned.index).map(_._1) === allIds,
      "a one-major-old reader must still collect (grace window)")
    finally pinned.release()

    val fresh = LexTieredStream.loadCurrent(spark, root).getOrElse(fail())
    try {
      assert(dlSet(fresh.index).map(_._1) === allIds ++ Set(900L, 901L))
      assert(fresh.index.nDocs === 12L)
    } finally fresh.release()
  }
}
