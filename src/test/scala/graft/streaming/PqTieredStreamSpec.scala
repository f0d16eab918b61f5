package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Similarity

/** [[PqTieredStream]] — L0/L1 tiered epoch commits for the PQ index.
  * Contracts: the merged ≤2-tier reader view's codes are BIT-IDENTICAL
  * to the flat build+append chain (same codebooks, same encode kernel),
  * minor commits are delta-sized, and a reader pinned before a major
  * survives it. The crash matrix is [[TieredRollFaultSpec]]'s. */
class PqTieredStreamSpec extends SparkSpec {

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private val DIM = 8
  private val M = 2
  private val K = 4
  private val ITERS = 2
  private val TRAIN = 50

  private def vecs(ids: Range): DataFrame = {
    import sqlImplicits._
    ids.map { i =>
      val v = Array.fill(DIM)(0.01f * ((i * 7) % 5))
      v(i % 4) = 1.0f; v(4 + i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")
  }

  private def codes(idx: Similarity.PqIndex): Set[(Long, Int, Int)] =
    idx.encoded.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  private def fold(b: DataFrame, root: String, id: Long) =
    PqTieredStream.foldBatch(b, "vec_id", "emb", root, id,
      dim = DIM, m = M, k = K, iters = ITERS, trainSample = TRAIN,
      majorEvery = 3)

  test("bootstrap → minors → major → minor: codes bit-identical to the " +
       "flat append chain; minors are delta-sized") {
    val root = Files.createTempDirectory("pts_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210),
      vecs(301 to 310), vecs(401 to 410))
    val outcomes = batches.zipWithIndex.map { case (b, i) =>
      fold(b, root, i.toLong)
    }
    assert(outcomes === Seq(BatchOutcome.Bootstrapped,
      BatchOutcome.Minor, BatchOutcome.Minor,
      BatchOutcome.Major(2), BatchOutcome.Minor))
    assert(new PqTieredStream.Roll(spark, root, DIM, M, K, ITERS, TRAIN).l1Epochs
      === Seq(ep(3), ep(0)))
    // absorbed L0s 1–2 kept for the one-major grace, pruned at next major
    assert(new PqTieredStream.Roll(spark, root, DIM, M, K, ITERS, TRAIN).l0Epochs
      === Seq(ep(4), ep(2), ep(1)))

    val l0rows = spark.read.parquet(s"$root/l0/epoch=${ep(4)}/data").count()
    assert(l0rows === 10L, s"a minor commit must be delta-sized, got $l0rows")

    val view = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no tiered view"))
    assert(view.epochId === ep(4))
    val twin = batches.tail.foldLeft(
      Similarity.pqBuild(batches.head, "vec_id", "emb", DIM, M, K, ITERS,
        TRAIN))((idx, b) => Similarity.pqAppend(idx, b, "vec_id", "emb"))
    try {
      assert(view.index.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        twin.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      assert(codes(view.index) === codes(twin))
    } finally { view.release(); twin.release() }
  }

  test("a reader pinned before a major survives it (one-major grace), and " +
       "the streaming wrapper converges like foldBatch") {
    val root = Files.createTempDirectory("pts3_idx").toString
    val landing = Files.createTempDirectory("pts3_in").toString
    val batches = (0 until 5).map(i => vecs(i * 100 + 1 to i * 100 + 10))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(f"$landing/chunk$i%02d")
    }
    val q = PqTieredStream.start(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "vec_id", "emb", root, Files.createTempDirectory("pts3_ck").toString,
      dim = DIM, m = M, k = K, iters = ITERS, trainSample = TRAIN,
      majorEvery = 3)
    assert(q.awaitTermination(180000L), "stream must drain")

    val allIds = batches.flatMap(_.collect().map(_.getLong(0))).toSet
    val pinned = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no view"))
    val more = (0 until 2).map(i => vecs(900 + i * 10 + 1 to 900 + i * 10 + 10))
    more.zipWithIndex.foreach { case (b, i) =>
      fold(b, root, 100L + i)
    }
    try assert(codes(pinned.index).map(_._1) === allIds,
      "a one-major-old reader must still collect (grace window)")
    finally pinned.release()

    val fresh = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no fresh view"))
    try assert(codes(fresh.index).map(_._1) ===
      allIds ++ more.flatMap(_.collect().map(_.getLong(0))))
    finally fresh.release()
  }

  test("compactMajor: dead codes dropped into a new L1 generation; " +
       "below threshold is a no-op") {
    import sqlImplicits._
    val root = Files.createTempDirectory("pts4_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210))
    batches.zipWithIndex.foreach { case (b, i) => fold(b, root, i.toLong) }
    val before = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no view"))
    val allCodes = try codes(before.index) finally before.release()
    val deadIds = Set(5L, 105L, 205L)
    val dead = deadIds.toSeq.toDF("vec_id")
    assert(PqTieredStream.compactMajor(spark, root, dead, "vec_id",
      threshold = 0.5, dim = DIM, m = M, k = K, iters = ITERS,
      trainSample = TRAIN).isEmpty, "6% dead must not compact at 50%")
    val newId = PqTieredStream.compactMajor(spark, root, dead, "vec_id",
      threshold = 0.05, dim = DIM, m = M, k = K, iters = ITERS,
      trainSample = TRAIN).getOrElse(fail("6% dead must compact at 5%"))
    assert(newId === before.epochId + 1)
    val after = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no post-compaction view"))
    try {
      assert(after.epochId === newId)
      assert(after.liveL0s.isEmpty)
      assert(codes(after.index) ===
        allCodes.filterNot(c => deadIds.contains(c._1)))
    } finally after.release()
  }

  test("retrainMajor: fresh codebooks commit as a new L1 generation; " +
       "the drift gate holds on in-distribution batches") {
    import sqlImplicits._
    val root = Files.createTempDirectory("pts5_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210))
    batches.zipWithIndex.foreach { case (b, i) => fold(b, root, i.toLong) }
    val corpus = batches.reduce(_ unionByName _)

    assert(PqTieredStream.retrainMajorIfDrifted(corpus, vecs(501 to 540),
      "vec_id", "emb", root, maxDriftedCodes = M * K, dim = DIM, m = M,
      k = K, iters = ITERS, trainSample = TRAIN).isEmpty,
      "in-distribution batch must not retrain")

    val view = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no view"))
    val oldEpoch = try view.epochId finally view.release()

    // all-identical vectors collapse every subspace onto one code —
    // definitional code drift, fires at 0 allowed
    val shifted = (601 to 640).map { i =>
      val v = Array.fill(DIM)(0.0f); v(0) = 5.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")
    val newId = PqTieredStream.retrainMajorIfDrifted(corpus, shifted,
      "vec_id", "emb", root, maxDriftedCodes = 0, dim = DIM, m = M, k = K,
      iters = ITERS, trainSample = TRAIN)
      .getOrElse(fail("one-point batch must drift"))
    assert(newId === oldEpoch + 1)

    val after = PqTieredStream.loadCurrent(spark, root, DIM, M, K, ITERS,
      TRAIN).getOrElse(fail("no post-retrain view"))
    val twin = Similarity.pqBuild(corpus, "vec_id", "emb", DIM, M, K,
      ITERS, TRAIN)
    try {
      assert(after.epochId === newId)
      assert(after.index.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        twin.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      assert(codes(after.index) === codes(twin))
    } finally { after.release(); twin.release() }
  }
}
