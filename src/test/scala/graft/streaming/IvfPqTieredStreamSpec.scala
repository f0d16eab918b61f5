package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Similarity

/** [[IvfPqTieredStream]] — L0/L1 tiered epoch commits for the IVFADC
  * index, the fifth (and last) family instance. Contracts: the merged
  * ≤2-tier reader view's routed codes are BIT-IDENTICAL to the flat
  * build+append chain (same two models, same encode kernels), minor
  * commits are delta-sized, and a reader pinned before a major survives
  * it. The crash matrix is [[TieredRollFaultSpec]]'s. */
class IvfPqTieredStreamSpec extends SparkSpec {

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private val DIM = 8
  private val CELLS = 3
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

  private def codes(idx: Similarity.IvfPqIndex): Set[(Long, Int, Int, Int)] =
    idx.coded.collect().map(r => (r.getAs[Long]("nid"),
      r.getAs[Int]("cell"), r.getAs[Int]("code_0"),
      r.getAs[Int]("code_1"))).toSet

  private def fold(b: DataFrame, root: String, id: Long) =
    IvfPqTieredStream.foldBatch(b, "vec_id", "emb", root, id,
      dim = DIM, nCells = CELLS, m = M, k = K, coarseIters = ITERS,
      pqIters = ITERS, trainSample = TRAIN, majorEvery = 3)

  private def load(root: String) =
    IvfPqTieredStream.loadCurrent(spark, root, DIM, CELLS, M, K, ITERS,
      ITERS, TRAIN)

  test("bootstrap → minors → major → minor: routed codes bit-identical " +
       "to the flat build+append chain; minors are delta-sized") {
    val root = Files.createTempDirectory("ipts_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210),
      vecs(301 to 310), vecs(401 to 410))
    val outcomes = batches.zipWithIndex.map { case (b, i) =>
      fold(b, root, i.toLong)
    }
    assert(outcomes === Seq(BatchOutcome.Bootstrapped,
      BatchOutcome.Minor, BatchOutcome.Minor,
      BatchOutcome.Major(2), BatchOutcome.Minor))
    assert(IvfPqTieredStream.l1Epochs(spark, root, DIM, CELLS, M, K,
      ITERS, ITERS, TRAIN) === Seq(ep(3), ep(0)))
    assert(IvfPqTieredStream.l0Epochs(spark, root, DIM, CELLS, M, K,
      ITERS, ITERS, TRAIN) === Seq(ep(4), ep(2), ep(1)))

    val l0rows = spark.read.parquet(s"$root/l0/epoch=${ep(4)}/data").count()
    assert(l0rows === 10L, s"a minor commit must be delta-sized, got $l0rows")

    val view = load(root).getOrElse(fail("no tiered view"))
    assert(view.epochId === ep(4))
    val twin = batches.tail.foldLeft(
      Similarity.ivfPqBuild(batches.head, "vec_id", "emb", DIM, CELLS,
        M, K, ITERS, ITERS, TRAIN))(
      (idx, b) => Similarity.ivfPqAppend(idx, b, "vec_id", "emb"))
    try {
      assert(view.index.centroids.map(_.toSeq).toSeq ===
        twin.centroids.map(_.toSeq).toSeq)
      assert(view.index.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        twin.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      assert(codes(view.index) === codes(twin))
      // the tiered view is an ordinary IvfPqIndex: a probe works unchanged
      val q = vecs(1 to 3).select(
        (org.apache.spark.sql.functions.col("vec_id") + 1000000L).as("qid"),
        org.apache.spark.sql.functions.col("emb").as("qvec"))
      val probed = Similarity.ivfPqProbe(view.index, q, "qid", "qvec",
        k = 3, nProbe = 2)
      assert(probed.count() > 0)
    } finally { view.release(); twin.release() }
  }

  test("a reader pinned before a major survives it (one-major grace), and " +
       "the streaming wrapper converges like foldBatch") {
    val root = Files.createTempDirectory("ipts3_idx").toString
    val landing = Files.createTempDirectory("ipts3_in").toString
    val batches = (0 until 5).map(i => vecs(i * 100 + 1 to i * 100 + 10))
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(f"$landing/chunk$i%02d")
    }
    val q = IvfPqTieredStream.start(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "vec_id", "emb", root, Files.createTempDirectory("ipts3_ck").toString,
      dim = DIM, nCells = CELLS, m = M, k = K, coarseIters = ITERS,
      pqIters = ITERS, trainSample = TRAIN, majorEvery = 3)
    assert(q.awaitTermination(180000L), "stream must drain")

    val allIds = batches.flatMap(_.collect().map(_.getLong(0))).toSet
    val pinned = load(root).getOrElse(fail("no view"))
    val more = (0 until 2).map(i => vecs(900 + i * 10 + 1 to 900 + i * 10 + 10))
    more.zipWithIndex.foreach { case (b, i) => fold(b, root, 100L + i) }
    try assert(codes(pinned.index).map(_._1) === allIds,
      "a one-major-old reader must still collect (grace window)")
    finally pinned.release()

    val fresh = load(root).getOrElse(fail("no fresh view"))
    try assert(codes(fresh.index).map(_._1) ===
      allIds ++ more.flatMap(_.collect().map(_.getLong(0))))
    finally fresh.release()
  }

  test("compactMajor: dead codes physically dropped into a NEW L1 " +
       "generation; pinned reader graces; below threshold is a no-op") {
    import sqlImplicits._
    val root = Files.createTempDirectory("ipts4_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210),
      vecs(301 to 310), vecs(401 to 410))
    batches.zipWithIndex.foreach { case (b, i) => fold(b, root, i.toLong) }

    val before = load(root).getOrElse(fail("no view"))
    val allCodes = codes(before.index)
    val deadIds = Set(5L, 105L, 205L, 305L, 405L)
    val dead = deadIds.toSeq.toDF("vec_id")

    // below threshold (5/70 ≈ 7% < 50%): nothing committed
    assert(IvfPqTieredStream.compactMajor(spark, root, dead, "vec_id",
      threshold = 0.5, dim = DIM, nCells = CELLS, m = M, k = K,
      coarseIters = ITERS, pqIters = ITERS, trainSample = TRAIN).isEmpty)
    assert(IvfPqTieredStream.l1Epochs(spark, root, DIM, CELLS, M, K,
      ITERS, ITERS, TRAIN).head === ep(3), "a no-op must not commit an epoch")

    // over threshold: survivor index commits as epochId+1
    val newId = IvfPqTieredStream.compactMajor(spark, root, dead, "vec_id",
      threshold = 0.05, dim = DIM, nCells = CELLS, m = M, k = K,
      coarseIters = ITERS, pqIters = ITERS, trainSample = TRAIN)
      .getOrElse(fail("7% dead must compact at threshold 5%"))
    assert(newId === before.epochId + 1)

    // the pre-compaction pinned reader still collects the FULL code set
    try assert(codes(before.index) === allCodes,
      "a pinned pre-compaction reader must grace through the swap")
    finally before.release()

    // the new generation: identical codes minus EXACTLY the dead ids,
    // zero tombstone debt (plain probe, no exclusion), models untouched
    val after = load(root).getOrElse(fail("no post-compaction view"))
    try {
      assert(after.epochId === newId)
      assert(after.liveL0s.isEmpty, "compaction absorbs every live L0")
      assert(codes(after.index) ===
        allCodes.filterNot(c => deadIds.contains(c._1)))
    } finally after.release()
  }

  test("retrainMajor: fresh models commit as a NEW L1 generation with an " +
       "atomic swap; the drift gate holds on in-distribution batches") {
    import sqlImplicits._
    val root = Files.createTempDirectory("ipts5_idx").toString
    val batches = Seq(vecs(1 to 40), vecs(101 to 110), vecs(201 to 210))
    batches.zipWithIndex.foreach { case (b, i) => fold(b, root, i.toLong) }
    val corpus = batches.reduce(_ unionByName _)

    // in-distribution recent batch: the same generator routes the same
    // way, no cell drifts past the 50%-relative verdict with a generous
    // cell allowance → the gate must NOT fire
    assert(IvfPqTieredStream.retrainMajorIfDrifted(corpus, vecs(501 to 540),
      "vec_id", "emb", root, maxDriftedCells = CELLS, dim = DIM,
      nCells = CELLS, m = M, k = K, coarseIters = ITERS, pqIters = ITERS,
      trainSample = TRAIN).isEmpty, "in-distribution batch must not retrain")

    val pinned = load(root).getOrElse(fail("no view"))
    val oldEpoch = pinned.epochId

    // out-of-distribution batch: all mass on one axis routes every row
    // to one cell — definitional drift, the gate fires at 0 allowed
    val shifted = (601 to 640).map { i =>
      val v = Array.fill(DIM)(0.0f); v(0) = 5.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")
    val newId = IvfPqTieredStream.retrainMajorIfDrifted(corpus, shifted,
      "vec_id", "emb", root, maxDriftedCells = 0, dim = DIM,
      nCells = CELLS, m = M, k = K, coarseIters = ITERS, pqIters = ITERS,
      trainSample = TRAIN).getOrElse(fail("one-cell batch must drift"))
    assert(newId === oldEpoch + 1)

    // atomic swap: loadCurrent now serves the retrained generation, whose
    // models + codes equal a flat ivfPqBuild over the same corpus
    val after = load(root).getOrElse(fail("no post-retrain view"))
    val twin = Similarity.ivfPqBuild(corpus, "vec_id", "emb", DIM, CELLS,
      M, K, ITERS, ITERS, TRAIN)
    try {
      assert(after.epochId === newId)
      assert(after.index.centroids.map(_.toSeq).toSeq ===
        twin.centroids.map(_.toSeq).toSeq)
      assert(after.index.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        twin.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      assert(codes(after.index) === codes(twin))
      // the pinned pre-retrain reader still collects (one-major grace)
      assert(codes(pinned.index).nonEmpty)
    } finally { after.release(); twin.release(); pinned.release() }
  }
}
