package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.operators.Similarity

/** [[VectorTieredStream]] — L0/L1 tiered epoch commits for the IVF
  * index. Contracts: the merged ≤2-tier reader view is BIT-IDENTICAL to
  * the flat build+append chain (same centroids, same assignment, same
  * probe answers), and minor commits are delta-sized (the scale claim).
  * The crash matrix and the reader grace are [[TieredRollFaultSpec]]'s. */
class VectorTieredStreamSpec extends SparkSpec {

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private val N_CELLS = 4
  private val TRAIN = 50
  private val ITERS = 2

  private def vecs(ids: Range): DataFrame = {
    import sqlImplicits._
    ids.map(i => (i.toLong,
      Array((i % 7).toFloat + 1f, (i % 3).toFloat + 0.5f))).toDF("vec_id", "emb")
  }

  private def assignedPairs(idx: Similarity.IvfIndex): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions.col
    idx.assigned.select(col("nid").cast("long"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def probed(idx: Similarity.IvfIndex, queries: DataFrame): Set[(Long, Int, Long)] =
    Similarity.ivfProbe(idx, queries, "vec_id", "emb", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("bootstrap → minors → major → minor converges bit-identically to " +
       "the flat append chain; minors are delta-sized") {
    val root = Files.createTempDirectory("vts_idx").toString
    val batches = Seq(vecs(1 to 60), vecs(101 to 120), vecs(201 to 220),
      vecs(301 to 320), vecs(401 to 420))
    def fold(root: String, i: Int): BatchOutcome =
      VectorTieredStream.foldBatch(batches(i), "vec_id", "emb", root,
        i.toLong, N_CELLS, TRAIN, ITERS, majorEvery = 3)
    // majorEvery=3: bootstrap L1@0, minors @1 @2, major @3, minor @4
    val outcomes = batches.indices.map(fold(root, _))
    assert(outcomes(0) === BatchOutcome.Bootstrapped)
    assert(outcomes(1) === BatchOutcome.Minor)
    assert(outcomes(2) === BatchOutcome.Minor)
    assert(outcomes(3) === BatchOutcome.Major(2))
    assert(outcomes(4) === BatchOutcome.Minor)
    assert(new VectorTieredStream.Roll(spark, root, N_CELLS, TRAIN, ITERS).l1Epochs
      === Seq(ep(3), ep(0))) // two kept generations
    // the major absorbed L0s 1 and 2 but retains them (they sit above the
    // PREVIOUS L1@0 — the one-major reader grace); the next major prunes
    assert(new VectorTieredStream.Roll(spark, root, N_CELLS, TRAIN, ITERS).l0Epochs
      === Seq(ep(4), ep(2), ep(1)))

    // delta-sized minor: the L0 dir holds ONE batch's rows, not the corpus
    val l0rows = spark.read.parquet(s"$root/l0/epoch=${ep(4)}/data").count()
    assert(l0rows === 20L, s"a minor commit must be delta-sized, got $l0rows")

    val view = VectorTieredStream.loadCurrent(spark, root, N_CELLS, TRAIN,
      ITERS).getOrElse(fail("no tiered view"))
    assert(view.epochId === ep(4))
    // flat twin: build on batch 0, append 1–4 — centroids, assignment,
    // and probe answers must all match exactly
    val twin = batches.tail.foldLeft(
      Similarity.ivfBuild(batches.head, "vec_id", "emb", N_CELLS, TRAIN, ITERS))(
      (idx, b) => Similarity.ivfAppend(idx, b, "vec_id", "emb"))
    try {
      assert(view.index.centroids.map(_.toSeq).toSeq ===
        twin.centroids.map(_.toSeq).toSeq)
      assert(assignedPairs(view.index) === assignedPairs(twin))
      val queries = vecs(1 to 5).union(vecs(401 to 403))
      assert(probed(view.index, queries) === probed(twin, queries))

      // crash mid-roll: a second root commits batches 0–1, then a torn L0
      // (files, no marker) is planted for batch 2. Replaying EVERY batch
      // skips the committed prefix, overwrites the torn epoch and folds
      // the tail, and the restarted view equals the uncrashed roll's
      val crashed = Files.createTempDirectory("vts_crash").toString
      (0 to 1).foreach(fold(crashed, _))
      val torn = new java.io.File(s"$crashed/l0/epoch=${ep(2)}")
      assert(torn.mkdirs())
      Files.write(torn.toPath.resolve("data.partial"), Array[Byte](1, 2, 3))
      assert(batches.indices.map(fold(crashed, _)) === Seq(BatchOutcome.Skipped,
        BatchOutcome.Skipped, BatchOutcome.Minor, BatchOutcome.Major(2),
        BatchOutcome.Minor))
      val restarted = VectorTieredStream.loadCurrent(spark, crashed, N_CELLS,
        TRAIN, ITERS).getOrElse(fail("no restarted view"))
      try {
        assert(restarted.index.centroids.map(_.toSeq).toSeq ===
          view.index.centroids.map(_.toSeq).toSeq)
        assert(assignedPairs(restarted.index) === assignedPairs(view.index))
      } finally restarted.release()
    } finally { view.release(); twin.release() }
  }

  test("compactMajor: dead rows dropped into a new L1 generation; " +
       "below threshold is a no-op") {
    import sqlImplicits._
    val root = Files.createTempDirectory("vts4_idx").toString
    val batches = Seq(vecs(1 to 60), vecs(101 to 120), vecs(201 to 220))
    batches.zipWithIndex.foreach { case (b, i) =>
      VectorTieredStream.foldBatch(b, "vec_id", "emb", root, i.toLong,
        N_CELLS, TRAIN, ITERS, majorEvery = 3)
    }
    val before = VectorTieredStream.loadCurrent(spark, root, N_CELLS,
      TRAIN, ITERS).getOrElse(fail("no view"))
    val allPairs = try assignedPairs(before.index) finally before.release()
    val deadIds = Set(5L, 105L, 205L, 210L)
    val dead = deadIds.toSeq.toDF("vec_id")
    assert(VectorTieredStream.compactMajor(spark, root, dead, "vec_id",
      threshold = 0.5, nCells = N_CELLS, trainSample = TRAIN,
      iters = ITERS).isEmpty, "4% dead must not compact at 50%")
    val newId = VectorTieredStream.compactMajor(spark, root, dead,
      "vec_id", threshold = 0.02, nCells = N_CELLS, trainSample = TRAIN,
      iters = ITERS).getOrElse(fail("4% dead must compact at 2%"))
    assert(newId === before.epochId + 1)
    val after = VectorTieredStream.loadCurrent(spark, root, N_CELLS,
      TRAIN, ITERS).getOrElse(fail("no post-compaction view"))
    try {
      assert(after.epochId === newId)
      assert(after.liveL0s.isEmpty)
      assert(assignedPairs(after.index) ===
        allPairs.filterNot(p => deadIds.contains(p._1)))
    } finally after.release()

    // the regression TierIds.dataEpoch exists for: the batch AFTER an
    // out-of-band maintenance major must still fold — at stride 1 the
    // compaction held the NEXT streaming batch's id, so its replay check
    // read Skipped and the batch's data was silently lost (review catch)
    assert(VectorTieredStream.foldBatch(vecs(301 to 310), "vec_id", "emb",
      root, 3L, N_CELLS, TRAIN, ITERS, majorEvery = 3)
      === BatchOutcome.Minor)
    val post = VectorTieredStream.loadCurrent(spark, root, N_CELLS, TRAIN,
      ITERS).getOrElse(fail("no post-maintenance view"))
    try assert((301L to 310L).toSet.subsetOf(
      assignedPairs(post.index).map(_._1)),
      "the post-compaction batch's rows must be served")
    finally post.release()
  }

  test("retrainMajor: fresh centroids commit as a new L1 generation; " +
       "the drift gate holds on in-distribution batches") {
    import sqlImplicits._
    val root = Files.createTempDirectory("vts5_idx").toString
    val batches = Seq(vecs(1 to 60), vecs(101 to 120), vecs(201 to 220))
    batches.zipWithIndex.foreach { case (b, i) =>
      VectorTieredStream.foldBatch(b, "vec_id", "emb", root, i.toLong,
        N_CELLS, TRAIN, ITERS, majorEvery = 3)
    }
    val corpus = batches.reduce(_ unionByName _)

    assert(VectorTieredStream.retrainMajorIfDrifted(corpus,
      vecs(501 to 540), "vec_id", "emb", root,
      maxDriftedCells = N_CELLS, nCells = N_CELLS, trainSample = TRAIN,
      iters = ITERS).isEmpty, "in-distribution batch must not retrain")

    val view = VectorTieredStream.loadCurrent(spark, root, N_CELLS, TRAIN,
      ITERS).getOrElse(fail("no view"))
    val oldEpoch = try view.epochId finally view.release()

    // one far-away point routes every row to one cell: definitional drift
    val shifted = (601 to 640).map(i => (i.toLong, Array(50.0f, 50.0f)))
      .toDF("vec_id", "emb")
    val newId = VectorTieredStream.retrainMajorIfDrifted(corpus, shifted,
      "vec_id", "emb", root, maxDriftedCells = 0, nCells = N_CELLS,
      trainSample = TRAIN, iters = ITERS)
      .getOrElse(fail("one-point batch must drift"))
    assert(newId === oldEpoch + 1)

    val after = VectorTieredStream.loadCurrent(spark, root, N_CELLS,
      TRAIN, ITERS).getOrElse(fail("no post-retrain view"))
    val twin = Similarity.ivfBuild(corpus, "vec_id", "emb", N_CELLS,
      TRAIN, ITERS)
    try {
      assert(after.epochId === newId)
      assert(after.index.centroids.map(_.toSeq).toSeq ===
        twin.centroids.map(_.toSeq).toSeq)
      assert(assignedPairs(after.index) === assignedPairs(twin))
    } finally { after.release(); twin.release() }
  }
}
