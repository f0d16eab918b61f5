package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Adjacency, Checkpoints}

/** [[CopurchaseStream]] — rolling co-purchase graph from the raw line
  * stream into a tiered root. Contracts: a pair whose two lines arrive in
  * DIFFERENT batches still materializes (the drop a per-batch pair-gen
  * silently commits), the rolled edge set converges bit-identically to the
  * full-corpus build, and replays are idempotent end to end. */
class CopurchaseStreamSpec extends SparkSpec {

  private def edgesOf(h: Adjacency.Hybrid): Seq[(Long, Long)] =
    h.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** The tiered root's merged edge set. */
  private def rolledEdges(root: String): Seq[(Long, Long)] = {
    val t = GraphTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("tiered roll committed nothing"))
    try t.mergedEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    finally t.release()
  }

  test("cross-batch pairs materialize: an order split over two batches " +
       "contributes the edge a per-batch pair-gen would drop") {
    import sqlImplicits._
    val linesDir = Files.createTempDirectory("cps_lines").toString
    val root = Files.createTempDirectory("cps_idx").toString
    // order 10: part 1 in batch 0, part 2 in batch 1 — the cross-batch pair
    val b0 = Seq((10L, 1L), (20L, 5L), (20L, 6L)).toDF("l_orderkey", "l_partkey")
    val b1 = Seq((10L, 2L), (30L, 7L)).toDF("l_orderkey", "l_partkey")
    CopurchaseStream.foldBatchTiered(b0, linesDir, root, batchId = 0L)
    CopurchaseStream.foldBatchTiered(b1, linesDir, root, batchId = 1L)
    assert(rolledEdges(root) === Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L)))

    // replay of batch 1 is a no-op end to end (lines overwrite, fold skip)
    assert(CopurchaseStream.foldBatchTiered(b1, linesDir, root,
      batchId = 1L) === BatchOutcome.Skipped)
    assert(rolledEdges(root) === Seq((1L, 2L), (2L, 1L), (5L, 6L), (6L, 5L)))
  }

  test("32 micro-batches with compaction: bit-identical convergence, " +
       "bounded directory count, torn segment ignored, replay idempotent") {
    import sqlImplicits._
    val linesDir = Files.createTempDirectory("cps3_lines").toString
    val root = Files.createTempDirectory("cps3_idx").toString
    // 16 orders, one line per batch, each order revisited 16 batches
    // later — every pair is a cross-batch pair, and by batch 31 the
    // lines that complete them live in the COMPACTED segment, not a
    // batch dir (compactEvery = 4 forces many compactions)
    val allLines = (0 until 32).map(i => (i % 16 + 1L, 100L + i))
    allLines.zipWithIndex.foreach { case ((o, p), i) =>
      CopurchaseStream.foldBatchTiered(
        Seq((o, p)).toDF("l_orderkey", "l_partkey"),
        linesDir, root, batchId = i.toLong, compactEvery = 4)
    }

    def dirNames() = new java.io.File(linesDir).listFiles.toSeq
      .map(_.getName).filter(n => n.startsWith("batch=") || n.startsWith("segment="))
    val batches0 = dirNames().count(_.startsWith("batch="))
    assert(batches0 <= 5,
      s"delta-dir count must stay O(compactEvery), got $batches0: ${dirNames()}")
    assert(dirNames().count(_.startsWith("segment=")) === 1)

    val full = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(graft.queries.CoreQueries.copurchasePairs(
        allLines.toDF("l_orderkey", "l_partkey")), dedup = true))
    assert(rolledEdges(root) === edgesOf(full))

    // bucket pruning is REAL partition pruning: the `ob` isin predicate
    // must live in the scan's PartitionFilters — the r12 shape (inferred
    // INT partition column vs Long literals) coerced via a cast and could
    // drop the predicate to a post-scan filter, silently reading all 64
    // buckets (r12 advice; SegmentSchema pins ob as LONG)
    {
      val segId = dirNames().find(_.startsWith("segment="))
        .map(_.stripPrefix("segment=").toLong).getOrElse(fail("no segment"))
      val pruned = CopurchaseStream.readSegment(spark, linesDir, segId)
        .filter(org.apache.spark.sql.functions.col("ob").isin(1L, 3L))
      val scans = pruned.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      assert(scans.forall(_.partitionFilters.exists(
          _.references.exists(_.name == "ob"))),
        s"ob predicate fell out of PartitionFilters:\n${pruned.queryExecution}")
    }

    // torn compaction: a segment dir without _SUCCESS must be invisible
    val torn = new java.io.File(s"$linesDir/segment=9999")
    assert(torn.mkdirs())
    java.nio.file.Files.write(torn.toPath.resolve("junk.parquet"),
      Array[Byte](1, 2, 3))
    // replay of the last batch AFTER compaction: standing is served from
    // the segment + live deltas, the torn segment is skipped, and the
    // fold is a no-op end to end
    val (o31, p31) = allLines(31)
    CopurchaseStream.foldBatchTiered(
      Seq((o31, p31)).toDF("l_orderkey", "l_partkey"),
      linesDir, root, batchId = 31L, compactEvery = 4)
    try assert(rolledEdges(root) === edgesOf(full))
    finally full.release()
  }

  test("torn fold replays identically: a crash AFTER the lines write but " +
       "BEFORE the epoch commit leaves state a replay completes from") {
    import sqlImplicits._
    val linesDir = Files.createTempDirectory("cps4_lines").toString
    val root = Files.createTempDirectory("cps4_idx").toString
    val all = Seq((10L, 1L), (20L, 5L), (10L, 2L), (10L, 3L))
    CopurchaseStream.foldBatchTiered(
      Seq(all(0), all(1)).toDF("l_orderkey", "l_partkey"),
      linesDir, root, batchId = 0L)
    CopurchaseStream.foldBatchTiered(Seq(all(2)).toDF("l_orderkey", "l_partkey"),
      linesDir, root, batchId = 1L)
    // simulate batch 2 crashing between its two state writes: the lines
    // landed, the epoch fold did not run
    Seq(all(3)).toDF("l_orderkey", "l_partkey")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("o"),
        org.apache.spark.sql.functions.col("l_partkey").as("p"))
      .write.parquet(s"$linesDir/batch=2")
    // the replay must EXCLUDE its own crashed lines from standing (else
    // part 3 pairs with itself via the torn state), rewrite them, and fold
    CopurchaseStream.foldBatchTiered(Seq(all(3)).toDF("l_orderkey", "l_partkey"),
      linesDir, root, batchId = 2L)
    val full = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(graft.queries.CoreQueries.copurchasePairs(
        all.toDF("l_orderkey", "l_partkey")), dedup = true))
    try assert(rolledEdges(root) === edgesOf(full))
    finally full.release()
  }

  test("streamed sf0.001 lineitem chunks converge to the full-corpus " +
       "co-purchase build bit-identically") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val linesDir = Files.createTempDirectory("cps2_lines").toString
    val root = Files.createTempDirectory("cps2_idx").toString
    val landing = Files.createTempDirectory("cps2_in").toString
    val ckpt = Files.createTempDirectory("cps2_ck").toString
    // 3 row-sliced chunks: orders cross chunk boundaries by construction
    li.withColumn("rn",
        org.apache.spark.sql.functions.monotonically_increasing_id() % 3)
      .write.partitionBy("rn").parquet(s"$landing/rows")
    (0 to 2).foreach { i =>
      spark.read.parquet(s"$landing/rows/rn=$i")
        .coalesce(1).write.parquet(s"$landing/chunk$i")
    }
    val stream = spark.readStream.schema(li.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*")
    val q = CopurchaseStream.startTiered(stream, linesDir, root, ckpt)
    q.awaitTermination(300000L)

    val view = GraphTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("tiered roll committed nothing"))
    val rolled = try Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(view.mergedEdges, dedup = true)) finally view.release()
    val full = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(
        graft.queries.CoreQueries.copurchasePairs(li), dedup = true))
    try {
      assert(edgesOf(rolled) === edgesOf(full))
      assert((rolled.srcCount, rolled.hubCount) ===
        (full.srcCount, full.hubCount))
    } finally { rolled.release(); full.release() }
  }

  test("tiered line roll: minors above the L1, merged edge set equals the " +
       "flat roll's, replay is a no-op") {
    import sqlImplicits._
    val linesDir = Files.createTempDirectory("cpt_lines").toString
    val root = Files.createTempDirectory("cpt_idx").toString
    // 5 batches; orders revisited across batches so cross-batch pairs
    // exercise the standing-lines join under BOTH folds; majorEvery=3
    // puts an L1 major mid-roll with live minors above it
    val batches = (0 until 5).map(i =>
      Seq((i % 3 + 10L, 100L + i), (i % 2 + 20L, 200L + i)))
    batches.zipWithIndex.foreach { case (ls, i) =>
      val df = ls.toDF("l_orderkey", "l_partkey")
      CopurchaseStream.foldBatchTiered(df, linesDir, root, i.toLong,
        majorEvery = 3)
    }
    // the tiered root has a committed L1 (the major) AND live L0 minors
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l1Epochs.nonEmpty, "major must have committed an L1")
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l0Epochs.nonEmpty, "post-major minors must be live")

    // the flat form: one build over every line of every batch
    val flat = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(graft.queries.CoreQueries.copurchasePairs(
        batches.flatten.toDF("l_orderkey", "l_partkey")), dedup = true))
    val flatEdges = try edgesOf(flat) finally flat.release()
    assert(rolledEdges(root) === flatEdges,
      "tiered merged edge set diverged from the flat rebuild")

    // replay of the last batch: tier marker skips, state unchanged
    CopurchaseStream.foldBatchTiered(
      batches.last.toDF("l_orderkey", "l_partkey"), linesDir, root, 4L,
      majorEvery = 3)
    assert(rolledEdges(root) === flatEdges, "replay must be a no-op")
  }
}
