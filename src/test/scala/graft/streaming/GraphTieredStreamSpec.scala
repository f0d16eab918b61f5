package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Adjacency, Checkpoints}

/** [[GraphTieredStream]] — L0/L1 tiered epoch commits. Contracts: the
  * merged reader view converges bit-identically to the full build, minor
  * commits are delta-sized (the scale claim), point reads are
  * query-proportional and tier-complete, the crash matrix of the flat
  * roll is preserved per tier, and a reader survives one major
  * compaction (the keepEpochs=2 grace, tier-shaped). */
class GraphTieredStreamSpec extends SparkSpec {

  import sqlImplicits._

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Data epochs live at the maintenance stride (graph joined the strided
    * families when compaction gave it an out-of-band writer). */
  private def ep(batchId: Long): Long = TierIds.dataEpoch(batchId)

  test("12 batches at majorEvery=4 converge to the full build; minors are " +
       "delta-sized; point reads are tier-complete") {
    val root = Files.createTempDirectory("gts_idx").toString
    // ring + chords, ids revisit so cross-tier duplicates exist
    val all = (0 until 36).map(i => (i % 12 + 1L, (i * 5) % 12 + 100L))
    all.grouped(3).zipWithIndex.foreach { case (chunk, i) =>
      GraphTieredStream.foldBatch(chunk.toDF("src", "dst"), root,
        batchId = i.toLong, majorEvery = 4)
    }
    // 12 batches, majors at live-L0 4s: both tiers populated
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l1Epochs.nonEmpty, "majors must have run")

    val view = GraphTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no tiered view"))
    try {
      val full = Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Adjacency.build(all.toDF("src", "dst"), dedup = true))
      try {
        assert(edgeSet(view.mergedEdges) === edgeSet(full.edges),
          "merged ≤2-tier view must equal the full build's edge set")
        // point read parity: neighbors across tiers == full expand, per query
        val per = Seq(1L, 5L, 11L).toDF("src")
          .withColumn("qid", org.apache.spark.sql.functions.col("src"))
        val want = full.expand(per).select("qid", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = view.neighbors(per).select("qid", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want, "tiered point read must match the full expand")
        assert(got.nonEmpty)
      } finally full.release()
    } finally view.release()

    // delta-sized minor: the newest L0 dir holds ONE batch's rows (3),
    // not the corpus — the O(|Δ|) commit claim, checked on bytes on disk
    val l0 = new GraphTieredStream.Roll(spark, root, Adjacency.DefaultHubLimit).l0Epochs
    l0.headOption.foreach { id =>
      val rows = spark.read.parquet(s"$root/l0/epoch=$id/data").count()
      assert(rows <= 3L, s"a minor commit must be delta-sized, got $rows rows")
    }
  }

  test("crash matrix: torn L0 and torn L1 replay identically; a committed " +
       "batch replays as a no-op") {
    val root = Files.createTempDirectory("gts2_idx").toString
    GraphTieredStream.foldBatch(Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"),
      root, batchId = 0L, majorEvery = 3)

    // torn L0: a dir without its meta marker must be invisible AND
    // overwritten by its replay
    val torn = new java.io.File(s"$root/l0/epoch=${ep(1)}")
    assert(torn.mkdirs())
    Files.write(torn.toPath.resolve("junk"), Array[Byte](1))
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l0Epochs === Seq(ep(0)), "torn L0 must be invisible")
    GraphTieredStream.foldBatch(Seq((2L, 3L)).toDF("src", "dst"),
      root, batchId = 1L, majorEvery = 3)
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l0Epochs.toSet === Set(ep(0), ep(1)))

    // batch 2 is the major (3rd live delta). Simulate its crash mid-save:
    // a torn L1 dir, then the replay compacts and overwrites it.
    val tornL1 = new java.io.File(s"$root/l1/epoch=${ep(2)}")
    assert(tornL1.mkdirs())
    Files.write(tornL1.toPath.resolve("junk"), Array[Byte](1))
    GraphTieredStream.foldBatch(Seq((3L, 4L)).toDF("src", "dst"),
      root, batchId = 2L, majorEvery = 3)
    assert(new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).l1Epochs === Seq(ep(2)), "replayed major must commit")

    // replay of the committed major: a pure no-op (mtimes unchanged)
    def mtimes = new java.io.File(s"$root/l1/epoch=${ep(2)}").listFiles
      .map(f => f.getName -> f.lastModified).toMap
    val m0 = mtimes
    Thread.sleep(1100)
    GraphTieredStream.foldBatch(Seq((3L, 4L)).toDF("src", "dst"),
      root, batchId = 2L, majorEvery = 3)
    assert(mtimes === m0, "a committed batch must replay as a no-op")

    val view = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail("no view"))
    try assert(edgeSet(view.mergedEdges) ===
      Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)))
    finally view.release()
  }

  test("a reader pinned before a major compaction survives it (one-major " +
       "grace), and the streaming wrapper converges like foldBatch") {
    val root = Files.createTempDirectory("gts3_idx").toString
    val landing = Files.createTempDirectory("gts3_in").toString
    val all = (0 until 8).map(i => (i / 2 + 1L, 100L + i))
    all.grouped(1).zipWithIndex.foreach { case (chunk, i) =>
      chunk.toDF("src", "dst").coalesce(1).write
        .parquet(f"$landing/chunk$i%02d")
    }
    val q = GraphTieredStream.start(
      spark.readStream.schema("src LONG, dst LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      root, Files.createTempDirectory("gts3_ck").toString, majorEvery = 3)
    assert(q.awaitTermination(180000L), "stream must drain")

    val view = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail("no view"))
    try assert(edgeSet(view.mergedEdges) === all.toSet)
    finally view.release()

    // pin a reader, then roll enough batches for ONE more major: the
    // pinned generation's L0s sit above the previous L1, so they survive
    val pinned = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
    val more = (0 until 3).map(i => (50L + i, 60L + i))
    more.zipWithIndex.foreach { case ((s0, d0), i) =>
      GraphTieredStream.foldBatch(Seq((s0, d0)).toDF("src", "dst"), root,
        batchId = 100L + i, majorEvery = 3)
    }
    try assert(edgeSet(pinned.mergedEdges) === all.toSet,
      "a one-major-old reader must still collect (grace window)")
    finally pinned.release()

    val fresh = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
    try assert(edgeSet(fresh.mergedEdges) === (all ++ more).toSet)
    finally fresh.release()
  }

  test("edge retraction: exclusion reads equal a rebuild without the dead " +
       "edges, compactMajor physically drops them at a maintenance id, and " +
       "the next data batch folds as a Minor (no id collision)") {
    val root = Files.createTempDirectory("gts4_idx").toString
    // 5 batches at majorEvery=3: major at batch 2, minors 3-4 → the view
    // merges BOTH tiers, and dead edges live in both
    val all = (0 until 30).map(i => (i % 6 + 1L, (i * 7) % 15 + 100L))
    all.grouped(6).zipWithIndex.foreach { case (chunk, i) =>
      GraphTieredStream.foldBatch(chunk.toDF("src", "dst"), root,
        batchId = i.toLong, majorEvery = 3)
    }
    // tombstones: every stored edge with (src + dst) % 5 == 1, plus one
    // edge that is NOT stored (must subtract nothing anywhere)
    val deadSet = all.toSet.filter(e => (e._1 + e._2) % 5 == 1)
    assert(deadSet.nonEmpty, "fixture must tombstone something")
    val dead = (deadSet + ((999L, 999L))).toSeq.toDF("src", "dst")
    val survivors = all.toSet -- deadSet

    val view = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
    try assert(edgeSet(view.mergedEdgesExcluding(dead)) === survivors,
      "query-time exclusion must equal the survivor edge set")
    finally view.release()

    // physical compaction: a NEW L1 generation at standing-epoch + 1
    val preId = new GraphTieredStream.Roll(spark, root,
      Adjacency.DefaultHubLimit).currentEpochId.getOrElse(fail())
    val newId = GraphTieredStream.compactMajor(spark, root, dead)
      .getOrElse(fail("compaction must fire with stored dead edges"))
    assert(newId === preId + 1, "compaction commits at a maintenance slot")
    val clean = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
    try assert(edgeSet(clean.mergedEdges) === survivors,
      "post-compaction plain reads must be clean of the dead edges")
    finally clean.release()

    // idempotent: the dead edges are gone, a re-run finds nothing to drop
    assert(GraphTieredStream.compactMajor(spark, root, dead).isEmpty,
      "a second compaction with the same tombstones must be a no-op")

    // the epoch-id stride regression (the r15 TierIds catch, graph-shaped):
    // the NEXT data batch must commit as a Minor, not replay-Skip into
    // the maintenance commit's id
    val out = GraphTieredStream.foldBatch(
      Seq((90L, 91L)).toDF("src", "dst"), root, batchId = 5L, majorEvery = 3)
    assert(out === BatchOutcome.Minor,
      s"post-compaction data batch must fold as Minor, got $out")
    val after = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
    try assert(edgeSet(after.mergedEdges) === survivors + ((90L, 91L)))
    finally after.release()
  }

  test("compactMajor is None on a minors-only root and below threshold; a " +
       "legacy pre-stride root refuses to fold") {
    val root = Files.createTempDirectory("gts5_idx").toString
    GraphTieredStream.foldBatch(Seq((1L, 2L), (3L, 4L)).toDF("src", "dst"),
      root, batchId = 0L, majorEvery = 3)
    // minors-only: nothing to rewrite (documented None case)
    assert(GraphTieredStream.compactMajor(spark, root,
      Seq((1L, 2L)).toDF("src", "dst")).isEmpty)
    (1 to 2).foreach { i =>
      GraphTieredStream.foldBatch(Seq((10L + i, 20L + i)).toDF("src", "dst"),
        root, batchId = i.toLong, majorEvery = 3)
    }
    // 1 dead of 4 stored = 25% < 50% threshold → None; then fires at 20%
    assert(GraphTieredStream.compactMajor(spark, root,
      Seq((1L, 2L)).toDF("src", "dst"), threshold = 0.5).isEmpty)
    assert(GraphTieredStream.compactMajor(spark, root,
      Seq((1L, 2L)).toDF("src", "dst"), threshold = 0.2).isDefined)

    // legacy-root refusal: epochs on disk but no stride marker (exactly
    // what a pre-stride writer left behind) must fail loudly, not
    // silently double-apply replays under re-based ids
    assert(new java.io.File(s"$root/_tier_layout").delete())
    val err = intercept[IllegalArgumentException] {
      GraphTieredStream.foldBatch(Seq((7L, 8L)).toDF("src", "dst"),
        root, batchId = 3L, majorEvery = 3)
    }
    assert(err.getMessage.contains("pre-stride"),
      s"refusal must name the legacy layout, got: ${err.getMessage}")
  }
}
