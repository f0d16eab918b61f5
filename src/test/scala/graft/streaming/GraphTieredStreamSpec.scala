package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.{Adjacency, Checkpoints}

/** [[GraphTieredStream]] — L0/L1 tiered epoch commits. Contracts: the
  * merged reader view converges bit-identically to the full build, minor
  * commits are delta-sized (the scale claim), point reads are
  * query-proportional and tier-complete, and tombstoned edges are
  * excluded at read and dropped by compaction. The crash matrix and the
  * reader grace are [[TieredRollFaultSpec]]'s. */
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
