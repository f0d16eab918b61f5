package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.Multimodal

/** [[MediaTieredStream]] — L0/L1 tiered epoch commits for the aHash
  * index. Contracts: the merged ≤2-tier view's pair set is IDENTICAL to
  * the flat rebuild over the same rows (banding completeness survives
  * tiering), minor commits are delta-sized, per-batch new pairs obey the
  * m06 fold identity, `start` decodes and hashes image blobs, and
  * compactMajor physically drops dead ids into a new L1 generation. The
  * crash matrix and the reader grace are [[TieredRollFaultSpec]]'s. */
class MediaTieredStreamSpec extends SparkSpec {

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private val MaxHamming = 6

  /** Deterministic synthetic hashes: id i gets a hash with bits spread by
    * a splitmix step; ids ≡ 3 (mod 7) reuse the hash of i−3 with TWO bits
    * flipped — a planted near-dup at Hamming 2, well inside the budget,
    * while unrelated hashes sit near 32. No image codec in this spec —
    * the decode path is MultimodalSpec's; the tier machinery is hash-in. */
  private def hashOf(i: Long): Long = {
    val base = if (i % 7 == 3 && i >= 3) i - 3 else i
    var x = base * 0x9e3779b97f4a7c15L + 0x165667b19e3779f9L
    x ^= (x >>> 30); x *= 0xbf58476d1ce4e5b9L; x ^= (x >>> 27)
    if (i % 7 == 3) x ^ (1L << ((i * 11) % 64).toInt) ^ (1L << ((i * 29) % 64).toInt)
    else x
  }

  private def hashes(ids: Range): DataFrame = {
    import sqlImplicits._
    ids.map(i => (i.toLong, hashOf(i.toLong))).toDF("media_id", "phash")
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def hashSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minors → major → minor: merged view equals the flat corpus, " +
       "tiered pairs equal the flat rebuild, minors are delta-sized") {
    val root = Files.createTempDirectory("mts_idx").toString
    val batches = (0 until 6).map(i => hashes(i * 20 until (i + 1) * 20))
    // majorEvery=3 (no bootstrap tier — the media index has no model):
    // minors @0 @1, major @2, minors @3 @4, major @5
    val outcomes = batches.zipWithIndex.map { case (b, i) =>
      MediaTieredStream.foldHashes(b, root, i.toLong, majorEvery = 3)
    }
    assert(outcomes.map(_.toString) === Seq("Minor", "Minor", "Major(2)",
      "Minor", "Minor", "Major(2)"))
    assert(new MediaTieredStream.Roll(spark, root).l1Epochs === Seq(ep(5), ep(2)))
    // L0s @3 @4 sit above the PREVIOUS L1@2 — kept for the one-major
    // grace; @0 @1 (two generations old) were pruned by the major @5
    assert(new MediaTieredStream.Roll(spark, root).l0Epochs === Seq(ep(4), ep(3)))

    val l0rows = spark.read.parquet(s"$root/l0/epoch=${ep(4)}/data").count()
    assert(l0rows === 20L, s"a minor commit must be delta-sized, got $l0rows")

    val view = MediaTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no tiered view"))
    assert(view.epochId === ep(5))
    val flat = hashes(0 until 120)
    assert(hashSet(view.hashes) === hashSet(flat))
    assert(pairSet(view.nearDupPairs(MaxHamming)) ===
      pairSet(Multimodal.imageNearDupPairsFromHashes(flat, MaxHamming)))
  }

  test("newPairsFor obeys the m06 fold identity: " +
       "pairs(standing ∪ batch) = pairs(standing) ⊎ newPairs") {
    val root = Files.createTempDirectory("mts2_idx").toString
    MediaTieredStream.foldHashes(hashes(0 until 70), root, 0L)
    val view = MediaTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no view"))
    val batch = hashes(70 until 100)
    val newPairs = pairSet(view.newPairsFor(batch, MaxHamming))
    val standingPairs =
      pairSet(Multimodal.imageNearDupPairsFromHashes(hashes(0 until 70),
        MaxHamming))
    val fullPairs =
      pairSet(Multimodal.imageNearDupPairsFromHashes(hashes(0 until 100),
        MaxHamming))
    assert(newPairs.nonEmpty) // 73→70 crosses the boundary, 80→77 inside
    assert(standingPairs.intersect(newPairs) === Set.empty)
    assert(standingPairs ++ newPairs === fullPairs)
  }

  test("the streaming wrapper over PNG blobs serves the hashes " +
       "imageHashes computes") {
    import sqlImplicits._
    val imgs = (0 until 8).map { i =>
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 16).foreach(x =>
        im.setRGB(x, y, ((i * 37 + x / 8 * 3 + y / 8 * 7) * 0x10101) & 0xffffff)))
      (i.toLong, graft.operators.ImageCodec.encodePng(im))
    }
    val srcDir = Files.createTempDirectory("mts4_src").toString
    imgs.toDF("media_id", "media").write.mode("overwrite").parquet(srcDir)
    val streamRoot = Files.createTempDirectory("mts4_stream_idx").toString
    val ckpt = Files.createTempDirectory("mts4_ckpt").toString
    val q = MediaTieredStream.start(
      spark.readStream.schema("media_id LONG, media BINARY").parquet(srcDir),
      streamRoot, ckpt, majorEvery = 3)
    q.processAllAvailable(); q.stop()
    val streamed = MediaTieredStream.loadCurrent(spark, streamRoot)
      .getOrElse(fail("stream committed nothing"))
    assert(hashSet(streamed.hashes) ===
      hashSet(Multimodal.imageHashes(imgs.toDF("media_id", "media"))))
  }

  test("compactMajor: dead ids physically dropped into a new L1 " +
       "generation; below threshold and no-dead are no-ops") {
    import sqlImplicits._
    val root = Files.createTempDirectory("mts5_idx").toString
    (0 until 3).foreach { i =>
      MediaTieredStream.foldHashes(hashes(i * 30 until (i + 1) * 30), root,
        i.toLong, majorEvery = 3)
    }
    assert(new MediaTieredStream.Roll(spark, root).l1Epochs.head === ep(2))
    val dead = Seq(3L, 10L, 45L, 80L).toDF("media_id")
    // 4/90 ≈ 4.4% dead: below a 10% threshold → None
    assert(MediaTieredStream.compactMajor(spark, root, dead, "media_id",
      threshold = 0.10).isEmpty)
    // no stored dead id at all → None
    assert(MediaTieredStream.compactMajor(spark, root,
      Seq(9999L).toDF("media_id"), "media_id").isEmpty)
    // at threshold 0: fires, survivors only, new generation at 3
    val newId = MediaTieredStream.compactMajor(spark, root, dead, "media_id")
      .getOrElse(fail("compaction must fire"))
    assert(newId === ep(2) + 1)
    assert(new MediaTieredStream.Roll(spark, root).l1Epochs === Seq(ep(2) + 1, ep(2)))
    val after = MediaTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no post-compaction view"))
    assert(after.epochId === ep(2) + 1)
    val deadSet = Set(3L, 10L, 45L, 80L)
    assert(hashSet(after.hashes) ===
      hashSet(hashes(0 until 90)).filterNot(h => deadSet.contains(h._1)))
    // physically gone from the committed generation, not query-filtered
    val stored = spark.read.parquet(s"$root/l1/epoch=${ep(2) + 1}/data")
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(stored.intersect(deadSet) === Set.empty)

    // the regression TierIds.dataEpoch exists for: the batch AFTER an
    // out-of-band maintenance major must still fold (at stride 1 the
    // compaction held the next streaming batch's id — silent data loss)
    assert(MediaTieredStream.foldHashes(hashes(200 until 210), root, 3L,
      majorEvery = 3) === BatchOutcome.Minor)
    val post = MediaTieredStream.loadCurrent(spark, root)
      .getOrElse(fail("no post-maintenance view"))
    assert((200L until 210L).toSet.subsetOf(hashSet(post.hashes).map(_._1)),
      "the post-compaction batch's rows must be served")
  }
}
