package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.Dedup

/** [[SignatureTieredStream]] — L0/L1 tiered epoch commits for the MinHash
  * [[Dedup.SignatureIndex]]. Contracts: the merged view reproduces the
  * flat build exactly (sigs AND buckets), the tiered cross-tier probe
  * obeys the m06/d06 fold identity against the flat exact-pairs kernel,
  * minors are delta-sized, the crash matrix holds per tier, a pinned
  * reader survives one major, and compactMajor physically drops dead ids
  * from sigs AND bucket member arrays. */
class SignatureTieredStreamSpec extends SparkSpec {

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private val K = 64
  private val BANDS = 16
  private val SW = 3

  /** Deterministic corpus: doc i is 40 unique tokens; ids ≡ 2 (mod 5)
    * reuse doc i−2's tokens with the LAST one changed — a planted
    * near-dup at 3-shingle Jaccard 35/41 ≈ 0.854 (≥ 0.8), while distinct
    * docs share zero shingles. */
  private def text(i: Long): String = {
    val base = if (i % 5 == 2 && i >= 2) i - 2 else i
    val toks = (0 until 40).map(t => s"w${base}_$t").toArray
    if (i % 5 == 2) toks(39) = s"alt$i"
    toks.mkString(" ")
  }

  private def docsOf(ids: Range): DataFrame = {
    import sqlImplicits._
    ids.map(i => (i.toLong, text(i.toLong))).toDF("doc_id", "text")
  }

  private def fold(ids: Range, root: String, batchId: Long,
                   majorEvery: Int = 3): BatchOutcome =
    SignatureTieredStream.foldBatch(docsOf(ids), "doc_id", "text", root,
      batchId, majorEvery, K, BANDS, SW)

  private def load(root: String): Option[SignatureTieredStream.Tiered] =
    SignatureTieredStream.loadCurrent(spark, root, K, BANDS, SW)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def sigIds(df: DataFrame): Set[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSet

  private def bucketSet(df: DataFrame): Set[(Int, Long, Seq[Long])] =
    df.collect().map(r => (r.getInt(0), r.getLong(1),
      r.getSeq[Long](2))).toSet

  test("minors → major → minor: merged view reproduces the flat build " +
       "(sigs and buckets) and minors are delta-sized") {
    val root = Files.createTempDirectory("sts_idx").toString
    val ranges = (0 until 6).map(i => i * 20 until (i + 1) * 20)
    val outcomes = ranges.zipWithIndex.map { case (r, i) =>
      fold(r, root, i.toLong)
    }
    assert(outcomes.map(_.toString) === Seq("Minor", "Minor", "Major(2)",
      "Minor", "Minor", "Major(2)"))
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).l1Epochs
      === Seq(ep(5), ep(2)))
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).l0Epochs
      === Seq(ep(4), ep(3)))
    val l0rows = spark.read.parquet(s"$root/l0/epoch=${ep(4)}/data").count()
    assert(l0rows === 20L, s"a minor commit must be delta-sized, got $l0rows")

    val view = load(root).getOrElse(fail("no tiered view"))
    val twin = Dedup.signatureBuild(docsOf(0 until 120), "doc_id", "text",
      K, BANDS, SW)
    val merged = Dedup.SignatureIndex(K, BANDS, SW, view.sigs,
      Dedup.bucketsFromSigs(view.sigs, K, BANDS), () => ())
    try {
      assert(view.epochId === ep(5))
      assert(sigIds(view.sigs) === sigIds(twin.sigs))
      assert(bucketSet(merged.buckets) === bucketSet(twin.buckets))
      // the committed L1 itself (no delta above it) matches too
      assert(bucketSet(view.probeIndex.buckets) === bucketSet(twin.buckets))
    } finally { merged.release(); view.release(); twin.release() }
  }

  test("newPairsFor obeys the fold identity against the flat exact-pairs " +
       "kernel, probing a split-tier view (L1 + live L0s)") {
    val root = Files.createTempDirectory("sts2_idx").toString
    // majorEvery=3 over 5 batches → L1@2 plus live L0s @3 @4: the probe's
    // standing side genuinely spans both tiers. Standing ends at 82 so
    // the planted pair 82→80 (dup distance 2) CROSSES batch↔standing.
    (0 until 4).foreach(i => fold(i * 20 until (i + 1) * 20, root, i.toLong))
    fold(80 until 82, root, 4L)
    val view = load(root).getOrElse(fail("no view"))
    val batch = docsOf(82 until 110)
    val mp = view.newPairsFor(batch, "doc_id", "text", threshold = 0.8)
    val newPairs = try pairSet(mp.pairs) finally mp.release()
    val ms = Dedup.minhashExactPairsManaged(docsOf(0 until 82),
      "doc_id", "text", K, BANDS, SW, threshold = 0.8)
    val standingPairs = try pairSet(ms.pairs) finally ms.release()
    val mf = Dedup.minhashExactPairsManaged(docsOf(0 until 110),
      "doc_id", "text", K, BANDS, SW, threshold = 0.8)
    val fullPairs = try pairSet(mf.pairs) finally mf.release()
    view.release()
    // 82→80 crosses batch↔standing; 87→85, 92→90 are batch-internal
    assert(newPairs.contains((80L, 82L)))
    assert(standingPairs.intersect(newPairs) === Set.empty)
    assert(standingPairs ++ newPairs === fullPairs)
  }

  test("crash matrix: torn L0 replays in place; committed batches skip; " +
       "empty batches commit nothing") {
    val root = Files.createTempDirectory("sts3_idx").toString
    assert(fold(0 until 20, root, 0L) === BatchOutcome.Minor)
    // torn L0: data without a marker is invisible and replayable
    Dedup.signatureFrame(docsOf(20 until 40), "doc_id", "text", K, SW)
      .write.mode("overwrite").parquet(s"$root/l0/epoch=${ep(1)}/data")
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).l0Epochs
      === Seq(ep(0)))
    assert(fold(20 until 40, root, 1L) === BatchOutcome.Minor)
    assert(fold(20 until 40, root, 1L) === BatchOutcome.Skipped)
    assert(fold(0 until 0, root, 2L) === BatchOutcome.EmptyBatch)
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).l0Epochs
      === Seq(ep(1), ep(0)))
    val view = load(root).getOrElse(fail("no view"))
    try assert(sigIds(view.sigs) === (0L until 40L).toSet)
    finally view.release()
  }

  test("a reader pinned before a major survives it, and the streaming " +
       "wrapper converges like foldBatch") {
    import sqlImplicits._
    val root = Files.createTempDirectory("sts4_idx").toString
    (0 until 3).foreach(i => fold(i * 20 until (i + 1) * 20, root, i.toLong))
    val pinned = load(root).getOrElse(fail("no view"))
    assert(pinned.epochId === ep(2))
    (3 until 6).foreach(i => fold(i * 20 until (i + 1) * 20, root, i.toLong))
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).l1Epochs
      === Seq(ep(5), ep(2)))
    try assert(sigIds(pinned.sigs) === (0L until 60L).toSet)
    finally pinned.release()

    val srcDir = Files.createTempDirectory("sts4_src").toString
    docsOf(0 until 30).write.mode("overwrite").parquet(srcDir)
    val streamRoot = Files.createTempDirectory("sts4_stream_idx").toString
    val ckpt = Files.createTempDirectory("sts4_ckpt").toString
    val q = SignatureTieredStream.start(
      spark.readStream.schema("doc_id LONG, text STRING").parquet(srcDir),
      "doc_id", "text", streamRoot, ckpt, majorEvery = 3, K, BANDS, SW)
    q.processAllAvailable(); q.stop()
    val streamed = load(streamRoot).getOrElse(fail("stream committed nothing"))
    try assert(sigIds(streamed.sigs) === (0L until 30L).toSet)
    finally streamed.release()
  }

  test("compactMajor: dead ids physically dropped from sigs AND bucket " +
       "member arrays; below threshold is a no-op") {
    import sqlImplicits._
    val root = Files.createTempDirectory("sts5_idx").toString
    (0 until 3).foreach(i => fold(i * 20 until (i + 1) * 20, root, i.toLong))
    val deadSet = Set(2L, 7L, 22L, 41L, 57L)
    val dead = deadSet.toSeq.toDF("doc_id")
    assert(SignatureTieredStream.compactMajor(spark, root, dead, "doc_id",
      threshold = 0.20, k = K, bands = BANDS, shingleWidth = SW).isEmpty,
      "5/60 dead is below a 20% threshold")
    val newId = SignatureTieredStream.compactMajor(spark, root, dead,
      "doc_id", k = K, bands = BANDS, shingleWidth = SW)
      .getOrElse(fail("compaction must fire at threshold 0"))
    assert(newId === ep(2) + 1)
    val after = load(root).getOrElse(fail("no post-compaction view"))
    val twin = Dedup.signatureBuild(
      docsOf(0 until 60).filter(!col("doc_id").isin(deadSet.toSeq: _*)),
      "doc_id", "text", K, BANDS, SW)
    try {
      assert(after.epochId === ep(2) + 1)
      assert(sigIds(after.sigs) === (0L until 60L).toSet -- deadSet)
      // buckets equal a rebuild over survivors: no dead id lingers in any
      // committed member array
      assert(bucketSet(after.probeIndex.buckets) === bucketSet(twin.buckets))
    } finally { after.release(); twin.release() }
  }
}
