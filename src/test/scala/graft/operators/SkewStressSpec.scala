package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Adversarial-skew stress for the capped candidate kernels (r8 verdict
  * task 7): the caps existed, but bench scale only ever exercised the
  * benign zero-drop path. These corpora are built to be DEGENERATE — one
  * residue/band/posting cluster holding thousands of members whose
  * uncapped pair enumeration would be O(n²) in the cluster — and pin that
  * each kernel (a) completes within a bounded wall time, (b) reports
  * drops > 0 through [[DedupMetrics]], and (c) still emits the correct
  * pairs for the benign part of the corpus sitting next to the
  * degenerate cluster.
  *
  * Wall-time bounds are deliberately loose (CI boxes vary); measured
  * times on the build box are recorded in PERF.md §stress. The point is
  * catastrophe-vs-seconds, not microbenchmarks: 4000 identical strings
  * would otherwise enumerate ~8M residue pairs per bucket, 1500 identical
  * docs ~1.1M LSH pairs per band × 32 bands. */
class SkewStressSpec extends SparkSpec {
  import sqlImplicits._

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("editPairsK(2): 4000-member degenerate residue cluster is refused in bounded time") {
    val degenerate = (1L to 4000L).map(i => (i, "blk", "aaaaaaaaaa"))
    val benign = Seq((9001L, "blk", "kitten"), (9002L, "blk", "sitten"),
      (9003L, "blk", "unrelatedxyz"))
    val df = (degenerate ++ benign).toDF("id", "blk", "s")
    val before = DedupMetrics.snapshot().get("edit2")
      .map(_.buckets).getOrElse(0L)
    val (pairs, sec) = timed {
      Dedup.editPairsK(df, "id", "blk", "s", k = 2).collect()
    }
    info(f"editPairsK(2) degenerate corpus: $sec%.1f s, ${pairs.length} pairs")
    assert(sec < 120.0, f"capped kernel took $sec%.1f s — cap not engaging")
    val after = DedupMetrics.snapshot()("edit2").buckets
    assert(after > before, "degenerate residue cluster did not trip the drop counter")
    // the benign neighbors beside the cluster still pair up
    val ids = pairs.map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(ids.contains((9001L, 9002L)), "benign pair lost alongside the refused cluster")
    assert(!ids.exists(p => p._1 == 9003L || p._2 == 9003L))
  }

  test("minhashLshPairs: 1500 identical docs flood every band bucket; refused, observable, bounded") {
    val text = "the quick brown fox jumps over the lazy dog and then naps by the fire all afternoon"
    val flood = (1L to 1500L).map(i => (i, text))
    val benign = Seq(
      (9001L, "completely different content about query engines and shuffle partitioning at scale today"),
      (9002L, "completely different content about query engines and shuffle partitioning at scale tonight"))
    val df = (flood ++ benign).toDF("doc_id", "text")
    val before = DedupMetrics.snapshot().get("minhash")
      .map(_.buckets).getOrElse(0L)
    val (pairs, sec) = timed {
      val m = Dedup.minhashLshPairsManaged(df, "doc_id", "text",
        k = 128, bands = 32, shingleWidth = 3, threshold = 0.8)
      try m.pairs.collect() finally m.release()
    }
    info(f"minhashLshPairs flood corpus: $sec%.1f s, ${pairs.length} pairs")
    assert(sec < 120.0, f"capped kernel took $sec%.1f s — cap not engaging")
    val after = DedupMetrics.snapshot()("minhash").buckets
    assert(after > before, "flooded band buckets did not trip the drop counter")
    // the benign near-dup pair lives in its own buckets and still surfaces
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((9001L, 9002L)), "benign near-dup lost alongside the flooded buckets")
    // and no flood-internal pair sneaks out of a refused bucket
    assert(!ids.exists(p => p._1 <= 1500L && p._2 <= 1500L))
  }

  test("containmentPairsIndexed: a universal stop token floods one posting bucket; refused, bounded") {
    // every doc carries 'common'; with maxBucket=500 the (blk, common)
    // bucket (2000 members) is refused while per-doc rare tokens keep
    // the benign contained pair discoverable through ITS bucket
    val flood = (1L to 2000L).map(i => (i, s"common filler$i", "s"))
    val benign = Seq(
      (9001L, "alpha beta gamma delta epsilon zeta", "s"),
      (9002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "s"))
    val df = (flood ++ benign).toDF("doc_id", "text", "source")
    val before = DedupMetrics.snapshot().get("containment")
      .map(_.buckets).getOrElse(0L)
    val (pairs, sec) = timed {
      Dedup.containmentPairsIndexed(df, "doc_id", "text", "source",
        threshold = 0.95, maxBucket = 500).collect()
    }
    info(f"containmentPairsIndexed flood corpus: $sec%.1f s, ${pairs.length} pairs")
    assert(sec < 120.0, f"capped kernel took $sec%.1f s — cap not engaging")
    val after = DedupMetrics.snapshot()("containment").buckets
    assert(after > before, "flooded posting bucket did not trip the drop counter")
    val ids = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.contains((9001L, 9002L)),
      "benign contained pair lost alongside the refused stop-token bucket")
  }
}
