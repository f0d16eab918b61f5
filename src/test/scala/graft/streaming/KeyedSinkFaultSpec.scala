package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.SparkSpec

/** The keyed sinks' on-disk layout and crash matrix, asserted once per sink
  * ([[ExactlyOnceSink]], [[IncrementalAggSink]]) through its public apply
  * and read calls. Every sink takes the same two batches of `(k, x)` rows
  * over 8 buckets, and every crash case injects its fault on disk between
  * calls:
  *
  *  - a post-commit replay is skipped whole;
  *  - with the ledger entry deleted, a re-apply converges to the state
  *    without the crash, whether every touched bucket or only some carry
  *    the batch's marker;
  *  - a parked `._old` bucket is restored when its live dir is missing,
  *    and dropped when it is present;
  *  - `read` never returns a parked bucket;
  *  - the ledger is scoped by `appId`. */
class KeyedSinkFaultSpec extends SparkSpec {

  import sqlImplicits._

  private val nBuckets = 8

  /** One sink opened on a root under an appId: its apply and read calls. */
  private final class Opened(val apply: (DataFrame, Long) => Boolean,
                             val read: () => DataFrame)

  private final class Sink(val name: String, val open: (String, String) => Opened)

  private val sinks = Seq(
    new Sink("upsert", (root, appId) => {
      val s = ExactlyOnceSink(root, Seq("k"), nBuckets = nBuckets, appId = appId)
      new Opened(s.upsertBatch, () => s.read(spark))
    }),
    new Sink("aggregate", (root, appId) => {
      val s = IncrementalAggSink(root, Seq("k"), sums = Seq("x" -> 2),
        nBuckets = nBuckets, appId = appId)
      new Opened(s.applyBatch, () => s.read(spark))
    }))

  /** Batch 0 spreads 16 keys over the buckets; batch 1 revisits four of
    * them and adds one, so it touches some buckets and leaves others. */
  private def keysOf(i: Int): Seq[Long] =
    if (i == 0) 1L to 16L else Seq(10L, 11L, 12L, 13L, 30L)

  private def batch(i: Int): DataFrame =
    keysOf(i).map(k => (k, k * 0.25 + i)).toDF("k", "x")

  private def bucketOf(keys: Seq[Long]): Map[Long, Long] =
    keys.toDF("k").select(col("k"), pmod(xxhash64(col("k")), lit(nBuckets.toLong)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def bucketsOf(i: Int): Set[Long] = bucketOf(keysOf(i)).values.toSet

  /** A read as a sorted multiset of rows: a duplicated key shows. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def names(dir: String): Set[String] =
    Option(new File(dir).list()).toSeq.flatten.filterNot(_.startsWith(".")).toSet

  private def bucket(root: String, b: Long) = new Path(s"$root/state/_bucket=$b")

  private def copy(from: Path, to: Path): Unit =
    assert(FileUtil.copy(fs, from, fs, to, false,
      spark.sparkContext.hadoopConfiguration))

  for (f <- sinks) {
    def root(tag: String): String =
      Files.createTempDirectory(s"ksf_${f.name}_$tag").toString

    test(s"${f.name}: the on-disk layout after two batches") {
      val r = root("layout")
      val s = f.open(r, "lay")
      assert(s.apply(batch(0), 0L) && s.apply(batch(1), 1L))
      val (b0, b1) = (bucketsOf(0), bucketsOf(1))
      assert((b0 -- b1).nonEmpty, "batch 1 must leave some bucket untouched")
      assert(names(s"$r/state") === (b0 ++ b1).map(b => s"_bucket=$b"))
      assert(names(s"$r/_commits") === Set("lay-0", "lay-1"))
      assert(!new File(s"$r/state._staging").exists(), "no staging dir is left")
      (b0 ++ b1).foreach { b =>
        assert(names(bucket(r, b).toString).filter(_.startsWith("_applied-")) ===
          Set(s"_applied-lay-${if (b1(b)) 1 else 0}"),
          s"bucket $b carries the marker of the last batch that touched it")
      }
    }

    /** Both batches applied once, under their own ids, with no fault. */
    lazy val noCrash: Seq[String] = {
      val s = f.open(root("ref"), "ref")
      assert(s.apply(batch(0), 0L) && s.apply(batch(1), 1L))
      rows(s.read())
    }

    /** A bucket batch 1 touches that also holds a batch-0 key batch 1
      * leaves alone: losing its batch-0 content shows in every sink. */
    def shared: Long = {
      val kept = (keysOf(0).toSet -- keysOf(1)).toSeq
      val both = bucketOf(kept).values.toSet intersect bucketsOf(1)
      assert(both.nonEmpty, "the batches must share a bucket")
      both.min
    }

    def unledger(r: String, entry: String): Unit =
      assert(fs.delete(new Path(s"$r/_commits/$entry"), false))

    test(s"${f.name}: a post-commit replay is skipped whole") {
      val s = f.open(root("replay"), "t")
      assert(s.apply(batch(0), 0L) && s.apply(batch(1), 1L))
      assert(!s.apply(batch(1), 1L) && !s.apply(batch(0), 0L),
        "a committed batch must report skip")
      assert(rows(s.read()) === noCrash)
    }

    test(s"${f.name}: an unledgered re-apply converges when every bucket " +
         "carries the marker") {
      val r = root("every")
      val s = f.open(r, "t")
      assert(s.apply(batch(0), 0L) && s.apply(batch(1), 1L))
      unledger(r, "t-1")
      assert(s.apply(batch(1), 1L), "an unledgered batch must re-apply")
      assert(new File(s"$r/_commits/t-1").exists(), "the re-apply ledgers it")
      assert(rows(s.read()) === noCrash)
    }

    test(s"${f.name}: an unledgered re-apply converges when only some " +
         "buckets carry the marker") {
      val r = root("some")
      val pre = root("some_pre")
      val s = f.open(r, "t")
      assert(s.apply(batch(0), 0L))
      copy(new Path(s"$r/state"), new Path(s"$pre/state"))
      assert(s.apply(batch(1), 1L))
      val touched = bucketsOf(1).toSeq.sorted
      assert(touched.size >= 2, "batch 1 must touch several buckets")
      // the crash hit after the first bucket's swap: the rest still hold
      // batch 0's state, and no ledger entry was written
      touched.tail.foreach { b =>
        assert(fs.delete(bucket(r, b), true))
        if (fs.exists(bucket(pre, b))) copy(bucket(pre, b), bucket(r, b))
      }
      unledger(r, "t-1")
      assert(s.apply(batch(1), 1L))
      assert(rows(s.read()) === noCrash)
    }

    test(s"${f.name}: a parked bucket whose live dir is missing is restored") {
      val r = root("restore")
      val s = f.open(r, "t")
      assert(s.apply(batch(0), 0L))
      // the crash hit between the two renames of batch 1's swap
      val live = bucket(r, shared)
      assert(fs.rename(live, live.suffix("._old")))
      assert(s.apply(batch(1), 1L))
      assert(!fs.exists(live.suffix("._old")), "the parked bucket is healed")
      assert(rows(s.read()) === noCrash)
    }

    test(s"${f.name}: a parked bucket whose live dir is present is dropped") {
      val r = root("drop")
      val pre = root("drop_pre")
      val s = f.open(r, "t")
      assert(s.apply(batch(0), 0L))
      val live = bucket(r, shared)
      copy(live, new Path(pre, "parked"))
      assert(s.apply(batch(1), 1L))
      // the crash hit after the swap, before the parked copy was dropped
      copy(new Path(pre, "parked"), live.suffix("._old"))
      unledger(r, "t-1")
      assert(s.apply(batch(1), 1L))
      assert(!fs.exists(live.suffix("._old")), "the parked bucket is dropped")
      assert(rows(s.read()) === noCrash)
    }

    test(s"${f.name}: read never returns a parked bucket") {
      val r = root("read")
      val s = f.open(r, "t")
      assert(s.apply(batch(0), 0L) && s.apply(batch(1), 1L))
      val live = bucket(r, shared)
      copy(live, live.suffix("._old"))
      assert(rows(s.read()) === noCrash, "a parked copy must not double rows")
    }

    test(s"${f.name}: the ledger is scoped by appId") {
      val r = root("appid")
      val a = f.open(r, "run1")
      assert(a.apply(batch(0), 0L))
      // a fresh checkpoint lineage restarts batchIds at 0
      val b = f.open(r, "run2")
      assert(b.apply(batch(1), 0L), "batch 0 under a new appId is new data")
      assert(!b.apply(batch(1), 0L) && !a.apply(batch(0), 0L))
      assert(rows(b.read()) === noCrash)
    }
  }
}
