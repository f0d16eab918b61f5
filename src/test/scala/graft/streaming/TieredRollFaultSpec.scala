package graft.streaming

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.SparkSpec

/** [[TieredRoll]]'s crash matrix and retention contract, asserted once per
  * index family through each family's public façade. Every family folds
  * the same shape of batches (ids in, ids served) at `majorEvery = 3`, and
  * every case injects its fault on disk between folds:
  *
  *  - an empty batch commits nothing;
  *  - a torn L0 (dir without its marker) is invisible and its replay
  *    overwrites it;
  *  - a torn L1 (crash mid-major) replays and merges again;
  *  - a committed batch replays as a no-op, every file's mtime unchanged
  *    (crash after commit, before the stream checkpoint);
  *  - a listed L0 deleted before the major loads it fails loudly;
  *  - a reader pinned before a major survives that major;
  *  - a compaction whose tombstones throw mid-scan releases the view. */
class TieredRollFaultSpec extends SparkSpec {

  import sqlImplicits._

  /** One index family: its batch shape, its public fold/list/load calls,
    * and (for the families that compact) its tombstone frame shape. */
  private final class Family(
      val name: String,
      val strided: Boolean,
      val bootstraps: Boolean,
      val batch: Range => DataFrame,
      val fold: (DataFrame, String, Long) => BatchOutcome,
      val l0: String => Seq[Long],
      val l1: String => Seq[Long],
      /** the current view's id frame and its release */
      val load: String => Option[(DataFrame, () => Unit)],
      val roll: String => TieredRoll[_, _],
      /** compactMajor over tombstone ids `tomb(col("id"))` of a 3-row range */
      val compact: Option[(String, Column => Column) => Option[Long]]) {

    def ep(batchId: Long): Long =
      if (strided) TierIds.dataEpoch(batchId) else batchId

    /** The batch that triggers the first major at majorEvery = 3. */
    def majorAt: Int = if (bootstraps) 3 else 2

    /** Batch i holds 40 ids for i = 0 (enough to train the bootstrap
      * models), 10 otherwise. */
    def ids(i: Int): Range =
      if (i == 0) 1 to 40 else i * 100 + 1 to i * 100 + 10

    def foldAll(root: String, batches: Range): Seq[BatchOutcome] =
      batches.map(i => fold(batch(ids(i)), root, i.toLong))

    def served(root: String): Set[Long] = load(root) match {
      case Some((frame, release)) =>
        try frame.collect().map(_.getLong(0)).toSet finally release()
      case None => Set.empty
    }
  }

  private def vecs(ids: Range, dim: Int): DataFrame =
    ids.map { i =>
      val v = Array.fill(dim)(0.01f * ((i * 7) % 5))
      v(i % (dim / 2)) = 1.0f; v(dim / 2 + i % (dim / 2)) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")

  private def tombOf(idCol: String, tomb: Column => Column): DataFrame =
    spark.range(3).select(tomb(col("id")).as(idCol))

  private val families: Seq[Family] = {
    val (vCells, vTrain, vIters) = (4, 50, 2)
    val (dim, m, k, iters, train, cells) = (8, 2, 4, 2, 50, 3)
    val (sigK, bands, sw) = (64, 16, 3)
    Seq(
      new Family("vector", strided = true, bootstraps = true,
        ids => vecs(ids, 2),
        (b, root, id) => VectorTieredStream.foldBatch(b, "vec_id", "emb",
          root, id, vCells, vTrain, vIters, majorEvery = 3),
        VectorTieredStream.l0Epochs(spark, _, vCells, vTrain, vIters),
        VectorTieredStream.l1Epochs(spark, _, vCells, vTrain, vIters),
        VectorTieredStream.loadCurrent(spark, _, vCells, vTrain, vIters)
          .map(v => (v.index.assigned.select("nid"), v.release)),
        new VectorTieredStream.Roll(spark, _, vCells, vTrain, vIters),
        Some((root, tomb) => VectorTieredStream.compactMajor(spark, root,
          tombOf("vec_id", tomb), "vec_id", 0.0, vCells, vTrain, vIters))),
      new Family("pq", strided = true, bootstraps = true,
        ids => vecs(ids, dim),
        (b, root, id) => PqTieredStream.foldBatch(b, "vec_id", "emb", root,
          id, dim, m, k, iters, train, majorEvery = 3),
        PqTieredStream.l0Epochs(spark, _, dim, m, k, iters, train),
        PqTieredStream.l1Epochs(spark, _, dim, m, k, iters, train),
        PqTieredStream.loadCurrent(spark, _, dim, m, k, iters, train)
          .map(v => (v.index.encoded.select("nid"), v.release)),
        new PqTieredStream.Roll(spark, _, dim, m, k, iters, train),
        Some((root, tomb) => PqTieredStream.compactMajor(spark, root,
          tombOf("vec_id", tomb), "vec_id", 0.0, dim, m, k, iters, train))),
      new Family("ivfpq", strided = true, bootstraps = true,
        ids => vecs(ids, dim),
        (b, root, id) => IvfPqTieredStream.foldBatch(b, "vec_id", "emb",
          root, id, dim, cells, m, k, iters, iters, train, majorEvery = 3),
        IvfPqTieredStream.l0Epochs(spark, _, dim, cells, m, k, iters, iters,
          train),
        IvfPqTieredStream.l1Epochs(spark, _, dim, cells, m, k, iters, iters,
          train),
        IvfPqTieredStream.loadCurrent(spark, _, dim, cells, m, k, iters,
          iters, train).map(v => (v.index.coded.select("nid"), v.release)),
        new IvfPqTieredStream.Roll(spark, _, dim, cells, m, k, iters, iters,
          train),
        Some((root, tomb) => IvfPqTieredStream.compactMajor(spark, root,
          tombOf("vec_id", tomb), "vec_id", 0.0, dim, cells, m, k, iters,
          iters, train))),
      new Family("lex", strided = false, bootstraps = true,
        ids => ids.map(i => (i.toLong, s"w$i x")).toDF("doc_id", "text"),
        (b, root, id) => LexTieredStream.foldBatch(b, root, id, majorEvery = 3),
        LexTieredStream.l0Epochs(spark, _),
        LexTieredStream.l1Epochs(spark, _),
        LexTieredStream.loadCurrent(spark, _)
          .map(v => (v.index.dl.select("doc_id"), v.release)),
        new LexTieredStream.Roll(spark, _),
        None),
      new Family("graph", strided = true, bootstraps = false,
        ids => ids.map(i => (i.toLong, i + 100000L)).toDF("src", "dst"),
        (b, root, id) => GraphTieredStream.foldBatch(b, root, id,
          majorEvery = 3),
        GraphTieredStream.l0Epochs(spark, _, graft.operators.Adjacency
          .DefaultHubLimit),
        GraphTieredStream.l1Epochs(spark, _, graft.operators.Adjacency
          .DefaultHubLimit),
        GraphTieredStream.loadCurrent(spark, _)
          .map(v => (v.mergedEdges.select("src"), v.release)),
        new GraphTieredStream.Roll(spark, _, graft.operators.Adjacency
          .DefaultHubLimit),
        Some((root, tomb) => GraphTieredStream.compactMajor(spark, root,
          spark.range(3).select(tomb(col("id")).as("src"),
            lit(1L).as("dst"))))),
      new Family("media", strided = true, bootstraps = false,
        ids => ids.map(i => (i.toLong, i * 0x9e3779b97f4a7c15L))
          .toDF("media_id", "phash"),
        (b, root, id) => MediaTieredStream.foldHashes(b, root, id,
          majorEvery = 3),
        MediaTieredStream.l0Epochs(spark, _),
        MediaTieredStream.l1Epochs(spark, _),
        MediaTieredStream.loadCurrent(spark, _)
          .map(v => (v.hashes.select("media_id"), () => ())),
        new MediaTieredStream.Roll(spark, _),
        Some((root, tomb) => MediaTieredStream.compactMajor(spark, root,
          tombOf("media_id", tomb), "media_id"))),
      new Family("signature", strided = true, bootstraps = false,
        ids => ids.map(i => (i.toLong,
          (0 until 40).map(t => s"w${i}_$t").mkString(" ")))
          .toDF("doc_id", "text"),
        (b, root, id) => SignatureTieredStream.foldBatch(b, "doc_id", "text",
          root, id, majorEvery = 3, sigK, bands, sw),
        SignatureTieredStream.l0Epochs(spark, _, sigK, bands, sw),
        SignatureTieredStream.l1Epochs(spark, _, sigK, bands, sw),
        SignatureTieredStream.loadCurrent(spark, _, sigK, bands, sw)
          .map(v => (v.sigs.select("id"), v.release)),
        new SignatureTieredStream.Roll(spark, _, sigK, bands, sw),
        Some((root, tomb) => SignatureTieredStream.compactMajor(spark, root,
          tombOf("doc_id", tomb), "doc_id", 0.0, sigK, bands, sw))))
  }

  private def tear(root: String, tier: String, epochId: Long): Unit = {
    val dir = new File(s"$root/$tier/epoch=$epochId")
    assert(dir.mkdirs())
    Files.write(dir.toPath.resolve("junk"), Array[Byte](1))
  }

  private def epochDirs(root: String): Seq[String] =
    Seq("l0", "l1").flatMap(t => Option(new File(s"$root/$t").list())
      .toSeq.flatten.filter(_.startsWith("epoch=")).map(d => s"$t/$d"))

  private def mtimes(root: String): Map[String, Long] = {
    val walk = Files.walk(new File(root).toPath)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> p.toFile.lastModified).toMap
    finally walk.close()
  }

  private def allIds(f: Family, batches: Range): Set[Long] =
    batches.flatMap(f.ids).map(_.toLong).toSet

  private val boom = udf { (x: Long) =>
    if (x >= 0L) throw new IllegalStateException(s"tombstone id $x fails")
    x
  }

  for (f <- families) {
    def root(tag: String): String =
      Files.createTempDirectory(s"trf_${f.name}_$tag").toString

    test(s"${f.name}: an empty batch commits nothing, first or later") {
      val r = root("empty")
      assert(f.fold(f.batch(1 until 1), r, 0L) === BatchOutcome.EmptyBatch)
      assert(f.load(r).isEmpty)
      assert(epochDirs(r).isEmpty, "no content-free epoch dir")
      f.fold(f.batch(f.ids(1)), r, 1L)
      val committed = epochDirs(r)
      assert(f.fold(f.batch(1 until 1), r, 2L) === BatchOutcome.EmptyBatch)
      assert(epochDirs(r) === committed)
      assert(f.served(r) === allIds(f, 1 to 1))
    }

    test(s"${f.name}: a torn L0 is invisible and its replay overwrites it") {
      val r = root("tornl0")
      f.foldAll(r, 0 to 0)
      tear(r, "l0", f.ep(1))
      assert(!f.l0(r).contains(f.ep(1)), "a torn L0 must be invisible")
      assert(f.served(r) === allIds(f, 0 to 0))
      assert(f.fold(f.batch(f.ids(1)), r, 1L) === BatchOutcome.Minor)
      assert(f.l0(r).contains(f.ep(1)))
      assert(f.served(r) === allIds(f, 0 to 1))
    }

    test(s"${f.name}: a torn L1 (crash mid-major) replays and merges again") {
      val r = root("tornl1")
      f.foldAll(r, 0 until f.majorAt)
      tear(r, "l1", f.ep(f.majorAt))
      assert(!f.l1(r).contains(f.ep(f.majorAt)), "a torn L1 must be invisible")
      assert(f.served(r) === allIds(f, 0 until f.majorAt),
        "the standing tiers stay live under a torn major")
      assert(f.fold(f.batch(f.ids(f.majorAt)), r, f.majorAt.toLong) ===
        BatchOutcome.Major(2))
      // two kept generations: the replayed major over the bootstrap L1
      assert(f.l1(r) === f.ep(f.majorAt) +: (if (f.bootstraps) Seq(f.ep(0))
        else Nil))
      assert(f.served(r) === allIds(f, 0 to f.majorAt))
    }

    test(s"${f.name}: a committed batch replays as a no-op, mtimes unchanged") {
      val r = root("replay")
      f.foldAll(r, 0 to f.majorAt)
      val before = mtimes(r)
      Thread.sleep(1100)
      (0 to f.majorAt).foreach { i =>
        assert(f.fold(f.batch(f.ids(i)), r, i.toLong) === BatchOutcome.Skipped,
          s"batch $i must skip on replay")
      }
      assert(mtimes(r) === before, "a committed batch must replay as a no-op")
      assert(f.served(r) === allIds(f, 0 to f.majorAt))
    }

    test(s"${f.name}: a listed L0 deleted before the major loads it fails " +
         "loudly") {
      val r = root("vanish")
      f.foldAll(r, 0 until f.majorAt)
      val roll = f.roll(r)
      val standing = roll.l1Epochs.headOption
      val live = roll.l0Epochs.reverse
      assert(live.size === 2)
      graft.io.TempRoots.delete(s"$r/l0/epoch=${live.head}")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val e = intercept[RuntimeException](roll.tiers(standing, live,
        strict = true))
      assert(e.getMessage.contains(s"L0 epoch=${live.head} vanished mid-major"))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        "a strict failure must leave no persisted L1 behind")
      // the reader path tolerates the same listing race
      assert(f.served(r) === allIds(f, 0 until f.majorAt) --
        f.ids(if (f.bootstraps) 1 else 0).map(_.toLong))
    }

    test(s"${f.name}: a reader pinned before a major survives it") {
      val r = root("pinned")
      // major #1, then one minor: the pinned generation is L1 + one L0
      f.foldAll(r, 0 to f.majorAt + 1)
      val pinnedIds = allIds(f, 0 to f.majorAt + 1)
      val (frame, release) = f.load(r).getOrElse(fail("no view"))
      try {
        assert(f.foldAll(r, f.majorAt + 2 to f.majorAt + 3).last ===
          BatchOutcome.Major(2))
        assert(f.l1(r).take(2) === Seq(f.ep(f.majorAt + 3), f.ep(f.majorAt)),
          "two L1 generations are kept")
        assert(frame.collect().map(_.getLong(0)).toSet === pinnedIds,
          "a one-major-old reader must still collect (grace window)")
      } finally release()
      assert(f.served(r) === allIds(f, 0 to f.majorAt + 3))
    }

    f.compact.foreach { compact =>
      test(s"${f.name}: compaction that throws mid-scan releases the view") {
        val r = root("compact")
        f.foldAll(r, 0 to f.majorAt + 1) // an L1 plus a live L0
        val l1Before = f.l1(r)
        val before = spark.sparkContext.getPersistentRDDs.keySet
        intercept[Exception](compact(r, c => boom(c)))
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty, s"compaction leaked persisted RDDs: $leaked")
        assert(f.l1(r) === l1Before, "a failed compaction commits nothing")
        assert(f.served(r) === allIds(f, 0 to f.majorAt + 1))
      }
    }
  }
}
