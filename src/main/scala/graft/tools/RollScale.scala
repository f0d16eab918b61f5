package graft.tools

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming._

/** The roll-scale probe for the tiered index families: the claim "a
  * minor pays O(|Δ|), never O(standing)" measured instead of asserted.
  * `n` deterministic synthetic rows stage file-backed as `nBatches`
  * chunks; each chunk folds through the family's real roll (L0 minors,
  * every `majorEvery`-th live delta a major), timed per batch with its
  * steal share. Flat minor seconds across the roll = the claim holds;
  * majors merge the standing tiers by design and show on their own rows.
  * Families that serve near-dup pairs first probe the batch's NEW pairs
  * off the pre-fold view (the serving-path cost), timed apart. Each
  * family ends with its convergence check:
  *
  *  - `copurchase` (q82): 4-line orders, lines split by `line_id %
  *    nBatches`, so every order spans batches; the merged edge set equals
  *    the flat pair generation over all lines.
  *  - `signature` (d14): 40-token docs, ids ≡ 2 (mod 5) a near-dup of
  *    id − 2; every doc folds a signature and the probes find every
  *    planted pair exactly once.
  *  - `media` (m07): 64×64 block PNGs, ids ≡ 3 (mod 7) id − 3 with one
  *    block inverted; every image hashes, every planted pair is found
  *    once, and a compaction of ids ≡ 4 (mod 9) keeps exactly the rest.
  *  - `vector` (v27): 64-dim embeddings split by `vec_id % nBatches`; the
  *    rolled (nid, cell) assignment equals the flat build + append chain.
  *
  * Stdout is one JSON line. Stderr carries the roll's per-fold INFO lines
  * (seconds split into listing, write and prune).
  *
  * Usage: runMain graft.tools.RollScale <family> [n] [nBatches] [majorEvery]
  */
object RollScale {

  /** What a check sees: the rolled root, the row count, the probes' pair
    * total and the staged chunks. */
  private final case class Rolled(spark: SparkSession, root: String, n: Long, nBatches: Int,
      pairs: Long, chunk: Int => DataFrame)

  /** One family: its default size, its id column, whether batches
    * interleave ids (else contiguous ranges), its rows over
    * `spark.range(n)`, an optional pre-fold pair probe, the fold and the
    * convergence check (its JSON fields). */
  private final case class Family(defaultN: Long, key: String, interleaved: Boolean,
      rows: (SparkSession, Long) => DataFrame, probe: Option[(DataFrame, String) => Long],
      fold: (DataFrame, String, Long, Int) => BatchOutcome, check: Rolled => Seq[(String, Any)])

  private def committed[V](view: Option[V]): V =
    view.getOrElse(sys.error("the roll committed nothing"))

  /** Every planted pair (ids ≡ `rem` (mod `mod`) with id − `rem`) found once. */
  private def requirePlanted(r: Rolled, mod: Int, rem: Int): Unit = {
    val want = (0L until r.n).count(i => i % mod == rem && i >= rem)
    require(r.pairs == want, s"accumulated ${r.pairs} pairs, fixture plants $want")
  }

  /** 64×64 PNG of 8×8 splitmix-colored blocks; ids ≡ 3 (mod 7) copy
    * id − 3's blocks with one inverted. */
  private val pngOf = udf { (i: Long) =>
    val (seed, flip) = if (i % 7 == 3 && i >= 3) (i - 3, ((i * 31) % 64).toInt) else (i, -1)
    val im = new java.awt.image.BufferedImage(64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      var c = seed * 1103515245L + (y / 8) * 7919L + (x / 8) * 104729L + 12345L
      c ^= c >>> 33; c *= 0xff51afd7ed558ccdL; c ^= c >>> 33
      im.setRGB(x, y, (c & 0xffffff).toInt ^ (if ((y / 8) * 8 + x / 8 == flip) 0xffffff else 0))
    }
    graft.operators.ImageCodec.encodePng(im)
  }

  private val families: Map[String, Family] = Map(
    "copurchase" -> Family(900000L, "line_id", interleaved = true,
      (spark, n) => spark.range(n).select(col("id").as("line_id"),
        (col("id") / 4).cast("long").as("l_orderkey"),
        pmod(xxhash64(col("id")), lit(math.max(n / 3, 1L))).as("l_partkey")),
      None,
      (delta, root, i, m) => CopurchaseStream.foldBatchTiered(delta, s"${root}_lines", root, i, m),
      r => {
        val view = committed(GraphTieredStream.loadCurrent(r.spark, r.root))
        val edges = try view.mergedEdges.count() finally view.release()
        val flat = graft.queries.CoreQueries.copurchasePairs(
          (0 until r.nBatches).map(r.chunk).reduce(_ unionByName _)).distinct().count()
        require(edges == flat, s"rolled $edges edges, flat pair-gen has $flat")
        Seq("merged_edges" -> edges)
      }),
    "signature" -> Family(50000L, "doc_id", interleaved = false,
      (spark, n) => {
        val base = when(col("id") % 5 === 2 && col("id") >= 2, col("id") - 2).otherwise(col("id"))
        val toks = (0 until 39).map(t => concat(lit("w"), base, lit(s"_$t")))
        val last = when(col("id") % 5 === 2, concat(lit("alt"), col("id")))
          .otherwise(concat(lit("w"), base, lit("_39")))
        spark.range(n).select(col("id").as("doc_id"), concat_ws(" ", (toks :+ last): _*).as("text"))
      },
      Some { (delta, root) =>
        val pre = SignatureTieredStream.loadCurrent(delta.sparkSession, root)
        val mp = pre.map(_.newPairsFor(delta, "doc_id", "text")).getOrElse(
          graft.operators.Dedup.minhashExactPairsManaged(delta, "doc_id", "text"))
        try mp.pairs.count() finally { mp.release(); pre.foreach(_.release()) }
      },
      (delta, root, i, m) => SignatureTieredStream.foldBatch(delta, "doc_id", "text", root, i, m),
      r => {
        val view = committed(SignatureTieredStream.loadCurrent(r.spark, r.root))
        val sigs = try view.sigs.count() finally view.release()
        require(sigs == r.n, s"folded $sigs sigs, generated ${r.n}")
        requirePlanted(r, 5, 2)
        Seq("sig_rows" -> sigs, "total_pairs" -> r.pairs)
      }),
    "media" -> Family(3600L, "media_id", interleaved = false,
      (spark, n) => spark.range(n).select(col("id").as("media_id"), pngOf(col("id")).as("media")),
      Some { (delta, root) =>
        val hashes = graft.operators.Multimodal.imageHashes(delta)
        MediaTieredStream.loadCurrent(delta.sparkSession, root).map(_.newPairsFor(hashes, 6))
          .getOrElse(graft.operators.Multimodal.imageNearDupPairsFromHashes(hashes, 6)).count()
      },
      (delta, root, i, m) => MediaTieredStream.foldBatch(delta, root, i, m),
      r => {
        val images = committed(MediaTieredStream.loadCurrent(r.spark, r.root)).hashes.count()
        require(images == r.n, s"folded $images hashes, staged ${r.n}")
        requirePlanted(r, 7, 3)
        // the maintenance window: ~11% tombstoned, physical compaction
        val dead = r.spark.range(r.n).filter(col("id") % 9 === 4).select(col("id").as("media_id"))
        val (_, compactSec) = timed(MediaTieredStream.compactMajor(r.spark, r.root, dead,
          "media_id", threshold = 0.05).getOrElse(sys.error("compaction must fire at ~11% dead")))
        val survivors = committed(MediaTieredStream.loadCurrent(r.spark, r.root)).hashes.count()
        require(survivors == r.n - dead.count(), s"compaction kept $survivors of ${r.n}")
        Seq("hash_rows" -> images, "total_pairs" -> r.pairs,
          "compact_sec" -> round2(compactSec), "survivors" -> survivors)
      }),
    "vector" -> Family(20000L, "vec_id", interleaved = true,
      (spark, n) => spark.range(n).select(col("id").as("vec_id"), array((0 until 64).map(d =>
        (pmod(xxhash64(col("id"), lit(d)), lit(1000L)).cast("double") / 500.0 - 1.0)
          .cast("float")): _*).as("emb")),
      None,
      (delta, root, i, m) => VectorTieredStream.foldBatch(delta, "vec_id", "emb", root, i,
        majorEvery = m),
      r => {
        import graft.operators.Similarity.{ivfAppend, ivfBuild}
        def cells(assigned: DataFrame) = assigned.select("nid", "cell").collect()
          .map(x => (x.getLong(0), x.getInt(1))).sorted.toSeq
        val view = committed(VectorTieredStream.loadCurrent(r.spark, r.root))
        val rolled = try cells(view.index.assigned) finally view.release()
        require(rolled.size == r.n, s"rolled ${rolled.size} rows, staged ${r.n}")
        val flat = (1 until r.nBatches).foldLeft(ivfBuild(r.chunk(0), "vec_id", "emb"))(
          (idx, i) => ivfAppend(idx, r.chunk(i), "vec_id", "emb"))
        val chained = try cells(flat.assigned) finally flat.release()
        require(rolled == chained, "the tiered roll diverged from the flat chain")
        Seq("rows" -> rolled.size)
      }))

  private def timed[A](body: => A): (A, Double) =
    { val t0 = System.nanoTime(); (body, (System.nanoTime() - t0) / 1e9) }

  private def round2(x: Double): Double = math.round(x * 100) / 100.0

  /** Roll `n` rows of `family` as `nBatches` batches; the JSON line. */
  def run(spark: SparkSession, family: String, n: Long, nBatches: Int,
          majorEvery: Int): String = {
    val f = families.getOrElse(family, sys.error(s"unknown family $family"))
    require(nBatches >= 1 && n >= nBatches, "need n >= nBatches >= 1")
    val spin0 = HostCpu.spinScore()
    val work = java.nio.file.Files.createTempDirectory("roll_scale").toString
    try {
      val batchOf = if (f.interleaved) pmod(col(f.key), lit(nBatches.toLong))
        else least((col(f.key) / (n / nBatches)).cast("long"), lit(nBatches - 1L))
      f.rows(spark, n).withColumn("batch", batchOf)
        .write.partitionBy("batch").parquet(s"$work/staged")
      def chunk(i: Int) = spark.read.parquet(s"$work/staged/batch=$i")
      val root = s"$work/tiered"
      var pairs = 0L
      val perBatch = (0 until nBatches).map { i =>
        val (delta, s0) = (chunk(i), HostCpu.snapshot())
        val probed = f.probe.map(p => timed(p(delta, root)))
        val (outcome, foldSec) = timed(f.fold(delta, root, i.toLong, majorEvery))
        val steal = math.round(HostCpu.stealPct(s0, HostCpu.snapshot()) * 10) / 10.0
        probed.foreach(pairs += _._1)
        foldSec -> (ListMap[String, Any]("batch" -> i, "delta_rows" -> delta.count()) ++
          probed.toSeq.flatMap(p => Seq("pairs" -> p._1, "probe_sec" -> round2(p._2))) ++
          Seq("fold_sec" -> round2(foldSec), "steal_pct" -> steal, "outcome" -> outcome.toString))
      }
      val checked = f.check(Rolled(spark, root, n, nBatches, pairs, chunk))
      graft.io.Jsons.obj(Seq("metric" -> "roll_scale", "family" -> family, "n" -> n,
        "n_batches" -> nBatches, "major_every" -> majorEvery) ++ checked ++
        Seq("total_sec" -> round2(perBatch.map(_._1).sum), "spin_before" -> spin0,
          "spin_after" -> HostCpu.spinScore(), "per_batch" -> perBatch.map(_._2)))
    } finally graft.io.TempRoots.delete(work)
  }

  def main(args: Array[String]): Unit = {
    val family = args.headOption.getOrElse(sys.error(
      "usage: RollScale <copurchase|signature|media|vector> [n] [nBatches] [majorEvery]"))
    val spark = graft.GraftSession.local(Sweep.cores)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.streaming.TieredRoll", org.apache.logging.log4j.Level.INFO)
    try println(run(spark, family,
      args.lift(1).map(_.toLong).getOrElse(families.get(family).fold(0L)(_.defaultN)),
      args.lift(2).map(_.toInt).getOrElse(10), args.lift(3).map(_.toInt).getOrElse(5)))
    finally spark.stop()
  }
}
