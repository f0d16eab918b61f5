package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Serving from TIERED roots — the production pairing of the L0/L1
  * rolls with the pinned serve streams. Contracts per family:
  *  - vector/lex/PQ/IVFADC/media (media through its roll's
  *    [[TieredRoll.serve]]): answers over a tiered root are
  *    IDENTICAL to probing the flat operator chain over the same batches
  *    (build + append/fold, then the same probe — the tiers' certified
  *    fold identities, surfaced at the serve layer);
  *  - graph: the same exact identity against top-k by neighbour
  *    out-degree over the full edge set — candidates are tier-complete (a
  *    minor's edges are served before any major) AND the degree ranking
  *    reads [[GraphTieredStream.Tiered.mergedOutDegrees]], the exact
  *    cross-tier degrees at |Δ| cost;
  *  - all: a minor commit mid-stream bumps the tiered epoch id, so the
  *    pin swaps at the next batch and the new delta is served. */
class TieredServeSpec extends SparkSpec {

  import sqlImplicits._

  private def readAnswers(outDir: String): Set[Seq[Any]] =
    spark.read.parquet(s"$outDir/batch=*").drop("batch_id", "epoch_id")
      .collect().map(_.toSeq).toSet

  private def stageOne(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.parquet(dir); dir
  }

  test("vector: tiered-served answers equal flat-served answers; a minor " +
       "commit swaps the pin at the next batch") {
    val vecs = (ids: Range) => ids.map(i => (i.toLong,
      Array((i % 7).toFloat + 1f, (i % 3).toFloat + 0.5f))).toDF("vec_id", "emb")
    val batches = Seq(vecs(1 to 60), vecs(101 to 120), vecs(201 to 220),
      vecs(301 to 320))
    val tRoot = Files.createTempDirectory("tsv_t").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      VectorTieredStream.foldBatch(b, "vec_id", "emb", tRoot, i.toLong,
        nCells = 4, trainSample = 50, iters = 2, majorEvery = 3)
    }
    // queries out of the corpus id namespace (ivfProbe self-exclusion)
    val q = vecs(1 to 6).select((col("vec_id") + 1000000L).as("qid"),
      col("emb").as("qvec"))
    val in = stageOne(q, Files.createTempDirectory("tsv_in").toString + "/q")
    val out = Files.createTempDirectory("tsv_out").toString
    val sq = VectorServeStream.startTiered(
      spark.readStream.schema(q.schema).parquet(in), tRoot, out,
      Files.createTempDirectory("tsv_ck").toString,
      k = 3, nProbe = 2, nCells = 4, trainSample = 50, iters = 2)
    assert(sq.awaitTermination(180000L), "serve must drain")
    val tieredAns = readAnswers(out)

    // the flat form: ivfBuild over the first batch, ivfAppend the rest,
    // the same ivfProbe
    val twin = batches.tail.foldLeft(
      graft.operators.Similarity.ivfBuild(batches.head, "vec_id", "emb",
        nCells = 4, trainSample = 50, iters = 2))(
      (idx, b) => graft.operators.Similarity.ivfAppend(idx, b, "vec_id", "emb"))
    try {
      val flatAns = graft.operators.Similarity
        .ivfProbe(twin, q, "qid", "qvec", 3, 2)
        .select(col("qid"), col("rank"), col("nid"), col("sim"))
        .collect().map(_.toSeq).toSet
      assert(tieredAns === flatAns, "tiered-served ≠ flat-served")
      assert(tieredAns.nonEmpty)
    } finally twin.release()

    // mid-stream minor: pin swaps at the next batch and serves the delta
    val pin = new VectorTieredStream.Roll(spark, tRoot, nCells = 4,
      trainSample = 50, iters = 2).pin
    try {
      val (id0, _) = pin.get()
      VectorTieredStream.foldBatch(vecs(401 to 410), "vec_id", "emb", tRoot,
        10L, nCells = 4, trainSample = 50, iters = 2, majorEvery = 3)
      val (id1, t1) = pin.get()
      assert(id1 === TierIds.dataEpoch(10L), "minor commit must bump the pin")
      assert(id1 != id0)
      assert(t1.index.assigned.filter(col("nid") >= 401L).count() === 10L,
        "the swapped pin must serve the minor's delta")
    } finally pin.close()
  }

  test("lex: tiered-served answers (edits + deletes in an L0 above the " +
       "L1) equal flat-served answers from the same batches") {
    val tRoot = Files.createTempDirectory("tsl_t").toString
    val batches = Seq(
      Seq(1L -> "a b a", 2L -> "b c", 3L -> "d a").toDF("doc_id", "text"),
      Seq(4L -> "a d", 5L -> "e b").toDF("doc_id", "text"),
      Seq(2L -> "x y", 6L -> "f a").toDF("doc_id", "text"),   // edit doc 2
      Seq(3L -> "", 7L -> "g b").toDF("doc_id", "text"))      // delete doc 3
    batches.zipWithIndex.foreach { case (b, i) =>
      LexTieredStream.foldBatch(b, tRoot, i.toLong, majorEvery = 4)
    }
    // the edit (L0@2) and delete (L0@3) sit ABOVE the bootstrap L1@0 —
    // the serve path must resolve them through the tier merge
    assert(new LexTieredStream.Roll(spark, tRoot).l1Epochs === Seq(0L))
    assert(new LexTieredStream.Roll(spark, tRoot).l0Epochs === Seq(3L, 2L, 1L))

    val q = Seq((1L, "a b"), (2L, "d"), (3L, "x")).toDF("qid", "qtext")
    val in = stageOne(q, Files.createTempDirectory("tsl_in").toString + "/q")
    val out = Files.createTempDirectory("tsl_out").toString
    val sq = LexServeStream.startTiered(
      spark.readStream.schema(q.schema).parquet(in), tRoot, out,
      Files.createTempDirectory("tsl_ck").toString, k = 3)
    assert(sq.awaitTermination(180000L), "serve must drain")
    val tieredAns = readAnswers(out)

    // the flat form: Postings.build over the first batch, foldDocs the
    // rest, then per-query BM25 top-3 (t37's plan)
    val twin = batches.tail.foldLeft(
      graft.operators.Postings.build(batches.head)) { (idx, b) =>
      val next = graft.operators.Postings.foldDocs(idx, b)
      idx.release(); next
    }
    val flatAns =
      try {
        val qterms = q.select(col("qid"),
            explode(array_distinct(split(col("qtext"), " "))).as("tok"))
          .filter(col("tok") =!= "")
        graft.queries.TextQueries
          .bm25ScoresOverIndex(twin, qterms, excludeSelf = false)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("qid")
              .orderBy(col("score_scaled").desc, col("doc_id"))))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("doc_id"),
            col("score_scaled"), col("n_terms"))
          .collect().map(_.toSeq).toSet
      } finally twin.release()
    assert(tieredAns === flatAns, "tiered-served ≠ flat-served")
    // the delete is visible through the serve path: doc 3 never answers
    assert(!tieredAns.exists(_(2) == 3L), "deleted doc served")
    assert(tieredAns.nonEmpty)
  }

  test("graph: tiered-served answers equal flat-served answers exactly — " +
       "tier-complete candidates AND exact merged degrees") {
    val root = Files.createTempDirectory("tsg_t").toString
    // L0@0..1, major L1@2, then a live minor L0@3 with NEW edges —
    // including a cross-tier duplicate (1→12 again) that must not
    // double-count any degree, and 4→10 whose src exists ONLY in the minor
    val batches = Seq(
      Seq((1L, 10L), (1L, 11L), (2L, 10L)),
      Seq((2L, 12L), (3L, 10L)),
      Seq((3L, 13L), (1L, 12L)),
      Seq((1L, 14L), (1L, 12L), (4L, 10L)))
    batches.zipWithIndex.foreach { case (es, i) =>
      GraphTieredStream.foldBatch(es.toDF("src", "dst"), root, i.toLong,
        majorEvery = 3)
    }
    assert(new GraphTieredStream.Roll(spark, root,
      graft.operators.Adjacency.DefaultHubLimit).l1Epochs.head === TierIds.dataEpoch(2))

    val q = Seq((101L, 1L), (104L, 4L)).toDF("qid", "node")
    val in = stageOne(q, Files.createTempDirectory("tsg_in").toString + "/q")
    val out = Files.createTempDirectory("tsg_out").toString
    val sq = GraphServeStream.startTiered(
      spark.readStream.schema(q.schema).parquet(in), root, out,
      Files.createTempDirectory("tsg_ck").toString, k = 5)
    assert(sq.awaitTermination(180000L), "serve must drain")
    val tieredAns = readAnswers(out)

    // the flat form: top-5 neighbours by (out-degree DESC, dst ASC) over
    // the full distinct edge set
    val edges = batches.flatten.distinct
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val flatAns: Set[Seq[Any]] = Seq(101L -> 1L, 104L -> 4L).flatMap {
      case (qid, node) =>
        edges.filter(_._1 == node).map(_._2)
          .map(d => d -> outdeg.getOrElse(d, 0L))
          .sortBy { case (d, deg) => (-deg, d) }.take(5).zipWithIndex
          .map { case ((d, deg), i) => Seq[Any](qid, i + 1, d, deg) }
    }.toSet
    assert(tieredAns === flatAns,
      "tiered-served ≠ flat-served (candidates or degrees diverged)")
    // tier-completeness spot check: the live minor's edge 1→14 is served
    // and the minor-only src 4 answers at all
    val pairs = tieredAns.map(r => (r.head, r(2)))
    assert(pairs.contains((101L, 14L)) && pairs.contains((104L, 10L)))
  }

  private def qvecs(ids: Range): DataFrame = {
    val arr = (i: Int) => {
      val v = Array.fill(8)(0.01f * ((i * 7) % 5))
      v(i % 4) = 1.0f; v(4 + i % 4) = 1.0f; v
    }
    ids.map(i => (i.toLong, arr(i))).toDF("vec_id", "emb")
  }

  test("pq: tiered-served ADC answers equal flat-served answers; a minor " +
       "commit swaps the pin at the next batch") {
    val tRoot = Files.createTempDirectory("tsp_t").toString
    val batches = Seq(qvecs(1 to 40), qvecs(101 to 110), qvecs(201 to 210),
      qvecs(301 to 310))
    batches.zipWithIndex.foreach { case (b, i) =>
      PqTieredStream.foldBatch(b, "vec_id", "emb", tRoot, i.toLong,
        dim = 8, m = 2, k = 4, iters = 2, trainSample = 50, majorEvery = 3)
    }
    val q = qvecs(1 to 6).select((col("vec_id") + 1000000L).as("qid"),
      col("emb").as("qvec"))
    val in = stageOne(q, Files.createTempDirectory("tsp_in").toString + "/q")
    val out = Files.createTempDirectory("tsp_out").toString
    val sq = PqServeStream.startTiered(
      spark.readStream.schema(q.schema).parquet(in), tRoot, out,
      Files.createTempDirectory("tsp_ck").toString,
      dim = 8, k = 3, m = 2, codebookK = 4, iters = 2, trainSample = 50)
    assert(sq.awaitTermination(180000L), "serve must drain")
    val tieredAns = readAnswers(out)

    // the flat form: pqBuild over the first batch, pqAppend the rest, the
    // same pqTopK
    val twin = batches.tail.foldLeft(
      graft.operators.Similarity.pqBuild(batches.head, "vec_id", "emb",
        dim = 8, m = 2, k = 4, iters = 2, trainSample = 50))(
      (idx, b) => graft.operators.Similarity.pqAppend(idx, b, "vec_id", "emb"))
    try {
      val flatAns = graft.operators.Similarity
        .pqTopK(twin, q, "qid", "qvec", 3)
        .select(col("qid"), col("rank"), col("nid"), col("adc"))
        .collect().map(_.toSeq).toSet
      assert(tieredAns === flatAns, "tiered-served ≠ flat-served")
      assert(tieredAns.nonEmpty)
    } finally twin.release()

    // mid-stream minor: pin swaps at the next batch and serves the delta
    val pin = new PqTieredStream.Roll(spark, tRoot, dim = 8, m = 2,
      k = 4, iters = 2, trainSample = 50).pin
    try {
      val (id0, _) = pin.get()
      PqTieredStream.foldBatch(qvecs(401 to 410), "vec_id", "emb", tRoot,
        10L, dim = 8, m = 2, k = 4, iters = 2, trainSample = 50,
        majorEvery = 3)
      val (id1, t1) = pin.get()
      assert(id1 === TierIds.dataEpoch(10L) && id1 != id0, "minor commit must bump the pin")
      assert(t1.index.encoded.filter(col("nid") >= 401L).count() === 10L,
        "the swapped pin must serve the minor's delta")
    } finally pin.close()
  }

  test("ivfadc: tiered-served answers equal probing the flat build+append " +
       "chain directly; a minor commit swaps the pin at the next batch") {
    val tRoot = Files.createTempDirectory("tsi_t").toString
    val batches = Seq(qvecs(1 to 40), qvecs(101 to 110), qvecs(201 to 210),
      qvecs(301 to 310))
    batches.zipWithIndex.foreach { case (b, i) =>
      IvfPqTieredStream.foldBatch(b, "vec_id", "emb", tRoot, i.toLong,
        dim = 8, nCells = 3, m = 2, k = 4, coarseIters = 2, pqIters = 2,
        trainSample = 50, majorEvery = 3)
    }
    val q = qvecs(1 to 6).select((col("vec_id") + 1000000L).as("qid"),
      col("emb").as("qvec"))
    val in = stageOne(q, Files.createTempDirectory("tsi_in").toString + "/q")
    val out = Files.createTempDirectory("tsi_out").toString
    val sq = IvfPqServeStream.startTiered(
      spark.readStream.schema(q.schema).parquet(in), tRoot, out,
      Files.createTempDirectory("tsi_ck").toString,
      dim = 8, k = 3, nProbe = 2, nCells = 3, m = 2, codebookK = 4,
      coarseIters = 2, pqIters = 2, trainSample = 50)
    assert(sq.awaitTermination(180000L), "serve must drain")
    val tieredAns = readAnswers(out)

    // the flat form of this family IS the build+append chain (v31): a
    // direct probe over it must answer identically
    val twin = batches.tail.foldLeft(
      graft.operators.Similarity.ivfPqBuild(batches.head, "vec_id", "emb",
        dim = 8, nCells = 3, m = 2, k = 4, coarseIters = 2, pqIters = 2,
        trainSample = 50))(
      (idx, b) => graft.operators.Similarity.ivfPqAppend(idx, b, "vec_id", "emb"))
    try {
      val flatAns = graft.operators.Similarity
        .ivfPqProbe(twin, q, "qid", "qvec", k = 3, nProbe = 2)
        .select(col("qid"), col("rank"), col("nid"), col("adc"))
        .collect().map(_.toSeq).toSet
      assert(tieredAns === flatAns, "tiered-served ≠ flat build+append probe")
      assert(tieredAns.nonEmpty)
    } finally twin.release()

    // mid-stream minor: pin swaps at the next batch and serves the delta
    val pin = new IvfPqTieredStream.Roll(spark, tRoot, dim = 8,
      nCells = 3, m = 2, k = 4, coarseIters = 2, pqIters = 2,
      trainSample = 50).pin
    try {
      val (id0, _) = pin.get()
      IvfPqTieredStream.foldBatch(qvecs(401 to 410), "vec_id", "emb", tRoot,
        10L, dim = 8, nCells = 3, m = 2, k = 4, coarseIters = 2,
        pqIters = 2, trainSample = 50, majorEvery = 3)
      val (id1, t1) = pin.get()
      assert(id1 === TierIds.dataEpoch(10L) && id1 != id0, "minor commit must bump the pin")
      assert(t1.index.coded.filter(col("nid") >= 401L).count() === 10L,
        "the swapped pin must serve the minor's delta")
    } finally pin.close()
  }

  /** 64×64 random-block PNG keyed by id — distinct ids land near Hamming
    * 32; ids ≡ 3 (mod 7) reuse the content of i−3 with one block
    * inverted (a planted near-dup), the MediaQueries fixture shape. */
  private def blockImg(i: Long): Array[Byte] = {
    def color(seed: Long, bx: Int, by: Int): Int = {
      var x = seed * 1103515245L + by * 7919L + bx * 104729L + 12345L
      x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 33)
      (x & 0xffffff).toInt
    }
    val seed = if (i % 7 == 3 && i >= 3) i - 3 else i
    val flip = if (i % 7 == 3) ((i * 31) % 64).toInt else -1
    val im = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 64).foreach { y =>
      (0 until 64).foreach { x =>
        val b = (y / 8) * 8 + (x / 8)
        var c = color(seed, x / 8, y / 8)
        if (b == flip) c ^= 0xffffff
        im.setRGB(x, y, c)
      }
    }
    graft.operators.ImageCodec.encodePng(im)
  }

  private def images(ids: Range): DataFrame =
    ids.map(i => (i.toLong, blockImg(i.toLong))).toDF("media_id", "media")

  test("media: tiered-served near-dup answers equal the direct probe over " +
       "the flat hash frame; a minor commit swaps the pin at the next batch") {
    val tRoot = Files.createTempDirectory("tsm_t").toString
    Seq(images(0 until 6), images(6 until 10)).zipWithIndex.foreach {
      case (b, i) => MediaTieredStream.foldBatch(b, tRoot, i.toLong,
        majorEvery = 2) // batch 1 is a major: the served view spans an L1
    }
    // probe ids in a disjoint namespace; content duplicates standing
    // images (hamming 0 hits, plus any planted-dup spillover) + one
    // distinct image (no hit within budget)
    val probes = Seq(
      (1000L, blockImg(0L)), (1003L, blockImg(3L)), (1007L, blockImg(777L)))
      .toDF("media_id", "media")
    val in = stageOne(probes,
      Files.createTempDirectory("tsm_in").toString + "/q")
    val out = Files.createTempDirectory("tsm_out").toString
    val sq = new MediaTieredStream.Roll(spark, tRoot).serve(
      spark.readStream.schema(probes.schema).parquet(in), out,
      Files.createTempDirectory("tsm_ck").toString,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()) { (b, view) =>
      graft.operators.Multimodal.nearDupProbeFromHashes(view.hashes,
        graft.operators.Multimodal.imageHashes(b), maxHamming = 6)
    }
    assert(sq.awaitTermination(180000L), "serve must drain")
    val served = readAnswers(out)

    val direct = graft.operators.Multimodal.nearDupProbeFromHashes(
        graft.operators.Multimodal.imageHashes(images(0 until 10)),
        graft.operators.Multimodal.imageHashes(probes), maxHamming = 6)
      .collect().map(_.toSeq).toSet
    assert(served === direct, "tiered-served ≠ direct flat probe")
    // 1000 hits 0 (and 3, its planted dup within budget both ways);
    // 1007's content seed 777 matches nothing
    assert(served.exists(r => r.head == 1000L && r(1) == 0L))
    assert(!served.exists(_.head == 1007L))

    val pin = new MediaTieredStream.Roll(spark, tRoot).pin
    try {
      val (id0, _) = pin.get()
      MediaTieredStream.foldBatch(images(50 until 55), tRoot, 5L,
        majorEvery = 8)
      val (id1, t1) = pin.get()
      assert(id1 === TierIds.dataEpoch(5L) && id1 != id0, "minor commit must bump the pin")
      assert(t1.hashes.filter(col("media_id") >= 50L).count() === 5L,
        "the swapped pin must serve the minor's delta")
    } finally pin.close()
  }

  test("dedup admission: tiered-pinned admission equals admission against " +
       "the flat rebuild of the same standing corpus") {
    // the SignatureTieredStreamSpec fixture: 40 unique tokens per doc,
    // ids ≡ 2 (mod 5) near-dup i−2 at 3-shingle Jaccard ≈ 0.95
    def text(i: Long): String = {
      val base = if (i % 5 == 2 && i >= 2) i - 2 else i
      val toks = (0 until 40).map(t => s"w${base}_$t").toArray
      if (i % 5 == 2) toks(39) = s"alt$i"
      toks.mkString(" ")
    }
    def docsOf(ids: Range): DataFrame =
      ids.map(i => (i.toLong, text(i.toLong))).toDF("doc_id", "text")
    val K = 64; val BANDS = 16; val SW = 3
    val tRoot = Files.createTempDirectory("tsd_t").toString
    // 3 fold batches, majorEvery=3 → the view spans an L1 (major @2)
    (0 until 3).foreach(i => SignatureTieredStream.foldBatch(
      docsOf(i * 20 until (i + 1) * 20), "doc_id", "text", tRoot, i.toLong,
      majorEvery = 3, K, BANDS, SW))
    // arrival batch: 62 dups standing 60, 67 dups 65 (same batch — the
    // pair rule rejects the larger id), 61/63/64… are fresh
    val arrivals = docsOf(60 until 70)
    val in = stageOne(arrivals,
      Files.createTempDirectory("tsd_in").toString + "/d")
    val out = Files.createTempDirectory("tsd_out").toString
    val sq = NearDupAdmission.startTiered(
      spark.readStream.schema(arrivals.schema).parquet(in), tRoot,
      "doc_id", "text", out,
      Files.createTempDirectory("tsd_ck").toString,
      threshold = 0.8, k = K, bands = BANDS, shingleWidth = SW)
    assert(sq.awaitTermination(180000L), "admission must drain")
    val acceptedTiered = NearDupAdmission.acceptLog(spark, out)
      .select("doc_id").collect().map(_.getLong(0)).toSet

    val flatIdx = graft.operators.Dedup.signatureBuild(docsOf(0 until 60),
      "doc_id", "text", K, BANDS, SW)
    val keptFlat = NearDupAdmission.admit(arrivals, flatIdx, "doc_id",
      "text", threshold = 0.8)
    try {
      val acceptedFlat = keptFlat.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(acceptedTiered === acceptedFlat, "tiered admission ≠ flat")
      assert(!acceptedTiered.contains(62L), "62 near-dups standing 60")
      assert(!acceptedTiered.contains(67L), "67 near-dups batch sibling 65")
      assert(acceptedTiered.contains(65L) && acceptedTiered.contains(61L))
    } finally { keptFlat.unpersist(); flatIdx.release() }
  }
}
