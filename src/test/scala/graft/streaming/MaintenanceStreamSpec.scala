package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.ImageCodec

/** Scheduled IN-STREAM maintenance ([[MaintenancePolicy]]) — one row per
  * tiered family: the wrapper runs the family's compactMajor (and, where
  * the family has one, the drift-gated retrain) inside its own
  * foreachBatch after a data major, committing at a [[TierIds]]
  * maintenance slot; and a FULL STREAM REPLAY (fresh checkpoint, same
  * landing files, same root) is a no-op — every fold Skips on its
  * committed marker, the in-memory major count never advances, so no
  * maintenance re-fires and the standing view is bit-unchanged. A retrain
  * request on a family without a model is rejected before the stream
  * starts. */
class MaintenanceStreamSpec extends SparkSpec {

  import sqlImplicits._

  private def ep(i: Long): Long = TierIds.dataEpoch(i)

  private def stage(batches: Seq[DataFrame], dir: String): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(f"$dir/chunk$i%02d") }

  /** Run `startStream` over the staged landing dir with a FRESH
    * checkpoint and drain it. */
  private def run(startStream: String => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ck = Files.createTempDirectory("mss_ck").toString
    val q = startStream(ck)
    assert(q.awaitTermination(180000L), "stream must drain")
  }

  test("graph: in-stream compaction after the data major drops tombstoned " +
       "edges at a maintenance id; full replay is a no-op") {
    val root = Files.createTempDirectory("msg_idx").toString
    val landing = Files.createTempDirectory("msg_in").toString
    val all = (0 until 18).map(i => (i % 6 + 1L, (i * 7) % 12 + 100L))
    stage(all.grouped(6).map(_.toDF("src", "dst")).toSeq, landing)
    val dead = all.distinct.filter(e => (e._1 + e._2) % 4 == 1)
    assert(dead.nonEmpty)
    val survivors = all.toSet -- dead
    val policy = MaintenancePolicy(
      tombstones = Some(() => dead.toDF("src", "dst")))

    def go(ck: String) = GraphTieredStream.start(
      spark.readStream.schema("src LONG, dst LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      root, ck, majorEvery = 3, maintenance = Some(policy))
    run(go)
    // minors @0 @1, major @2, then the scheduled compaction at ep(2)+1
    val graphRoll = new GraphTieredStream.Roll(spark, root,
      graft.operators.Adjacency.DefaultHubLimit)
    assert(graphRoll.currentEpochId === Some(ep(2) + 1),
      "compaction must commit at the maintenance slot after the major")
    def edges(): Set[(Long, Long)] = {
      val v = GraphTieredStream.loadCurrent(spark, root).getOrElse(fail())
      try v.mergedEdges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally v.release()
    }
    assert(edges() === survivors, "in-stream compaction must drop the dead")

    run(go) // full replay: every fold Skips, maintenance must not re-fire
    assert(graphRoll.currentEpochId === Some(ep(2) + 1))
    assert(edges() === survivors)
  }

  test("media: in-stream compaction after the data major drops tombstoned " +
       "hashes; full replay is a no-op") {
    val root = Files.createTempDirectory("msm_idx").toString
    val landing = Files.createTempDirectory("msm_in").toString
    def png(i: Long): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 16).foreach(y => (0 until 16).foreach(x =>
        im.setRGB(x, y, ((i * 37 + x * 16 + y) % 256).toInt << 8)))
      ImageCodec.encodePng(im)
    }
    val ids = 0L until 18L
    stage(ids.grouped(6).map(g => g.map(i => (i, png(i))).toSeq
      .toDF("media_id", "media")).toSeq, landing)
    val deadIds = ids.filter(_ % 5 == 2).toSet
    val policy = MaintenancePolicy(
      tombstones = Some(() => deadIds.toSeq.toDF("media_id")),
      tombId = "media_id")

    def go(ck: String) = MediaTieredStream.start(
      spark.readStream.schema("media_id LONG, media BINARY")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      root, ck, majorEvery = 3, maintenance = Some(policy))
    run(go)
    assert(new MediaTieredStream.Roll(spark, root).currentEpochId === Some(ep(2) + 1))
    def stored(): Set[Long] = {
      val v = MediaTieredStream.loadCurrent(spark, root).getOrElse(fail())
      v.hashes.select("media_id").collect().map(_.getLong(0)).toSet
    }
    assert(stored() === (ids.toSet -- deadIds))

    run(go)
    assert(new MediaTieredStream.Roll(spark, root).currentEpochId === Some(ep(2) + 1))
    assert(stored() === (ids.toSet -- deadIds))
  }

  test("signature: in-stream compaction after the data major drops " +
       "tombstoned docs; full replay is a no-op") {
    val root = Files.createTempDirectory("mss_idx").toString
    val landing = Files.createTempDirectory("mss_in").toString
    val K = 32; val BANDS = 8; val SW = 3
    def doc(i: Long): (Long, String) =
      (i, (0 until 8).map(t => s"w${i}_$t").mkString(" "))
    val ids = 0L until 18L
    stage(ids.grouped(6).map(g => g.map(doc).toSeq.toDF("doc_id", "text"))
      .toSeq, landing)
    val deadIds = ids.filter(_ % 5 == 3).toSet
    val policy = MaintenancePolicy(
      tombstones = Some(() => deadIds.toSeq.toDF("id")))

    def go(ck: String) = SignatureTieredStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "doc_id", "text", root, ck, majorEvery = 3, k = K, bands = BANDS,
      shingleWidth = SW, maintenance = Some(policy))
    run(go)
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).currentEpochId
      === Some(ep(2) + 1))
    def stored(): Set[Long] = {
      val v = SignatureTieredStream.loadCurrent(spark, root, K, BANDS, SW)
        .getOrElse(fail())
      try v.sigs.select("id").collect().map(_.getLong(0)).toSet
      finally v.release()
    }
    assert(stored() === (ids.toSet -- deadIds))

    run(go)
    assert(new SignatureTieredStream.Roll(spark, root, K, BANDS, SW).currentEpochId
      === Some(ep(2) + 1))
    assert(stored() === (ids.toSet -- deadIds))
  }

  test("graph, media, signature: a policy asking a model-free family to " +
       "retrain is rejected before its stream starts") {
    val policy = Some(MaintenancePolicy(
      retrainCorpus = Some(() => Seq(1L).toDF("id"))))
    val empty = Files.createTempDirectory("msr_in").toString
    def in(schema: String) = spark.readStream.schema(schema).parquet(empty)
    val starts = Seq[(String, String) => Any](
      GraphTieredStream.start(in("src LONG, dst LONG"), _, _,
        maintenance = policy),
      MediaTieredStream.start(in("media_id LONG, media BINARY"), _, _,
        maintenance = policy),
      SignatureTieredStream.start(in("doc_id LONG, text STRING"), "doc_id",
        "text", _, _, maintenance = policy))
    starts.foreach { start =>
      val root = Files.createTempDirectory("msr_idx").toString
      val e = intercept[IllegalArgumentException](start(root,
        Files.createTempDirectory("msr_ck").toString))
      assert(e.getMessage.contains("carry no model to retrain"))
      assert(new java.io.File(root).list().isEmpty, "nothing may be written")
    }
    assert(spark.streams.active.isEmpty, "no stream may start")
  }

  private def fvecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
      Array((i % 7).toFloat + 1f, (i % 3).toFloat + 0.5f))).toDF("vec_id", "emb")

  test("vector: in-stream compaction THEN forced drift retrain commit at " +
       "consecutive maintenance slots; full replay is a no-op") {
    val root = Files.createTempDirectory("msv_idx").toString
    val landing = Files.createTempDirectory("msv_in").toString
    val (cells, train, iters) = (4, 50, 2)
    // bootstrap @0, minors @1 @2, major @3 → maintenance after @3
    stage(Seq(fvecs(1 to 60), fvecs(101 to 120), fvecs(201 to 220),
      fvecs(301 to 320)), landing)
    val allIds = ((1 to 60) ++ (101 to 120) ++ (201 to 220) ++ (301 to 320))
      .map(_.toLong)
    val deadIds = allIds.filter(_ % 10 == 1).toSet
    val survivors = allIds.toSet -- deadIds
    val policy = MaintenancePolicy(
      tombstones = Some(() => deadIds.toSeq.toDF("id")),
      // retrain over the survivor corpus; maxDrifted = -1 forces the gate
      // (any drifted count > -1) — the definitional-drift convention
      retrainCorpus = Some(() => allIds.filter(i => !deadIds(i)).map(i =>
        (i, Array((i % 7).toFloat + 1f, (i % 3).toFloat + 0.5f)))
        .toDF("vec_id", "emb")),
      maxDrifted = -1)

    def go(ck: String) = VectorTieredStream.start(
      spark.readStream.schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "vec_id", "emb", root, ck, cells, train, iters, majorEvery = 3,
      maintenance = Some(policy))
    run(go)
    // compaction at ep(3)+1, retrain right after at ep(3)+2
    assert(new VectorTieredStream.Roll(spark, root, cells, train,
      iters).currentEpochId === Some(ep(3) + 2),
      "compact + retrain must commit at consecutive maintenance slots")
    def stored(): Set[Long] = {
      val v = VectorTieredStream.loadCurrent(spark, root, cells, train,
        iters).getOrElse(fail())
      try v.index.assigned.select(col("nid").cast("long"))
        .collect().map(_.getLong(0)).toSet
      finally v.release()
    }
    assert(stored() === survivors,
      "the retrained generation must carry exactly the survivor corpus")

    run(go)
    assert(new VectorTieredStream.Roll(spark, root, cells, train,
      iters).currentEpochId === Some(ep(3) + 2))
    assert(stored() === survivors)
  }

  test("pq: in-stream compaction after the data major drops tombstoned " +
       "codes; full replay is a no-op") {
    val root = Files.createTempDirectory("msp_idx").toString
    val landing = Files.createTempDirectory("msp_in").toString
    val (dim, m, k, iters, train) = (8, 2, 4, 2, 50)
    def pvecs(ids: Range): DataFrame = ids.map { i =>
      val v = Array.fill(dim)(0.01f * ((i * 7) % 5))
      v(i % 4) = 1.0f; v(4 + i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")
    stage(Seq(pvecs(1 to 60), pvecs(101 to 120), pvecs(201 to 220),
      pvecs(301 to 320)), landing)
    val allIds = ((1 to 60) ++ (101 to 120) ++ (201 to 220) ++ (301 to 320))
      .map(_.toLong)
    val deadIds = allIds.filter(_ % 10 == 1).toSet
    val policy = MaintenancePolicy(
      tombstones = Some(() => deadIds.toSeq.toDF("id")))

    def go(ck: String) = PqTieredStream.start(
      spark.readStream.schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "vec_id", "emb", root, ck, dim, m, k, iters, train, majorEvery = 3,
      maintenance = Some(policy))
    run(go)
    assert(new PqTieredStream.Roll(spark, root, dim, m, k, iters,
      train).currentEpochId === Some(ep(3) + 1))
    def stored(): Set[Long] = {
      val v = PqTieredStream.loadCurrent(spark, root, dim, m, k, iters,
        train).getOrElse(fail())
      try v.index.encoded.collect().map(_.getLong(0)).toSet
      finally v.release()
    }
    assert(stored() === (allIds.toSet -- deadIds))

    run(go)
    assert(new PqTieredStream.Roll(spark, root, dim, m, k, iters,
      train).currentEpochId === Some(ep(3) + 1))
    assert(stored() === (allIds.toSet -- deadIds))
  }

  test("ivfadc: in-stream compaction after the data major drops tombstoned " +
       "codes; full replay is a no-op") {
    val root = Files.createTempDirectory("msi_idx").toString
    val landing = Files.createTempDirectory("msi_in").toString
    val (dim, cells, m, k, iters, train) = (8, 3, 2, 4, 2, 50)
    def ivecs(ids: Range): DataFrame = ids.map { i =>
      val v = Array.fill(dim)(0.01f * ((i * 7) % 5))
      v(i % 4) = 1.0f; v(4 + i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "emb")
    stage(Seq(ivecs(1 to 60), ivecs(101 to 120), ivecs(201 to 220),
      ivecs(301 to 320)), landing)
    val allIds = ((1 to 60) ++ (101 to 120) ++ (201 to 220) ++ (301 to 320))
      .map(_.toLong)
    val deadIds = allIds.filter(_ % 10 == 1).toSet
    val policy = MaintenancePolicy(
      tombstones = Some(() => deadIds.toSeq.toDF("id")))

    def go(ck: String) = IvfPqTieredStream.start(
      spark.readStream.schema("vec_id LONG, emb ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(s"$landing/chunk*"),
      "vec_id", "emb", root, ck, dim, cells, m, k, iters, iters, train,
      majorEvery = 3, maintenance = Some(policy))
    run(go)
    assert(new IvfPqTieredStream.Roll(spark, root, dim, cells, m, k,
      iters, iters, train).currentEpochId === Some(ep(3) + 1))
    def stored(): Set[Long] = {
      val v = IvfPqTieredStream.loadCurrent(spark, root, dim, cells, m, k,
        iters, iters, train).getOrElse(fail())
      try v.index.coded.select(col("nid").cast("long"))
        .collect().map(_.getLong(0)).toSet
      finally v.release()
    }
    assert(stored() === (allIds.toSet -- deadIds))

    run(go)
    assert(new IvfPqTieredStream.Roll(spark, root, dim, cells, m, k,
      iters, iters, train).currentEpochId === Some(ep(3) + 1))
    assert(stored() === (allIds.toSet -- deadIds))
  }
}
