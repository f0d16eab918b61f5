package graft.operators

import graft.SparkSpec
import graft.io.Tables
import graft.queries.{TextQueries, VectorQueries}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The durable index store (r8 verdict task 3): each session-cached index
  * (MinHash signature, IVF, PQ, cluster labels) round-trips through its
  * parquet form, a FRESH SparkSession serves probes from disk with ZERO
  * rebuild jobs, numeric state is bit-exact, and the corpus-version stamp
  * refuses a stale index. */
class IndexStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs(s: SparkSession) = Tables.load(s, dir, "documents")
  private def emb(s: SparkSession) = Tables.load(s, dir, "embeddings")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Count Spark jobs started while `body` runs (events post within ms of
    * job submission; a rebuild would run dozens of jobs synchronously
    * before returning, so a short post-wait suffices). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    val out = try { val r = body; Thread.sleep(500); r }
    finally spark.sparkContext.removeSparkListener(l)
    (out, jobs.get())
  }

  test("signature index: fresh-session disk load probes d06-identically with zero rebuild jobs") {
    val src = s"$dir/documents.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val built = Dedup.signatureBuild(docs(spark).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", k = 128, bands = 32, shingleWidth = 3)
    val store = tmp("sigstore")
    try {
      val batch = docs(spark).filter(col("doc_id") % 2 === 1)
      val mb = Dedup.incrementalExactPairsIndexedManaged(
        batch, built, "doc_id", "text", threshold = 0.8)
      val expected = try sortedRows(mb.pairs) finally mb.release()

      IndexStore.save(spark, IndexStore.signature, built, store, version)

      val s2 = spark.newSession() // fresh session state, empty caches
      val (loadedOpt, loadJobs) = jobsDuring {
        IndexStore.load(s2, IndexStore.signature, store, Some(version))
      }
      assert(loadJobs == 0, s"index LOAD ran $loadJobs Spark jobs — rebuild leak")
      val loaded = loadedOpt.getOrElse(fail("stored index did not load"))
      assert((loaded.k, loaded.bands, loaded.shingleWidth) == (128, 32, 3))
      // the loaded frames read the STORE, not the corpus
      assert(loaded.sigs.inputFiles.forall(_.contains(store)))
      assert(loaded.buckets.inputFiles.forall(_.contains(store)))

      val batch2 = Tables.load(s2, dir, "documents").filter(col("doc_id") % 2 === 1)
      val ml = Dedup.incrementalExactPairsIndexedManaged(
        batch2, loaded, "doc_id", "text", threshold = 0.8)
      val got = try sortedRows(ml.pairs) finally ml.release()
      assert(got == expected, "disk-served probe diverged from built-index probe")
      loaded.release()

      // stale stamp → refused, not served
      assert(IndexStore.load(s2, IndexStore.signature, store, Some("0:deadbeef")).isEmpty)
      // torn write (no meta marker) → invisible
      val torn = tmp("torn")
      built.sigs.write.parquet(s"$torn/sigs")
      assert(IndexStore.load(s2, IndexStore.signature, torn).isEmpty)
    } finally built.release()
  }

  test("ivf index: centroids round-trip bit-exactly; fresh-session probe parity (v04 shape)") {
    val src = s"$dir/embeddings.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val built = Similarity.ivfBuild(emb(spark), "vec_id", "embedding", nCells = 16)
    val store = tmp("ivfstore")
    try {
      val q = emb(spark).filter(col("vec_id") < 8)
      val expected = sortedRows(Similarity.ivfProbe(built, q, "vec_id", "embedding", k = 5))
      IndexStore.save(spark, IndexStore.ivf, built, store, version)

      val s2 = spark.newSession()
      val loaded = IndexStore.load(s2, IndexStore.ivf, store, Some(version))
        .getOrElse(fail("stored ivf index did not load"))
      // model state is bit-exact, not approximately equal
      assert(loaded.centroids.length == built.centroids.length)
      built.centroids.zip(loaded.centroids).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a, b))
      }
      assert(loaded.assigned.inputFiles.forall(_.contains(store)))
      val q2 = Tables.load(s2, dir, "embeddings").filter(col("vec_id") < 8)
      val got = sortedRows(Similarity.ivfProbe(loaded, q2, "vec_id", "embedding", k = 5))
      assert(got == expected)
      loaded.release()
    } finally built.release()
  }

  test("pq index: codebooks round-trip bit-exactly; probe parity (v08 shape)") {
    val src = s"$dir/embeddings.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val built = Similarity.pqBuild(emb(spark), "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iters = 4)
    val store = tmp("pqstore")
    try {
      val q = emb(spark).filter(col("vec_id") < 4)
      val expected = sortedRows(Similarity.pqTopK(built, q, "vec_id", "embedding", k = 5))
      IndexStore.save(spark, IndexStore.pq, built, store, version)

      val s2 = spark.newSession()
      val loaded = IndexStore.load(s2, IndexStore.pq, store, Some(version))
        .getOrElse(fail("stored pq index did not load"))
      assert((loaded.m, loaded.k, loaded.subDim) == (built.m, built.k, built.subDim))
      for (ms <- 0 until built.m; c <- 0 until built.k)
        assert(java.util.Arrays.equals(built.codebooks(ms)(c), loaded.codebooks(ms)(c)))
      val q2 = Tables.load(s2, dir, "embeddings").filter(col("vec_id") < 4)
      val got = sortedRows(Similarity.pqTopK(loaded, q2, "vec_id", "embedding", k = 5))
      assert(got == expected)
      loaded.release()
    } finally built.release()
  }

  test("ivfpq index: both models round-trip bit-exactly; probe parity (v29 shape)") {
    val src = s"$dir/embeddings.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val built = Similarity.ivfPqBuild(emb(spark), "vec_id", "embedding",
      dim = 64, nCells = 8, m = 4, k = 8, coarseIters = 4, pqIters = 4)
    val store = tmp("ivfpqstore")
    try {
      val q = emb(spark).filter(col("vec_id") < 4)
      val expected = sortedRows(
        Similarity.ivfPqProbe(built, q, "vec_id", "embedding", k = 5, nProbe = 2))
      IndexStore.save(spark, IndexStore.ivfPq, built, store, version)

      val s2 = spark.newSession()
      val loaded = IndexStore.load(s2, IndexStore.ivfPq, store, Some(version))
        .getOrElse(fail("stored ivfpq index did not load"))
      assert((loaded.nCells, loaded.m, loaded.k, loaded.subDim) ==
        (built.nCells, built.m, built.k, built.subDim))
      for (c <- built.centroids.indices)
        assert(java.util.Arrays.equals(built.centroids(c), loaded.centroids(c)))
      for (ms <- 0 until built.m; c <- 0 until built.k)
        assert(java.util.Arrays.equals(built.codebooks(ms)(c), loaded.codebooks(ms)(c)))
      val q2 = Tables.load(s2, dir, "embeddings").filter(col("vec_id") < 4)
      val got = sortedRows(
        Similarity.ivfPqProbe(loaded, q2, "vec_id", "embedding", k = 5, nProbe = 2))
      assert(got == expected)
      loaded.release()
    } finally built.release()
  }

  test("cluster labels round-trip; version stamp tracks corpus content") {
    val src = s"$dir/documents.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val mp = Dedup.minhashExactPairsManaged(docs(spark), "doc_id", "text",
      k = 128, bands = 32, shingleWidth = 3, threshold = 0.8)
    val labels = try Components.connectedComponents(mp.pairs.select("id_a", "id_b"))
      .localCheckpoint()
    finally mp.release()
    val store = tmp("ccstore")
    val expected = sortedRows(labels)
    IndexStore.save(spark, IndexStore.cluster, labels, store, version)
    val s2 = spark.newSession()
    val loaded = IndexStore.load(s2, IndexStore.cluster, store, Some(version))
      .getOrElse(fail("stored labels did not load"))
    assert(sortedRows(loaded) == expected)
    loaded.unpersist()

    // the stamp is derived from file facts — a different source path with
    // different content yields a different stamp
    val other = IndexStore.corpusVersion(spark, s"$dir/embeddings.parquet")
    assert(other != version)
    // and re-stamping the unchanged corpus is stable
    assert(IndexStore.corpusVersion(spark, src) == version)
  }

  test("conf-wired caches: a second session serves the signature index from disk (d06 parity)") {
    val root = tmp("idxroot")
    val d06 = TextQueries.queries("d06_incremental_dedup")
    IndexStats.reset()
    val s1 = spark.newSession()
    s1.conf.set(IndexStore.IndexDirConf, root)
    val first = sortedRows(d06(s1, dir)) // builds AND saves
    val afterBuild = IndexStats.snapshot()
    assert(afterBuild.getOrElse("signature.disk.save", 0L) == 1L,
      s"expected one disk save, got: $afterBuild")

    val s2 = spark.newSession() // cold cache — must hit the disk form
    s2.conf.set(IndexStore.IndexDirConf, root)
    val second = sortedRows(d06(s2, dir))
    val afterLoad = IndexStats.snapshot()
    assert(afterLoad.getOrElse("signature.disk.hit", 0L) >= 1L,
      s"second session did not load from disk: $afterLoad")
    assert(afterLoad.getOrElse("signature.disk.save", 0L) == 1L,
      "second session re-built and re-saved — disk load was bypassed")
    assert(second == first)
    TextQueries.releaseSignatureIndexes(s1)
    TextQueries.releaseSignatureIndexes(s2)
  }

  test("conf-wired caches: a second session loads d13's standing-99 signature store") {
    val root = tmp("idx99")
    val meta = new java.io.File(IndexStore.storePath(root, "signature99",
      s"$dir/documents.parquet"), "_graft_index.json")
    IndexStats.reset()
    val s1 = spark.newSession()
    s1.conf.set(IndexStore.IndexDirConf, root)
    TextQueries.prepareSignatureIndex(s1, dir) // builds AND saves both slices
    val saves = IndexStats.snapshot().getOrElse("signature.disk.save", 0L)
    assert(meta.exists(), s"no standing-99 store at $meta")
    val written = meta.lastModified()
    Thread.sleep(1100) // a rewrite must show in the mtime

    val s2 = spark.newSession()
    s2.conf.set(IndexStore.IndexDirConf, root)
    TextQueries.prepareSignatureIndex(s2, dir)
    val after = IndexStats.snapshot()
    assert(after.getOrElse("signature.disk.hit", 0L) >= 1L, after)
    assert(after.getOrElse("signature.disk.save", 0L) == saves,
      s"second session re-saved a signature store: $after")
    assert(meta.lastModified() == written, "the standing-99 store was rewritten")
    TextQueries.releaseSignatureIndexes(s1)
    TextQueries.releaseSignatureIndexes(s2)
  }

  test("build-parameter mismatch is refused like a stale stamp (r9 review)") {
    val root = tmp("idxparams")
    val src = s"$dir/documents.parquet"
    val version = IndexStore.corpusVersion(spark, src)
    val built = Dedup.signatureBuild(docs(spark).filter(col("doc_id") % 2 === 0),
      "doc_id", "text", k = 128, bands = 32, shingleWidth = 3)
    try {
      IndexStore.save(spark, IndexStore.signature, built, root, version)
      // matching params (or none) serve the store
      assert(IndexStore.load(spark, IndexStore.signature, root, Some(version),
        Map("k" -> "128", "bands" -> "32")).isDefined)
      // a caller who now builds with different bands must NOT be served
      // the stale-parameter index — same refusal path as a corpus bump
      assert(IndexStore.load(spark, IndexStore.signature, root, Some(version),
        Map("k" -> "128", "bands" -> "16")).isEmpty)
      // cluster labels record the CALLER's params at save time
      val labels = docs(spark).select(col("doc_id").as("id"),
        (col("doc_id") % 5).as("cluster"))
      val lroot = tmp("idxlabels")
      IndexStore.save(spark, IndexStore.cluster, labels, lroot, version,
        Map("pair_threshold" -> "0.8"))
      assert(IndexStore.load(spark, IndexStore.cluster, lroot, Some(version),
        Map("pair_threshold" -> "0.8")).isDefined)
      assert(IndexStore.load(spark, IndexStore.cluster, lroot, Some(version),
        Map("pair_threshold" -> "0.9")).isEmpty)
    } finally built.release()
  }

  test("graph index: fresh-session disk load expands bit-identically with zero rebuild jobs") {
    import sqlImplicits._
    // a planted hub (src 1 → 600 dsts) at hubLimit=512 exercises the flat
    // layout through the round trip; 2..40 stay on the array layout
    val edges = ((1L to 600L).map(d => (1L, d + 1000L)) ++
      (2L to 40L).flatMap(s => Seq((s, s + 1), (s, s + 2)))).toDF("src", "dst")
    val built = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(edges, dedup = true, hubLimit = 512))
    assert(built.hubCount == 1, "fixture must route src 1 to the flat layout")
    val store = tmp("graphstore")
    val version = IndexStore.corpusVersion(spark, dir) // any stable stamp source
    try {
      val per = (1L to 40L).map(s => (s, s * 10L)).toDF("src", "pay")
      val expected = sortedRows(built.expand(per))

      IndexStore.save(spark, IndexStore.graph, built, store, version,
        Map("dedup" -> "true", "hub_limit" -> "512"))

      val s2 = spark.newSession()
      val (loadedOpt, loadJobs) = jobsDuring {
        IndexStore.load(s2, IndexStore.graph, store, Some(version),
          Map("dedup" -> "true", "hub_limit" -> "512"))
      }
      assert(loadJobs == 0, s"graph index LOAD ran $loadJobs Spark jobs — rebuild leak")
      val loaded = loadedOpt.getOrElse(fail("stored graph index did not load"))
      // measured counts ride the meta — operators size rounds identically
      assert((loaded.hubCount, loaded.srcCount, loaded.edgeCount) ==
        (built.hubCount, built.srcCount, built.edgeCount))
      assert(loaded.arrayAdj.inputFiles.forall(_.contains(store)))
      assert(loaded.flat.inputFiles.forall(_.contains(store)))
      import s2.implicits._
      val per2 = (1L to 40L).map(s => (s, s * 10L)).toDF("src", "pay")
      assert(sortedRows(loaded.expand(per2)) === expected,
        "disk-served expand diverged from built-adjacency expand")
      loaded.release()

      // stale stamp / parameter mismatch → refused, not served
      assert(IndexStore.load(s2, IndexStore.graph, store, Some("0:deadbeef")).isEmpty)
      assert(IndexStore.load(s2, IndexStore.graph, store, Some(version),
        Map("hub_limit" -> "1024")).isEmpty)

      // hub-free graph: one parquet dir, empty flat/hubDeg reconstructed
      // from recorded schemas — still zero load jobs
      val flatFree = Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Adjacency.build(edges.filter(col("src") =!= 1L), dedup = true))
      val store2 = tmp("graphstore0")
      try {
        IndexStore.save(spark, IndexStore.graph, flatFree, store2, version)
        val (l2Opt, jobs2) = jobsDuring {
          IndexStore.load(s2, IndexStore.graph, store2, Some(version))
        }
        assert(jobs2 == 0)
        val l2 = l2Opt.getOrElse(fail("hub-free graph index did not load"))
        assert(l2.hubCount == 0 && l2.flat.isEmpty)
        assert(sortedRows(l2.expand(per2)) === sortedRows(flatFree.expand(per)))
        l2.release()
      } finally flatFree.release()
    } finally built.release()
  }

  test("postings index: zero-job disk load serves BM25-identical stats/frames; " +
       "epoch roll load→fold→save reload == full rebuild") {
    import sqlImplicits._
    val c0 = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e")).toDF("doc_id", "text")
    val d1 = Seq((4L, "e f"), (2L, "b REPLACED")).toDF("doc_id", "text")
    val built = Postings.build(c0)
    val store = tmp("poststore")
    val version = IndexStore.corpusVersion(spark, dir)
    try {
      IndexStore.save(spark, IndexStore.postings, built, store, version)
      val s2 = spark.newSession()
      val (loadedOpt, loadJobs) = jobsDuring {
        IndexStore.load(s2, IndexStore.postings, store, Some(version))
      }
      assert(loadJobs == 0, s"postings LOAD ran $loadJobs Spark jobs")
      val loaded = loadedOpt.getOrElse(fail("stored postings did not load"))
      assert((loaded.nDocs, loaded.sumDl) === (built.nDocs, built.sumDl))
      assert(sortedRows(loaded.tf) === sortedRows(built.tf))
      assert(loaded.tf.inputFiles.forall(_.contains(store)))
      // stale stamp / parameter mismatch → refused
      assert(IndexStore.load(s2, IndexStore.postings, store, Some("0:deadbeef")).isEmpty)
      assert(IndexStore.load(s2, IndexStore.postings, store, Some(version),
        Map("tokenizer" -> "bpe")).isEmpty)

      // epoch roll: fold the delta on the LOADED index (delta recreated in
      // the loading session), save v2, reload
      val d1s2 = s2.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(d1.collect(): _*)), d1.schema)
      val folded = Postings.foldDocs(loaded, d1s2)
      loaded.release()
      // fresh directory for the folded epoch (the tiered rolls' epoch=<id>
      // convention): folded's frames are persisted-but-not-checkpointed,
      // so their lineage still reads `store` — an in-place overwrite
      // would recompute from the path being clobbered on cache eviction
      val store2 = tmp("poststore_epoch2")
      IndexStore.save(s2, IndexStore.postings, folded, store2, "epoch2")
      folded.release()
      val (v2Opt, jobs2) = jobsDuring {
        IndexStore.load(s2, IndexStore.postings, store2, Some("epoch2"))
      }
      assert(jobs2 == 0)
      val v2 = v2Opt.getOrElse(fail("v2 did not load"))
      val rebuilt = Postings.build(Seq((1L, "a b c"), (2L, "b REPLACED"),
        (3L, "c d e"), (4L, "e f")).toDF("doc_id", "text"))
      try {
        assert((v2.nDocs, v2.sumDl) === (rebuilt.nDocs, rebuilt.sumDl))
        assert(sortedRows(v2.tf) === sortedRows(rebuilt.tf))
        assert(sortedRows(v2.dl) === sortedRows(rebuilt.dl))
      } finally { v2.release(); rebuilt.release() }
    } finally built.release()
  }

  test("graph index epoch roll: load v1 from disk, fold a delta, save v2 — v2 reload == full rebuild") {
    import sqlImplicits._
    val e0 = (1L to 40L).flatMap(s => Seq((s, s + 1), (s, s + 2))).toDF("src", "dst")
    val d1 = Seq((3L, 99L), (3L, 100L), (50L, 1L)).toDF("src", "dst")
    val v1 = Checkpoints.sweepingOnFailure(spark.sparkContext)(
      Adjacency.build(e0, dedup = true))
    val store = tmp("graphepoch")
    try {
      IndexStore.save(spark, IndexStore.graph, v1, store, "epoch1")
      val s2 = spark.newSession()
      val loaded = IndexStore.load(s2, IndexStore.graph, store, Some("epoch1"))
        .getOrElse(fail("v1 did not load"))
      val folded = Checkpoints.sweepingOnFailure(s2.sparkContext)(
        Adjacency.foldEdges(loaded, d1, dedup = true))
      loaded.release()
      IndexStore.save(s2, IndexStore.graph, folded, store, "epoch2")
      folded.release()

      val (v2Opt, jobs) = jobsDuring {
        IndexStore.load(s2, IndexStore.graph, store, Some("epoch2"))
      }
      assert(jobs == 0, s"epoch-2 load ran $jobs jobs")
      val v2 = v2Opt.getOrElse(fail("v2 did not load"))
      val rebuilt = Checkpoints.sweepingOnFailure(spark.sparkContext)(
        Adjacency.build(e0.unionByName(d1), dedup = true))
      try {
        def es(h: Adjacency.Hybrid) = h.edges.select("src", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        assert(es(v2) === es(rebuilt))
        assert((v2.srcCount, v2.hubCount) === (rebuilt.srcCount, rebuilt.hubCount))
      } finally { v2.release(); rebuilt.release() }
    } finally v1.release()
  }

  test("conf-wired graph cache: a second session serves the co-purchase adjacency from disk (q65 parity)") {
    val root = tmp("graphroot")
    val q65 = graft.queries.CoreQueries.queries("q65_copurchase_pagerank")
    IndexStats.reset()
    val s1 = spark.newSession()
    s1.conf.set(IndexStore.IndexDirConf, root)
    val first = sortedRows(q65(s1, dir)) // builds AND saves
    val afterBuild = IndexStats.snapshot()
    assert(afterBuild.getOrElse("graph.disk.save", 0L) == 1L,
      s"expected one graph disk save, got: $afterBuild")

    val s2 = spark.newSession() // cold cache — must hit the disk form
    s2.conf.set(IndexStore.IndexDirConf, root)
    val second = sortedRows(q65(s2, dir))
    val afterLoad = IndexStats.snapshot()
    assert(afterLoad.getOrElse("graph.disk.hit", 0L) >= 1L,
      s"second session did not load the graph index from disk: $afterLoad")
    assert(afterLoad.getOrElse("graph.disk.save", 0L) == 1L,
      "second session re-built and re-saved — disk load was bypassed")
    assert(second == first, "disk-served ranks diverged from built-index ranks")
    graft.queries.CoreQueries.releaseGraphIndexes(s1)
    graft.queries.CoreQueries.releaseGraphIndexes(s2)
  }

  test("stored-index layout: every kind's meta keys and top-level subdirectories") {
    import scala.jdk.CollectionConverters._
    import sqlImplicits._
    import graft.streaming._
    // a key recorded twice fails the read
    val json = new com.fasterxml.jackson.databind.ObjectMapper().enable(
      com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    def epoch(root: String, tier: String): String =
      new java.io.File(s"$root/$tier").listFiles().map(_.getPath)
        .filter(_.contains("epoch=")).toSeq match {
        case Seq(d) => d
        case ds => fail(s"not one committed $tier epoch under $root: $ds")
      }
    val Seq(ivf, pq, ivfpq, lex, sig, graph, hubs, media, clusterRoot) =
      Seq("ivf", "pq", "ivfpq", "lex", "sig", "graph", "hubs", "media", "cluster")
        .map(n => tmp(s"layout_$n"))
    val vecs = (1 to 40).map(i => (i.toLong,
      Array.tabulate(8)(d => if (d == i % 8) 1.0f else 0.01f * ((i * d) % 5))))
      .toDF("vec_id", "emb")
    VectorTieredStream.foldBatch(vecs, "vec_id", "emb", ivf, 0L, nCells = 4,
      trainSample = 50, iters = 2)
    PqTieredStream.foldBatch(vecs, "vec_id", "emb", pq, 0L, dim = 8, m = 2,
      k = 4, iters = 2, trainSample = 50)
    IvfPqTieredStream.foldBatch(vecs, "vec_id", "emb", ivfpq, 0L, dim = 8,
      nCells = 3, m = 2, k = 4, coarseIters = 2, pqIters = 2, trainSample = 50)
    LexTieredStream.foldBatch(Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text"),
      lex, 0L)
    (0L to 1L).foreach { b => // batch 1 commits the L1 of the families below
      val ids = (b * 10 + 1 to b * 10 + 5).toSeq
      SignatureTieredStream.foldBatch(ids.map(i => (i, (0 until 20)
        .map(t => s"w${i}_$t").mkString(" "))).toDF("doc_id", "text"), "doc_id",
        "text", sig, b, majorEvery = 2, k = 64, bands = 16, shingleWidth = 3)
      val edges = ids.map(d => (b + 1, 100L + d)).toDF("src", "dst")
      GraphTieredStream.foldBatch(edges, graph, b, majorEvery = 2)
      // 5 edges per src pass hubLimit = 2
      GraphTieredStream.foldBatch(edges, hubs, b, majorEvery = 2, hubLimit = 2L)
      MediaTieredStream.foldHashes(ids.map(i => (i, i * 31L)).toDF("media_id",
        "phash"), media, b, majorEvery = 2)
    }
    val s1 = spark.newSession()
    s1.conf.set(IndexStore.IndexDirConf, clusterRoot)
    TextQueries.prepareClusterIndex(s1, dir)
    TextQueries.releaseClusterLabels(s1)

    val graphKeys = "weighted hub_count src_count edge_count bcast_limit " +
      "array_adj_schema flat_schema hub_deg_schema dedup hub_limit"
    Seq(
      (epoch(ivf, "l1"), "ivf", "n_cells assigned_schema roll_n_cells " +
        "roll_train_sample roll_iters", "assigned centroids"),
      (epoch(pq, "l1"), "pq", "m k sub_dim encoded_schema roll_dim roll_m " +
        "roll_k roll_iters roll_train_sample", "encoded codebooks"),
      (epoch(ivfpq, "l1"), "ivfpq", "n_cells m k sub_dim coded_schema roll_dim " +
        "roll_n_cells roll_m roll_k roll_coarse_iters roll_pq_iters " +
        "roll_train_sample", "coded centroids codebooks"),
      (epoch(lex, "l1"), "postings", "n_docs sum_dl tf_schema dl_schema tokenizer",
        "tf dl"),
      (epoch(sig, "l1"), "signature", "k bands shingle_width sigs_schema " +
        "buckets_schema", "sigs buckets"),
      (epoch(graph, "l1"), "graph", graphKeys, "array_adj"),
      (epoch(hubs, "l1"), "graph", graphKeys, "array_adj flat hub_deg"),
      (epoch(graph, "l0"), "stage", "schema dedup hub_limit tier", "data"),
      (epoch(media, "l1"), "stage", "schema index_kind tier", "data"),
      (IndexStore.storePath(clusterRoot, "cluster", s"$dir/documents.parquet"),
        "cluster", "labels_schema pair_k pair_bands pair_shingle_width " +
        "pair_threshold", "labels")
    ).foreach { case (store, kind, keys, dirs) =>
      val meta = json.readTree(new java.io.File(store, "_graft_index.json"))
      assert(meta.fieldNames.asScala.toSet ===
        ("kind corpus_version " + keys).split(" ").toSet, store)
      assert(meta.get("kind").asText === kind, store)
      assert(new java.io.File(store).listFiles().filter(_.isDirectory)
        .map(_.getName).toSet === dirs.split(" ").toSet, store)
    }
  }

  test("a meta that does not parse reads as torn: load gives None") {
    import sqlImplicits._
    val store = tmp("garbagemeta")
    IndexStore.save(spark, IndexStore.stage, Seq(1L).toDF("id"), store, "v1")
    val meta = java.nio.file.Paths.get(store, "_graft_index.json")
    val text = new String(java.nio.file.Files.readAllBytes(meta), "UTF-8")
    // every recorded pair intact, the object left unclosed
    java.nio.file.Files.write(meta, (text.dropRight(1) + ",garbage").getBytes("UTF-8"))
    java.nio.file.Files.delete(meta.resolveSibling("._graft_index.json.crc"))
    assert(IndexStore.load(spark, IndexStore.stage, store, Some("v1")).isEmpty)
  }

  test("listing stamps: corpusVersion and framesVersion keep their committed format") {
    // `<file count>:<md5 hex of each "path:len:mtime\n" line, sorted by path>`;
    // a changed byte would make every committed store and checkpoint stale
    def stamp(files: Seq[(String, Long, Long)]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.sortBy(_._1).foreach { case (p, len, mt) =>
        md.update(s"$p:$len:$mt\n".getBytes("UTF-8")) }
      files.size + ":" + md.digest().map("%02x".format(_)).mkString
    }
    val root = tmp("stamps")
    val files = Seq(("b.txt", "bravo\n", 1700000002000L),
      ("a.txt", "alpha-alpha\n", 1700000001000L),
      ("sub/c.txt", "c\n", 1700000003000L))
    for ((name, body, mtime) <- files ++ Seq(("_SUCCESS", "", 1L), (".hidden", "x", 1L))) {
      val f = new java.io.File(root, name)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
      assert(f.setLastModified(mtime))
    }
    val listed = files.map { case (name, body, mtime) =>
      (s"/$name", body.getBytes("UTF-8").length.toLong, mtime) }
    assert(IndexStore.corpusVersion(spark, root) === stamp(listed))
    assert(stamp(listed) === "3:" + {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update("/a.txt:12:1700000001000\n/b.txt:6:1700000002000\n/sub/c.txt:2:1700000003000\n"
        .getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    })

    val a = spark.read.text(s"$root/a.txt")
    val bc = spark.read.text(s"$root/b.txt", s"$root/sub/c.txt")
    val inputs = (a.inputFiles ++ bc.inputFiles).toSeq
    val byName = files.map { case (name, body, mtime) =>
      name.split('/').last -> (body.getBytes("UTF-8").length.toLong, mtime) }.toMap
    val expected = stamp(inputs.map { p =>
      val (len, mtime) = byName(p.split('/').last)
      (p, len, mtime)
    })
    assert(IndexStore.framesVersion(spark, Seq(bc, a)) === Some(expected))
    assert(IndexStore.framesVersion(spark, Seq(a, spark.range(1).toDF())) === None)
  }

  test("registered SQL functions reject wrong arity with a readable error") {
    val e = intercept[Exception] {
      spark.range(1).selectExpr("float_dot(array(1.0F))").collect()
    }
    def rootMsg(t: Throwable): String = {
      var c = t; while (c.getCause != null) c = c.getCause; c.getMessage
    }
    assert(rootMsg(e).contains("float_dot requires exactly 2 arguments"),
      s"got: ${rootMsg(e)}")
  }
}
