package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.Tables

class SimilaritySpec extends SparkSpec {
  import sqlImplicits._

  private val sf = "/root/testdata/sf0.001"

  test("cosineTopK: hand-checkable geometry") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)), // nearly parallel to q
      (2L, Array(0f, 1f, 0f, 0f)),     // orthogonal
      (3L, Array(-1f, 0f, 0f, 0f))     // opposite
    ).toDF("vec_id", "embedding")
    val res = Similarity.cosineTopK(
        vecs.filter($"vec_id" === 0L), "vec_id", "embedding",
        vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(res.map(_.getLong(2)).toSeq === Seq(1L, 2L, 3L))
    assert(res.head.getDouble(3) > 0.99)
    assert(res.last.getDouble(3) === -1.0)
  }

  test("mipsTopK: magnitude participates in the ranking, unlike cosine") {
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.9f, 0.1f, 0f, 0f)),  // most cosine-similar to q
      (2L, Array(3f, -1f, 0f, 0f)),     // larger dot despite worse angle
      (3L, Array(-1f, 0f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val mips = Similarity.mipsTopK(q, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 3).orderBy("rank").collect()
    assert(mips.map(_.getLong(2)).toSeq === Seq(2L, 1L, 3L),
      "MIPS must rank the long vector first")
    assert(mips.head.getDouble(3) === 3.0)
    val cos = Similarity.cosineTopK(q, "vec_id", "embedding",
      vecs, "vec_id", "embedding", k = 3).orderBy("rank").collect()
    assert(cos.head.getLong(2) === 1L, "cosine must rank the parallel vector first")
  }

  test("v10 equals an in-JVM brute-force inner-product ranking") {
    val rows = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val expected = rows.filter(_._1 < 8).flatMap { case (qid, qv) =>
      rows.filter(_._1 != qid)
        .map { case (nid, nv) =>
          // same accumulation order/width as float_dot: double acc over floats
          var acc = 0.0; var i = 0
          while (i < qv.length) { acc += qv(i).toDouble * nv(i).toDouble; i += 1 }
          (qid, nid, acc)
        }
        .sortBy { case (_, nid, ip) => (-ip, nid) }
        .take(5).zipWithIndex
        .map { case ((q, n, ip), i) => (q, i + 1, n, math.rint(ip * 1e4) / 1e4) }
    }.toSet
    val got = graft.queries.VectorQueries.queries("v10_mips")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("v11 rerank ≡ in-JVM exact cosine over the ADC top-20 candidates") {
    import graft.queries.VectorQueries
    val sf = "/root/testdata/sf0.001"
    val rows = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
        acc
      }
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val byId = rows.toMap
    // candidates from the already-specced PQ stage (fresh unpersisted build
    // — this test must not depend on VectorQueries' session index cache)
    val adcTop20 = Similarity.pqTopK(
        Similarity.pqBuild(Tables.load(spark, sf, "embeddings"),
          "vec_id", "embedding", dim = 64, m = 4, k = 8, iters = 4,
          persist = false),
        Tables.load(spark, sf, "embeddings").filter($"vec_id" < 8),
        "vec_id", "embedding", k = 20)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = adcTop20.groupBy(_._1).toSeq.flatMap { case (qid, ps) =>
      ps.map { case (_, nid) => (qid, nid, cos(byId(qid), byId(nid))) }
        .sortBy { case (_, nid, sim) => (-sim, nid) }
        .take(5).zipWithIndex
        .map { case ((q, n, sim), i) =>
          (q, i + 1, n, math.rint(sim * 1e4) / 1e4) }
    }.toSet
    val got = VectorQueries.queries("v11_pq_rerank")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("LSH ANN achieves useful recall vs brute force on real embeddings") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 20)
    val exact = Similarity.cosineTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshCosineTopK(q, "vec_id", "embedding", e, "vec_id", "embedding",
        k = 5, nPlanes = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // single-probe LSH with 4 planes keeps ~1/16 of the corpus per bucket;
    // on near-orthogonal random vectors recall is modest but must be real
    assert(recall > 0.2, s"recall=$recall")
    // every approx neighbor's bucket matched, so sims must agree with exact
    assert(approx.subsetOf(
      Similarity.cosineTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", 500)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet))
  }

  test("hyperplanes are deterministic across calls") {
    assert(Similarity.hyperplanes(4, 8) === Similarity.hyperplanes(4, 8))
  }

  test("IVF ANN: recall beats data-oblivious LSH at comparable probe cost") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 20)
    val exact = Similarity.cosineTopK(q, "vec_id", "embedding", e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(q, "vec_id", "embedding", e, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // probing 4/16 cells = 25% of the corpus on average; recall must be
    // well above that fraction (centroids adapt to the data)
    assert(recall > 0.4, s"recall=$recall")
  }

  test("ivfProbe is pure plan construction: zero jobs, no re-training") {
    val e = Tables.load(spark, sf, "embeddings")
    val idx = Similarity.ivfBuild(e, "vec_id", "embedding", nCells = 8)
    idx.assigned.count() // materialize the persisted assignment
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val probe = Similarity.ivfProbe(idx, e.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 3, nProbe = 2)
      Thread.sleep(500) // listener bus is async; let stragglers surface
      assert(jobs.get() === 0,
        "constructing a probe plan ran Spark jobs — training leaked into probe")
      assert(probe.count() > 0)
    } finally {
      spark.sparkContext.removeSparkListener(l)
      idx.release()
    }
  }

  test("ivfAppend: no retraining, appended vectors searchable, equal to fresh assignment") {
    val e = Tables.load(spark, sf, "embeddings")
    val base = e.filter($"vec_id" % 4 =!= 0)
    val batch = e.filter($"vec_id" % 4 === 0)
    val idx = Similarity.ivfBuild(base, "vec_id", "embedding", nCells = 8)
    val appended = Similarity.ivfAppend(idx, batch, "vec_id", "embedding")
    try {
      // the codebook is untouched — same array, not a retrained copy
      assert(appended.centroids eq idx.centroids)
      assert(appended.assigned.count() === e.count())
      // appended rows land in the same cells a fresh assignment under the
      // SAME centroids gives them: rebuild an index over the FULL corpus
      // but force idx's centroids by appending everything to an empty base
      val emptyBase = idx.copy(assigned = idx.assigned.limit(0), release = () => ())
      val fresh = Similarity.ivfAppend(emptyBase, e, "vec_id", "embedding",
        persist = false)
      val got = appended.assigned.select("nid", "cell")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = fresh.assigned.select("nid", "cell")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === want, "appended assignment must equal a fresh one")
      // probe parity: the appended index and the fresh full assignment
      // rank identically (ivfProbe recomputes query cells from centroids,
      // so equal assignments ⇒ equal candidates ⇒ equal ranking)
      val q = e.filter($"vec_id" < 5)
      def top(i: Similarity.IvfIndex) =
        Similarity.ivfProbe(i, q, "vec_id", "embedding", k = 3, nProbe = 2)
          .collect().map(_.toSeq).toSet
      assert(top(appended) === top(fresh))
    } finally appended.release() // owns the base: releases both layers
  }

  test("pqAppend: no retraining, append ≡ full rebuild when the training " +
       "sample is unchanged, appended codes searchable") {
    val e = Tables.load(spark, sf, "embeddings")
    // RANGE split with trainSample below the split point: base and full
    // rebuild order-limit the SAME first-100-ids sample, so their
    // codebooks are bitwise identical and append ≡ rebuild EXACTLY — the
    // no-drift contract pqAppend's scaladoc states
    val base = e.filter($"vec_id" < 400)
    val batch = e.filter($"vec_id" >= 400)
    val idx = Similarity.pqBuild(base, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iters = 2, trainSample = 100)
    val appended = Similarity.pqAppend(idx, batch, "vec_id", "embedding")
    val rebuilt = Similarity.pqBuild(e, "vec_id", "embedding",
      dim = 64, m = 4, k = 8, iters = 2, trainSample = 100)
    try {
      // the codebooks are untouched — same arrays, not retrained copies
      assert(appended.codebooks eq idx.codebooks)
      assert(appended.encoded.count() === e.count())
      assert(idx.codebooks.flatten.flatten.toSeq ===
        rebuilt.codebooks.flatten.flatten.toSeq,
        "unchanged training sample ⇒ bitwise-identical codebooks")
      def codes(px: Similarity.PqIndex) = px.encoded
        .collect().map(r => r.getLong(0) ->
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
      assert(codes(appended) === codes(rebuilt),
        "append must equal the full rebuild's assignment")
      // probe parity: equal codes + equal codebooks ⇒ identical ADC ranking
      val q = e.filter($"vec_id" < 5)
      def top(i: Similarity.PqIndex) =
        Similarity.pqTopK(i, q, "vec_id", "embedding", k = 3)
          .collect().map(_.toSeq).toSet
      assert(top(appended) === top(rebuilt))
    } finally { appended.release(); rebuilt.release() }
  }

  test("pqDriftAudit: all-clear on an in-distribution batch, fires on a " +
       "planted single-mode batch") {
    // spread corpus: 16 vectors on distinct axes in 8 dims, m=2
    val corpus = (0 until 16).map { i =>
      val v = Array.fill(8)(0.01f * ((i * 7) % 5))
      v(i % 4) = 1.0f; v(4 + i % 4) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = Similarity.pqBuild(corpus, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 4, trainSample = 16)
    try {
      // batch == corpus: every (subspace, code) share matches exactly →
      // the cross-multiplication LHS is 0 on every row
      val clear = Similarity.pqDriftAudit(idx, corpus, "vec_id", "embedding")
      assert(clear.filter($"drifted").count() === 0L)
      // planted drift: a batch of 12 copies of one corner — all its mass
      // lands in one code per subspace
      val planted = (100 until 112).map { i =>
        val v = Array.fill(8)(0.0f); v(0) = 1.0f; v(4) = 1.0f
        (i.toLong, v)
      }.toDF("vec_id", "embedding")
      val fired = Similarity.pqDriftAudit(idx, planted, "vec_id", "embedding")
      assert(fired.filter($"drifted").count() >= 2L,
        "single-mode batch must flip its target code in each subspace")
    } finally idx.release()
  }

  test("IVF is deterministic: same seed → same result set") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 5)
    def run() = Similarity.ivfTopK(q, "vec_id", "embedding", e, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 2).collect().map(_.toSeq).toSet
    assert(run() === run())
  }

  test("PQ: deterministic build, in-range codes, ADC ranks clusters correctly") {
    // three tight clusters on separate axes in 8 dims; m=2 subspaces of 4
    val vecs = (0 until 12).map { i =>
      val v = Array.fill(8)(0.001f * ((i * 13) % 7))
      v(i % 3) = 1.0f
      v(4 + i % 3) = 1.0f // second subspace separates the clusters too
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = Similarity.pqBuild(vecs, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 4, trainSample = 12)
    val idx2 = Similarity.pqBuild(vecs, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 4, trainSample = 12)
    try {
      // deterministic: identical codebooks and identical corpus codes
      assert(idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        idx2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      val codes = idx.encoded.orderBy("nid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(codes === idx2.encoded.orderBy("nid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))))
      codes.foreach { case (_, c0, c1) =>
        assert(c0 >= 0 && c0 < 4 && c1 >= 0 && c1 < 4, s"code out of range ($c0,$c1)")
      }
      // ADC ranking: each query's top-3 are exactly its same-cluster peers
      val top = Similarity.pqTopK(idx, vecs.filter($"vec_id" < 3),
          "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      top.foreach { case (q, n) =>
        assert(q % 3 == n % 3, s"ADC ranked cross-cluster $n above $q's peers")
      }
      assert(top.length === 9)
    } finally { idx.release(); idx2.release() }
  }

  test("pqTopK is pure plan construction: zero jobs at probe time") {
    val e = Tables.load(spark, sf, "embeddings")
    val idx = Similarity.pqBuild(e, "vec_id", "embedding", dim = 64)
    idx.encoded.count() // materialize the persisted encoding
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val probe = Similarity.pqTopK(idx, e.filter($"vec_id" < 5),
        "vec_id", "embedding", k = 3)
      Thread.sleep(500)
      assert(jobs.get() === 0,
        "constructing a PQ probe plan ran Spark jobs — training leaked into probe")
      assert(probe.count() > 0)
    } finally {
      spark.sparkContext.removeSparkListener(l)
      idx.release()
    }
  }

  test("signWord packs sign bits; hammingRerankTopK recall vs brute force") {
    import org.apache.spark.sql.functions._
    // hand-checkable packing: dims 0,2 non-negative → bits 0,2 → word 5
    val one = Seq((1L, Seq(1.0f, -2.0f, 0.0f, -0.5f))).toDF("id", "v")
    val w = one.select(Similarity.signWord(col("v"), 4).as("w"))
      .head().getLong(0)
    assert(w === 5L)

    // two-stage search on real embeddings: the Hamming pre-rank at
    // preK=32 must recover most of the exact cosine top-5 (Charikar:
    // E[hamming]/dim tracks angle), and at preK=corpus the result must
    // EQUAL brute force exactly (the sketch stage only prunes).
    val sf = "/root/testdata/sf0.001"
    val e = graft.io.Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(q, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 5))
    val twoStage = pairs(Similarity.hammingRerankTopK(q, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 5, dim = 64, preK = 32))
    val recall = exact.intersect(twoStage).size.toDouble / exact.size
    assert(recall >= 0.6, f"hamming preK=32 recall $recall%.2f too low")
    val full = pairs(Similarity.hammingRerankTopK(q, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 5, dim = 64, preK = 1000000))
    assert(full === exact, "preK=corpus must reduce to exact brute force")
  }

  test("ivfProbeExcluding: tombstoned ids never surface, k live results remain") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val e = graft.io.Tables.load(spark, sf, "embeddings")
    val idx = Similarity.ivfBuild(e, "vec_id", "embedding", nCells = 8)
    try {
      val q = e.filter(col("vec_id") < 4)
      val dead = e.filter(col("vec_id") % 7 === 0)
      val got = Similarity.ivfProbeExcluding(idx, dead, "vec_id",
        q, "vec_id", "embedding", k = 5)
      val rows = got.collect()
      assert(rows.forall(_.getAs[Long]("nid") % 7 != 0),
        "a tombstoned id surfaced in the results")
      // exclusion happens BEFORE ranking: every query still gets k rows
      assert(rows.groupBy(_.getAs[Long]("qid")).forall(_._2.length == 5))
      // and equals probing the SAME index with the corpus pre-filtered —
      // the operator's exact contract (a fresh REBUILD would retrain
      // centroids on the reduced corpus and legitimately differ)
      val filtered = idx.copy(assigned =
        idx.assigned.filter(col("nid") % 7 =!= 0))
      val want = Similarity.ivfProbe(filtered, q, "vec_id", "embedding", k = 5)
        .collect().map(_.toSeq).toSet
      assert(rows.map(_.toSeq).toSet === want)
    } finally idx.release()
  }

  test("v09 recall audit equals the v01∩v04 intersection it claims to count") {
    val sf = "/root/testdata/sf0.001"
    import graft.queries.VectorQueries
    def pairs(q: String) = VectorQueries.queries(q)(spark, sf)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("v01_cosine_topk")
    val ivf = pairs("v04_ivf_ann")
    val audit = VectorQueries.queries("v09_recall_audit")(spark, sf)
      .select("qid", "k", "n_hits", "recall").collect()
    assert(audit.length === 8)
    audit.foreach { r =>
      val qid = r.getLong(0)
      val expectHits = exact.filter(_._1 == qid)
        .intersect(ivf.filter(_._1 == qid)).size.toLong
      assert(r.getLong(1) === 5L)
      assert(r.getLong(2) === expectHits, s"n_hits wrong for qid $qid")
      assert(r.getDouble(3) === math.rint(expectHits / 5.0 * 1e4) / 1e4)
    }
  }

  test("ivfProbeFiltered: label-matched only, equals exact when cells aren't decimated") {
    import org.apache.spark.sql.functions._
    val e = graft.io.Tables.load(spark, sf, "embeddings")
    val idx = Similarity.ivfBuild(e, "vec_id", "embedding", nCells = 8)
    try {
      val q = e.filter(col("vec_id") < 8)
      val got = Similarity.ivfProbeFiltered(idx, e, "vec_id",
        q, "vec_id", "embedding", Seq("label"), k = 5, nProbe = 8)
      val labelOf = e.select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      val rows = got.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(labelOf(r.getAs[Long]("nid")) == labelOf(r.getAs[Long]("qid")),
          "a cross-label neighbor surfaced through the filtered probe")
      }
      // probing ALL cells = no decimation possible → must equal the exact
      // filtered baseline (the same every-candidate-scored set)
      val want = Similarity.filteredCosineTopK(q, "vec_id", "embedding",
          e, "vec_id", "embedding", Seq("label"), k = 5)
        .collect().map(_.toSeq).toSet
      assert(rows.map(_.toSeq).toSet === want)
    } finally idx.release()
  }

  test("filtered recall audit catches a filter-decimated cell (the hole v09 can't see)") {
    import org.apache.spark.sql.functions._
    import sqlImplicits._
    // two well-separated clusters; the query's label 'x' lives almost
    // entirely in the FAR cluster (one same-label decoy sits near the
    // query). nProbe=1 probes only the near cell → the filtered probe
    // finds just the decoy while the exact filtered baseline ranks the
    // far-cluster label-mates: recall@k must drop below 1.
    def vec(a: Float, b: Float) = Array(a, b, 0f, 0f)
    val rows = Seq(
      (0L, vec(1f, 0f), "x"),      // query, near cluster
      (1L, vec(0.99f, 0.05f), "x"),// same-label decoy, near cluster
      (2L, vec(0.98f, -0.05f), "y"), (3L, vec(0.97f, 0.02f), "y"),
      (4L, vec(1.02f, 0.01f), "y"), // near cluster, wrong label
      (5L, vec(-1f, 0.02f), "x"), (6L, vec(-0.99f, -0.03f), "x"),
      (7L, vec(-1.01f, 0.04f), "x"), (8L, vec(-0.98f, 0.01f), "x"),
      (9L, vec(-1f, -0.02f), "x")   // far cluster, query's label
    ).toDF("vec_id", "embedding", "label")
    val idx = Similarity.ivfBuild(rows, "vec_id", "embedding",
      nCells = 2, trainSample = 10, iters = 4)
    try {
      val q = rows.filter(col("vec_id") === 0L)
      val approx = Similarity.ivfProbeFiltered(idx, rows, "vec_id",
          q, "vec_id", "embedding", Seq("label"), k = 5, nProbe = 1)
        .select("nid").collect().map(_.getLong(0)).toSet
      val exact = Similarity.filteredCosineTopK(q, "vec_id", "embedding",
          rows, "vec_id", "embedding", Seq("label"), k = 5)
        .select("nid").collect().map(_.getLong(0)).toSet
      assert(exact.size == 5)
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall < 1.0,
        s"decimated-cell scenario did not lose recall (approx=$approx exact=$exact)")
      // raising nProbe to cover both cells restores full recall — the
      // remediation the audit exists to trigger
      val healed = Similarity.ivfProbeFiltered(idx, rows, "vec_id",
          q, "vec_id", "embedding", Seq("label"), k = 5, nProbe = 2)
        .select("nid").collect().map(_.getLong(0)).toSet
      assert(healed == exact)
    } finally idx.release()
  }

  test("driftAudit: batch mass landing in an index-empty cell is reported " +
       "and drifted (full-join contract)") {
    // hand-built index: two centroids, but the standing assignment only
    // populates cell 0 — the review-found left-join bug dropped exactly
    // the batch rows assigned to cell 1
    val assigned = Seq((10L, Seq(1f, 0f), 0))
      .toDF("nid", "nv", "cell")
      .select(col("nid"), col("nv").cast("array<float>").as("nv"), col("cell"))
    val idx = Similarity.IvfIndex(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), 2, assigned, () => ())
    val batch = Seq((100L, Seq(0f, 1f)), (101L, Seq(0.1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.driftAudit(idx, batch, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(5)))).toMap
    assert(out.keySet === Set(0L, 1L))
    assert(out(1L) === ((0L, 2L, true)),
      "the index-empty cell must surface its batch mass and read drifted")
    assert(out(0L) === ((1L, 0L, true)),
      "the index-only cell lost its whole share of the new data")
    // population conservation across the full join
    assert(out.values.map(_._2).sum === 2L)
  }

  test("IVFADC: deterministic build, residual codes in range, probe prunes " +
       "to probed cells, release frees the coded cache") {
    // three tight clusters on separate axes in 8 dims (the PQ test's
    // fixture): the coarse quantizer separates them, the residual
    // codebooks refine within them
    val vecs = (0 until 12).map { i =>
      val v = Array.fill(8)(0.001f * ((i * 13) % 7))
      v(i % 3) = 1.0f
      v(4 + i % 3) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def build() = Similarity.ivfPqBuild(vecs, "vec_id", "embedding", dim = 8,
      nCells = 3, m = 2, k = 4, coarseIters = 4, pqIters = 4,
      trainSample = 12)
    val idx = build()
    val idx2 = build()
    val created = spark.sparkContext.getPersistentRDDs.keySet -- before
    try {
      // deterministic end-to-end: same coarse model, same residual
      // codebooks, same coded corpus
      assert(idx.centroids.map(_.toSeq).toSeq ===
        idx2.centroids.map(_.toSeq).toSeq)
      assert(idx.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        idx2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      val coded = idx.coded.orderBy("nid").collect().map(_.toSeq)
      assert(coded === idx2.coded.orderBy("nid").collect().map(_.toSeq))
      assert(coded.length === 12)
      coded.foreach { r =>
        val cell = r(r.length - 1).asInstanceOf[Int]
        assert(cell >= 0 && cell < idx.nCells, s"cell out of range: $cell")
        Seq(1, 2).foreach { c =>
          val code = r(c).asInstanceOf[Int]
          assert(code >= 0 && code < idx.k, s"code out of range: $code")
        }
      }
      // nProbe=1 probe: every candidate lives in its query's own coarse
      // cell (the IVF pruning contract), and with clusters ≡ cells the
      // ADC top-k are exactly the query's cluster peers
      val cellOf = idx.coded.select("nid", "cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val res = Similarity.ivfPqProbe(idx, vecs.filter($"vec_id" < 3),
        "vec_id", "embedding", k = 3, nProbe = 1).collect()
      assert(res.length === 9) // 3 queries × 3 same-cell peers
      res.foreach { r =>
        assert(cellOf(r.getLong(2)) === cellOf(r.getLong(0)),
          s"candidate ${r.getLong(2)} outside query ${r.getLong(0)}'s cell")
        assert(r.getLong(0) % 3 === r.getLong(2) % 3,
          s"cross-cluster ${r.getLong(2)} ranked for ${r.getLong(0)}")
      }
    } finally { idx.release(); idx2.release() }
    val survivors = spark.sparkContext.getPersistentRDDs.keySet & created
    assert(survivors.isEmpty,
      s"release() must unpersist the coded corpus; alive: $survivors")
  }

  test("ivfPqAppend: no retraining, append ≡ encode-under-the-same-models, " +
       "appended vectors probeable, release frees the appended codes") {
    val vecs = (0 until 16).map { i =>
      val v = Array.fill(8)(0.001f * ((i * 13) % 7))
      v(i % 3) = 1.0f
      v(4 + i % 3) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val base = Similarity.ivfPqBuild(vecs.filter($"vec_id" < 12),
      "vec_id", "embedding", dim = 8,
      nCells = 3, m = 2, k = 4, coarseIters = 4, pqIters = 4, trainSample = 12)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val appended = Similarity.ivfPqAppend(base,
      vecs.filter($"vec_id" >= 12), "vec_id", "embedding")
    val created = spark.sparkContext.getPersistentRDDs.keySet -- before
    try {
      // models untouched: append trains nothing
      assert(appended.centroids.map(_.toSeq).toSeq ===
        base.centroids.map(_.toSeq).toSeq)
      assert(appended.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        base.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      // the fold identity: appended slice's coded rows equal a fresh
      // assign+encode of the same slice under the standing models
      val got = appended.coded.filter($"nid" >= 12)
        .orderBy("nid").collect().map(_.toSeq)
      val fresh = Similarity.ivfPqEncode(base,
          vecs.filter($"vec_id" >= 12), "vec_id", "embedding")
        .orderBy("nid").collect().map(_.toSeq)
      assert(got === fresh)
      assert(appended.coded.count() === 16)
      // appended ids are immediately probeable: an appended query's own
      // cluster peers (which include appended ids) surface
      val res = Similarity.ivfPqProbe(appended,
        vecs.filter($"vec_id" === 12), "vec_id", "embedding",
        k = 5, nProbe = 1).collect()
      assert(res.nonEmpty)
      res.foreach(r => assert(r.getLong(0) === 12L))
    } finally appended.release() // owns the base chain too
    val survivors = spark.sparkContext.getPersistentRDDs.keySet & created
    assert(survivors.isEmpty,
      s"release() must unpersist the appended codes; alive: $survivors")
  }

  test("pqTopKExcluding / ivfPqProbeExcluding: tombstoned ids never " +
       "surface, k live results remain") {
    val vecs = (0 until 16).map { i =>
      val v = Array.fill(8)(0.001f * ((i * 13) % 7))
      v(i % 3) = 1.0f
      v(4 + i % 3) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val dead = Seq(3L, 6L, 9L).toDF("id")
    val q = vecs.filter($"vec_id" === 0L)

    val pq = Similarity.pqBuild(vecs, "vec_id", "embedding", dim = 8,
      m = 2, k = 4, iters = 4, trainSample = 16)
    try {
      val res = Similarity.pqTopKExcluding(pq, dead, "id", q,
        "vec_id", "embedding", k = 5).collect()
      assert(res.length === 5, "k live results must remain")
      assert(res.forall(r => !Set(3L, 6L, 9L).contains(r.getLong(2))),
        "a tombstoned id surfaced")
    } finally pq.release()

    val ipq = Similarity.ivfPqBuild(vecs, "vec_id", "embedding", dim = 8,
      nCells = 3, m = 2, k = 4, coarseIters = 4, pqIters = 4,
      trainSample = 16)
    try {
      // query 0's own cluster (ids ≡ 0 mod 3) includes tombstones 3,6,9:
      // the anti-join must happen BEFORE ranking, so live same-cell peers
      // fill the k
      val res = Similarity.ivfPqProbeExcluding(ipq, dead, "id", q,
        "vec_id", "embedding", k = 3, nProbe = 1).collect()
      assert(res.nonEmpty)
      assert(res.forall(r => !Set(3L, 6L, 9L).contains(r.getLong(2))),
        "a tombstoned id surfaced through the coarse-pruned rank")
    } finally ipq.release()
  }

  test("ivfCompact / pqCompact / ivfPqCompact: physical compaction ≡ " +
       "query-time exclusion; threshold and no-dead no-ops return None") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 4)
    val dead = e.filter(col("vec_id") % 7 === 3).select("vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    // IVF: compacted plain probe ≡ excluding probe on the original
    val ivf = Similarity.ivfBuild(e, "vec_id", "embedding", nCells = 8)
    try {
      val want = rows(Similarity.ivfProbeExcluding(ivf, dead, "vec_id",
        q, "vec_id", "embedding", k = 5))
      val c = Similarity.ivfCompact(ivf.copy(release = () => ()),
        dead, "vec_id", threshold = 0.1)
        .getOrElse(fail("~14% dead must compact at threshold 0.1"))
      try {
        assert(rows(Similarity.ivfProbe(c, q, "vec_id", "embedding",
          k = 5)) === want)
        // the dead rows are physically GONE, not masked
        assert(c.assigned.filter(col("nid") % 7 === 3).count() === 0)
        // a second compaction against the same set finds nothing stored
        assert(Similarity.ivfCompact(c.copy(release = () => ()),
          dead, "vec_id").isEmpty, "no dead rows stored → None")
      } finally c.release()
      // below threshold: nothing committed, caller keeps excluding
      assert(Similarity.ivfCompact(ivf.copy(release = () => ()),
        dead, "vec_id", threshold = 0.5).isEmpty,
        "~14% dead must NOT compact at threshold 0.5")
    } finally ivf.release()

    // PQ + IVFADC: same identity through the coded families
    val pq = Similarity.pqBuild(e, "vec_id", "embedding", dim = 64,
      m = 4, k = 8)
    try {
      val want = rows(Similarity.pqTopKExcluding(pq, dead, "vec_id",
        q, "vec_id", "embedding", k = 5))
      val c = Similarity.pqCompact(pq.copy(release = () => ()),
        dead, "vec_id").getOrElse(fail("dead rows stored → must compact"))
      try assert(rows(Similarity.pqTopK(c, q, "vec_id", "embedding",
        k = 5)) === want)
      finally c.release()
    } finally pq.release()

    val ipq = Similarity.ivfPqBuild(e, "vec_id", "embedding", dim = 64,
      nCells = 8, m = 4, k = 8)
    try {
      val want = rows(Similarity.ivfPqProbeExcluding(ipq, dead, "vec_id",
        q, "vec_id", "embedding", k = 5, nProbe = 4))
      val c = Similarity.ivfPqCompact(ipq.copy(release = () => ()),
        dead, "vec_id").getOrElse(fail("dead rows stored → must compact"))
      try assert(rows(Similarity.ivfPqProbe(c, q, "vec_id", "embedding",
        k = 5, nProbe = 4)) === want)
      finally c.release()
    } finally ipq.release()
  }

  test("compact release(): the survivor persist is freed") {
    val e = Tables.load(spark, sf, "embeddings")
    val dead = e.filter(col("vec_id") % 7 === 3).select("vec_id")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ivf = Similarity.ivfBuild(e, "vec_id", "embedding", nCells = 8)
    val c = Similarity.ivfCompact(ivf.copy(release = () => ()),
      dead, "vec_id").get
    c.release(); ivf.release()
    val survivors = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(survivors.isEmpty,
      s"compact + base release must free every persist; alive: $survivors")
  }
}
