package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.TextFunctions._

class DedupSpec extends SparkSpec {
  import sqlImplicits._

  // Controlled corpus: base docs + near-duplicates (one token changed) +
  // unrelated docs. Deterministic, no randomness.
  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  private def variant(i: Int) = base.replace("door", s"window$i")
  private val unrelated = Seq(
    "completely different content about distributed query engines and shuffle partitioning strategies in modern systems",
    "yet another unrelated document discussing vector search recall precision tradeoffs at large scale deployments")

  /** Consume a managed result's pairs, then release its caches. */
  private def consumed[A](m: Dedup.ManagedPairs)(f: DataFrame => A): A =
    try f(m.pairs) finally m.release()

  private lazy val docs = Seq(
    (0L, base, "s"), (1L, variant(1), "s"), (2L, variant(2), "s"),
    (3L, unrelated(0), "s"), (4L, unrelated(1), "s"),
    (5L, base, "s") // exact duplicate of 0
  ).toDF("doc_id", "text", "source")

  test("exactByContent groups identical texts under one representative") {
    val d = Dedup.exactByContent(docs, col("doc_id"), col("text")).collect()
    assert(d.length === 5) // 6 docs, one exact dup pair
    val dupGroup = d.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) === 0L) // min(doc_id) representative
  }

  test("keepFirst retains exactly the pinned winner per key") {
    val df = Seq((1L, "b", 10), (1L, "a", 20), (2L, "c", 30))
      .toDF("k", "v", "x")
    val kept = Dedup.keepFirst(df, Seq(col("k")), Seq(col("v"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept === Map(1L -> "a", 2L -> "c"))
  }

  test("minhash LSH finds near-duplicates and not unrelated pairs") {
    val pairs = consumed(Dedup.minhashLshPairsManaged(docs, "doc_id", "text",
        k = 128, bands = 32, shingleWidth = 3, threshold = 0.5))(
      _.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // exact dup must be found with estimate 1.0
    assert(pairs.contains((0L, 5L)))
    // one-token variants of the same base: high overlap expected
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)))
    // unrelated docs never pair with the base family
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L || p._1 == 3L || p._1 == 4L))
  }

  test("minhash estimate approximates exact jaccard on shingle sets") {
    val exact = Dedup.jaccardPairs(docs.withColumn("blk", lit(1)),
        "doc_id", "text", "blk", 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = consumed(Dedup.minhashLshPairsManaged(docs, "doc_id", "text",
        k = 128, bands = 32, threshold = 0.0))(
      _.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    // identical docs: estimate exactly 1
    assert(est((0L, 5L)) === 1.0)
    // near-dup estimates land within 0.25 of the exact token-set jaccard
    // (different granularity: shingles vs tokens, plus sampling error)
    est.filterKeys(exact.contains).foreach { case (k, e) =>
      assert(math.abs(e - exact(k)) < 0.35, s"pair $k est=$e exact=${exact(k)}")
    }
  }

  test("simhash: identical docs distance 0, near-dups close, unrelated far") {
    val pairs = consumed(Dedup.simhashPairsManaged(docs, "doc_id", "text",
        maxHamming = 12, bands = 16))(
      _.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap)
    assert(pairs((0L, 5L)) === 0)
    assert(pairs.contains((0L, 1L))) // one-token change: small distance
    assert(!pairs.contains((3L, 4L))) // unrelated: far apart
  }

  test("minhash JVM kernel is bit-identical to the Catalyst expression form") {
    val k = 32
    val expected = docs
      .select(col("doc_id"),
        minhashSignature(wordShingles(tokens(col("text")), 3), k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val jvm = minhashSignatureJvm(r.getString(1), k, 3)
      assert(jvm.isDefined)
      assert(jvm.get.toSeq === expected(r.getLong(0)),
        s"kernel/expression signature mismatch for doc ${r.getLong(0)}")
    }
  }

  test("minhashExactPairs emits exactly the brute-force shingle-jaccard pairs") {
    // brute force: exact 3-shingle jaccard over all pairs
    val ss = docs.select(col("doc_id").as("id"),
      array_distinct(wordShingles(tokens(col("text")), 3)).as("s"))
    val a = ss.select(col("id").as("id_a"), col("s").as("s_a"))
    val b = ss.select(col("id").as("id_b"), col("s").as("s_b"))
    val exact = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
        size(array_union(col("s_a"), col("s_b"))))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = consumed(Dedup.minhashExactPairsManaged(docs, "doc_id", "text",
        threshold = 0.5))(
      _.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap)
    assert(lsh === exact) // same pairs AND the true jaccard, not an estimate
  }

  test("managed minhash releases its signature cache") {
    // id-set delta, not a global count: suites share one SparkContext and
    // run in parallel, so a sibling suite persisting/unpersisting its own
    // frames mid-test must not flip this assertion (it did, once the
    // persist-heavy tiered suites joined the pool)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = Dedup.minhashLshPairsManaged(docs, "doc_id", "text", threshold = 0.5)
    m.pairs.count() // consume
    val created = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(created.nonEmpty) // cache is live
    m.release()
    val survivors = spark.sparkContext.getPersistentRDDs.keySet & created
    assert(survivors.isEmpty,
      s"release() must unpersist the internal signature frame; alive: $survivors")
  }

  test("simhash banding is complete: equals brute-force hamming pairs on real docs") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists(),
      "driver-generated testdata not present on this machine")
    val real = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val sigs = real.collect()
      .flatMap(r => simhash64Jvm(r.getString(1)).map(sh => r.getLong(0) -> sh))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h)).toSet
    val banded = consumed(Dedup.simhashPairsManaged(real, "doc_id", "text",
        maxHamming = 3))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    assert(banded === brute,
      "pigeonhole banding must have complete recall at maxHamming <= bands-1")
  }

  test("bucket drops are observable: counter fires on an over-full bucket") {
    // 8 identical docs: every (band, bandHash) bucket holds all 8 members,
    // so maxBucket=5 drops every bucket and no pair can be emitted.
    val boiler = (0L until 8L).map(i => (i, base, "s")).toDF("doc_id", "text", "source")
    val m = Dedup.minhashLshPairsManaged(boiler, "doc_id", "text",
      threshold = 0.5, maxBucket = 5)
    assert(m.drops().isZero, "no action yet => nothing dropped yet")
    assert(m.pairs.count() === 0L, "all buckets over the cap => no pairs")
    val d = m.drops()
    assert(d.buckets > 0L, "the dropped-bucket counter must fire")
    assert(d.rows >= 8L, "dropped member rows must be reported")
    m.release()
    // simhash path reports through the same mechanism
    val sm = Dedup.simhashPairsManaged(boiler, "doc_id", "text", maxBucket = 5)
    assert(sm.pairs.count() === 0L)
    assert(sm.drops().buckets > 0L)
  }

  test("zero drops certify the exactness guarantee held") {
    val m = Dedup.minhashExactPairsManaged(docs, "doc_id", "text", threshold = 0.5)
    assert(m.pairs.count() > 0L)
    assert(m.drops().isZero,
      "no bucket on this corpus exceeds the cap — guarantee observed to hold")
    m.release()
  }

  test("embedding near-dup pairs: clustered vectors pair, cross-cluster don't") {
    // three tight clusters: base direction + tiny deterministic jitter
    val dim = 8
    val vecs = (0 until 12).map { i =>
      val cluster = i % 3
      val v = Array.fill(dim)(0.01f * ((i * 7 + 3) % 5))
      v(cluster) = 1.0f // dominant axis per cluster
      v(dim - 1) = 0.02f * i // jitter that keeps vectors distinct
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(vecs, "vec_id", "embedding",
      nCells = 3, trainSample = 12, iters = 4)
    val pairs = Dedup.embeddingNearDupPairs(idx, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    idx.release()
    // same-cluster pairs are near-parallel (cos ~0.99+): all found
    val sameCluster = for {
      a <- 0L until 12L; b <- (a + 1) until 12L if a % 3 == b % 3
    } yield (a, b)
    sameCluster.foreach(p => assert(pairs.contains(p), s"missing near-dup $p"))
    // cross-cluster vectors are near-orthogonal: never paired
    assert(pairs.forall { case (a, b) => a % 3 == b % 3 })
  }

  test("jaccardPairs respects the blocking column") {
    val blocked = Seq(
      (0L, base, "a"), (1L, base, "b") // identical but different blocks
    ).toDF("doc_id", "text", "source")
    val pairs = Dedup.jaccardPairs(blocked, "doc_id", "text", "source", 0.0).collect()
    assert(pairs.isEmpty)
  }

  test("incrementalExactPairs: batch pairs only, corpus never re-paired") {
    // corpus: docs 0 and 2 are near-identical (a settled corpus duplicate);
    // batch: 1 duplicates corpus doc 0; 3 and 5 duplicate each other;
    // 7 is unique. Expect (0,1) or (1,0)->(0,1), (3,5); NEVER (0,2).
    val t0 = (0 until 40).map(i => s"w$i").mkString(" ")
    val t1 = (0 until 40).map(i => if (i == 39) "x" else s"w$i").mkString(" ")
    val u = (0 until 40).map(i => s"u$i").mkString(" ")
    val u2 = (0 until 40).map(i => if (i == 39) "y" else s"u$i").mkString(" ")
    val corpus = Seq((0L, t0), (2L, t0), (4L, (0 until 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq((1L, t1), (3L, u), (5L, u2), (7L, (0 until 40).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Dedup.incrementalExactPairsManaged(batch, corpus, "doc_id", "text",
      threshold = 0.8)
    val pairs = m.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    m.release()
    assert(pairs.contains((0L, 1L)), s"batch dup of corpus doc missing: $pairs")
    assert(pairs.contains((3L, 5L)), s"batch-batch dup missing: $pairs")
    assert(!pairs.contains((0L, 2L)), s"corpus pair re-emitted: $pairs")
    assert(pairs.forall { case (a, b) => a % 2 == 1 || b % 2 == 1 },
      s"every pair must touch the batch: $pairs")
  }

  test("incremental: over-full corpus-only bucket is no work and no drop") {
    // 8 identical CORPUS docs flood every bucket past maxBucket=5, but the
    // one batch doc shares nothing with them: the corpus-only buckets are
    // skipped BEFORE the cap check, so the drop counter must stay zero —
    // a fired counter would spuriously void the batch's exactness
    // certificate for pairs that were never at risk.
    val corpus = (0L until 8L).map(i => (i, base)).toDF("doc_id", "text")
    val batch = Seq((100L, (0 until 40).map(i => s"b$i").mkString(" ")))
      .toDF("doc_id", "text")
    val m = Dedup.incrementalExactPairsManaged(batch, corpus, "doc_id", "text",
      threshold = 0.5, maxBucket = 5)
    assert(m.pairs.count() === 0L)
    assert(m.drops().isZero,
      "corpus-only buckets must not count as drops for an incremental run")
    m.release()
  }

  test("incrementalExactPairs equals self-dedup minus corpus-internal pairs") {
    val d = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val all = Dedup.minhashExactPairsManaged(d, "doc_id", "text", threshold = 0.8)
    val expect = all.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 == 1 || b % 2 == 1 }.toSet
    all.release()
    val inc = Dedup.incrementalExactPairsManaged(
      d.filter($"doc_id" % 2 === 1), d.filter($"doc_id" % 2 === 0),
      "doc_id", "text", threshold = 0.8)
    val got = inc.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    inc.release()
    assert(got === expect)
  }

  test("SignatureIndex probe emits exactly the managed path's pairs") {
    val d = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val batch = d.filter($"doc_id" % 2 === 1)
    val corpus = d.filter($"doc_id" % 2 === 0)
    val m = Dedup.incrementalExactPairsManaged(batch, corpus,
      "doc_id", "text", threshold = 0.8)
    val expect = m.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    m.release()
    val idx = Dedup.signatureBuild(corpus, "doc_id", "text")
    val mi = Dedup.incrementalExactPairsIndexedManaged(batch, idx,
      "doc_id", "text", threshold = 0.8)
    val got = mi.pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    mi.release(); idx.release()
    assert(got === expect)
  }

  test("SignatureIndex probe never re-reads the corpus source") {
    val d = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val acc = spark.sparkContext.longAccumulator("corpus-source-reads")
    // corpus source instrumented with a read counter: the build pays one
    // pass; every probe after it must be served from the index's
    // persisted signature/bucket frames — zero further source reads
    val corpus = d.filter($"doc_id" % 2 === 0).select($"doc_id", $"text")
      .as[(Long, String)].map { r => acc.add(1); r }.toDF("doc_id", "text")
    val idx = Dedup.signatureBuild(corpus, "doc_id", "text")
    val afterBuild = acc.value
    assert(afterBuild > 0, "the build must read the corpus once")
    val mi = Dedup.incrementalExactPairsIndexedManaged(
      d.filter($"doc_id" % 2 === 1), idx, "doc_id", "text", threshold = 0.8)
    mi.pairs.count(); mi.pairs.count() // two probe actions
    assert(acc.value === afterBuild,
      "probing must not recompute corpus-side signatures from the source")
    mi.release(); idx.release()
  }

  test("SignatureIndex: over-full MERGED bucket drops with observable stats") {
    // 4 corpus + 3 batch copies of the same text merge into 7-member
    // buckets, past maxBucket=5: the probe must refuse the quadratic work
    // and surface the drop — same contract as the managed path.
    val corpus = (0L until 8L by 2L).map(i => (i, base)).toDF("doc_id", "text")
    val batch = (1L until 6L by 2L).map(i => (i, base)).toDF("doc_id", "text")
    val idx = Dedup.signatureBuild(corpus, "doc_id", "text")
    val mi = Dedup.incrementalExactPairsIndexedManaged(batch, idx,
      "doc_id", "text", threshold = 0.5, maxBucket = 5)
    assert(mi.pairs.count() === 0L)
    assert(!mi.drops().isZero, "a dropped merged bucket must be observable")
    mi.release(); idx.release()
  }

  test("spanDedupProfile: coverage is a position-set union; short docs report zero") {
    // tokens 0..19 shared between docs 0 and 1 (20 tokens -> 13 windows at
    // w=8, covering all 20 positions of doc 0); doc 1 carries the shared
    // span then 10 unique tokens; doc 2 is unrelated; doc 3 is shorter
    // than the window and must still appear with zeros.
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (0L, shared),
      (1L, shared + " " + (0 until 10).map(i => s"u$i").mkString(" ")),
      (2L, (0 until 30).map(i => s"z$i").mkString(" ")),
      (3L, "tiny doc")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedupProfile(docs, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 0: every window duplicated, full coverage
    assert(out(0L) === ((20L, 13L, 20L, 1.0)))
    // doc 1: 13 shared windows cover positions 0..19 of its 30 tokens —
    // overlapping windows never double-count (20, not 13*8)
    assert(out(1L) === ((30L, 13L, 20L, 0.6667)))
    // doc 2: no duplication; doc 3: too short for any window
    assert(out(2L) === ((30L, 0L, 0L, 0.0)))
    assert(out(3L) === ((2L, 0L, 0L, 0.0)))
  }

  test("spanDedupProfile: within-doc repeats alone are not cross-doc duplication") {
    val rep = ((0 until 10).map(i => s"r$i") ++ (0 until 10).map(i => s"r$i"))
      .mkString(" ") // the same 10 tokens twice in ONE doc
    val docs = Seq((0L, rep), (1L, (0 until 12).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedupProfile(docs, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(0L) === 0L, "count(DISTINCT doc) >= 2 ignores same-doc repeats")
  }

  test("containmentPairsIndexed ≡ containmentPairs on the driver corpus (blocked and single-block)") {
    // the r9 scale twin must emit the EXACT pair set of the quadratic
    // verifier, including on a corpus where a block is the whole table
    // (the shape whose quadratic cost motivated the index path)
    val d = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    for ((blkCol, dd) <- Seq(
        ("source", d),
        ("all", d.withColumn("all", lit("corpus")))); t <- Seq(0.95, 0.7)) {
      val quad = Dedup.containmentPairs(dd, "doc_id", "text", blkCol, t)
        .collect().map(_.toString).sorted.toSeq
      val idx = Dedup.containmentPairsIndexed(dd, "doc_id", "text", blkCol, t)
        .collect().map(_.toString).sorted.toSeq
      assert(idx == quad, s"block=$blkCol t=$t: indexed ${idx.size} vs quadratic ${quad.size}")
    }
  }

  test("containmentPairsAuto dispatches by block size; both branches + union ≡ quadratic") {
    // corpus with one small block (quadratic branch) and one large block
    // (indexed branch): the auto result must equal the pure quadratic run
    // over everything — the dispatch is a cost decision, never a
    // semantics one. maxQuadBlock=10 forces the 40-doc block indexed.
    val d = graft.io.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val mixed = d.withColumn("grp",
      when(col("doc_id") % 10 === 0, lit("small")).otherwise(lit("large")))
    val quad = Dedup.containmentPairs(
        mixed.withColumn("doc_id", col("doc_id").cast("long")),
        "doc_id", "text", "grp", 0.9)
      .collect().map(_.toString).sorted.toSeq
    val auto = Dedup.containmentPairsAuto(mixed, "doc_id", "text", "grp", 0.9,
        maxQuadBlock = 100)
      .collect().map(_.toString).sorted.toSeq
    assert(auto == quad,
      s"auto-dispatched ${auto.size} pairs vs quadratic ${quad.size}")
    assert(auto.nonEmpty)
  }

  test("containmentPairsIndexed catches the low-Jaccard quote pair LSH-on-Jaccard misses") {
    // a short doc fully quoted inside a much longer one: containment 1.0,
    // Jaccard far below any near-dup threshold — the operator's raison
    // d'être, and the false-negative class a banded-Jaccard candidate
    // generator would reintroduce
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")
    val short = (1 to 12).map(i => s"tok$i").mkString(" ")
    val rows = Seq((1L, long, "s"), (2L, short, "s"), (3L, "other words entirely", "s"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairsIndexed(rows, "doc_id", "text", "source", 0.95)
      .collect()
    assert(got.length == 1)
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getDouble(2)) == ((1L, 2L, 1.0)))
    // and its Jaccard really is low (12/60): sanity that this pair is
    // outside the Jaccard-LSH capture zone
    val jac = Dedup.jaccardPairs(rows, "doc_id", "text", "source", 0.5).collect()
    assert(jac.isEmpty)
  }

  test("containmentPairsIndexed: over-full posting bucket drops with observable stats") {
    // 'shared' appears in every doc; with maxBucket=3 its (blk, token)
    // bucket (5 members) must be refused — counted, not silent, and the
    // pair set shrinks accordingly (conditional-exactness contract)
    val rows = (1L to 5L).map(i => (i, s"shared only$i", "s"))
      .toDF("doc_id", "text", "source")
    val before = DedupMetrics.snapshot().get("containment").map(s => (s.buckets, s.rows))
      .getOrElse((0L, 0L))
    val got = Dedup.containmentPairsIndexed(rows, "doc_id", "text", "source",
      threshold = 0.5, maxBucket = 3).collect()
    val after = DedupMetrics.snapshot()("containment")
    assert(after.buckets > before._1, "dropped-bucket counter did not fire")
    assert(got.isEmpty, "pairs emitted from a refused bucket")
  }

  test("editPairs1 ≡ brute-force levenshtein ≤ 1 across sub/ins/del/empty") {
    val rows = Seq(
      (1L, "A", "kitten"), (2L, "A", "sitten"), // substitution
      (3L, "A", "kitte"),                       // deletion of 1's last char
      (4L, "A", "kittenx"),                     // insertion on 1
      (5L, "A", "sittin"),                      // dist 2 from kitten, 1 from sitten
      (6L, "B", "kitten"),                      // other block: no cross-block pair
      (7L, "A", "kitten"),                      // exact duplicate of 1: dist 0
      (8L, "A", ""), (9L, "A", "x")             // empty ↔ one char: dist 1
    ).toDF("id", "blk", "s")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val data = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      (ia, ba, sa) <- data; (ib, bb, sb) <- data
      if ba == bb && ia < ib && lev(sa, sb) <= 1
    } yield (ba, ia, ib, lev(sa, sb))).toSet
    val got = Dedup.editPairs1(rows, "id", "blk", "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === expected)
    // the interesting memberships, pinned explicitly:
    assert(got.contains(("A", 1L, 7L, 0)), "exact dup at dist 0")
    assert(got.contains(("A", 8L, 9L, 1)), "empty vs one-char")
    assert(!got.exists(p => Set(p._2, p._3) == Set(1L, 5L)),
      "dist-2 neighborhood false positive must be verified away")
    assert(got.contains(("A", 2L, 5L, 1)), "sitten~sittin")
    assert(!got.exists(p => Set(p._2, p._3) == Set(1L, 6L)), "blocks isolate")
  }

  test("editPairsK(2) ≡ brute-force levenshtein ≤ 2; k=1 delegates; k=3 refused") {
    val rows = Seq(
      (1L, "A", "kitten"), (2L, "A", "sitten"),  // 1 sub
      (3L, "A", "sittin"),                       // 2 subs from kitten
      (4L, "A", "kitt"),                         // 2 deletions from kitten
      (5L, "A", "kittenxy"),                     // 2 insertions on kitten
      (6L, "A", "sitteny"),                      // sub + ins from kitten
      (7L, "A", "iktten"),                       // transposition = 2 edits
      (8L, "A", "mitten"), (9L, "A", "smitten"), // mixes across the set
      (10L, "A", "kit"),                         // dist 3 from kitten: excluded
      (11L, "A", ""), (12L, "A", "xy"),          // empty ↔ two chars: dist 2
      (13L, "B", "kitten"),                      // other block isolates
      (14L, "A", "kitten")                       // exact dup: dist 0
    ).toDF("id", "blk", "s")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val data = rows.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = (for {
      (ia, ba, sa) <- data; (ib, bb, sb) <- data
      if ba == bb && ia < ib && lev(sa, sb) <= 2
    } yield (ba, ia, ib, lev(sa, sb))).toSet
    val got = Dedup.editPairsK(rows, "id", "blk", "s", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(got === expected)
    assert(got.contains(("A", 1L, 3L, 2)), "two substitutions")
    assert(got.contains(("A", 1L, 4L, 2)), "two deletions")
    assert(got.contains(("A", 1L, 5L, 2)), "two insertions")
    assert(got.contains(("A", 1L, 7L, 2)), "transposition is two edits")
    assert(got.contains(("A", 11L, 12L, 2)), "empty vs two-char")
    assert(!got.exists(p => Set(p._2, p._3) == Set(1L, 10L)),
      "dist-3 candidate from shared 2-deletion residue must verify away")
    assert(!got.exists(p => Set(p._2, p._3) == Set(1L, 13L)), "blocks isolate")
    // k=1 delegates to editPairs1: same frame, same answer
    val k1 = Dedup.editPairsK(rows, "id", "blk", "s", k = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val ep1 = Dedup.editPairs1(rows, "id", "blk", "s")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(k1 === ep1)
    intercept[IllegalArgumentException] {
      Dedup.editPairsK(rows, "id", "blk", "s", k = 3)
    }
  }

  test("editPairs1/K: NULL strings and NULL blocks never pair, never throw") {
    val rows = Seq(
      (1L, Some("A"), Some("kitten")), (2L, Some("A"), Some("sitten")),
      (3L, Some("A"), None: Option[String]),   // NULL string
      (4L, None: Option[String], Some("kitten")), // NULL block
      (5L, None: Option[String], None: Option[String])
    ).toDF("id", "blk", "s")
    Seq(1, 2).foreach { k =>
      val got = Dedup.editPairsK(rows, "id", "blk", "s", k)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((1L, 2L)), s"k=$k: only the real pair survives")
    }
  }

  test("editPairs1/K: duplicated input ids never emit a self-pair") {
    // the same id delivered twice (upstream redelivery): identical residue
    // sets land the id twice in every bucket — (x, x) must not surface
    val rows = Seq(
      (1L, "A", "kitten"), (1L, "A", "kitten"), (2L, "A", "sitten")
    ).toDF("id", "blk", "s")
    Seq(1, 2).foreach { k =>
      val got = Dedup.editPairsK(rows, "id", "blk", "s", k)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got === Set((1L, 2L)), s"k=$k: strict id_a < id_b must hold")
    }
  }

  test("editPairsK(2) maxBucket refuses degenerate buckets, never blows up") {
    // 30 identical strings: every residue bucket holds all 30 members —
    // the degenerate near-identical cluster that would go quadratic at
    // scale. With the cap below the cluster size every bucket is refused
    // (no pairs, counted drops); with the default cap the full pair set
    // comes back.
    val rows = (1L to 30L).map(i => (i, "A", "aaaaaa")).toDF("id", "blk", "s")
    assert(Dedup.editPairsK(rows, "id", "blk", "s", k = 2, maxBucket = 10).isEmpty,
      "capped run must refuse the oversized buckets")
    assert(Dedup.editPairsK(rows, "id", "blk", "s", k = 2).count() === 30L * 29 / 2)
  }

  test("editPairsK(2) ≡ brute force on a seeded random mutation corpus") {
    // kernel-level fuzz: random base strings + random 0-3-edit mutants,
    // fixed seed so the case set is reproducible. Exercises residue
    // hashing across varied lengths, repeated chars, and shared prefixes.
    val rnd = new scala.util.Random(421)
    val alpha = "abc0"
    def randStr(n: Int): String = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val op = rnd.nextInt(3)
        if (cur.isEmpty) cur = randStr(1)
        else op match {
          case 0 => // substitute
            val p = rnd.nextInt(cur.length)
            cur = cur.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => // delete
            val p = rnd.nextInt(cur.length)
            cur = cur.take(p) + cur.drop(p + 1)
          case 2 => // insert
            val p = rnd.nextInt(cur.length + 1)
            cur = cur.take(p) + alpha(rnd.nextInt(alpha.length)) + cur.drop(p)
        }
      }
      cur
    }
    val strs = (1 to 12).flatMap { _ =>
      val base = randStr(4 + rnd.nextInt(8))
      base +: Seq.fill(4)(mutate(base, rnd.nextInt(4)))
    }
    val data = strs.zipWithIndex.map { case (s, i) => (i.toLong, "A", s) }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, _, sa) <- data; (ib, _, sb) <- data
      if ia < ib && lev(sa, sb) <= 2
    } yield (ia, ib, lev(sa, sb))).toSet
    val got = Dedup.editPairsK(data.toDF("id", "blk", "s"), "id", "blk", "s", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got === expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }
}
