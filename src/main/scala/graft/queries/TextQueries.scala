package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators.{Checkpoints, Components, Dedup, Splits}
import graft.functions.TextFunctions._

/** LLM-data-pipeline text surface over the `documents` table: dedup
  * (exact, MinHash-LSH, SimHash, n-gram Jaccard), token statistics,
  * quality scoring, language-ID, fingerprinting.
  *
  * Every op here carries a DuckDB oracle. SimHash and the fingerprint are
  * built on prime-field polynomial token hashes (TextFunctions.tokenHash31/
  * tokenHash131) precisely so the oracle can recompute them exactly in
  * SQL — closed-form polynomial sums with literal power tables replace the
  * engine-private xxhash64 they once used. MinHash keeps xxhash64 (its
  * d03 surface is verified through the exact-Jaccard join, not the
  * signature), with estimate behavior covered by DedupSpec.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** `df` bound to the measured width of a docs-driven body: the
    * documents table's parquet-footer row count (ZERO Spark jobs) at ~5k
    * docs per partition (tokenization amplifies a doc ~100×, the
    * LexTieredStream sizing), AQE off only when the width lands at the
    * tiny floor ([[Checkpoints.sized]]). Lower-only — a cluster-scale
    * corpus keeps the session width. */
  private def docsSized(s: SparkSession, dir: String, df: DataFrame): DataFrame =
    Checkpoints.sized(df,
      graft.operators.IndexStore.parquetRowCount(s, s"$dir/documents.parquet"),
      rowsPerPartition = 5000L)

  // The self-dedup queries (d03/d04/d06/d13) and t36 persist per-call
  // frames whose lazy return means the call site can't release after the
  // (later) action — so each NEW invocation swaps out the PREVIOUS one's
  // through the registry's "swap" family (SessionIndexes.swap). Bounds a
  // long-lived session at one cached generation per (query, dir) where
  // the unmanaged forms accumulated one per CALL (observed: MedianBench's
  // 5 d03 reps held 10 frames by rep 5).

  /** Drain every swap-held last generation for `s` — between invocations
    * each (query, dir) intentionally keeps ONE cached generation alive
    * (the caller may still be consuming the returned lazy frame), so a
    * retiring session must release them explicitly or its end-of-life
    * cache census reads as a leak (r12 verdict: the bench's residue was
    * exactly these). */
  def releaseSwapHeld(s: SparkSession): Unit = SessionIndexes.release(s, "swap")

  private val pairParams = Map("pair_k" -> "128", "pair_bands" -> "32",
    "pair_shingle_width" -> "3", "pair_threshold" -> "0.8")

  /** Resolved cluster labels under the registry's "cluster" family — the
    * cluster-index analog of the vector indexes: connected components
    * converge ONCE per corpus version and every consumer probes the same
    * labels. Durable under spark.graft.indexDir; the params pin the
    * PAIR-GENERATION settings the labels are a function of, so a stored
    * table built under different LSH settings is refused. */
  private def clusterLabels(s: SparkSession, dir: String, key: String, stat: String,
                            kind: String, params: Map[String, String])(
      build: => DataFrame): DataFrame =
    SessionIndexes.get(s, "cluster", key, stat)(
      graft.operators.IndexStore.fromConf(s, graft.operators.IndexStore.cluster,
        kind, s"$dir/documents.parquet", params)(build)) { labels =>
      // NOT Dataset.unpersist alone: checkpoint blocks live on the
      // LogicalRDD leaf's internal RDD, unreachable from the CacheManager;
      // labels LOADED from the durable store are plain persisted parquet
      // frames, which unpersist covers (harmless on checkpoints)
      try Components.releaseCheckpoint(labels) finally { labels.unpersist(); () }
    }

  /** Connected components over `d`'s exact near-dup pairs, materialized:
    * localCheckpoint makes the label table eager, so probes are pure
    * joins and release drops real blocks. The MinHash signature frame is
    * released as soon as the labels exist. */
  private def buildClusterLabels(d: DataFrame): DataFrame = {
    val mp = Dedup.minhashExactPairsManaged(d, "doc_id", "text",
      k = 128, bands = 32, shingleWidth = 3, threshold = 0.8)
    try {
      val lazyLabels = Components.connectedComponents(
        mp.pairs.select("id_a", "id_b"))
      val cp = lazyLabels.localCheckpoint()
      // the new checkpoint supersedes the component loop's final edge
      // checkpoint still referenced by the lazy plan — free it now
      Components.releaseCheckpoint(lazyLabels)
      cp
    } finally mp.release()
  }

  private def dupClusterLabels(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir, dir, "cluster", "cluster", pairParams)(
      buildClusterLabels(docs(s, dir)))

  // STANDING-corpus labels for d13's daily-ingest framing: the standing
  // epoch is 99% of the corpus (pmod 100 =!= 1 — the q79 split ratio, a
  // realistic ingest slice; pmod so any id domain partitions) and d13's
  // per-call cost is the 1% fold alone. Built at the session's own conf:
  // its component rounds join frames only AQE can size, and with AQE off
  // the prepare ran ~50% slower (sweep_stream, 4 cores).
  private def standingClusterLabels(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir, s"$dir#standing99", "standing_cluster",
      "standing99_cluster", pairParams + ("corpus" -> "standing_99"))(
      buildClusterLabels(docs(s, dir).filter(pmod(col("doc_id"), lit(100)) =!= 1)))

  /** Drop cached cluster labels of `s` and release their checkpoint
    * blocks — session-teardown hygiene. */
  def releaseClusterLabels(s: SparkSession): Unit = SessionIndexes.release(s, "cluster")

  /** Build AND materialize the cluster index for (session, dir) — the
    * explicit once-per-corpus-version step; Bench times it with the
    * other index builds so d05/d08 report probe cost. */
  def prepareClusterIndex(s: SparkSession, dir: String): Unit =
    // count() forces materialization on EVERY serve path: the in-session
    // build is eager (localCheckpoint), but the durable-store load is
    // deliberately lazy (zero Spark jobs) — without the action, a
    // disk-served bench would report a ~0s "build" and the first timed
    // d05/d08 query would absorb the scan+persist cost the prepare step
    // exists to take. The full-corpus and standing label builds are
    // independent CC runs, so they overlap.
    SessionIndexes.inParallel("graft-cluster-prepare")(
      () => { dupClusterLabels(s, dir).count(); () },
      () => { standingClusterLabels(s, dir).count(); () })

  /** A MinHash signature index over a standing slice of the corpus under
    * the registry's "signature" family: signatures, shingle sets and LSH
    * buckets computed once per corpus version, so a probe pays only
    * batch-side work. With spark.graft.indexDir set, the index survives
    * the session: a fresh session loads the parquet form (stamped with
    * the corpus version AND the build params) instead of re-paying the
    * build — the 100-TB access pattern, where signatures are built once
    * per ingest epoch. `kind` names the slice, so d06's and d13's stores
    * never collide under one root. */
  private def signatureIndex(s: SparkSession, dir: String, key: String, kind: String,
                             params: Map[String, String])(
      build: => Dedup.SignatureIndex): Dedup.SignatureIndex =
    SessionIndexes.get(s, "signature", key, "signature")(
      graft.operators.IndexStore.fromConf(s, graft.operators.IndexStore.signature,
        kind, s"$dir/documents.parquet",
        Map("k" -> "128", "bands" -> "32", "shingle_width" -> "3") ++ params)(
        build))(_.release())

  // d06's standing corpus: even doc_ids (pmod so corpus (===0) and batch
  // (===1) partition ANY id domain — signed % leaves negative odd ids in
  // neither frame).
  private def corpusSignatureIndex(s: SparkSession, dir: String): Dedup.SignatureIndex =
    signatureIndex(s, dir, dir, "signature", Map.empty)(Dedup.signatureBuild(
      docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
      "doc_id", "text", k = 128, bands = 32, shingleWidth = 3))

  // d13's standing epoch (the 99% slice the standing labels cover), built
  // at the docs-measured width like the probe.
  private def standing99SignatureIndex(s: SparkSession, dir: String): Dedup.SignatureIndex =
    signatureIndex(s, dir, s"$dir#standing99", "signature99",
      Map("corpus" -> "standing_99"))(Dedup.signatureBuild(
      docsSized(s, dir, docs(s, dir)).filter(pmod(col("doc_id"), lit(100)) =!= 1),
      "doc_id", "text", k = 128, bands = 32, shingleWidth = 3))

  /** Build AND materialize the signature indexes for (session, dir) —
    * Bench times them with the other index builds so d06/d13 report
    * probe cost, the shape a daily-ingest pipeline actually pays. */
  def prepareSignatureIndex(s: SparkSession, dir: String): Unit =
    // same materialization contract as prepareClusterIndex: the build is
    // eager but the durable-store load is lazy — force both frames here
    // so d06/d13 only ever time the probe
    Seq(corpusSignatureIndex _, standing99SignatureIndex _).foreach { index =>
      val idx = index(s, dir)
      idx.sigs.count()
      idx.buckets.count()
    }

  /** Drop cached signature indexes of `s` and release their persisted
    * frames — session-teardown hygiene. */
  def releaseSignatureIndexes(s: SparkSession): Unit = SessionIndexes.release(s, "signature")

  private val enStop = Seq("the", "a", "of", "and", "to", "in")

  /** Merge budget shared by the t35 trainer and t36 encoder (and their
    * oracles — change it in ONE place). */
  private val BpeMerges = 10

  /** The BPE training loop shared by t35/t36: ONE corpus-scale pass
    * builds the word-frequency table, then each merge round is a weighted
    * adjacent-pair count (partial-aggregating shuffle over the
    * vocab-bounded word table), a 1-row argmax collect with the pinned
    * (count DESC, pair ASC) total order, and a single literal replace on
    * the double-space symbol invariant (single-space sentinels,
    * double-space separators: the pattern ' pa  pb ' consumes one
    * boundary space per side, so neighbors keep theirs and plain
    * non-overlapping left-to-right replace IS the greedy merge —
    * BpeTrainerSpec proves equality with a reference trainer). Returns
    * the final PERSISTED (w, repr, n) table — the trained segmentation of
    * every corpus word — plus the merge list; the caller owns the
    * frame's release. */
  private def trainBpe(s: SparkSession, dir: String, k: Int)
      : (org.apache.spark.sql.DataFrame, Seq[(Int, String, String, String, Long)]) = {
    val w0 = docs(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("w"), concat(lit(" "),
        array_join(split(col("w"), ""), "  "), lit(" ")).as("repr"),
        col("n"))
    // Rounds are STAGED (lineage-truncated, the iterative-operator
    // convention) rather than persisted: a persisted round keeps the whole
    // withColumn chain in its logical plan, so round r's 1-row argmax
    // re-analyzed an r-deep tree and the DRIVER, not the executors, owned
    // the loop's cost — measured 3.1 s of t36's 4.8 s wall was job gaps.
    // stage() is eager, so the previous round releases immediately, and
    // each round plans a constant-size tree. Callers release the returned
    // frame with Checkpoints.release (unpersist() frees nothing on a
    // staged frame).
    var cur = graft.operators.Checkpoints.stage(w0)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    try for (r <- 1 to k) {
      val syms = split(trim(col("repr")), "  ")
      val best = cur
        .select(col("n"), explode(zip_with(
          slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
          slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
          (a, b) => concat(a, lit("  "), b))).as("pair"))
        .groupBy("pair").agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      // exhaustion can't happen at any tested SF; guard for tiny fixtures
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val parts = pair.split("  ", 2)
        val (pa, pb) = (parts(0), parts(1))
        merges += ((r, pa, pb, pa + pb, cnt))
        val next = graft.operators.Checkpoints.stage(cur.withColumn("repr",
          replace(col("repr"), lit(s" $pa  $pb "), lit(s" $pa$pb "))))
        graft.operators.Checkpoints.release(cur)
        cur = next
      }
    } catch { case t: Throwable =>
      graft.operators.Checkpoints.release(cur); throw t }
    (cur, merges.result())
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup by content key (3-token prefix — the sf data has real
    // collisions there; full-text md5 is the same operator).
    "d01_exact_dedup" -> { (s, dir) =>
      docs(s, dir)
        .groupBy(md5(concat_ws(" ", slice(split(col("text"), " "), 1, 3))).as("content_hash"))
        .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_dups"))
        .orderBy("content_hash")
    },

    // Exact n-gram (token-set) Jaccard near-dup pairs, blocked by source.
    "d02_jaccard_pairs" -> { (s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", "source", 0.9)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
                round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // MinHash+LSH-accelerated EXACT near-dup join: LSH proposes candidate
    // pairs, exact shingle-set Jaccard disposes — so the emitted pairs are
    // a deterministic function of the data (all pairs at true Jaccard
    // >= 0.8, miss probability < 5e-8 per pair) and carry the true
    // similarity, fully hash-checkable against DuckDB's brute-force
    // all-pairs oracle. Estimate-only LSH behavior stays covered by
    // DedupSpec's recall/precision assertions on minhashLshPairsManaged.
    "d03_minhash_lsh" -> { (s, dir) =>
      val mp = SessionIndexes.swap(s, "swap", s"d03|$dir")(
        Dedup.minhashExactPairsManaged(docs(s, dir), "doc_id", "text",
          k = 128, bands = 32, shingleWidth = 3, threshold = 0.8))(_.release())
      mp.pairs
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
                round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Incremental (batch-vs-corpus) dedup — the daily-ingest shape: odd
    // doc_ids arrive as the new batch, even doc_ids are the standing
    // corpus; emit exact near-dup pairs touching the batch (batch×corpus
    // and batch×batch), never corpus×corpus — the corpus's own duplicate
    // structure is settled and must not be re-paid per batch.
    // Probes the cached corpus SignatureIndex (built once per corpus
    // version): batch-side signatures only — the corpus side is served
    // from its persisted signature/bucket frames. Emits exactly the pairs
    // Dedup.incrementalExactPairsManaged would (asserted in DedupSpec).
    "d06_incremental_dedup" -> { (s, dir) =>
      val mp = SessionIndexes.swap(s, "swap", s"d06|$dir")(
        Dedup.incrementalExactPairsIndexedManaged(
          docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 1),
          corpusSignatureIndex(s, dir), "doc_id", "text", threshold = 0.8))(_.release())
      mp.pairs
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
                round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },

    // Keep-list generation — the decision d05's clusters exist to feed:
    // per duplicate cluster keep the highest-QUALITY copy (n_chars here;
    // any score column works), total order (quality DESC, id ASC) so the
    // survivor is engine-independent. The per-cluster argmax runs through
    // the bounded-heap TopKPerKey operator (k=1).
    "d08_keep_list" -> { (s, dir) =>
      Components.keepListFromLabels(docs(s, dir), "doc_id", "n_chars",
          dupClusterLabels(s, dir))
        .select(col("id").as("doc_id"), col("cluster"),
          col("canonical_id"), col("keep"))
        .orderBy("doc_id")
    },

    // Overlap-coefficient (containment) near-dup pairs — the asymmetric
    // companion to d02: |A∩B| / min(|A|,|B|) catches subset/quote
    // duplication that Jaccard under-scores when document lengths differ.
    // Same block discipline as d02 (within-source), exact integer set
    // arithmetic, single terminal division.
    "d07_containment" -> { (s, dir) =>
      // cost-dispatched (r9): quadratic inside small blocks, the
      // prefix-filtered index for large ones — both EXACTLY
      // containmentPairs' pair set (DedupSpec parity), so the oracle
      // still replays the quadratic definition: same answer, best plan
      Dedup.containmentPairsAuto(docs(s, dir), "doc_id", "text", "source", 0.95)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
                round(col("containment"), 4).as("containment"))
        .orderBy("doc_a", "doc_b")
    },

    // SimHash near-dup candidates (oracle: DuckDB recomputes the full
    // signature pipeline — see simhashOracle — and DedupSpec proves the
    // banded pair set equals brute force, so the oracle brute-forces). The
    // standard near-dup setting: Hamming <= 3 with 16-bit bands — complete
    // recall by pigeonhole AND fine buckets (wider distances need more,
    // narrower bands whose coarse buckets go quadratic; measured 3.3x
    // slower at bands=16 on this corpus).
    "d04_simhash" -> { (s, dir) =>
      val mp = SessionIndexes.swap(s, "swap", s"d04|$dir")(
        Dedup.simhashPairsManaged(docs(s, dir), "doc_id", "text",
          maxHamming = 3))(_.release())
      mp.pairs
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b")
    },

    // Dup-cluster resolution: the step AFTER pair generation — connected
    // components (alternating large-star/small-star, see Components) over
    // the exact near-dup pairs of d03, giving every doc its cluster's min
    // id and a keep/drop verdict. Deterministic end to end, so the oracle
    // recomputes the same clusters with a recursive-CTE label walk over the
    // brute-force pair set.
    "d05_dup_clusters" -> { (s, dir) =>
      Components.dupClustersFromLabels(docs(s, dir), "doc_id",
          dupClusterLabels(s, dir))
        .select(col("id").as("doc_id"), col("cluster"), col("is_canonical"))
        .orderBy("doc_id")
    },

    // Incremental cluster maintenance — the edge-delta fold that closes
    // NearDupAdmission's epoch loop, in its PRODUCTION shape: the standing
    // labelling is served from the durable standing-cluster index (built
    // once per corpus version, the d06/d12 build-probe pattern) and the
    // delta — every near-dup pair touching the odd-id batch, batch×corpus
    // + batch×batch — probes the cached corpus SignatureIndex, so the
    // per-epoch cost is |Δ|-sized: contract delta endpoints to labels →
    // CC over the tiny contracted graph → ONE remap join. The oracle
    // replays the FULL REBUILD (d05's recursive walk over all pairs), so
    // hash equality certifies fold ≡ rebuild — the q58/q63/q67
    // incremental-identity pattern applied to graph clustering.
    "d13_incremental_clusters" -> { (s, dir) =>
      // probe + fold + cluster read all run at the measured docs width
      // (r17): every shuffle here is |Δ|-or-labels-sized, and each chain
      // starts from the docs or the standing labels, so both are bound
      val d = docsSized(s, dir, docs(s, dir))
      val labels0 = standingClusterLabels(s, dir)
      // the delta is the 1% ingest slice (pmod 100 === 1, q79's ratio):
      // the probe pays |Δ| signatures + the |Δ| fold — the standing 99%
      // serves from its label/signature indexes
      val mp = Dedup.incrementalExactPairsIndexedManaged(
        d.filter(pmod(col("doc_id"), lit(100)) === 1),
        standing99SignatureIndex(s, dir), "doc_id", "text", threshold = 0.8)
      // the fold is a unique localCheckpoint, so releasing the previous
      // generation before this build is safe (no plan dedup onto it)
      val folded = SessionIndexes.swap(s, "swap", s"d13|$dir") {
        try {
          val lazyFold = Components.foldEdges(docsSized(s, dir, labels0),
            mp.pairs.select(col("id_a"), col("id_b")))
          // one materialization, then free the checkpoints the FOLD created
          // (the delta-CC remap) — but NOT the standing label index's, which
          // keeps serving this and other queries (releaseExcept contract)
          val cp = lazyFold.localCheckpoint()
          Checkpoints.releaseExcept(lazyFold, labels0)
          cp
        } finally mp.release()
      }(Components.releaseCheckpoint)
      Components.dupClustersFromLabels(d, "doc_id", folded)
        .select(col("id").as("doc_id"), col("cluster"), col("is_canonical"))
        .orderBy("doc_id")
    },

    // TIERED signature-index lifecycle — the dedup family's LSM path as
    // ONE oracle row (the q82 cumulative shape on MinHash-LSH): documents
    // arrive as four doc_id%4 batches through SignatureTieredStream
    // (O(|Δ|) tokenize minors, one mid-roll major at majorEvery=3 that
    // re-aggregates buckets WITHOUT re-tokenizing), and each batch's new
    // pairs are probed off the pre-fold ≤2-tier view (committed L1
    // buckets ∪ |Δ|-sized delta buckets — the standing corpus is never
    // re-tokenized OR re-bucketed per probe). Batch 0 has no standing
    // view: its within-batch pairs come from the flat d03 kernel. Every
    // pair surfaces exactly when its later endpoint arrives, so the
    // accumulated union must equal d03's brute-force all-pairs oracle —
    // tier commits, cross-tier probe, and major fold certified together.
    "d14_tiered_dedup" -> { (s, dir) =>
      import graft.streaming.SignatureTieredStream
      val root = java.nio.file.Files
        .createTempDirectory("d14_sig_tiers").toString
      try {
        val d = docs(s, dir)
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        var schema: org.apache.spark.sql.types.StructType = null
        (0 until 4).foreach { i =>
          val batch = d.filter(pmod(col("doc_id"), lit(4)) === i)
          val pre = SignatureTieredStream.loadCurrent(s, root)
          // ONE tokenize+MinHash pass per batch, shared by the probe and
          // the fold commit (the batch was previously signed twice —
          // measured ~40% of d14's cost); released after the fold
          val sigs = Dedup.signatureFrame(batch, "doc_id", "text",
              k = 128, shingleWidth = 3)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // fills the sig pin AND measures the probe's width: the
            // probe's bucket joins and verify groupBys are |Δ|-plus-
            // touched-buckets-sized and start from the batch sigs, so
            // they run at the measured delta width (the fold sizes its
            // own branches internally)
            val probeSigs = Checkpoints.sized(sigs, sigs.count())
            val mp = pre match {
              case Some(view) =>
                view.newPairsForSigs(probeSigs, threshold = 0.8)
              case None =>
                // bootstrap self-dedup off the SAME shared signature
                // frame: an empty standing index reduces the incremental
                // probe to exactly the within-batch pairs (same banding,
                // same est prefilter t−0.2, same exact verification as
                // the flat d03 kernel it replaces — which re-tokenized
                // the batch a second time)
                Dedup.incrementalPairsFromSigs(probeSigs,
                  Dedup.SignatureIndex(128, 32, 3, sigs.limit(0),
                    Dedup.bucketsFromSigs(sigs.limit(0), 128, 32), () => ()),
                  threshold = 0.8, estMargin = 0.2, maxBucket = 1000)
            }
            try {
              val out = mp.pairs.select(col("id_a").as("doc_a"),
                col("id_b").as("doc_b"), round(col("jaccard"), 4).as("jaccard"))
              acc ++= out.collect(); schema = out.schema
            } finally { mp.release(); pre.foreach(_.release()) }
            // the fold takes the unsized sigs: its major sizes itself by
            // standing+delta, so a grown corpus's major is never capped at
            // this batch's width
            SignatureTieredStream.foldSigs(sigs, root, i.toLong,
              majorEvery = 3)
          } finally { sigs.unpersist(); () }
        }
        s.createDataFrame(s.sparkContext.parallelize(acc.toSeq, 1), schema)
          .orderBy("doc_a", "doc_b")
      } finally graft.io.TempRoots.delete(root)
    },

    // Token statistics per document.
    "t01_token_stats" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          length(col("text")).as("len"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // Quality scoring: stopword ratio, type-token ratio, mean token length,
    // rule-based quality bucket (the classic pretraining-filter shape).
    "t02_quality_score" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"),
          round(size(filter(toks, t => t.isInCollection(enStop))).cast("double") / size(toks), 4)
            .as("stop_ratio"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 4).as("ttr"),
          round(length(col("text")).cast("double") / size(toks), 4).as("mean_tok_len"),
          size(toks).as("n_tokens"))
        .withColumn("quality",
          when(col("stop_ratio").between(0.02, 0.5) && col("n_tokens") >= 20, "good")
            .otherwise("low"))
        .orderBy("doc_id")
    },

    // Language-ID: stopword-family hit counting (n-gram heuristic class).
    "t03_lang_id" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      def hits(words: Seq[String]) = size(filter(toks, t => t.isInCollection(words)))
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          hits(Seq("the", "and", "of", "a")).as("en_hits"),
          hits(Seq("el", "la", "de", "y")).as("es_hits"),
          hits(Seq("der", "die", "das", "und")).as("de_hits"))
        .withColumn("lang_guess",
          when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
                 && col("en_hits") > 0, "en")
            .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
            .when(col("de_hits") > 0, "de")
            .otherwise("unk"))
        .select(col("doc_id"), col("lang"), col("lang_guess"),
          col("en_hits"), col("es_hits"), col("de_hits"))
        .orderBy("doc_id")
    },

    // BPE-ish tokenization: regex word/number/punct pieces (the
    // pretraining token-count estimator shape), totals per language.
    "t05_bpe_tokens" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_pieces"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_pieces")).as("total_pieces"),
             max(col("n_pieces")).cast("long").as("max_pieces"))
        .orderBy("lang")
    },

    // Text normalization for dedup keys: lowercase, strip non-alnum,
    // collapse whitespace — hashed (the canonical pre-dedup transform).
    "t06_normalize" -> { (s, dir) =>
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      docs(s, dir)
        .select(col("doc_id"), md5(norm).as("norm_hash"),
                length(norm).as("norm_len"))
        .orderBy("doc_id")
    },

    // Deterministic train/val/test split (80/10/10) keyed on doc_id,
    // summarized per split. The scale-correct alternative to randomSplit:
    // stable per key, layout-independent, map-only, oracle-exact. For
    // leakage control pass a group key (source, domain) instead of the row
    // id - spec-covered in SplitsSpec.
    "t07_train_split" -> { (s, dir) =>
      docs(s, dir)
        .select(Splits.assign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .orderBy("split")
    },

    // Sequence packing: docs packed into ~2048-token bins per language
    // (the pretraining pack step), bins summarized. Window per lang -
    // the partition key is the parallelism unit, never a global sort.
    "t08_seq_pack" -> { (s, dir) =>
      val nt = size(split(col("text"), " "))
      Splits.packByBudget(docs(s, dir).select(col("lang"), col("doc_id"), nt.as("nt")),
          col("lang"), col("doc_id"), col("nt"), budget = 2048L)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt").cast("long")).as("n_tokens"))
        .orderBy("lang", "bin")
    },

    // Decontamination: per test-split doc, how much of its 3-gram set also
    // appears in the train split (inverted-index overlap, the GPT-3/Pile
    // eval-decontamination shape - no pairwise join anywhere).
    "t09_contamination" -> { (s, dir) =>
      Splits.contamination(docs(s, dir), "doc_id", "text",
          Splits.assign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
          sourceSplit = "train", targetSplit = "test", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"),
          col("n_contaminated"), col("frac"))
        .orderBy("doc_id")
    },

    // Deterministic stratified downsampling: rebalance the language mix
    // (en halved, zh lightly trimmed) with the hash-ring sampler - stable
    // per doc, layout-independent, nested across rate changes; the
    // reproducible replacement for sampleBy.
    "t10_lang_sample" -> { (s, dir) =>
      Splits.sampleByGroup(docs(s, dir), col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.8))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .orderBy("lang")
    },

    // Gopher-style repetition filter: most-common-token fraction per doc
    // (two partial-aggregating shuffles, no per-doc loops). The token
    // STRING never shuffles — only its 64-bit hash does (the max-count
    // answer needs token identity, not token text; an in-doc xxhash64
    // collision merging two tokens' counts is a ~n²·2⁻⁶⁴ event). Same 8×
    // shuffle-mass trick as spanDedupProfile's scale note.
    "t11_repetition" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"), explode(toks).as("tok"), size(toks).as("nt"))
        .groupBy(col("doc_id"), col("nt"), xxhash64(col("tok")).as("tokh"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("nt"))
        .agg(max(col("c")).as("top"))
        .select(col("doc_id"),
          round(col("top").cast("double") / col("nt"), 4).as("top_token_frac"),
          (col("top").cast("double") / col("nt") > 0.05).as("repetitive"))
        .orderBy("doc_id")
    },

    // PII scrubbing: pattern-class redaction (email, IPv4, digit-run) with
    // per-record match counts, over the two digit-bearing text sources in
    // the testdata (customer identifiers + event JSON payloads). Counts are
    // measured on the RAW text (an IP's digits also count as digit-runs —
    // the audit counts answer "what did each pattern see", not "what did
    // the cascade leave"). Pure codegen'd regexp_replace/extract_all —
    // per-row, shuffle-free, embarrassingly parallel at any scale. The
    // pattern classes are RE2-compatible (no backrefs/lookaround) so the
    // DuckDB oracle runs the identical regexes.
    "t12_pii_redact" -> { (s, dir) =>
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val num = "\\d+"
      val cust = Tables.load(s, dir, "customer")
        .select(lit("customer").as("src_table"),
          col("c_custkey").cast("long").as("rec_id"), col("c_name").as("raw"))
      val ev = Tables.load(s, dir, "events")
        .select(lit("event").as("src_table"),
          col("event_id").cast("long").as("rec_id"), col("props").as("raw"))
      cust.unionByName(ev)
        .select(col("src_table"), col("rec_id"),
          size(regexp_extract_all(col("raw"), lit(email), lit(0))).as("n_email"),
          size(regexp_extract_all(col("raw"), lit(ip), lit(0))).as("n_ip"),
          size(regexp_extract_all(col("raw"), lit(num), lit(0))).as("n_num"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            email, "<EMAIL>"), ip, "<IP>"), num, "<NUM>").as("redacted"))
        .orderBy("src_table", "rec_id")
    },

    // Cross-document span dedup (the CCNet/C4 line-dedup shape, on
    // deterministic 10-token segments since this corpus has no newlines):
    // any segment appearing in more than one distinct document is
    // boilerplate and is removed from ALL of them; survivors are re-joined
    // in original order. The distinct-doc frequency is computed with two
    // window passes over the SAME segment rows (first-in-doc flag, then a
    // per-segment sum) — a self-join formulation would re-run the whole
    // segmentation (scan + explode + slice) a second time, doubling the
    // heaviest map work at 100 TB. (Scale note: shuffle on a 128-bit
    // segment hash instead of the span text to move 16 bytes per row.)
    "t13_segment_dedup" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir).select(col("doc_id"), split(col("text"), " ").as("w"))
      val segs = d
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0),
            ceil(size(col("w")) / lit(10.0)).cast("int") - 1)).as("i"))
        .select(col("doc_id"), col("i"),
          array_join(slice(col("w"), col("i") * 10 + 1, lit(10)), " ").as("seg"))
      val wDocSeg = Window.partitionBy(col("seg"), col("doc_id")).orderBy(col("i"))
      val wSeg = Window.partitionBy(col("seg"))
      val rebuilt = segs
        .withColumn("fst", when(row_number().over(wDocSeg) === 1, 1L).otherwise(0L))
        .withColumn("nd", sum(col("fst")).over(wSeg))
        .filter(col("nd") <= 1)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("i"), col("seg")))).as("ss"))
        .select(col("doc_id"),
          md5(array_join(transform(col("ss"), x => x.getField("seg")), " ")).as("kept_hash"),
          size(col("ss")).as("n_kept"))
      d.select(col("doc_id"), ceil(size(col("w")) / lit(10.0)).cast("long").as("n_segs"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segs"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("kept_hash"), md5(lit(""))).as("kept_hash"))
        .orderBy("doc_id")
    },

    // Vocabulary induction, step one of BPE training: corpus-wide counts
    // of adjacent token pairs, top-20 merge candidates with a pinned total
    // order (count DESC, then pair text — ties must not depend on shuffle
    // order). One explode + one partial-aggregating shuffle; the classic
    // map-side-combine shape, linear at any corpus size.
    "t14_bigram_vocab" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      docs(s, dir)
        // one split per doc: pair the token array against its own shift
        // (zip_with of the two slices), then explode — O(tokens) per doc.
        // The posexplode + per-row re-split formulation this replaces
        // re-tokenized the full text for EVERY exploded row, O(tokens²)
        // per doc (measured 2.7 s → 0.9 s at sf0.1).
        .select(explode(zip_with(
          slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
          slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    // FULL BPE VOCABULARY TRAINER — t14's merge step iterated to a target
    // vocabulary (K merges), the real tokenizer-training loop. The classic
    // contraction makes it scale: the corpus is read ONCE (word-frequency
    // aggregate — the merge rounds then operate on the vocab-bounded
    // (word, n) table, billions of rows at web scale but never
    // corpus-sized). Each round is: weighted adjacent-pair counts (one
    // partial-aggregating shuffle), argmax with the pinned (count DESC,
    // pair ASC) total order (a 1-row collect — the k-centroids pattern),
    // and ONE literal replace applying the merge greedily left-to-right.
    // Greedy-left BPE semantics ride a string invariant: a word's symbols
    // are DOUBLE-space separated with single-space sentinels, and the
    // pattern ' pa  pb ' → ' papb ' consumes one boundary space per side,
    // so adjacent merge sites keep their own boundaries and plain
    // non-overlapping replace (same scan order in Spark and DuckDB) IS the
    // greedy merge — proven against a driver-side reference trainer in
    // BpeTrainerSpec and replayed per-merge by the oracle's unrolled CTEs.
    "t35_bpe_trainer" -> { (s, dir) =>
      val (trained, merges) = trainBpe(s, dir, BpeMerges)
      // the trainer's product IS the merge table; free the staged frame
      graft.operators.Checkpoints.release(trained)
      import s.implicits._
      merges.toDF("rank", "pa", "pb", "merged", "n").orderBy("rank")
    },

    // BPE ENCODER — the trainer's consumer: apply the K trained merges to
    // the corpus and report per-doc subword counts (the tokenized-length
    // accounting every batch-size/packing decision needs, t33's fertility
    // framing at the trained-vocab level). The encode is FREE at corpus
    // scale: the final (word, repr) table from training already holds
    // every word's merged segmentation, so encoding is one vocab join —
    // no per-doc merge replay. The vocab is word-distinct-bounded
    // (broadcast here; at web scale the hint drops and it's a plain
    // shuffle join on the token column).
    "t36_bpe_encode" -> { (s, dir) =>
      val (trained, _) = SessionIndexes.swap(s, "swap", s"t36|$dir")(
        trainBpe(s, dir, BpeMerges))(t => graft.operators.Checkpoints.release(t._1))
      val vocab = trained.select(col("w"),
        size(split(trim(col("repr")), "  ")).cast("long").as("n_sym"))
      val perDoc = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(vocab), Seq("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_tokens"))
      docs(s, dir).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },

    // Order-sensitive rolling-hash fingerprint (oracle: closed-form double
    // polynomial in DuckDB; determinism + order sensitivity additionally
    // pinned in TextFunctionsSpec).
    "t04_fingerprint" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp"))
        .orderBy("doc_id")
    },

    // Count-min sketch heavy hitters: the fixed-memory alternative to a
    // full token groupBy at 100 TB. The sketch is d×w = 4×1024 counters —
    // built DISTRIBUTIVELY (bucket counts are sums, so the map-side
    // partial aggregate IS the sketch merge; counters mergeable across
    // any partitioning) — and the query reports, for the exact top-20
    // tokens, the exact count next to the sketch estimate (est ≥ exact
    // always; the overestimate is the CMS collision error ε ≈ e/w). The
    // d row-hashes are universal-family mixes of the two prime-field
    // token hashes, so the DuckDB oracle replays the ENTIRE sketch in
    // closed-form SQL and hash-matches the estimates bit for bit.
    "t15_cms_heavy" -> { (s, dir) =>
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
      val withBuckets = counts
        .withColumn("h1", tokenHash31(col("tok")))
        .withColumn("h2", tokenHash131(col("tok")))
        .select(col("tok"), col("exact_n"),
          posexplode(array(cmsMixers.map { case (r, sMix) =>
            pmod(col("h1") * r + col("h2") * sMix, lit(HashP3)) % cmsWidth
          }: _*)).as(Seq("i", "bucket")))
      val sketch = withBuckets.groupBy("i", "bucket")
        .agg(sum(col("exact_n")).as("bn"))
      val top = counts.orderBy(col("exact_n").desc, col("tok")).limit(20)
      withBuckets.join(broadcast(top.select("tok")), "tok")
        .join(broadcast(sketch), Seq("i", "bucket"))
        .groupBy("tok", "exact_n")
        .agg(min(col("bn")).as("est_n"))
        .orderBy(col("exact_n").desc, col("tok"))
    },

    // TF-IDF top terms per document (keyword extraction), with the idf
    // kept RATIONAL — rarity = tf·N/df as one IEEE division of exact
    // integers — so no libm log whose last ulp could differ between
    // engines. ONE tokenize pass: df is a count-over-window on the tf
    // aggregate (a join back to a tok-keyed aggregate would re-scan and
    // re-tokenize the corpus — column pruning makes the two tf subtrees
    // non-reusable), then the custom TopKPerKey operator picks each
    // document's top-3 terms without sorting any doc's full term list.
    // N reaches the plan as a broadcast 1-row aggregate, not a driver-side
    // collect.
    "t16_tfidf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          ((col("tf") * col("n_docs")).cast("double") / col("df")).as("rarity"))
      graft.plans.TopK.perKey(scored,
          Seq("doc_id"), Seq("rarity" -> false, "tok" -> true), 3)
        .orderBy(col("doc_id"), col("rarity").desc, col("tok"))
    },

    // Token-rarity scoring — a log-free surprisal proxy: rank the corpus
    // vocabulary by global frequency (rank 1 = most common; total order
    // (count DESC, token) so ranks are engine-independent), then score
    // each document by the exact mean and max rank of its token
    // INSTANCES. Rare-vocabulary documents surface with high mean rank —
    // the unigram-LM filter shape without libm::log (whose last-ulp
    // divergence across engines would break hash parity; integer rank
    // sums + ONE terminal division are exact). Scale shape: instance
    // counts and the rank join both shuffle on the token; the global
    // rank window sorts only the VOCABULARY (post-aggregate, ≪ corpus,
    // single partition — acceptable because |V| grows sublinearly; a
    // 100-TB run with a giant vocab would range-partition the rank via
    // zipWithIndex-style two-pass instead).
    "t21_token_rarity" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val inst = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val vocabRank = inst.groupBy("tok").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("tok"))).cast("long"))
        .select("tok", "rank")
      inst.join(vocabRank, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("rank")).as("rank_sum"),
          max(col("rank")).as("max_rank"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("rank_sum").cast("double") / col("n_tokens"), 4)
            .as("mean_rank"),
          col("max_rank"))
        .orderBy("doc_id")
    },

    // Quality-weighted deterministic sampling (importance resampling):
    // keep probability proportional to a quality proxy — here
    // min(n_chars, 2000)/2000, i.e. longer docs survive more often, capped
    // at keep-always — decided by the doc_id's hash ring position. The
    // keep decision is an exact integer compare (Splits.keepByWeight), so
    // the sampled SET is identical across runs, layouts, and engines.
    // Map-only + one summarizing aggregate.
    "t17_weighted_sample" -> { (s, dir) =>
      val d = docs(s, dir)
      d.withColumn("keep",
          Splits.keepByWeight(col("doc_id"), col("n_chars"), 2000L))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_in"),
          sum(col("keep").cast("long")).as("n_kept"),
          sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("kept_chars"))
        .orderBy("lang")
    },

    // Cross-document SPAN dedup (Lee et al. exact-substring-dedup shape at
    // token-window granularity): per doc, how many of its 8-token windows
    // are duplicated across documents and what fraction of its token
    // positions those duplicated spans cover (position-set union — the
    // trim/drop signal, overlap never double-counts). Inverted-index
    // discipline: one hash shuffle on the window, no pairwise join.
    "t18_span_dedup" -> { (s, dir) =>
      Dedup.spanDedupProfile(docs(s, dir), "doc_id", "text", w = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // Bloom-filter decontamination audit — t09's sketch-accelerated cousin
    // in the production direction: test-split grams build ONE Bloom filter
    // (Spark's own BloomFilterAggregate, no UDF), train docs probe it
    // map-side. The emitted columns are the exactly-checkable ones:
    // true-hit counts from the audit's inverted-index leg, and
    // `bloom_caught` — the no-false-negative guarantee exercised THROUGH
    // the sketch (a broken filter would flip it and fail the hash).
    // Per-gram false positives are measured in SplitsSpec; at the
    // configured geometry (2²² bits for ≲100k grams) they are ~0.
    "t19_bloom_contamination" -> { (s, dir) =>
      Splits.bloomContamination(docs(s, dir), "doc_id", "text",
          Splits.assign(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
          benchSplit = "test", corpusSplit = "train", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_true_hits"),
          (col("n_true_hits") > 0).as("truly_contaminated"),
          ((col("n_bloom_hits") > 0) && (col("n_true_hits") > 0))
            .as("bloom_caught"))
        .orderBy("doc_id")
    },

    // Composite pretraining quality filter (the C4/Gopher rule-pipeline
    // shape): named per-document rules, an accumulated reason list in
    // fixed rule order, and the keep verdict. Every predicate is integer
    // arithmetic (cross-multiplied rather than divided) so both engines
    // decide boundary documents identically. Map-only — the one exchange
    // is the output sort.
    "t20_quality_filter" -> { (s, dir) =>
      val toks = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"), size(toks).as("nt"),
          size(array_distinct(toks)).as("nd"),
          length(col("text")).as("ch"),
          arrays_overlap(toks, array(enStop.map(lit): _*)).as("has_stop"))
        .select(col("doc_id"), col("nt"),
          array_compact(array(
            when(col("nt") < 20, lit("too_short")),
            when(col("nd") * 3 < col("nt"), lit("low_ttr")),
            when(!col("has_stop"), lit("no_stopword")),
            when(col("ch") * 10 > col("nt") * 55, lit("long_tokens"))))
            .as("rs"))
        .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
          concat_ws(",", col("rs")).as("reasons"),
          (size(col("rs")) === 0).as("keep"))
        .orderBy("doc_id")
    },

    // Temperature-resampled source mix (α = 0.5): per-source quotas
    // proportional to √count — the standard "flatten the domain/language
    // distribution" step of multilingual corpus assembly — filled by each
    // source's docs in deterministic hash-ring order (a reproducible
    // shuffle, not rand()). All allocation arithmetic is integral:
    // weights are fixed-point √n (exact: sqrt is correctly rounded IEEE,
    // the 1e6 scale and HALF_UP round are shared with the oracle), the
    // quota is an integer `div`, and the ranked join is a broadcast of the
    // ≤|sources| quota table. One shuffle (the per-source window).
    "t22_source_quota" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 200L
      val d = docs(s, dir)
      val w = d.groupBy(col("source")).agg(count(lit(1)).as("n_in"))
        .withColumn("w", round(sqrt(col("n_in")) * 1e6, 0).cast("long"))
      val quota = w.crossJoin(broadcast(w.agg(sum(col("w")).as("tw"))))
        .select(col("source"), col("n_in"),
          call_function("div", lit(budget) * col("w"), col("tw")).as("quota"))
      val ranked = d.select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(Splits.ringHash(col("doc_id")), col("doc_id"))))
      ranked.join(broadcast(quota), "source")
        .filter(col("rk") <= col("quota"))
        .select(col("source"), col("doc_id"), col("rk"), col("quota"), col("n_in"))
        .orderBy("source", "rk")
    },

    // Dedup savings report — the corpus-level "what did near-dup removal
    // buy" summary every pipeline run logs: cluster labels from the
    // session index (probe-only, same labels d05/d08 use) joined to t01's
    // token counts; canonical = the min-id survivor. One broadcast-ish
    // join and one global aggregate.
    "t23_dedup_savings" -> { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Components.dupClustersFromLabels(docs(s, dir), "doc_id",
          dupClusterLabels(s, dir))
        .select(col("id").as("doc_id"), col("cluster"), col("is_canonical"))
        .join(toks, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("n_tokens")).as("raw_tokens"),
          sum(when(col("is_canonical"), col("n_tokens")).otherwise(0L))
            .as("kept_tokens"))
        .select(col("n_docs"), col("n_clusters"), col("raw_tokens"),
          col("kept_tokens"),
          round(lit(1) - col("kept_tokens").cast("double") / col("raw_tokens"), 4)
            .as("savings_frac"))
    },

    // Sliding-window chunking with overlap (size 32, stride 24 — the
    // context-window preprocessing step for embedding/RAG pipelines):
    // every chunk carries provenance (doc, index, token offset) and a
    // content fingerprint for downstream chunk-level dedup. Map-only —
    // sequence+slice explode per row, no shuffle until the output sort;
    // at 100 TB this is embarrassingly parallel and the md5 rides the
    // chunk to dedup WITHOUT a second pass over the text.
    "t24_chunk_windows" -> { (s, dir) =>
      val chunkLen = 32
      val stride = 24
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(0), size(col("tk")) - 1, lit(stride))).as("st"))
        .select(col("doc_id"),
          (col("st") / stride).cast("long").as("chunk_idx"),
          col("st").cast("long").as("start_tok"),
          size(slice(col("tk"), col("st") + 1, lit(chunkLen))).cast("long").as("n_tok"),
          md5(concat_ws(" ", slice(col("tk"), col("st") + 1, lit(chunkLen))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Ordered n-gram novelty: per document, the fraction of its DISTINCT
    // 8-gram windows whose FIRST occurrence (by doc_id order — ingestion
    // order in a real corpus) is this document. The curriculum/dataset-
    // growth signal: low novelty = the document mostly restates earlier
    // data. Gram hashing is the native `ngram_hashes` kernel (one pass over
    // the text bytes — see plans/NgramHashes.scala for why the HOF form was
    // both slow and un-reusable), and the whole query runs off ONE exchange
    // of the exploded (doc, gh) pairs: the first-holder min-reduce consumes
    // the gh-hash partitioning directly, and the per-doc gram counts
    // re-aggregate the SAME exchange output (ReusedExchange — pinned in
    // PlanSpec; the r8 shape computed the gram subplan twice). Gram TEXT
    // never shuffles — both legs key on the 64-bit hash (a cross-gram
    // collision is a ~n²·2⁻⁶⁴ event); the join back to docs carries one
    // row per doc, not per gram.
    "t25_ngram_novelty" -> { (s, dir) =>
      val exploded = docs(s, dir)
        .select(col("doc_id"),
          call_function("ngram_hashes", col("text"), lit(8)).as("ghs"))
        .select(col("doc_id"), explode(col("ghs")).as("gh"))
      val byGram = exploded.repartition(col("gh"))
      val novel = byGram.groupBy("gh").agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      val docStats = byGram.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"))
      docStats.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"), 4)
            .as("novelty_frac"))
        .orderBy("doc_id")
    },

    // Span-dedup TRANSFORM (t18's profile made actionable): documents
    // rewritten with cross-doc duplicated 8-token spans removed; the
    // cleaned text rides as an md5 so the oracle checks the REWRITE, not
    // just the counts.
    "t26_span_removal" -> { (s, dir) =>
      Dedup.spanDedupClean(docs(s, dir), "doc_id", "text", w = 8)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"),
          md5(col("kept_text")).as("kept_md5"))
        .orderBy("doc_id")
    },

    // Leakage-safe train/val/test split: the split is assigned to the
    // duplicate CLUSTER, not the document, so near-duplicates can never
    // straddle train and test (the classic eval-contamination hole that
    // doc-hash splits like t07 leave open). Composes the session cluster
    // index (d05's labels, built once) with the deterministic hash-ring
    // carve; per split: docs, distinct clusters, tokens.
    "t27_cluster_split" -> { (s, dir) =>
      val d = docs(s, dir)
      graft.operators.Components.dupClustersFromLabels(d, "doc_id",
          dupClusterLabels(s, dir))
        .select(col("id").as("doc_id"), col("cluster"))
        .join(d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt")), "doc_id")
        .select(Splits.assign(col("cluster"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
          col("cluster"), col("nt"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("nt")).as("n_tokens"))
        .orderBy("split")
    },

    // The composed data pipeline as ONE query — the funnel every corpus
    // build reports: raw → quality filter (t20's rules) → exact dedup
    // (d01's content key, min-id survivor) → cross-doc span removal
    // (t26, computed WITHIN the surviving corpus), with doc and token
    // counts per stage. Every stage is the library operator the
    // standalone query checks; this entry proves they COMPOSE and gives
    // the one-row-per-stage artifact a dataset card quotes.
    "t28_pipeline_funnel" -> { (s, dir) =>
      val d = docs(s, dir)
      val toks = split(col("text"), " ")
      val quality = d.select(col("doc_id"), col("text"),
          size(toks).as("nt"), size(array_distinct(toks)).as("nd"),
          length(col("text")).as("ch"),
          arrays_overlap(toks, array(enStop.map(lit): _*)).as("has_stop"))
        .filter(col("nt") >= 20 && col("nd") * 3 >= col("nt") &&
          col("has_stop") && col("ch") * 10 <= col("nt") * 55)
        .select("doc_id", "text", "nt")
      val reps = quality
        .groupBy(md5(concat_ws(" ", slice(split(col("text"), " "), 1, 3))).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val deduped = quality.join(reps, "doc_id")
      val cleaned = Dedup.spanDedupClean(deduped, "doc_id", "text", w = 8)
      def stage(name: String, df: org.apache.spark.sql.DataFrame,
                tokCol: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_docs"),
            sum(tokCol).cast("long").as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage("0_raw", d.select(size(toks).as("nt")), col("nt"))
        .unionByName(stage("1_quality", quality, col("nt")))
        .unionByName(stage("2_dedup", deduped, col("nt")))
        .unionByName(stage("3_spanclean", cleaned, col("n_kept")))
        .orderBy("stage")
    },

    // Chunk-level dedup over t24's fingerprints: a chunk is duplicated
    // when its md5 occurs in ≥ 2 documents (within-doc repeats don't
    // count — same convention as t18's span index, one level coarser).
    // Per doc: chunk counts and the duplicated fraction — the signal a
    // RAG ingest thresholds on before embedding redundant chunks. One
    // shuffle on the 16-byte fingerprint; the chunk text never moves.
    "t29_chunk_dedup" -> { (s, dir) =>
      val chunkLen = 32
      val stride = 24
      val chunks = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("tk")) - 1, lit(stride))).as("st"),
          col("tk"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("tk"), col("st") + 1, lit(chunkLen))))
            .as("chunk_md5"))
      val dup = chunks.groupBy("chunk_md5")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select("chunk_md5")
      chunks.join(dup, Seq("chunk_md5"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
        .join(chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
          round(coalesce(col("n_dup_chunks"), lit(0L)).cast("double") /
            col("n_chunks"), 4).as("dup_frac"))
        .orderBy("doc_id")
    },

    // Repetition-aware quality RULES (the Gopher §A.1 rule family — Rae
    // et al. 2021: length bounds, mean-word-length bounds, top-token
    // share, duplicate-token fraction). Distinct from t02/t20's
    // ratio-threshold scoring in that the discriminating signals here
    // need the per-doc token HISTOGRAM (top-token share is the
    // "most-common-word > x%" repetition rule; t11 measures window-level
    // repetition, this is the instance-level rule). Every threshold is an
    // integer cross-multiplication — `10·top ≤ nt`, never `top/nt ≤ 0.1`
    // — so the verdicts are hash-exact with no float boundary. One
    // (doc, tok) shuffle for the histogram, one doc-level aggregate, then
    // map-only flag arithmetic.
    "t30_gopher_rules" -> { (s, dir) =>
      val hist = docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("nt"), count(lit(1)).as("nd"),
          max(col("n")).as("top_tok_n"))
      val chars = docs(s, dir)
        .select(col("doc_id"),
          length(translate(col("text"), " ", "")).as("wc"))
      hist.join(chars, "doc_id")
        .select(col("doc_id"), col("nt").as("n_tokens"),
          col("top_tok_n"),
          // mean word length outside [3, 10] chars
          (col("wc") < lit(3) * col("nt") ||
           col("wc") > lit(10) * col("nt")).as("flag_word_len"),
          // token count outside [30, 1500]
          (col("nt") < 30 || col("nt") > 1500).as("flag_doc_len"),
          // most-common token carries > 20% of instances
          (lit(5) * col("top_tok_n") > col("nt")).as("flag_top_share"),
          // > 95% of instances are repeats of an earlier type
          (lit(20) * (col("nt") - col("nd")) > lit(19) * col("nt"))
            .as("flag_dup_frac"))
        .withColumn("keep",
          !col("flag_word_len") && !col("flag_doc_len") &&
          !col("flag_top_share") && !col("flag_dup_frac"))
        .orderBy("doc_id")
    },

    // Mixture/budget reweighting (the data-mixing step of corpus
    // assembly — given a token budget and per-source target shares,
    // derive each source's sampling rate and expected contribution;
    // DoReMi-style learned weights would land in `target_ppm` the same
    // way). Targets here are uniform across sources. Rates are parts-per-
    // million INTEGERS (exact div), oversampled sources report epochs in
    // integer hundredths — no float in any emitted column, so the report
    // is hash-exact. Cost: one scan + an aggregate over |sources| rows;
    // the broadcast total is a single-row cross join (the established
    // scalar idiom, q10/t22).
    "t31_mixture_weights" -> { (s, dir) =>
      val budget = 1000000L // token budget for the assembled mix
      val perSrc = docs(s, dir)
        .select(col("source"), size(split(col("text"), " ")).as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val nSrc = perSrc.agg(count(lit(1)).as("n_sources"))
      perSrc.crossJoin(broadcast(nSrc))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          // target tokens per source under the uniform mixture
          call_function("div", lit(budget), col("n_sources")).as("target_tokens"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("target_tokens"),
          // sampling rate in ppm, capped at 1.0 (downsample-only sources)
          least(lit(1000000L),
            call_function("div", col("target_tokens") * 1000000L, col("n_tokens")))
            .as("rate_ppm"),
          // epochs over the source in hundredths (≥ 100 ⇒ upsampling)
          call_function("div", col("target_tokens") * 100L, col("n_tokens"))
            .as("epochs_x100"))
        .withColumn("sampled_tokens",
          call_function("div", col("n_tokens") * col("rate_ppm"), lit(1000000L)))
        .orderBy("source")
    },

    // Bigram-LM quality scoring — the CCNet/KenLM perplexity-filter SHAPE
    // in exact fixed-point: train Laplace-smoothed bigram probabilities on
    // the corpus itself, score each document by its mean bigram
    // probability (low mean ⇒ token sequences the corpus LM finds
    // improbable ⇒ the perplexity-style quality signal, inverted). No
    // libm log anywhere: each bigram's smoothed probability is ONE floor
    // division of exact integers scaled to 1e-9 units —
    // (c2+1)·1e9 div (c1+V) — and the doc score is an integer sum with a
    // terminal rounded division, so the report hash-matches a sequential
    // oracle. Headroom: the (c2+1)·scale product needs bigram counts
    // < 2^63/scale ≈ 9.2e9 (past that the session's ANSI mode fails the
    // job loudly, never silently); a trillion-token corpus whose top
    // bigrams exceed that runs the same plan at a lower scale (1e6 still
    // gives 6 exact digits with 9.2e12-count headroom).
    // Scale shape: one tokenize pass feeds instances; counts are
    // two partial aggregates (bigram key, unigram key); the per-doc join
    // works on the AGGREGATED (doc,bigram) rows, never re-exploding; V is
    // the broadcast single-row scalar idiom.
    "t32_bigram_lm" -> { (s, dir) =>
      val scale = 1000000000L
      val tk = docs(s, dir).select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("t"))
      // ONE tokenize+explode pass: the corpus-level bigram count (n2) and
      // the bigram-start count (n1) are WINDOW sums over the per-doc
      // aggregate — three separate groupBys over `bg` would re-tokenize
      // the corpus once each (t16's df-over-window lesson; measured 4
      // parquet scans → 2). The w1 window rides the (w1,w2) exchange's
      // prefix ordering at 100 TB just as it does here.
      import org.apache.spark.sql.expressions.Window
      val bg = tk.filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1), " +
            "(a, b) -> struct(a AS w1, b AS w2))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val docBg = bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("n"))
        .withColumn("n2", sum(col("n")).over(Window.partitionBy("w1", "w2")))
        .withColumn("n1", sum(col("n")).over(Window.partitionBy("w1")))
      val vocab = tk.select(explode(col("t")).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      docBg
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("n"),
          call_function("div", (col("n2") + 1) * scale, col("n1") + col("v"))
            .as("p"))
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("p")).as("sum_scaled"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_scaled"),
          round(col("sum_scaled").cast("double") / col("n_bigrams")
            / scale.toDouble, 8).as("mean_p"))
        .orderBy("doc_id")
    },

    // Tokenizer-fertility audit per (lang, source) — the budget-planning
    // numbers a multilingual mix needs before training: subword pieces
    // per whitespace word (fertility — t05's BPE-shaped segmenter over
    // t01's word count) and bytes per word (how much raw storage a token
    // budget buys per language). High-fertility slices cost more compute
    // per word; both ratios are integer-hundredths (floor div, zero-token
    // groups guarded by greatest(,1) identically in both engines), so the
    // report is hash-exact. One scan, one aggregate.
    "t33_tokenizer_fertility" -> { (s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("source"),
          size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long")
            .as("nt"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("np"),
          octet_length(col("text")).cast("long").as("nb"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("np")).as("n_pieces"), sum(col("nb")).as("n_bytes"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
          col("n_pieces"), col("n_bytes"),
          call_function("div", col("n_pieces") * 100,
            greatest(col("n_tokens"), lit(1L))).as("fertility_x100"),
          call_function("div", col("n_bytes") * 100,
            greatest(col("n_tokens"), lit(1L))).as("bytes_per_tok_x100"))
        .orderBy("lang", "source")
    },

    // DSIR-shaped importance weighting (Data Selection via Importance
    // Resampling): score every document by how target-like its hashed
    // unigram distribution is — the standard cheap alternative to a
    // trained quality classifier when composing a pretraining mix toward
    // a target domain (here: the English slice). Exact fixed-point form
    // of the log-likelihood-ratio family: per hash bucket b, smoothed
    // PPM RATES first, then their ratio —
    //   rt(b) = ((ct_tgt(b)+1)·1e6) div (N_tgt+B)
    //   rr(b) = ((ct_raw(b)+1)·1e6) div (N_raw+B)
    //   lr(b) = (rt·1e4) div max(rr, 1)
    // (two bounded floor divisions, no libm log, so the oracle replays it
    // bit-exactly), and weight(doc) = Σ_tok lr(bucket(tok)). The
    // rate-first factoring is the OVERFLOW bound (review finding: the
    // single-division form multiplies per-bucket count × corpus tokens ×
    // scale and wraps Long near a 1e9-token corpus): here every product
    // is ≤ (N+1)·1e6, safe to ~9.2e12 tokens (≈ 40 PB of text), and
    // rt·1e4 ≤ 1e10. Buckets are the first 8 md5 hex chars mod B=1024 —
    // the engines' shared hash (t24's md5 idiom). Scale shape: ONE
    // shuffle builds the B-row bucket-stat table with target and raw
    // counts in the same pass; totals ride a broadcast single-row
    // crossJoin (q35 idiom); the tiny lr table broadcasts into the
    // per-(doc,bucket) aggregate. The exploded-token frame feeds both
    // passes: persisted for the call's scope, released after the bounded
    // report is collected.
    "t34_dsir_weights" -> { (s, dir) =>
      val B = 1024L
      val RS = 1000000L
      val S = 10000L
      val tb = docs(s, dir)
        .select(col("doc_id"), col("lang"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .withColumn("b",
          conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % B)
        .persist()
      val stats = tb.groupBy("b").agg(
        count(lit(1)).as("ct_r"),
        count(when(col("lang") === "en", 1)).as("ct_t"))
      val tot = stats.agg(sum(col("ct_r")).as("nr"), sum(col("ct_t")).as("nt"))
      val lr = stats.crossJoin(broadcast(tot))
        .select(col("b"),
          call_function("div", (col("ct_t") + 1) * RS, col("nt") + B).as("rt"),
          call_function("div", (col("ct_r") + 1) * RS, col("nr") + B).as("rr"))
        .select(col("b"), call_function("div",
          col("rt") * S, greatest(col("rr"), lit(1L))).as("lr"))
      val docB = tb.groupBy("doc_id", "lang", "source", "b")
        .agg(count(lit(1)).as("c"))
      val w = docB.join(broadcast(lr), Seq("b"))
        .groupBy("doc_id", "lang", "source")
        .agg(sum(col("c") * col("lr")).as("w"))
      val out = w.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sum_w"),
          min(col("w")).as("min_w"), max(col("w")).as("max_w"))
        .orderBy("lang", "source")
      val rows = out.collect().toSeq
      tb.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // BM25 lexical retrieval over an inverted-postings shape — the
    // retriever leg v18's fusion abstracts as "rank_a". Okapi BM25 with
    // k1 = 1.2, b = 0.75, and the RATIONAL idf core
    // (N - df + 0.5)/(df + 0.5) — BM25's idf without the log wrapper.
    // Per TERM, log's monotonicity makes the two idfs order-identical;
    // a multi-term SUM of rational-idf contributions, however, weights
    // rare terms more steeply than summed log-idf would, so multi-term
    // top-k deliberately diverges from log-idf Okapi ranking. That is
    // the trade: every arithmetic step stays an IEEE +,-,*,/ that Spark
    // and DuckDB round identically (the t21 no-libm discipline; log's
    // last-ulp divergence across engines would break hash parity), at
    // the price of a rare-term-heavier ranking variant. Determinism
    // under distributed summation: each per-term contribution is scaled
    // to a fixed-point LONG (floor(c·1e6)) before the per-(query, doc)
    // sum, so the aggregate is exact integer addition — order-free —
    // and the output carries the scaled long itself.
    //
    // Scale shape: the query set broadcasts; postings ⋈ broadcast(qterms)
    // prunes the corpus to query-term postings MAP-SIDE (the inverted-
    // index probe — no full-corpus shuffle); df over the hits and the
    // 1-row corpus stats broadcast back; the only shuffles are the tf/dl
    // aggregates (map-side partials) and the hits ⋈ dl doc-length join,
    // all keyed on doc_id/token. Top-k per query rides the bounded-heap
    // TopK (no per-query global sort). The returned frame is bound to
    // the docs-measured width, so it runs there whenever the caller acts.
    "t37_bm25" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val qterms = Bm25Queries.toDF("qid", "qtext")
        .select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      val agg = bm25Scores(s, dir, qterms, excludeSelf = false)
      docsSized(s, dir, graft.plans.TopK.perKey(agg, Seq("qid"),
          Seq("score_scaled" -> false, "doc_id" -> true), 5)
        .withColumn("rank", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("score_scaled").desc, col("doc_id"))))
        .select(col("qid"), col("rank"), col("doc_id"),
          col("score_scaled"), col("n_terms"))
        .orderBy("qid", "rank"))
    },

    // Incremental lexical-index maintenance, certified: the standing
    // postings index (even doc_ids — d06's daily-ingest framing, pmod so
    // any id domain partitions) folds the odd-id delta via
    // Postings.foldDocs — |Δ| tokenization + compact-frame pass-throughs,
    // never a corpus re-tokenization — and the t37 workload is served
    // from the FOLDED index. The oracle replays the full rebuild (it
    // never sees the split), so hash equality certifies fold ≡ rebuild:
    // the d13/q79 pattern at the lexical layer. LexTieredStream is the
    // streaming twin.
    "t38_incremental_bm25" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      // build, fold and probe all start from the docs: bound, they run at
      // the docs-measured width
      val d = docsSized(s, dir, docs(s, dir))
      // ONE failure sweep around build + fold (the q78 lesson): a throw
      // mid-fold cannot strand the standing or delta frames
      val folded = graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext) {
        val standing = graft.operators.Postings.build(
          d.filter(pmod(col("doc_id"), lit(2)) === 0))
        // foldDocs materializes the folded frames, so the standing index is
        // releasable the moment it returns (the foldEdges ownership contract)
        try graft.operators.Postings.foldDocs(standing,
          d.filter(pmod(col("doc_id"), lit(2)) =!= 0))
        finally standing.release()
      }
      try {
        val qterms = Bm25Queries.toDF("qid", "qtext")
          .select(col("qid"),
            explode(array_distinct(split(col("qtext"), " "))).as("tok"))
        val agg = bm25ScoresOverIndex(folded, qterms, excludeSelf = false)
        val out = graft.plans.TopK.perKey(agg, Seq("qid"),
            Seq("score_scaled" -> false, "doc_id" -> true), 5)
          .withColumn("rank", row_number().over(
            Window.partitionBy("qid")
              .orderBy(col("score_scaled").desc, col("doc_id"))))
          .select(col("qid"), col("rank"), col("doc_id"),
            col("score_scaled"), col("n_terms"))
          .orderBy("qid", "rank")
        val rows = out.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally folded.release()
    },

    // Retrieval-quality audit of the FOLD-SERVED index — v09's pattern at
    // the lexical layer (r11 verdict ask): recall@5 of the t38 path
    // (standing build + |Δ| fold) against the t37 scratch ranking,
    // matched on (rank, doc_id, score) — rank-exact serving, not just
    // doc overlap. The oracle replays the from-scratch ranking for BOTH
    // legs, so hash equality certifies the fold-served leg equals a
    // DuckDB full rebuild, with the integer n_hits verdict carried in
    // the row (a fold divergence shows up as n_hits < k AND a hash
    // mismatch — belt and suspenders).
    "t39_bm25_fold_recall" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val d = docsSized(s, dir, docs(s, dir))
      val qterms = Bm25Queries.toDF("qid", "qtext")
        .select(col("qid"),
          explode(array_distinct(split(col("qtext"), " "))).as("tok"))
      def top5(agg: org.apache.spark.sql.DataFrame) =
        graft.plans.TopK.perKey(agg, Seq("qid"),
            Seq("score_scaled" -> false, "doc_id" -> true), 5)
          .withColumn("rank", row_number().over(
            Window.partitionBy("qid")
              .orderBy(col("score_scaled").desc, col("doc_id"))))
          .select(col("qid"), col("rank"), col("doc_id"), col("score_scaled"))
      val folded = graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext) {
        val standing = graft.operators.Postings.build(
          d.filter(pmod(col("doc_id"), lit(2)) === 0))
        try graft.operators.Postings.foldDocs(standing,
          d.filter(pmod(col("doc_id"), lit(2)) =!= 0))
        finally standing.release()
      }
      try {
        val served = top5(bm25ScoresOverIndex(folded, qterms, excludeSelf = false))
        val scratch = top5(bm25Scores(s, dir, qterms, excludeSelf = false))
        // the audit join starts from the scratch leg, so it is bound too
        val out = docsSized(s, dir, scratch).as("b").join(served.as("a"),
            col("a.qid") === col("b.qid") && col("a.rank") === col("b.rank") &&
              col("a.doc_id") === col("b.doc_id") &&
              col("a.score_scaled") === col("b.score_scaled"), "left")
          .groupBy(col("b.qid").as("qid"))
          .agg(count(lit(1)).as("k"),
            sum(when(col("a.doc_id").isNull, 0L).otherwise(1L)).as("n_hits"))
          .select(col("qid"), col("k"), col("n_hits"),
            round(col("n_hits").cast("double") / col("k"), 4).as("recall"))
          .orderBy("qid")
        val rows = out.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
      } finally folded.release()
    },

    // Tiered (L0/L1) epoch-roll identity for the LEXICAL family — q81/v27's
    // pattern at the retrieval layer, with the semantics only this family
    // has: cross-tier document EDITS and DELETES. Batches 0–3 split the
    // corpus by doc_id % 4 (bootstrap L1 at 0, minors 1–2, the L1 major at
    // 3); batch 4 RE-INGESTS doc_id % 16 = 0 with upper-cased text (an
    // edit — new tokens shadow the L1 postings) and doc_id % 16 = 8 with
    // empty text (a delete — the L0 tombstone row retracts the standing
    // doc), so the merged read resolves last-writer-wins ACROSS tiers.
    // Then the t37-shaped BM25 top-5 over the merged view. The oracle
    // rebuilds from scratch over the EFFECTIVE corpus (CASE-edited text,
    // deleted docs absent), so hash equality certifies the whole tiered
    // lifecycle — minors, major, tombstones, LWW merge, closed-form
    // nDocs/sumDl — against a full rebuild. Fresh roll per call into a
    // temp root (the t38/q81/v27 convention).
    "t40_tiered_bm25" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val d = docs(s, dir)
      val root = java.nio.file.Files.createTempDirectory("t40_tiered").toString
      // the outer try spans the FOLDS too (review catch, the q81/q82 scope)
      try {
        (0 until 4).foreach { i =>
          graft.streaming.LexTieredStream.foldBatch(
            d.filter(pmod(col("doc_id"), lit(4)) === i), root,
            batchId = i.toLong, majorEvery = 3)
        }
        val edits = d.filter(pmod(col("doc_id"), lit(16)).isin(0L, 8L))
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(16)) === 0, upper(col("text")))
              .otherwise(lit("")).as("text"))
        graft.streaming.LexTieredStream.foldBatch(edits, root,
          batchId = 4L, majorEvery = 3)
        val view = graft.streaming.LexTieredStream.loadCurrent(s, root)
          .getOrElse(sys.error("tiered lex roll committed nothing"))
        try {
          // the probe's shuffles are query-hits-sized (bounded by the
          // corpus): they start from the view's postings, bound to the
          // width of the view's OWN measured doc count (free off the L1
          // meta stats) — the LexTieredStream fold sizing on the read path
          val idx = view.index
          val qterms = Bm25Queries.toDF("qid", "qtext")
            .select(col("qid"),
              explode(array_distinct(split(col("qtext"), " "))).as("tok"))
          val agg = bm25ScoresOverIndex(idx.copy(tf = Checkpoints.sized(idx.tf,
            idx.nDocs, rowsPerPartition = 5000L)), qterms, excludeSelf = false)
          val out = graft.plans.TopK.perKey(agg, Seq("qid"),
              Seq("score_scaled" -> false, "doc_id" -> true), 5)
            .withColumn("rank", row_number().over(
              Window.partitionBy("qid")
                .orderBy(col("score_scaled").desc, col("doc_id"))))
            .select(col("qid"), col("rank"), col("doc_id"),
              col("score_scaled"), col("n_terms"))
            .orderBy("qid", "rank")
          val rows = out.collect().toSeq
          s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
        } finally view.release()
      } finally graft.io.TempRoots.delete(root)
    }
  )

  /** BM25 scoring core shared by t37 (literal query workload) and v23
    * (query-by-document hybrid), served from the session/durable
    * POSTINGS index — (qid, doc_id, score_scaled, n_terms) for every
    * document matching ≥1 query term. `qterms` is the small (qid, tok)
    * query frame — broadcast against the postings so the corpus prunes
    * map-side; `excludeSelf` drops doc_id = qid hits for
    * query-by-document workloads. Arithmetic contract documented at the
    * t37 entry (rational idf, fixed-point floor, exact long sums). */
  private[graft] def bm25Scores(s: SparkSession, dir: String,
                                qterms: DataFrame,
                                excludeSelf: Boolean): DataFrame =
    bm25ScoresOverIndex(corpusPostingsIndex(s, dir), qterms, excludeSelf)

  /** [[bm25Scores]] against a caller-owned [[Postings.Index]] (the
    * build/probe split: the tokenize + corpus aggregates live in the
    * index build; a probe pays only query-term postings work). The
    * measured stats enter the plan as literals — `sumDl.toDouble/nDocs`
    * is the same long→double conversion + one IEEE division the in-plan
    * aggregate form computed, so hashes are unchanged. */
  private[graft] def bm25ScoresOverIndex(idx: graft.operators.Postings.Index,
                                         qterms: DataFrame,
                                         excludeSelf: Boolean): DataFrame = {
    val hits0 = idx.tf.join(broadcast(qterms), Seq("tok"))
    val hits = if (excludeSelf) hits0.filter(col("doc_id") =!= col("qid"))
               else hits0
    // df counts every document containing the term — self included, like
    // any standing index (the df aggregate runs on the unexcluded hits)
    val dfq = hits0.select("tok", "doc_id").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    hits
      .join(idx.dl, Seq("doc_id"))
      .join(broadcast(dfq), Seq("tok"))
      .withColumn("idf",
        (lit(idx.nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("c",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") / lit(idx.sumDl.toDouble / idx.nDocs))))
      .withColumn("cs", floor(col("c") * lit(1e6)).cast("long"))
      .groupBy("qid", "doc_id")
      .agg(sum(col("cs")).as("score_scaled"), count(lit(1)).as("n_terms"))
  }

  // One postings index per (session, dir) over the FULL corpus — the
  // t37/v23 retrieval probes ride it; build once per corpus version, at
  // the docs-measured width, durable under spark.graft.indexDir
  // (signature/IVF lifecycle).
  private[graft] def corpusPostingsIndex(s: SparkSession, dir: String)
      : graft.operators.Postings.Index =
    SessionIndexes.get(s, "postings", dir, "postings")(
      graft.operators.IndexStore.fromConf(s, graft.operators.IndexStore.postings,
        "postings", s"$dir/documents.parquet")(
        graft.operators.Postings.build(docsSized(s, dir, docs(s, dir)))))(_.release())

  /** Build AND materialize the postings index for (session, dir) — Bench
    * times it with the other index builds so t37/v23 report probe cost. */
  def preparePostingsIndex(s: SparkSession, dir: String): Unit = {
    val idx = corpusPostingsIndex(s, dir)
    idx.tf.count()
    idx.dl.count()
    ()
  }

  /** Drop cached postings indexes of `s` and release their persisted
    * frames — session-teardown hygiene. */
  def releasePostingsIndexes(s: SparkSession): Unit = SessionIndexes.release(s, "postings")

  /** t37's fixed query workload — multi-term queries over the corpus
    * vocabulary, embedded as a VALUES list in the oracle. */
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "hash join table"),
    (2L, "slow scan filter"),
    (3L, "stream window batch"),
    (4L, "customer order line"))

  /** Full-corpus-rebuild BM25 replay of the [[Bm25Queries]] workload —
    * the shared oracle of t37 (direct), t38 (engine serves the same
    * workload from an incrementally FOLDED postings index, so hash
    * equality certifies fold ≡ rebuild) and t39 (the same certification
    * carried as a per-query integer recall verdict). [[bm25WorkloadCtes]]
    * is the chain up to the ranked `r`; the two tails differ. */
  private lazy val bm25WorkloadOracle: String =
    s"""${bm25WorkloadCtes()}
      |SELECT qid, rank, doc_id, score_scaled, n_terms
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** t39's tail: the scratch top-5 self-joined on every ranked field —
    * the oracle's two legs are both the rebuild, so its n_hits is k by
    * construction; the ENGINE's fold-served leg has to match it through
    * the hash compare. */
  private lazy val bm25FoldRecallOracle: String =
    s"""${bm25WorkloadCtes()},
      |  top5 AS (SELECT qid, rank, doc_id, score_scaled FROM r
      |           WHERE rank <= 5)
      |SELECT b.qid, count(*) AS k,
      |  CAST(sum(CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |    AS n_hits,
      |  round(sum(CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END)
      |          / CAST(count(*) AS DOUBLE), 4) AS recall
      |FROM top5 b LEFT JOIN top5 a
      |  ON a.qid = b.qid AND a.rank = b.rank AND a.doc_id = b.doc_id
      |     AND a.score_scaled = b.score_scaled
      |GROUP BY b.qid
      |ORDER BY b.qid""".stripMargin

  /** t40's effective corpus: the batch-4 re-ingest applied in SQL —
    * doc_id % 16 = 0 carries its upper-cased edit, doc_id % 16 = 8 is
    * deleted (edited to empty = retracted). The tiered engine path must
    * reproduce a from-scratch rebuild of exactly this corpus. */
  private lazy val tieredBm25Oracle: String =
    s"""${bm25WorkloadCtes(
           """(SELECT doc_id,
             |             CASE WHEN doc_id % 16 = 0 THEN upper(text)
             |                  ELSE text END AS text
             |           FROM documents WHERE doc_id % 16 <> 8)""".stripMargin)}
      |SELECT qid, rank, doc_id, score_scaled, n_terms
      |FROM r WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  private def bm25WorkloadCtes(source: String = "documents"): String = {
    val vals = Bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |           FROM $source),
      |  tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
      |         WHERE tok <> '' GROUP BY doc_id, tok),
      |  dl AS (SELECT doc_id, count(*) AS dl FROM t
      |         WHERE tok <> '' GROUP BY doc_id),
      |  st AS (SELECT count(*) AS n_docs,
      |           CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |  q(qid, qtext) AS (VALUES $vals),
      |  qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS tok
      |         FROM q),
      |  dfq AS (SELECT tok, count(*) AS df FROM tf
      |          WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
      |  sc AS (SELECT qt.qid, tf.doc_id,
      |           CAST(floor(
      |             ((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
      |             (tf.tf * 2.2) /
      |             (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) *
      |             1000000.0) AS BIGINT) AS cs
      |         FROM tf JOIN qt USING (tok) JOIN dfq USING (tok)
      |           JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
      |  agg AS (SELECT qid, doc_id,
      |            CAST(sum(cs) AS BIGINT) AS score_scaled,
      |            count(*) AS n_terms
      |          FROM sc GROUP BY qid, doc_id),
      |  r AS (SELECT *, row_number() OVER
      |          (PARTITION BY qid ORDER BY score_scaled DESC, doc_id)
      |          AS rank
      |        FROM agg)""".stripMargin
  }

  /** Count-min sketch geometry: d=4 pairwise-independent row hashes over
    * w=1024 buckets (ε ≈ e/w ≈ 0.27% of total mass, δ ≈ e⁻⁴). Row hashes
    * are universal mixes `((h1·r + h2·s) mod HashP3) mod w` of the two
    * prime-field token hashes — same family as the SimHash bit mixers,
    * deterministic seed, embedded as literals in the t15 oracle. */
  private[graft] val cmsWidth = 1024
  private[graft] val cmsMixers: IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(515L)
    IndexedSeq.fill(4)(
      ((1 + rng.nextInt(Int.MaxValue - 1)).toLong,
       (1 + rng.nextInt(Int.MaxValue - 1)).toLong))
  }

  /** DuckDB twin of d04 — recomputes the full SimHash pipeline in SQL:
    * per-token prime-field Horner hashes via closed-form polynomial sums
    * (char codepoints × a 31^k / 131^k power table built by a recursive
    * CTE), 64 pairwise-independent bits from the universal double-hash
    * `parity((h1·r_i + h2·s_i) mod HashP3)` with the engine's
    * simhashBitMixers constants embedded as a literal table,
    * token-multiplicity votes, signed-bit reassembly, then brute-force
    * all-pairs Hamming ≤ 3. DedupSpec proves the Spark banded pair set
    * equals brute force, so the oracle may brute-force. Bit 63 maps to
    * BIGINT's sign bit (-2⁶³), reproducing the JVM signed long exactly. */
  /** Brute-force all-pairs 3-shingle Jaccard at 0.8 — the exact semantics
    * d03's LSH-accelerated form must reproduce, and (because every pair
    * surfaces exactly once across the tiered roll's batches) d14's
    * certificate verbatim. DuckDB shingles via list comprehension over
    * 1-based inclusive slices: i in [1, len-2] → w[i:i+2] is the 3-token
    * window. len(w) >= 3 guards the empty-shingle case (0/0 is NaN in
    * DuckDB, and NaN >= 0.8 is TRUE in its total order — without the
    * guard, token-less docs would pair with each other). */
  private val d03Oracle: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |           FROM documents),
      |     s AS (SELECT doc_id,
      |             list_distinct([array_to_string(w[i:i+2], ' ')
      |                            for i in range(1, len(w) - 1)]) AS s
      |           FROM w WHERE len(w) >= 3)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.s, b.s)) /
      |        CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 4) AS jaccard
      |FROM s a JOIN s b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.s, b.s)) /
      |      CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val d04Oracle: String = {
    val mixerRows = simhashBitMixers.zipWithIndex
      .map { case ((r, s), i) => s"($i, $r, $s)" }
      .mkString(",\n        ")
    s"""WITH RECURSIVE
       |  d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
       |  mix AS (SELECT * FROM (VALUES
       |        $mixerRows) AS m(i, r, s)),
       |  toks AS (SELECT id, unnest(list_filter(
       |             string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tok
       |           FROM d),
       |  tokc AS (SELECT id, tok, count(*) AS cnt FROM toks GROUP BY id, tok),
       |  tdist AS (SELECT DISTINCT tok FROM toks),
       |  ml AS (SELECT max(length(tok)) AS m FROM tdist),
       |  powt(i, a, b) AS (
       |    SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
       |    UNION ALL
       |    SELECT i + 1, (a * 31) % $HashP1, (b * 131) % $HashP2
       |    FROM powt WHERE i + 1 < (SELECT m FROM ml)),
       |  chars AS (SELECT t.tok, p.i AS j, ord(substr(t.tok, p.i + 1, 1)) AS cp
       |            FROM tdist t JOIN powt p ON p.i < length(t.tok)),
       |  th AS (SELECT c.tok,
       |           CAST(sum(c.cp * pw.a) % $HashP1 AS BIGINT) AS h1,
       |           CAST(sum(c.cp * pw.b) % $HashP2 AS BIGINT) AS h2
       |         FROM chars c JOIN powt pw ON pw.i = length(c.tok) - 1 - c.j
       |         GROUP BY c.tok),
       |  bits AS (SELECT tc.id, m.i,
       |             sum(CASE WHEN ((th.h1 * m.r + th.h2 * m.s) % $HashP3) % 2 = 1
       |                      THEN tc.cnt ELSE -tc.cnt END) AS votes
       |           FROM tokc tc JOIN th ON th.tok = tc.tok
       |           CROSS JOIN mix m
       |           GROUP BY tc.id, m.i),
       |  sig AS (SELECT id,
       |            CAST(sum(CASE WHEN votes > 0 THEN
       |                   CASE WHEN i = 63 THEN -9223372036854775808
       |                        ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END
       |                 ELSE 0 END) AS BIGINT) AS sh
       |          FROM bits GROUP BY id)
       |SELECT a.id AS doc_a, b.id AS doc_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.id < b.id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Shared DuckDB replay of the near-dup cluster resolution (brute-force
    * exact-Jaccard pairs at 0.8 → undirected edges → recursive label walk
    * → min-label components) — the oracle-side twin of the cluster-label
    * index d05/d08/t23 probe. */
  private val dupClusterCtes: String =
    """WITH RECURSIVE
      |  w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |        FROM documents),
      |  s AS (SELECT doc_id,
      |          list_distinct([array_to_string(w[i:i+2], ' ')
      |                         for i in range(1, len(w) - 1)]) AS s
      |        FROM w WHERE len(w) >= 3),
      |  p AS (SELECT CAST(a.doc_id AS BIGINT) AS ia,
      |               CAST(b.doc_id AS BIGINT) AS ib
      |        FROM s a JOIN s b ON a.doc_id < b.doc_id
      |        WHERE len(list_intersect(a.s, b.s)) /
      |              CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
      |  e AS (SELECT ia AS src, ib AS dst FROM p
      |        UNION SELECT ib, ia FROM p),
      |  walk(id, lbl) AS (
      |    SELECT src, src FROM e
      |    UNION
      |    SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id),
      |  cc AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id)""".stripMargin

  /** DuckDB twin of t15 — replays the whole count-min sketch in SQL: the
    * same token counts, the same two closed-form polynomial token hashes
    * (the d04Oracle power-table construction), the engine's cmsMixers as a
    * literal table, bucket sums as the sketch, min-over-rows as the
    * estimate. Hash-exact because every stage is integer arithmetic in a
    * prime field. */
  private lazy val t15Oracle: String = {
    val mixerRows = cmsMixers.zipWithIndex
      .map { case ((r, s), i) => s"($i, $r, $s)" }.mkString(", ")
    s"""WITH RECURSIVE
       |  mix AS (SELECT * FROM (VALUES $mixerRows) AS m(i, r, s)),
       |  toks AS (SELECT unnest(string_split(text, ' ')) AS tok
       |           FROM documents),
       |  tokc AS (SELECT tok, count(*) AS exact_n FROM toks
       |           WHERE tok <> '' GROUP BY tok),
       |  ml AS (SELECT max(length(tok)) AS m FROM tokc),
       |  powt(i, a, b) AS (
       |    SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
       |    UNION ALL
       |    SELECT i + 1, (a * 31) % $HashP1, (b * 131) % $HashP2
       |    FROM powt WHERE i + 1 < (SELECT m FROM ml)),
       |  chars AS (SELECT t.tok, p.i AS j, ord(substr(t.tok, p.i + 1, 1)) AS cp
       |            FROM tokc t JOIN powt p ON p.i < length(t.tok)),
       |  th AS (SELECT c.tok,
       |           CAST(sum(c.cp * pw.a) % $HashP1 AS BIGINT) AS h1,
       |           CAST(sum(c.cp * pw.b) % $HashP2 AS BIGINT) AS h2
       |         FROM chars c JOIN powt pw ON pw.i = length(c.tok) - 1 - c.j
       |         GROUP BY c.tok),
       |  tb AS (SELECT tc.tok, tc.exact_n, m.i,
       |           ((th.h1 * m.r + th.h2 * m.s) % $HashP3) % $cmsWidth AS bucket
       |         FROM tokc tc JOIN th ON th.tok = tc.tok CROSS JOIN mix m),
       |  sketch AS (SELECT i, bucket, sum(exact_n) AS bn
       |             FROM tb GROUP BY i, bucket),
       |  top AS (SELECT tok, exact_n FROM tokc
       |          ORDER BY exact_n DESC, tok LIMIT 20)
       |SELECT t.tok, t.exact_n, CAST(min(s.bn) AS BIGINT) AS est_n
       |FROM top t
       |JOIN tb ON tb.tok = t.tok
       |JOIN sketch s ON s.i = tb.i AND s.bucket = tb.bucket
       |GROUP BY t.tok, t.exact_n
       |ORDER BY t.exact_n DESC, t.tok""".stripMargin
  }

  // t35/t36: per-merge unrolled CTEs — b{r} picks round r's merge (count
  // DESC, pair ASC over the double-space pair string), w{r} applies it
  // with ONE literal replace on the invariant representation. The word
  // column rides along so the encoder oracle can join the trained
  // segmentation back to the corpus. Generated from the same K the Spark
  // side uses (BpeMerges).
  private def bpeCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""  b$r AS MATERIALIZED (
         |    SELECT pair, cnt FROM (
         |      SELECT pair, CAST(sum(n) AS BIGINT) AS cnt FROM (
         |        SELECT n, unnest(list_transform(range(1, len(sy)),
         |          i -> sy[i] || '  ' || sy[i+1])) AS pair
         |        FROM (SELECT n, string_split(trim(repr), '  ') AS sy
         |              FROM w${r - 1}))
         |      GROUP BY pair)
         |    ORDER BY cnt DESC, pair LIMIT 1),
         |  w$r AS MATERIALIZED (
         |    SELECT w.w,
         |           replace(w.repr, ' ' || b.pair || ' ',
         |                   ' ' || replace(b.pair, '  ', '') || ' ') AS repr,
         |           w.n
         |    FROM w${r - 1} w, b$r b),""".stripMargin
    }.mkString("\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w,
       |         ' ' || array_to_string(regexp_extract_all(w, '[\\s\\S]'), '  ')
       |           || ' ' AS repr,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |$rounds""".stripMargin
  }

  // NB: bpeCtes' output contains '||' concatenations — never re-interpolate
  // it into another .stripMargin string (the second strip eats one pipe);
  // concatenate the pre-stripped pieces instead.
  private def t35Oracle(k: Int): String = {
    val fin = (1 to k).map { r =>
      s"""SELECT $r AS rank, string_split(pair, '  ')[1] AS pa,
         |      string_split(pair, '  ')[2] AS pb,
         |      replace(pair, '  ', '') AS merged, cnt AS n FROM b$r""".stripMargin
    }.mkString("\n  UNION ALL ")
    bpeCtes(k) + "\n" +
      s"""  fin AS ($fin)
         |SELECT rank, pa, pb, merged, n FROM fin ORDER BY rank""".stripMargin
  }

  private def t36Oracle(k: Int): String =
    bpeCtes(k) + "\n" +
      s"""  vocab AS (SELECT w,
         |              CAST(len(string_split(trim(repr), '  ')) AS BIGINT) AS n_sym
         |            FROM w$k),
         |  toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |           FROM documents),
         |  agg AS (SELECT t.doc_id, count(*) AS n_words,
         |            CAST(sum(v.n_sym) AS BIGINT) AS n_bpe_tokens
         |          FROM toks t JOIN vocab v ON v.w = t.w
         |          WHERE t.w <> '' GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.n_words, 0) AS n_words,
         |  COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "t15_cms_heavy" -> t15Oracle,

    "t16_tfidf" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |  tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |         WHERE tok <> '' GROUP BY doc_id, tok),
        |  df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |  n AS (SELECT count(*) AS n_docs FROM documents),
        |  s AS (SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |          CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS rarity
        |        FROM tf JOIN df USING (tok) CROSS JOIN n),
        |  r AS (SELECT *, row_number() OVER
        |          (PARTITION BY doc_id ORDER BY rarity DESC, tok) AS rn
        |        FROM s)
        |SELECT doc_id, tok, tf, df, rarity FROM r WHERE rn <= 3
        |ORDER BY doc_id, rarity DESC, tok""".stripMargin,

    "d01_exact_dedup" ->
      """SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS content_hash,
        |  min(doc_id) AS rep_doc, count(*) AS n_dups
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin,

    "d02_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, source,
        |             list_distinct(string_split_regex(trim(text), '\s+')) AS s
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s)) /
        |        CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 4) AS jaccard
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) /
        |      CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Brute-force all-pairs 3-shingle Jaccard — the exact semantics that
    // d03's LSH-accelerated form must reproduce. DuckDB shingles via list
    // comprehension over 1-based inclusive slices: i in [1, len-2] →
    // w[i:i+2] is the 3-token window. len(w) >= 3 guards the empty-shingle
    // case (0/0 is NaN in DuckDB, and NaN >= 0.8 is TRUE in its total
    // order — without the guard, token-less docs would pair with each
    // other).
    "d03_minhash_lsh" -> d03Oracle,

    // d14: the tiered roll's accumulated per-batch pairs cover every pair
    // exactly once (each surfaces when its later endpoint arrives), so
    // the certificate is d03's brute-force all-pairs replay VERBATIM.
    "d14_tiered_dedup" -> d03Oracle,

    // d06: d03's brute-force all-pairs, restricted to pairs touching the
    // odd-id batch (corpus×corpus excluded — the operator's contract).
    "d06_incremental_dedup" ->
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |           FROM documents),
        |     s AS (SELECT doc_id,
        |             list_distinct([array_to_string(w[i:i+2], ' ')
        |                            for i in range(1, len(w) - 1)]) AS s
        |           FROM w WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s)) /
        |        CAST(len(list_distinct(a.s || b.s)) AS DOUBLE), 4) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
        |  AND len(list_intersect(a.s, b.s)) /
        |      CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "d04_simhash" -> d04Oracle,

    // d13: the fold's certificate IS the full rebuild — the oracle
    // recomputes connected components over the COMPLETE pair set (exactly
    // d05's replay); the Spark side only ever runs CC on the even×even
    // standing graph plus the contracted delta, so a hash match proves
    // fold ≡ rebuild.
    "d13_incremental_clusters" ->
      s"""$dupClusterCtes
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
        |  COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) = CAST(d.doc_id AS BIGINT)
        |    AS is_canonical
        |FROM documents d LEFT JOIN cc ON cc.id = CAST(d.doc_id AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // d05: d03's brute-force pair set (same shingle CTEs), then connected
    // components as a recursive label walk — walk(id, lbl) holds every
    // (node, node-that-reaches-it) pair over the symmetrized edges; the
    // component id is the min reachable label. UNION (not UNION ALL)
    // dedups, so the recursion terminates at the transitive closure.
    "d05_dup_clusters" ->
      s"""$dupClusterCtes
        |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
        |  COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
        |  COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) = CAST(d.doc_id AS BIGINT)
        |    AS is_canonical
        |FROM documents d LEFT JOIN cc ON cc.id = CAST(d.doc_id AS BIGINT)
        |ORDER BY doc_id""".stripMargin,

    // dedup savings report: d05's cluster replay + t01's tokenizer, one
    // corpus-level summary row
    "t23_dedup_savings" ->
      s"""$dupClusterCtes,
        |  mem AS (SELECT COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT))
        |                   = CAST(d.doc_id AS BIGINT) AS is_canonical,
        |                 COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
        |                 len(string_split(d.text, ' ')) AS n_tokens
        |          FROM documents d
        |          LEFT JOIN cc ON cc.id = CAST(d.doc_id AS BIGINT))
        |SELECT count(*) AS n_docs, count(DISTINCT cluster) AS n_clusters,
        |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
        |  CAST(sum(CASE WHEN is_canonical THEN n_tokens ELSE 0 END) AS BIGINT)
        |    AS kept_tokens,
        |  round(1 - CAST(sum(CASE WHEN is_canonical THEN n_tokens ELSE 0 END)
        |                  AS DOUBLE) / sum(n_tokens), 4) AS savings_frac
        |FROM mem""".stripMargin,

    // t24: same chunk geometry (size 32, stride 24), DuckDB 1-based
    // inclusive list slicing with explicit end clamp; md5 of the
    // space-joined chunk matches Spark's md5(concat_ws(' ', slice(...))).
    "t24_chunk_windows" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |  s AS (SELECT doc_id, tk, len(tk) AS n,
        |          unnest(range(0, len(tk), 24)) AS st
        |        FROM d),
        |  c AS (SELECT doc_id,
        |          CAST(st // 24 AS BIGINT) AS chunk_idx,
        |          CAST(st AS BIGINT) AS start_tok,
        |          tk[st + 1 : least(st + 32, n)] AS chunk
        |        FROM s)
        |SELECT doc_id, chunk_idx, start_tok,
        |  CAST(len(chunk) AS BIGINT) AS n_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // t29: t24's chunk fingerprints, duplicated when in ≥ 2 distinct docs.
    "t29_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |     c AS (SELECT doc_id,
        |             md5(array_to_string(
        |               tk[st + 1 : least(st + 32, len(tk))], ' ')) AS h
        |           FROM (SELECT doc_id, tk,
        |                   unnest(range(0, len(tk), 24)) AS st
        |                 FROM d)),
        |     dup AS (SELECT h FROM c GROUP BY h
        |             HAVING count(DISTINCT doc_id) >= 2),
        |     per AS (SELECT doc_id, count(*) AS n_chunks FROM c GROUP BY doc_id),
        |     dd AS (SELECT c.doc_id, count(*) AS n_dup_chunks
        |            FROM c JOIN dup USING (h) GROUP BY c.doc_id)
        |SELECT per.doc_id, per.n_chunks,
        |  COALESCE(dd.n_dup_chunks, 0) AS n_dup_chunks,
        |  round(COALESCE(dd.n_dup_chunks, 0) / CAST(per.n_chunks AS DOUBLE), 4)
        |    AS dup_frac
        |FROM per LEFT JOIN dd USING (doc_id)
        |ORDER BY per.doc_id""".stripMargin,

    // t30: per-doc token histogram → integer cross-multiplied rule flags.
    "t30_gopher_rules" ->
      """WITH i AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |     h AS (SELECT doc_id, tok, count(*) AS n FROM i
        |           WHERE tok <> '' GROUP BY doc_id, tok),
        |     a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nt,
        |             count(*) AS nd, max(n) AS top_tok_n
        |           FROM h GROUP BY doc_id),
        |     c AS (SELECT doc_id, length(replace(text, ' ', '')) AS wc
        |           FROM documents)
        |SELECT a.doc_id, a.nt AS n_tokens, a.top_tok_n,
        |  (c.wc < 3 * a.nt OR c.wc > 10 * a.nt) AS flag_word_len,
        |  (a.nt < 30 OR a.nt > 1500) AS flag_doc_len,
        |  (5 * a.top_tok_n > a.nt) AS flag_top_share,
        |  (20 * (a.nt - a.nd) > 19 * a.nt) AS flag_dup_frac,
        |  NOT ((c.wc < 3 * a.nt OR c.wc > 10 * a.nt)
        |       OR (a.nt < 30 OR a.nt > 1500)
        |       OR (5 * a.top_tok_n > a.nt)
        |       OR (20 * (a.nt - a.nd) > 19 * a.nt)) AS keep
        |FROM a JOIN c USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,

    // t31: uniform-target mixture arithmetic, all-integer (div / least).
    "t31_mixture_weights" ->
      """WITH s AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |               AS n_tokens
        |           FROM documents GROUP BY source),
        |     n AS (SELECT count(*) AS n_sources FROM s),
        |     t AS (SELECT s.*, CAST(1000000 AS BIGINT) // n.n_sources
        |                         AS target_tokens
        |           FROM s CROSS JOIN n),
        |     r AS (SELECT *, least(CAST(1000000 AS BIGINT),
        |                       target_tokens * 1000000 // n_tokens) AS rate_ppm,
        |                     target_tokens * 100 // n_tokens AS epochs_x100
        |           FROM t)
        |SELECT source, n_docs, n_tokens, target_tokens, rate_ppm, epochs_x100,
        |  n_tokens * rate_ppm // 1000000 AS sampled_tokens
        |FROM r
        |ORDER BY source""".stripMargin,

    // t32: identical fixed-point arithmetic — (c2+1)*1e9 // (c1+V) per
    // bigram (`//` ≡ Spark's `div` on these nonnegative integers), integer
    // doc sums, one terminal rounded division in the same order.
    "t32_bigram_lm" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents),
        |  b AS MATERIALIZED (
        |    SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |    FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |          FROM tk WHERE len(t) >= 2)),
        |  db AS (SELECT doc_id, w1, w2, count(*) AS n FROM b GROUP BY ALL),
        |  c2 AS (SELECT w1, w2, count(*) AS n2 FROM b GROUP BY w1, w2),
        |  c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY w1),
        |  v AS (SELECT count(DISTINCT tok) AS v
        |        FROM (SELECT unnest(t) AS tok FROM tk)),
        |  sc AS (SELECT db.doc_id, db.n,
        |           ((c2.n2 + 1) * 1000000000) // (c1.n1 + v.v) AS p
        |         FROM db JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        |              CROSS JOIN v)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(sum(n * p) AS BIGINT) AS sum_scaled,
        |  round(CAST(sum(n * p) AS BIGINT) / CAST(sum(n) AS BIGINT)
        |          / 1000000000.0, 8) AS mean_p
        |FROM sc
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // t33: strlen = BYTE length in DuckDB (Spark octet_length); piece
    // segmenter is t05's regex; ratios floor-div with the same
    // greatest(,1) guard.
    "t33_tokenizer_fertility" ->
      """WITH a AS (SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |                             x -> x <> ''))) AS BIGINT) AS n_tokens,
        |    CAST(sum(len(regexp_extract_all(text,
        |                   '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_pieces,
        |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes
        |  FROM documents GROUP BY lang, source)
        |SELECT lang, source, n_docs, n_tokens, n_pieces, n_bytes,
        |  (n_pieces * 100) // greatest(n_tokens, 1) AS fertility_x100,
        |  (n_bytes * 100) // greatest(n_tokens, 1) AS bytes_per_tok_x100
        |FROM a
        |ORDER BY lang, source""".stripMargin,

    // t34: full replay — same md5-prefix buckets (('0x'||hex)::BIGINT ≡
    // Spark's conv(,16,10)), same rate-first smoothed floor-div ratio
    // (the overflow-bounded factoring the Spark side uses). Totals cast
    // to BIGINT so the arithmetic stays in the same domain (DuckDB sum()
    // widens to HUGEINT).
    "t34_dsir_weights" ->
      """WITH tb AS MATERIALIZED (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
        |  FROM (SELECT doc_id, lang, source,
        |          unnest(string_split(text, ' ')) AS tok FROM documents)),
        |  stats AS MATERIALIZED (
        |    SELECT b, count(*) AS ct_r,
        |      count(*) FILTER (WHERE lang = 'en') AS ct_t
        |    FROM tb GROUP BY b),
        |  tot AS (SELECT CAST(sum(ct_r) AS BIGINT) AS nr,
        |                 CAST(sum(ct_t) AS BIGINT) AS nt FROM stats),
        |  lr AS MATERIALIZED (
        |    SELECT b, (rt * 10000) // greatest(rr, 1) AS lr FROM (
        |      SELECT b, ((ct_t + 1) * 1000000) // (nt + 1024) AS rt,
        |                ((ct_r + 1) * 1000000) // (nr + 1024) AS rr
        |      FROM stats, tot)),
        |  db AS (SELECT doc_id, lang, source, b, count(*) AS c
        |         FROM tb GROUP BY 1, 2, 3, 4),
        |  w AS (SELECT doc_id, lang, source,
        |          CAST(sum(c * lr.lr) AS BIGINT) AS w
        |        FROM db JOIN lr USING (b) GROUP BY 1, 2, 3)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS sum_w,
        |  min(w) AS min_w, max(w) AS max_w
        |FROM w GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    // t25: distinct 8-gram windows per doc (t18's window CTE), min doc_id
    // per gram as the first holder, per-doc novelty share.
    "t25_ngram_novelty" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |           FROM documents),
        |     g AS (SELECT doc_id,
        |             unnest(list_distinct([array_to_string(tk[i:i+7], ' ')
        |                                   for i in range(1, len(tk) - 6)])) AS gram
        |           FROM d WHERE len(tk) >= 8),
        |     fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |          / CAST(count(*) AS DOUBLE), 4) AS novelty_frac
        |FROM g JOIN fs USING (gram)
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,

    // t26: t18's window/dup/coverage CTEs, then the rewrite — tokens at
    // covered positions dropped, survivors re-joined in position order.
    "t26_span_removal" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |           FROM documents),
        |     w AS (SELECT doc_id,
        |             unnest([{'w0': i - 1,
        |                      'gram': array_to_string(tk[i:i+7], ' ')}
        |                     for i in range(1, len(tk) - 6)],
        |                    recursive := true)
        |           FROM d WHERE len(tk) >= 8),
        |     dup AS (SELECT gram FROM w GROUP BY gram
        |             HAVING count(DISTINCT doc_id) >= 2),
        |     hit AS (SELECT w.doc_id, w.w0 FROM w JOIN dup USING (gram)),
        |     cv AS (SELECT DISTINCT doc_id, unnest(range(w0, w0 + 8)) AS p
        |            FROM hit),
        |     t AS (SELECT doc_id, unnest(tk) AS tok,
        |             unnest(range(0, len(tk))) AS p FROM d),
        |     k AS (SELECT t.doc_id, t.tok, t.p
        |           FROM t LEFT JOIN cv ON cv.doc_id = t.doc_id AND cv.p = t.p
        |           WHERE cv.p IS NULL),
        |     agg AS (SELECT doc_id, count(*) AS n_kept,
        |               md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
        |             FROM k GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
        |  COALESCE(agg.n_kept, 0) AS n_kept,
        |  COALESCE(agg.kept_md5, md5('')) AS kept_md5
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // t27: d05's cluster walk (shared CTEs) + t07's hash-ring carve, keyed
    // on the CLUSTER id instead of the document id.
    "t27_cluster_split" -> {
      val Seq(c1, c2, _) = Splits.cutsFor(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val h = s"((cluster % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""$dupClusterCtes,
         |  mem AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
         |            COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
         |            len(string_split(d.text, ' ')) AS nt
         |          FROM documents d
         |          LEFT JOIN cc ON cc.id = CAST(d.doc_id AS BIGINT)),
         |  sp AS (SELECT CASE WHEN $h < $c1 THEN 'train'
         |                WHEN $h < $c2 THEN 'val' ELSE 'test' END AS split,
         |           cluster, nt FROM mem)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT cluster) AS n_clusters,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM sp GROUP BY split ORDER BY split""".stripMargin
    },

    // t12: identical RE2-safe regexes, 'g' for replace-all (Spark's
    // default), counts on the raw text on both sides.
    "t12_pii_redact" ->
      """WITH u AS (
        |  SELECT 'customer' AS src_table, CAST(c_custkey AS BIGINT) AS rec_id,
        |         c_name AS raw
        |  FROM customer
        |  UNION ALL
        |  SELECT 'event', CAST(event_id AS BIGINT), props FROM events)
        |SELECT src_table, rec_id,
        |  len(regexp_extract_all(raw, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
        |  len(regexp_extract_all(raw, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |  len(regexp_extract_all(raw, '\d+')) AS n_num,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\d+', '<NUM>', 'g') AS redacted
        |FROM u
        |ORDER BY src_table, rec_id""".stripMargin,

    // t13: same 10-token segmentation via unnest(range), frequency filter,
    // ordered string_agg reassembly; md5('') is the all-dropped sentinel on
    // both sides.
    "t13_segment_dedup" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |  si AS (SELECT doc_id, w,
        |           unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS i
        |         FROM d),
        |  segs AS (SELECT doc_id, i,
        |             array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
        |           FROM si),
        |  freq AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM segs GROUP BY seg),
        |  kept AS (SELECT s.doc_id, s.i, s.seg
        |           FROM segs s JOIN freq f ON f.seg = s.seg AND f.nd <= 1),
        |  reb AS (SELECT doc_id, md5(string_agg(seg, ' ' ORDER BY i)) AS kept_hash,
        |                 count(*) AS n_kept
        |          FROM kept GROUP BY doc_id),
        |  tot AS (SELECT doc_id, CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_segs FROM d)
        |SELECT t.doc_id, t.n_segs,
        |  COALESCE(r.n_kept, 0) AS n_kept,
        |  COALESCE(r.kept_hash, md5('')) AS kept_hash
        |FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "t14_bigram_vocab" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |  ix AS (SELECT w, unnest(range(1, len(w))) AS i FROM d),
        |  p AS (SELECT w[i] || ' ' || w[i+1] AS pair FROM ix)
        |SELECT pair, count(*) AS n
        |FROM p
        |GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 20""".stripMargin,

    // t35: each merge replays as a (b{r} pick, w{r} apply) CTE pair over
    // the same double-space string invariant the engine uses — replace's
    // left-to-right non-overlapping scan is identical in both engines, so
    // the whole K-merge trainer hash-matches. w/b CTEs are referenced
    // twice → MATERIALIZED (the q72 lesson).
    "t35_bpe_trainer" -> t35Oracle(BpeMerges),

    // t36: the encoder reads the trained segmentation straight off w{K}
    // (one vocab join + per-doc aggregate — no merge replay per doc).
    "t36_bpe_encode" -> t36Oracle(BpeMerges),

    // t37: full BM25 replay — identical arithmetic tree (rational idf,
    // fixed-point floor before the per-(qid, doc) sum), queries embedded
    // from Bm25Queries. Integer score_scaled output, so the hash compare
    // never touches a float aggregate.
    "t37_bm25" -> bm25WorkloadOracle,

    // t38: the SAME full-rebuild SQL as t37 — the engine side serves the
    // workload from a standing index incrementally folded with the delta
    // half of the corpus, so hash equality IS the fold ≡ rebuild
    // certificate (the d13/q79 pattern at the lexical layer).
    "t38_incremental_bm25" -> bm25WorkloadOracle,
    "t39_bm25_fold_recall" -> bm25FoldRecallOracle,
    // t40: the from-scratch replay over the EFFECTIVE corpus (batch-4
    // edits applied as a CASE, deletes as a WHERE) — the engine side ran
    // the L0/L1 lifecycle with cross-tier shadowing; equality certifies
    // tiered ≡ rebuild including replacement/delete semantics.
    "t40_tiered_bm25" -> tieredBm25Oracle,

    // DuckDB twin of t04 — the order-sensitive fingerprint as a closed-form
    // double polynomial: chars-within-token (h1, as in d04) then
    // tokens-within-doc, both base 31 mod HashP1, exponent from the token's
    // position. tokens() keeps empty tokens (h1 = 0), so no empty filter on
    // the doc-level chain; two zipped unnests give (position, token).
    "t04_fingerprint" ->
      s"""WITH RECURSIVE
        |  d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr
        |        FROM documents),
        |  toks AS (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS tn,
        |                  unnest(arr) AS tok
        |           FROM d),
        |  tcnt AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
        |  tdist AS (SELECT DISTINCT tok FROM toks WHERE tok <> ''),
        |  mlc AS (SELECT max(length(tok)) AS m FROM tdist),
        |  mlt AS (SELECT max(n) AS m FROM tcnt),
        |  powt(i, a) AS (
        |    SELECT 0, CAST(1 AS BIGINT)
        |    UNION ALL
        |    SELECT i + 1, (a * 31) % $HashP1
        |    FROM powt WHERE i + 1 < (SELECT greatest(c.m, t.m) FROM mlc c, mlt t)),
        |  chars AS (SELECT t.tok, p.i AS j, ord(substr(t.tok, p.i + 1, 1)) AS cp
        |            FROM tdist t JOIN powt p ON p.i < length(t.tok)),
        |  th AS (SELECT c.tok, CAST(sum(c.cp * pw.a) % $HashP1 AS BIGINT) AS h1
        |         FROM chars c JOIN powt pw ON pw.i = length(c.tok) - 1 - c.j
        |         GROUP BY c.tok),
        |  fps AS (SELECT tk.doc_id,
        |            CAST(sum(CAST(COALESCE(th.h1, 0) AS HUGEINT) * pw.a)
        |                   % $HashP1 AS BIGINT) AS fp
        |          FROM toks tk
        |          LEFT JOIN th ON th.tok = tk.tok
        |          JOIN tcnt tc ON tc.doc_id = tk.doc_id
        |          JOIN powt pw ON pw.i = tc.n - tk.tn
        |          GROUP BY tk.doc_id)
        |SELECT doc_id, fp FROM fps
        |ORDER BY doc_id""".stripMargin,

    // t07: same multiplicative-hash ring carve as Splits.assign, with the
    // cumulative-weight boundaries as literals.
    "t07_train_split" -> {
      val Seq(c1, c2, _) = Splits.cutsFor(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val h = s"((doc_id % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""WITH s AS (SELECT CASE
         |             WHEN $h < $c1 THEN 'train'
         |             WHEN $h < $c2 THEN 'val'
         |             ELSE 'test' END AS split,
         |           len(string_split(text, ' ')) AS nt
         |           FROM documents)
         |SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
         |FROM s GROUP BY split ORDER BY split""".stripMargin
    },

    // t09: same split carve as t07 + d03-style list-comprehension shingles;
    // the train grams form the inverted index, test grams LEFT JOIN it.
    "t09_contamination" -> {
      val Seq(c1, c2, _) = Splits.cutsFor(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val h = s"((doc_id % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""WITH s AS (SELECT doc_id,
         |             CASE WHEN $h < $c1 THEN 'train'
         |                  WHEN $h < $c2 THEN 'val'
         |                  ELSE 'test' END AS split,
         |             string_split_regex(trim(text), '\\s+') AS w
         |           FROM documents),
         |     g AS (SELECT doc_id, split,
         |             unnest(list_distinct([array_to_string(w[i:i+2], ' ')
         |                                   for i in range(1, len(w) - 1)])) AS g
         |           FROM s WHERE len(w) >= 3),
         |     idx AS (SELECT DISTINCT g FROM g WHERE split = 'train')
         |SELECT t.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN idx.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  round(CAST(sum(CASE WHEN idx.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |          / count(*), 4) AS frac
         |FROM g t LEFT JOIN idx ON idx.g = t.g
         |WHERE t.split = 'test'
         |GROUP BY t.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // t10: hash-ring sampler boundaries as literals (same ring as t07).
    "t10_lang_sample" -> {
      val en = (0.5 * Splits.HashRing).toLong
      val zh = (0.8 * Splits.HashRing).toLong
      val h = s"((doc_id % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""WITH k AS (SELECT lang, text FROM documents
         |           WHERE $h <
         |             CASE lang WHEN 'en' THEN $en WHEN 'zh' THEN $zh
         |                       ELSE ${Splits.HashRing} END)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },

    "t11_repetition" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |                  len(string_split(text, ' ')) AS nt FROM documents),
        |     c AS (SELECT doc_id, nt, count(*) AS c FROM t GROUP BY doc_id, nt, tok),
        |     m AS (SELECT doc_id, nt, max(c) AS top FROM c GROUP BY doc_id, nt)
        |SELECT doc_id, round(CAST(top AS DOUBLE) / nt, 4) AS top_token_frac,
        |  CAST(top AS DOUBLE) / nt > 0.05 AS repetitive
        |FROM m ORDER BY doc_id""".stripMargin,

    "t08_seq_pack" ->
      """WITH t AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS nt
        |           FROM documents),
        |     c AS (SELECT lang, nt,
        |             COALESCE(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |           FROM t)
        |SELECT lang, CAST(floor(cb / 2048.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM c GROUP BY lang, bin
        |ORDER BY lang, bin""".stripMargin,

    "t05_bpe_tokens" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS total_pieces,
        |  max(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS max_pieces
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "t06_normalize" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                          ' +', ' ', 'g'))) AS norm_hash,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                             ' +', ' ', 'g'))) AS norm_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t01_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  length(text) AS len, n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t02_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS le
        |           FROM documents),
        |     m AS (SELECT doc_id,
        |             round(len(list_filter(toks,
        |               x -> x IN ('the','a','of','and','to','in'))) /
        |               CAST(len(toks) AS DOUBLE), 4) AS stop_ratio,
        |             round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS ttr,
        |             round(le / CAST(len(toks) AS DOUBLE), 4) AS mean_tok_len,
        |             len(toks) AS n_tokens
        |           FROM t)
        |SELECT doc_id, stop_ratio, ttr, mean_tok_len, n_tokens,
        |  CASE WHEN stop_ratio BETWEEN 0.02 AND 0.5 AND n_tokens >= 20
        |       THEN 'good' ELSE 'low' END AS quality
        |FROM m
        |ORDER BY doc_id""".stripMargin,

    "t03_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |     h AS (SELECT doc_id, lang,
        |             len(list_filter(toks, x -> x IN ('the','and','of','a'))) AS en_hits,
        |             len(list_filter(toks, x -> x IN ('el','la','de','y'))) AS es_hits,
        |             len(list_filter(toks, x -> x IN ('der','die','das','und'))) AS de_hits
        |           FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
        |       WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
        |       WHEN de_hits > 0 THEN 'de'
        |       ELSE 'unk' END AS lang_guess,
        |  en_hits, es_hits, de_hits
        |FROM h
        |ORDER BY doc_id""".stripMargin,

    // t17: the keep decision is the exact integer compare from
    // Splits.keepByWeight with the ring constants inlined — no float
    // boundary to disagree on.
    "t17_weighted_sample" -> {
      val h = s"((doc_id % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""WITH k AS (SELECT lang, n_chars,
         |             ($h) * 2000 <
         |               greatest(least(n_chars, 2000), 0) * ${Splits.HashRing} AS keep
         |           FROM documents)
         |SELECT lang, count(*) AS n_in,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin
    },

    // t18: replays spanDedupProfile exactly — same split-on-single-space +
    // drop-empties tokenization as the engine, struct-comprehension window
    // enumeration, count(DISTINCT doc) >= 2 duplicate test, and the
    // position-set union via unnest(range(w0, w0+8)) + DISTINCT.
    "t18_span_dedup" ->
      """WITH d AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |           FROM documents),
        |     w AS (SELECT doc_id,
        |             unnest([{'w0': i - 1,
        |                      'gram': array_to_string(tk[i:i+7], ' ')}
        |                     for i in range(1, len(tk) - 6)],
        |                    recursive := true)
        |           FROM d WHERE len(tk) >= 8),
        |     dup AS (SELECT gram FROM w GROUP BY gram
        |             HAVING count(DISTINCT doc_id) >= 2),
        |     hit AS (SELECT w.doc_id, w.w0 FROM w JOIN dup USING (gram)),
        |     dw AS (SELECT doc_id, count(*) AS n_dup_windows
        |            FROM hit GROUP BY doc_id),
        |     cov AS (SELECT doc_id, count(*) AS n_cov_tokens FROM (
        |               SELECT DISTINCT doc_id, unnest(range(w0, w0 + 8)) AS p
        |               FROM hit)
        |             GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.tk) AS BIGINT) AS n_tokens,
        |  COALESCE(dw.n_dup_windows, 0) AS n_dup_windows,
        |  COALESCE(cov.n_cov_tokens, 0) AS n_cov_tokens,
        |  CASE WHEN len(d.tk) = 0 THEN 0.0
        |       ELSE round(COALESCE(cov.n_cov_tokens, 0)
        |                  / CAST(len(d.tk) AS DOUBLE), 4) END AS cov_frac
        |FROM d LEFT JOIN dw USING (doc_id) LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // d08: d05's recursive-CTE cluster walk + the quality argmax
    // (n_chars DESC, id ASC) per cluster.
    "d08_keep_list" ->
      """WITH RECURSIVE
        |  w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |        FROM documents),
        |  s AS (SELECT doc_id,
        |          list_distinct([array_to_string(w[i:i+2], ' ')
        |                         for i in range(1, len(w) - 1)]) AS s
        |        FROM w WHERE len(w) >= 3),
        |  p AS (SELECT CAST(a.doc_id AS BIGINT) AS ia,
        |               CAST(b.doc_id AS BIGINT) AS ib
        |        FROM s a JOIN s b ON a.doc_id < b.doc_id
        |        WHERE len(list_intersect(a.s, b.s)) /
        |              CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) >= 0.8),
        |  e AS (SELECT ia AS src, ib AS dst FROM p
        |        UNION SELECT ib, ia FROM p),
        |  walk(id, lbl) AS (
        |    SELECT src, src FROM e
        |    UNION
        |    SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id),
        |  cc AS (SELECT id, min(lbl) AS cluster FROM walk GROUP BY id),
        |  cl AS (SELECT CAST(d.doc_id AS BIGINT) AS id,
        |           COALESCE(cc.cluster, CAST(d.doc_id AS BIGINT)) AS cluster,
        |           d.n_chars
        |         FROM documents d
        |         LEFT JOIN cc ON cc.id = CAST(d.doc_id AS BIGINT)),
        |  can AS (SELECT cluster, id AS canonical_id FROM (
        |            SELECT cluster, id, row_number() OVER (
        |              PARTITION BY cluster ORDER BY n_chars DESC, id) AS rn
        |            FROM cl) WHERE rn = 1)
        |SELECT cl.id AS doc_id, cl.cluster, can.canonical_id,
        |  cl.id = can.canonical_id AS keep
        |FROM cl JOIN can ON can.cluster = cl.cluster
        |ORDER BY doc_id""".stripMargin,

    // d07: same token-set discipline as d02, overlap-coefficient measure.
    "d07_containment" ->
      """WITH t AS (SELECT doc_id, source,
        |             list_distinct(string_split_regex(trim(text), '\s+')) AS s
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.s, b.s)) /
        |        CAST(least(len(a.s), len(b.s)) AS DOUBLE), 4) AS containment
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) /
        |      CAST(least(len(a.s), len(b.s)) AS DOUBLE) >= 0.95
        |ORDER BY doc_a, doc_b""".stripMargin,

    // t21: rank ties pinned by (count DESC, token); HUGEINT sums cast back.
    "t21_token_rarity" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |  i AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
        |  v AS (SELECT tok, count(*) AS n FROM i GROUP BY tok),
        |  r AS (SELECT tok,
        |          CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT)
        |            AS rank
        |        FROM v)
        |SELECT i.doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(r.rank) AS DOUBLE) / count(*), 4) AS mean_rank,
        |  max(r.rank) AS max_rank
        |FROM i JOIN r ON r.tok = i.tok
        |GROUP BY i.doc_id
        |ORDER BY doc_id""".stripMargin,

    // t19: the exact leg is t09's inverted index with the roles swapped
    // (test grams index, train docs probe); bloom_caught is provably
    // equal to truly_contaminated (Bloom admits no false negatives), so
    // the oracle states the guarantee the engine must reproduce.
    "t19_bloom_contamination" -> {
      val Seq(c1, c2, _) = Splits.cutsFor(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val h = s"((doc_id % ${Splits.HashRing}) * ${Splits.HashMult}) % ${Splits.HashRing}"
      s"""WITH s AS (SELECT doc_id,
         |             CASE WHEN $h < $c1 THEN 'train'
         |                  WHEN $h < $c2 THEN 'val'
         |                  ELSE 'test' END AS split,
         |             string_split_regex(trim(text), '\\s+') AS w
         |           FROM documents),
         |     g AS (SELECT doc_id, split,
         |             unnest(list_distinct([array_to_string(w[i:i+2], ' ')
         |                                   for i in range(1, len(w) - 1)])) AS g
         |           FROM s WHERE len(w) >= 3),
         |     idx AS (SELECT DISTINCT g FROM g WHERE split = 'test')
         |SELECT t.doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN idx.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_true_hits,
         |  (sum(CASE WHEN idx.g IS NOT NULL THEN 1 ELSE 0 END) > 0)
         |    AS truly_contaminated,
         |  (sum(CASE WHEN idx.g IS NOT NULL THEN 1 ELSE 0 END) > 0)
         |    AS bloom_caught
         |FROM g t LEFT JOIN idx ON idx.g = t.g
         |WHERE t.split = 'train'
         |GROUP BY t.doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // t28: the three pipeline stages replayed as chained CTEs — t20's
    // keep predicate, d01's content-key min-id survivor, t26's span
    // coverage (computed within the SURVIVING corpus, matching the
    // engine's composition order).
    "t28_pipeline_funnel" -> {
      val stopTest = enStop.map(w => s"list_contains(w, '$w')").mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w,
         |             len(string_split(text, ' ')) AS nt,
         |             len(list_distinct(string_split(text, ' '))) AS nd,
         |             length(text) AS ch
         |           FROM documents),
         |     q AS (SELECT doc_id, text, nt FROM t
         |           WHERE nt >= 20 AND nd * 3 >= nt AND ($stopTest)
         |             AND ch * 10 <= nt * 55),
         |     reps AS (SELECT min(doc_id) AS doc_id FROM q
         |              GROUP BY md5(array_to_string(
         |                string_split(text, ' ')[1:3], ' '))),
         |     k AS (SELECT q.doc_id, q.text, q.nt FROM q JOIN reps USING (doc_id)),
         |     d2 AS (SELECT doc_id,
         |              list_filter(string_split(text, ' '), x -> x <> '') AS tk
         |            FROM k),
         |     w2 AS (SELECT doc_id,
         |              unnest([{'w0': i - 1,
         |                       'gram': array_to_string(tk[i:i+7], ' ')}
         |                      for i in range(1, len(tk) - 6)],
         |                     recursive := true)
         |            FROM d2 WHERE len(tk) >= 8),
         |     dup2 AS (SELECT gram FROM w2 GROUP BY gram
         |              HAVING count(DISTINCT doc_id) >= 2),
         |     hit2 AS (SELECT w2.doc_id, w2.w0 FROM w2 JOIN dup2 USING (gram)),
         |     cv2 AS (SELECT DISTINCT doc_id, unnest(range(w0, w0 + 8)) AS p
         |             FROM hit2),
         |     kept AS (SELECT d2.doc_id,
         |                len(d2.tk) - COALESCE(c.n, 0) AS n_kept
         |              FROM d2 LEFT JOIN (SELECT doc_id, count(*) AS n
         |                                 FROM cv2 GROUP BY doc_id) c
         |                USING (doc_id)),
         |     f AS (
         |       SELECT '0_raw' AS stage, count(*) AS n_docs,
         |         CAST(sum(nt) AS BIGINT) AS n_tokens FROM t
         |       UNION ALL SELECT '1_quality', count(*),
         |         CAST(sum(nt) AS BIGINT) FROM q
         |       UNION ALL SELECT '2_dedup', count(*),
         |         CAST(sum(nt) AS BIGINT) FROM k
         |       UNION ALL SELECT '3_spanclean', count(*),
         |         CAST(sum(n_kept) AS BIGINT) FROM kept)
         |SELECT stage, n_docs, n_tokens FROM f ORDER BY stage""".stripMargin
    },

    // t20: rule predicates in the same fixed order; concat_ws skips the
    // NULL branches on both engines, so the reason string is identical.
    // Tokenizer pairing: Spark split(text, " ") ⇔ string_split(text, ' ')
    // (the t01 convention — regex-split here would diverge on any
    // irregular whitespace).
    "t20_quality_filter" -> {
      val stopTest = enStop.map(w => s"list_contains(w, '$w')").mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
         |             length(text) AS ch
         |           FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  concat_ws(',',
         |    CASE WHEN len(w) < 20 THEN 'too_short' END,
         |    CASE WHEN len(list_distinct(w)) * 3 < len(w) THEN 'low_ttr' END,
         |    CASE WHEN NOT ($stopTest) THEN 'no_stopword' END,
         |    CASE WHEN ch * 10 > len(w) * 55 THEN 'long_tokens' END) AS reasons,
         |  (len(w) >= 20 AND len(list_distinct(w)) * 3 >= len(w)
         |     AND ($stopTest) AND ch * 10 <= len(w) * 55) AS keep
         |FROM t
         |ORDER BY doc_id""".stripMargin
    },

    // Replays the fixed-point √n weights, the integer quota division, and
    // the ring-hash ranking with the engine's exact constants.
    "t22_source_quota" ->
      s"""WITH n AS MATERIALIZED (SELECT source, count(*) AS n_in FROM documents
         |           GROUP BY source),
         |w AS (SELECT source, n_in,
         |        CAST(round(sqrt(n_in) * 1000000) AS BIGINT) AS w FROM n),
         |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM w),
         |q AS (SELECT source, n_in, (200 * w) // tw AS quota FROM w, t),
         |r AS (SELECT source, doc_id,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY ((doc_id % ${Splits.HashRing}) * ${Splits.HashMult})
         |                     % ${Splits.HashRing}, doc_id) AS rk
         |      FROM documents)
         |SELECT r.source, r.doc_id, r.rk, q.quota, q.n_in
         |FROM r JOIN q USING (source)
         |WHERE rk <= quota
         |ORDER BY source, rk""".stripMargin
  )
}
