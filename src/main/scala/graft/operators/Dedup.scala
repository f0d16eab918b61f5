package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Deduplication operators, exact and approximate.
  *
  * Scale design: every variant is blocked/bucketed so candidate generation
  * is a hash-shuffle + within-bucket join — never an all-pairs cross join.
  * At 100 TB the bucket key (content hash / LSH band / SimHash band) is the
  * shuffle key; bucket-size caps bound worst-case quadratic work under
  * adversarial skew.
  */
object Dedup {

  /** Exact dedup on a content key with a pinned total order: the survivor
    * of each group is the row with the smallest `order` tuple — never
    * "whichever partition won the shuffle" (SURVEY.md §2.4 A7 trap). */
  def keepFirst(df: DataFrame, key: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup: group identical normalized text by md5, keep the
    * lowest id as representative. One shuffle on the 128-bit key; group
    * sizes are bounded by true duplicate multiplicity, so no skew risk. */
  def exactByContent(df: DataFrame, id: Column, text: Column): DataFrame =
    df.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("rep_id"), count(lit(1)).as("n_dups"))

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle → k-minhash signature → split into `bands` bands of k/bands
    * rows → hash each band → self-join per (band, bandHash) bucket →
    * distinct pairs with estimated Jaccard ≥ `threshold`.
    *
    * The signature/band computation is per-row (no shuffle); candidate
    * generation shuffles on the band hash. `maxBucket` drops degenerate
    * buckets (e.g. boilerplate shingles shared by millions of docs) that
    * would otherwise go quadratic — standard practice for web-scale dedup.
    * Drops are OBSERVABLE, not silent: the refusing task WARNs and bumps
    * named accumulators (visible per-stage in the Spark UI — see
    * [[DedupMetrics]]); callers read the numbers via [[ManagedPairs.drops]].
    *
    * Pick bands to match the threshold: the S-curve's 50% capture point is
    * (1/bands)^(bands/k). Defaults (8 bands × 16 rows) sit at j≈0.77 —
    * right for near-dup thresholds of 0.8+. A permissive curve (32×4,
    * 50% at j≈0.42) on a self-similar corpus makes nearly every pair a
    * candidate and goes quadratic — that's a parameter bug, not a scale
    * limit (measured: 60× slowdown on the synthetic word-soup corpus).
    *
    * Returns the lazy pairs with an explicit cache-release handle — see
    * [[ManagedPairs]].
    */
  def minhashLshPairsManaged(df: DataFrame, idCol: String, textCol: String,
                             k: Int = 128, bands: Int = 8, shingleWidth: Int = 3,
                             threshold: Double = 0.8, maxBucket: Int = 1000): ManagedPairs =
    lshPairsImpl(df, idCol, textCol, flagCol = None, k, bands, shingleWidth,
      threshold, maxBucket)

  /** A lazy result plus a handle that releases the internal persisted
    * signature frame. A bare lazy frame can't unpersist its cache itself
    * (the result hasn't run yet when it returns), so in a long session
    * repeated calls would accumulate ~1 KB/doc cache entries; callers
    * consume `pairs` (write/aggregate it), then call `release()`.
    * Releasing before consuming is safe — Spark recomputes — just slow.
    *
    * `drops()` reports the over-`maxBucket` buckets discarded so far (zero
    * until an action on `pairs` has run; cumulative across repeated actions
    * — the standard accumulator contract, see [[DedupMetrics]]). Non-zero
    * drops mean recall (and any exactness guarantee) is void for the
    * documents in those buckets; the refusing executor task WARNs at drop
    * time and `drops()` WARNs again when it reads a non-zero count. */
  final case class ManagedPairs(pairs: DataFrame, release: () => Unit,
                                drops: () => DedupMetrics.DropStats)

  /** Shared LSH candidate + estimate machinery. `flagCol` (boolean) marks
    * "new" rows for the incremental shape: when present, only pairs with
    * at least one flagged member are enumerated — corpus×corpus pairs are
    * skipped INSIDE the bucket loop (and corpus-only buckets before it),
    * so re-ingesting a small batch against a huge corpus never re-pays
    * the corpus's own quadratic bucket work. With no flag every row
    * counts as new and this is exactly the self-dedup of
    * [[minhashLshPairsManaged]]. */
  private def lshPairsImpl(df: DataFrame, idCol: String, textCol: String,
                           flagCol: Option[String], k: Int, bands: Int,
                           shingleWidth: Int, threshold: Double,
                           maxBucket: Int): ManagedPairs = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism

    // Signature computation is the CPU-heavy per-row stage. The pure
    // Catalyst-expression formulation (TextFunctions.minhashSignature) is
    // correct but interpreted: higher-order lambdas aren't codegen'd and
    // the shingle array is re-evaluated once per hash function (no
    // loop-invariant hoisting inside lambdas) — measured 350+ s for 5000
    // docs. This is the documented mapPartitions-as-last-resort case
    // (SURVEY §2.10): a tight JVM loop (TextFunctions.minhashSignatureJvm,
    // asserted bit-identical to the expression form in DedupSpec) computes
    // the same k-min signature in ~2 s, still fully distributed.
    // Repartition first so a single-file input doesn't pin the stage to
    // one task; persist so the banding pass and verification join read it
    // once (the caller can release it — see the unpersist note below).
    import spark.implicits._
    val flag = flagCol.map(f => col(f).cast("boolean")).getOrElse(lit(true))
    val sigs = df
      .repartition(parallelism, col(idCol))
      .select(col(idCol).cast("long"), col(textCol), flag)
      .as[(Long, String, Boolean)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text, nf) =>
          minhashSignatureJvm(text, k, shingleWidth).map(sig => (id, sig.toSeq, nf))
        }
      }
      .toDF("id", "sig", "nf")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inner = lshPairsFromSigs(sigs, k, bands, threshold, maxBucket)
    ManagedPairs(inner.pairs, () => { sigs.unpersist(); () }, inner.drops)
  }

  /** Banding + estimate-verify over a PRECOMPUTED (id, sig, nf) frame —
    * shared by the self-build path ([[lshPairsImpl]], which persists its
    * own signature frame) and the combined signature+shingle path
    * ([[exactPairsImpl]], which computes signatures AND shingle sets in
    * one scan and persists ONE frame instead of two). Never persists; the
    * caller owns the input frame's lifecycle, so the returned release is
    * a no-op. */
  private def lshPairsFromSigs(sigs: DataFrame, k: Int, bands: Int,
                               threshold: Double, maxBucket: Int): ManagedPairs = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    val spark = sigs.sparkSession
    import spark.implicits._

    // Candidate generation never shuffles signatures: only (band, bandHash,
    // id) rows move. Pairs are enumerated bucket-side from the sorted member
    // list in a tight JVM loop (the interpreted flatten/transform HOF-expr
    // formulation this replaces evaluated lambdas per element); buckets
    // larger than maxBucket (degenerate boilerplate) are dropped — quadratic
    // work is refused, the refusing task WARNs, and the drop counts ride in
    // named accumulators (DedupMetrics) — never silent.
    val drops = DedupMetrics.counter(spark, "minhash", maxBucket)
    val banded = sigs
      .select(col("id"), col("nf"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("nf"), col("band"),
        bandHash(col("sig"), col("band"), r).as("bh"))
    val pairs = banded
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(struct(col("id"), col("nf")))).as("ms"))
      .select("ms").as[Seq[(Long, Boolean)]]
      .mapPartitions { buckets =>
        var warned = false
        buckets.flatMap { ms =>
          val n = ms.size
          // corpus-only buckets are skipped BEFORE the maxBucket check: an
          // over-full bucket with no batch member loses no batch-touching
          // pair, so counting it as a drop would spuriously void the
          // exactness certificate for an incremental run.
          if (n < 2 || !ms.exists(_._2)) Iterator.empty
          else if (n > maxBucket) {
            drops.buckets.add(1L); drops.rows.add(n.toLong)
            if (!warned) { DedupMetrics.warnDropped("minhash", n, maxBucket); warned = true }
            Iterator.empty
          } else {
            // sorted by id (struct order = (id, nf), ids unique)
            //   => ids ascending, so (min,max) index order = id order
            val ids = new Array[Long](n)
            val nfs = new Array[Boolean](n)
            var x = 0
            ms.foreach { m => ids(x) = m._1; nfs(x) = m._2; x += 1 }
            // Enumerate from the FLAGGED side only — O(flagged·n), not
            // O(n²): a bucket of 1 batch doc and 999 corpus docs iterates
            // 999 partners, not 499k (i,j) combinations. A corpus partner
            // is paired by its (sole) flagged peer; a flagged partner only
            // from the lower index, so nothing is emitted twice.
            val flagged = ids.indices.filter(nfs)
            for { bi <- flagged.iterator; j <- ids.indices.iterator
                  if j != bi && (!nfs(j) || j > bi) }
              yield if (bi < j) (ids(bi), ids(j)) else (ids(j), ids(bi))
          }
        }
      }
      .toDF("id_a", "id_b")
      .distinct()

    // Verification: fetch both signatures for the candidate set. On a
    // friendly corpus this set is small; on a self-similar one it is the
    // O(n²) candidate flood, so the estimator is the codegen'd
    // sig_match_count expression (bit-identical to minhashEstimate's HOF
    // form, which runs interpreted — measured 2.5× end-to-end on a
    // 10.8M-candidate adversarial cluster). The signature frame is
    // broadcast-sized per partition of candidates; Spark picks the
    // broadcast join on its own when sigs fit.
    val verified = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        call_function("sig_match_count", col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    ManagedPairs(verified, () => (), () => drops.stats())
  }

  /** EXACT near-duplicate pairs at `threshold` shingle-set Jaccard,
    * accelerated by MinHash-LSH candidate generation — the production
    * dedup shape: LSH proposes, exact set arithmetic disposes. Emitted
    * pairs carry the true Jaccard, not an estimate, so the result is
    * oracle-checkable against a brute-force all-pairs computation.
    *
    * Completeness is probabilistic but engineered to vanish — CONDITIONAL
    * on zero dropped buckets: permissive banding (default 32 bands × 4
    * rows) misses a pair at j=0.8 with p=(1−0.8⁴)³² < 5e-8, and the
    * signature-estimate prefilter sits `estMargin` BELOW the exact
    * threshold (0.6 vs 0.8 ≈ 5.7σ of the k=128 estimator at the boundary),
    * so it prunes the candidate flood the permissive curve admits without
    * touching true pairs. A bucket over `maxBucket` voids that bound for
    * its members; drops are observed and WARNed (see [[DedupMetrics]]) and
    * readable via `drops()` — a zero there certifies the < 5e-8 miss bound
    * actually held for the run. Exact verification then joins only the
    * surviving candidates against the shingle sets — the heavy per-doc
    * sets never enter a shuffle; the (small) candidate frame broadcasts
    * against them.
    *
    * Consume `pairs`, then `release()` frees the internal signature cache
    * and `drops()` reports whether the exactness guarantee held (zero
    * dropped buckets) — see [[ManagedPairs]].
    */
  def minhashExactPairsManaged(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 128, bands: Int = 32, shingleWidth: Int = 3,
                               threshold: Double = 0.8, estMargin: Double = 0.2,
                               maxBucket: Int = 1000): ManagedPairs =
    exactPairsImpl(df, idCol, textCol, flagCol = None, k, bands, shingleWidth,
      threshold, estMargin, maxBucket)

  /** Incremental dedup — EXACT near-dup pairs for a NEW batch against an
    * existing CORPUS (the daily-ingest shape): emits batch×corpus and
    * batch×batch pairs at true shingle-set Jaccard ≥ `threshold`, and
    * NEVER corpus×corpus — the corpus's own duplicate structure was
    * already resolved when it was ingested, and re-enumerating it would
    * make every batch pay the full corpus's quadratic bucket work. The
    * corpus side still computes signatures/shingle sets (one linear pass;
    * at scale these are precomputed columns persisted with the corpus —
    * compute them once via this operator's first run and store
    * alongside). Same exactness contract as [[minhashExactPairsManaged]],
    * conditional on zero dropped buckets; same release + drop-stats handle.
    *
    * Ids must be unique ACROSS both frames (they share one id space in
    * the emitted pairs). A batch doc with an id colliding with a corpus
    * doc would silently merge — keep a single id authority upstream. */
  def incrementalExactPairsManaged(batch: DataFrame, corpus: DataFrame,
                                   idCol: String, textCol: String,
                                   k: Int = 128, bands: Int = 32,
                                   shingleWidth: Int = 3, threshold: Double = 0.8,
                                   estMargin: Double = 0.2,
                                   maxBucket: Int = 1000): ManagedPairs = {
    val tagged = batch.select(col(idCol), col(textCol)).withColumn("__nf", lit(true))
      .unionByName(
        corpus.select(col(idCol), col(textCol)).withColumn("__nf", lit(false)))
    exactPairsImpl(tagged, idCol, textCol, flagCol = Some("__nf"), k, bands,
      shingleWidth, threshold, estMargin, maxBucket)
  }

  /** A built, persisted MinHash signature index over a standing corpus —
    * the build/probe split for INCREMENTAL dedup (the missing sibling of
    * [[Similarity.IvfIndex]]/[[Similarity.PqIndex]] and the cluster-label
    * index): the corpus's signatures, sorted shingle sets, AND pre-grouped
    * LSH buckets are computed ONCE per corpus version, so each arriving
    * batch pays only its own (batch-linear) signature work plus a join
    * against the buckets its band hashes actually touch — the per-probe
    * corpus-linear recompute of [[incrementalExactPairsManaged]] disappears.
    *
    * Contents: `sigs` = `(id, sig, ss)` (signature + sorted shingle set,
    * the verification side); `buckets` = `(band, bh, cids)` (sorted member
    * ids per LSH bucket, the candidate side). Both are persisted and
    * eagerly materialized at build; `release()` drops both when the index
    * is retired. At 100 TB these two frames are exactly what production
    * persists as corpus columns — build once per ingest epoch, probe per
    * batch. */
  final case class SignatureIndex(k: Int, bands: Int, shingleWidth: Int,
                                  sigs: DataFrame, buckets: DataFrame,
                                  release: () => Unit)

  /** Build a [[SignatureIndex]]: one combined signature+shingle-set pass
    * over the corpus (the texts are read ONCE — signature and set share
    * the tokenization), then one groupBy to pre-aggregate bucket
    * membership. Eager: both frames are materialized before this returns,
    * so probes never touch the corpus source again (asserted in
    * DedupSpec via a source-read accumulator). */
  def signatureBuild(corpus: DataFrame, idCol: String, textCol: String,
                     k: Int = 128, bands: Int = 32,
                     shingleWidth: Int = 3): SignatureIndex = {
    // validate BEFORE the persist: bucketsFromSigs would throw after the
    // sigs cache entry is registered with no release handle constructed
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val sigs = signatureFrame(corpus, idCol, textCol, k, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val buckets = bucketsFromSigs(sigs, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count(); buckets.count()
    SignatureIndex(k, bands, shingleWidth, sigs, buckets,
      () => { sigs.unpersist(); buckets.unpersist(); () })
  }

  /** The per-doc signature computation alone — the `(id, sig, ss)` frame
    * a tiered L0 epoch commits ([[graft.streaming.SignatureTieredStream]]):
    * one tokenize pass over `df`, no bucket aggregation. */
  def signatureFrame(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 128, shingleWidth: Int = 3): DataFrame =
    sigShingleFrame(df, idCol, textCol, k, shingleWidth)

  /** The LSH bucket aggregation over an `(id, sig, ss)` frame — shared by
    * [[signatureBuild]] and the tiered roll (delta-side buckets at probe
    * time, merged buckets at major time). Sorted member ids per (band,
    * band-hash) bucket. */
  def bucketsFromSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val r = k / bands
    sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("band"), bandHash(col("sig"), col("band"), r).as("bh"))
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("id"))).as("cids"))
  }

  /** [[incrementalExactPairsManaged]] against a prebuilt [[SignatureIndex]] —
    * identical pairs (same band hashes, same estimate prefilter, same
    * exact verification), but the corpus side comes entirely from the
    * index: the probe computes batch-side signatures only, shuffles only
    * batch band rows, and reads corpus members only for the buckets the
    * batch actually hits (left join batch-buckets → corpus-buckets).
    * Bucket-cap semantics match the managed path: a merged bucket
    * (batch + corpus members) over `maxBucket` is dropped with observable
    * stats; corpus-only buckets never even reach the probe.
    * `release()` frees only the BATCH-side signature cache — the index is
    * owned by its builder. */
  def incrementalExactPairsIndexedManaged(batch: DataFrame, index: SignatureIndex,
                                          idCol: String, textCol: String,
                                          threshold: Double = 0.8,
                                          estMargin: Double = 0.2,
                                          maxBucket: Int = 1000): ManagedPairs = {
    val bs = sigShingleFrame(batch, idCol, textCol, index.k, index.shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inner = incrementalPairsFromSigs(bs, index, threshold, estMargin,
      maxBucket)
    ManagedPairs(inner.pairs, () => { bs.unpersist(); () }, inner.drops)
  }

  /** [[incrementalExactPairsIndexedManaged]] over a PRECOMPUTED (and
    * caller-persisted) batch `(id, sig, ss)` frame — the d14/tiered-roll
    * path computes the batch signatures ONCE and shares the frame between
    * this probe and the L0 fold commit, instead of tokenizing the batch
    * twice. The caller owns `bs`'s lifecycle; the returned release is a
    * no-op. */
  private[graft] def incrementalPairsFromSigs(bs: DataFrame,
                                              index: SignatureIndex,
                                              threshold: Double,
                                              estMargin: Double,
                                              maxBucket: Int): ManagedPairs = {
    val spark = bs.sparkSession
    import spark.implicits._
    val r = index.k / index.bands
    val bBuckets = bs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(index.bands - 1))).as("band"))
      .select(col("id"), col("band"), bandHash(col("sig"), col("band"), r).as("bh"))
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(col("id"))).as("bids"))
    val drops = DedupMetrics.counter(spark, "minhash", maxBucket)
    val cand = bBuckets
      .join(index.buckets, Seq("band", "bh"), "left")
      .select(col("bids"),
        coalesce(col("cids"), array().cast("array<long>")).as("cids"))
      .as[(Seq[Long], Seq[Long])]
      .mapPartitions { rows =>
        var warned = false
        rows.flatMap { case (bids, cids) =>
          val n = bids.size + cids.size
          if (n < 2) Iterator.empty
          else if (n > maxBucket) {
            drops.buckets.add(1L); drops.rows.add(n.toLong)
            if (!warned) { DedupMetrics.warnDropped("minhash", n, maxBucket); warned = true }
            Iterator.empty
          } else {
            // bids and cids are each sorted ascending and disjoint (one id
            // authority across batch and corpus — same contract as the
            // managed path), so batch×batch pairs are already (min, max)
            // by index order; batch×corpus pairs normalize explicitly.
            val bb = for { i <- bids.indices.iterator
                           j <- Iterator.range(i + 1, bids.size) }
              yield (bids(i), bids(j))
            val bc = for { b <- bids.iterator; c <- cids.iterator }
              yield if (b < c) (b, c) else (c, b)
            bb ++ bc
          }
        }
      }
      .toDF("id_a", "id_b")
      .distinct()
    val lk = bs.unionByName(index.sigs)
    val verified = cand
      .join(lk.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("ss").as("ss_a")), Seq("id_a"))
      .join(lk.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("ss").as("ss_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        call_function("sig_match_count", col("sig_a"), col("sig_b"))
          .cast("double") / index.k)
      .filter(col("est_jaccard") >= math.max(0.0, threshold - estMargin))
      .withColumn("jaccard", call_function("set_jaccard", col("ss_a"), col("ss_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    ManagedPairs(verified, () => (), () => drops.stats())
  }

  /** The LSH band hash — ONE definition shared by the self-dedup path and
    * the signature index, so index buckets and probe-side band hashes can
    * never drift. */
  private def bandHash(sig: Column, band: Column, r: Int): Column =
    xxhash64(slice(sig, band * r + 1, lit(r)), band)

  /** One combined pass computing both verification artifacts per doc:
    * `(id, minhash signature, sorted shingle set)` — text tokenized once,
    * emitted only when the doc has at least one shingle (both kernels
    * agree on that condition). Same JVM-kernel rationale as
    * [[lshPairsImpl]]; fully distributed. */
  private def sigShingleFrame(df: DataFrame, idCol: String, textCol: String,
                              k: Int, shingleWidth: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          for {
            sig <- minhashSignatureJvm(text, k, shingleWidth)
            ss <- shingleSetJvm(text, shingleWidth)
          } yield (id, sig.toSeq, graft.plans.SetJaccard.sortedUtf8(ss).toSeq)
        }
      }
      .toDF("id", "sig", "ss")
  }

  private def exactPairsImpl(df: DataFrame, idCol: String, textCol: String,
                             flagCol: Option[String], k: Int, bands: Int,
                             shingleWidth: Int, threshold: Double,
                             estMargin: Double, maxBucket: Int): ManagedPairs = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE scan computes signature AND shingle set per document (both
    // kernels JVM loops — the expression forms measured ~40 s / 350+ s on
    // 5 000 long documents, see lshPairsImpl), and ONE persisted frame
    // serves the banding pass, the estimate verify, and the exact
    // verification joins. The previous shape ran lshPairsImpl's signature
    // pass and a SEPARATE shingle pass: two scans, two tokenizations, two
    // cached frames — pure waste at the stated per-row dominant cost.
    // Sets are sorted ONCE per document (binary UTF-8 order) so the exact
    // Jaccard below is the codegen'd set_jaccard merge scan.
    val flag = flagCol.map(f => col(f).cast("boolean")).getOrElse(lit(true))
    val combined = df
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long"), col(textCol), flag)
      .as[(Long, String, Boolean)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text, nf) =>
          for {
            sig <- minhashSignatureJvm(text, k, shingleWidth)
            ss <- graft.functions.TextFunctions.shingleSetJvm(text, shingleWidth)
          } yield (id, sig.toSeq,
            graft.plans.SetJaccard.sortedUtf8(ss).toSeq, nf)
        }
      }
      .toDF("id", "sig", "ss", "nf")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val managed = lshPairsFromSigs(combined.select("id", "sig", "nf"),
      k, bands, math.max(0.0, threshold - estMargin), maxBucket)
    val cand = managed.pairs.select("id_a", "id_b")
    val exact = cand
      .join(combined.select(col("id").as("id_a"), col("ss").as("ss_a")), Seq("id_a"))
      .join(combined.select(col("id").as("id_b"), col("ss").as("ss_b")), Seq("id_b"))
      .withColumn("jaccard", call_function("set_jaccard", col("ss_a"), col("ss_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    ManagedPairs(exact, () => { combined.unpersist(); () }, managed.drops)
  }

  /** SimHash near-duplicate pairs: 64-bit signature, candidates blocked on
    * `bands` bit-slices of the signature, verified by exact Hamming
    * distance.
    *
    * Recall guarantee (pigeonhole): a pair within Hamming distance
    * `bands - 1` MUST share at least one unchanged band, so candidate
    * generation is complete for `maxHamming <= bands - 1` — enforced, not
    * assumed. More bands → complete recall at larger distances but coarser
    * (bigger) buckets: bands=4 (16-bit slices) suits the standard
    * near-dup threshold of 3; pushing maxHamming up requires accepting the
    * larger candidate sets that come with narrower slices.
    *
    * Unlike MinHash (1 KB signatures, kept out of the candidate shuffle),
    * a SimHash signature is 8 bytes — the size of the id riding next to
    * it — so it travels inside the bucket rows. That makes the whole
    * candidate stage ONE groupBy shuffle of (band, bh, id, sh): pairs are
    * enumerated bucket-side with signatures in hand, no window-count cap
    * pass, no self-join, no join-back, and no persisted frame to manage:
    * the handle's `release()` is a no-op, `drops()` reads the drop stats. */
  def simhashPairsManaged(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, maxBucket: Int = 1000,
                          bands: Int = 4): ManagedPairs = {
    require(bands >= 2 && bands <= 64, s"bands=$bands out of range")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming exceeds the banding recall guarantee of " +
        s"bands-1=${bands - 1}; raise bands for complete recall")
    val width = 64 / bands // last band absorbs the remainder bits
    val spark = df.sparkSession
    import spark.implicits._
    // SimHash computed in a JVM kernel for the same reason as the MinHash
    // signature (see above): the expression form builds a 64-wide vote
    // vector per token through interpreted lambdas. Same hash as
    // TextFunctions.simhashExpr (prime-field tokenHash31/tokenHash131 +
    // the simhashBitMixers double-hash bits) so the two formulations
    // agree bit-for-bit — asserted in TextFunctionsSpec.
    val sigs = df
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          simhash64Jvm(text).map(sh => (id, sh))
        }
      }
      .toDF("id", "sh")

    val banded = sigs.select(col("id"), col("sh"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bh", expr(
        s"""CASE WHEN band = ${bands - 1}
           |  THEN shiftrightunsigned(sh, band * $width)
           |  ELSE shiftrightunsigned(sh, band * $width) & ${(1L << width) - 1}
           |END""".stripMargin))

    // Buckets above maxBucket (degenerate near-identical boilerplate) are
    // dropped rather than allowed to go quadratic — same accumulator-and-
    // WARN reporting as MinHash. Pair enumeration and the exact Hamming
    // verification both happen bucket-side in the same JVM loop: signatures
    // are already in hand, so no join-back and no second shuffle.
    val drops = DedupMetrics.counter(spark, "simhash", maxBucket)
    val pairs = banded
      .groupBy("band", "bh")
      .agg(sort_array(collect_list(struct(col("id").as("_1"), col("sh").as("_2")))).as("ms"))
      .select("ms").as[Seq[(Long, Long)]]
      .mapPartitions { buckets =>
        var warned = false
        buckets.flatMap { ms =>
          val n = ms.size
          if (n > maxBucket) {
            drops.buckets.add(1L); drops.rows.add(n.toLong)
            if (!warned) { DedupMetrics.warnDropped("simhash", n, maxBucket); warned = true }
            Iterator.empty
          } else if (n < 2) Iterator.empty
          else {
            val a = ms.toArray // sorted by (id, sh) => id_a < id_b
            for {
              i <- a.indices.iterator
              j <- (i + 1 until n).iterator
              h = java.lang.Long.bitCount(a(i)._2 ^ a(j)._2) if h <= maxHamming
            } yield (a(i)._1, a(j)._1, h)
          }
        }
      }
      .toDF("id_a", "id_b", "hamming")
      .dropDuplicates("id_a", "id_b")
    ManagedPairs(pairs, () => (), () => drops.stats())
  }

  /** Embedding-space near-duplicate pairs, blocked by an IVF coarse
    * quantizer: all pairs assigned to the same k-means cell whose exact
    * cosine reaches `threshold`. The classic scale shape for embedding
    * dedup — the data-adaptive cells play the role the blocking key plays
    * in [[jaccardPairs]], bounding the quadratic enumeration to within-cell
    * (nCells is the work dial), and the exact cosine (codegen'd
    * `float_dot`) disposes. Recall = P(pair shares a cell): near-identical
    * vectors quantize together essentially always; the looser the pair,
    * the more it depends on cell coarseness (asserted in DedupSpec on
    * clustered vectors). Deterministic end to end — the DuckDB oracle
    * replays the training and the blocking exactly (see v05 in
    * VectorQueries). */
  def embeddingNearDupPairs(index: Similarity.IvfIndex, threshold: Double): DataFrame = {
    val a = index.assigned.select(col("cell"), col("nid").as("id_a"),
      col("nv").as("va"), col("nn").as("na"))
    val b = index.assigned.select(col("cell"), col("nid").as("id_b"),
      col("nv").as("vb"), col("nn").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Exact n-gram Jaccard similarity pairs within a blocking key. The block
    * key bounds the join fan-out (at scale: a cheap cluster id — source,
    * domain, length bucket, or an LSH band from above). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, blockCol: String,
                   threshold: Double): DataFrame = {
    val t = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        tokenSet(col(textCol)).as("s"))
    val a = t.select(col("blk"), col("id").as("id_a"), col("s").as("s_a"))
    val b = t.select(col("blk"), col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
          size(array_union(col("s_a"), col("s_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Overlap-coefficient (containment) near-dup pairs, blocked like
    * [[jaccardPairs]]: C(A,B) = |A∩B| / min(|A|,|B|) over token SETS —
    * the asymmetric measure that catches subset/quote duplication
    * (a short doc fully contained in a long one scores 1.0 here while
    * its Jaccard |A∩B|/|A∪B| can be arbitrarily low). The pair survives
    * when the SMALLER side is ≥ `threshold` contained in the other, the
    * standard "is this document mostly a copy of part of that one"
    * question of quote/boilerplate dedup.
    *
    * Same scale shape as [[jaccardPairs]]: quadratic only within a block
    * (documented verification tool / small-block filter — the LSH family
    * is the corpus-scale candidate generator), one shuffle on the block
    * key, exact integer set arithmetic with a single division at the end.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCol: String, threshold: Double): DataFrame = {
    val t = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("id"), col(blockCol).as("blk"),
        tokenSet(col(textCol)).as("s"))
    val a = t.select(col("blk"), col("id").as("id_a"), col("s").as("s_a"))
    val b = t.select(col("blk"), col("id").as("id_b"), col("s").as("s_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("containment",
        size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
          least(size(col("s_a")), size(col("s_b"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** [[containmentPairs]]' corpus-scale twin (r8 verdict task 4): the SAME
    * pair set — C(A,B) ≥ `threshold` within a block — via PREFIX-FILTERED
    * inverted-index candidates instead of the quadratic block self-join.
    *
    * Why not banded MinHash: LSH-on-Jaccard is exactly what containment
    * exists to outflank (a short doc quoted inside a long one has high C
    * but arbitrarily LOW Jaccard, so its signatures rarely collide), and
    * any Jaccard-banded generator reintroduces that miss as a false
    * negative. Prefix filtering (the AllPairs/PPJoin discipline — Bayardo
    * et al., "Scaling Up All Pairs Similarity Search", WWW 2007 — adapted
    * to the overlap coefficient) is EXACT: C(A,B) ≥ t with |A| ≤ |B|
    * forces |A∖B| ≤ (1−t)·|A|, so among A's first ⌊(1−t)·|A|⌋+1 tokens in
    * ANY fixed global order at least one is also in B. Candidates are
    * therefore "some token is in the smaller doc's PREFIX and anywhere in
    * the larger doc" — an equi-join on (block, token), never all-pairs.
    *
    * Two deliberate approximation-free shortcuts keep the pipeline cheap:
    *
    *  - The ENTIRE candidate pipeline runs on `xxhash64(token)`, never the
    *    token string (the t11 lesson: 8-byte keys, not ~8× wider strings,
    *    through every shuffle). Sound because prefix soundness needs no
    *    particular order at all — ANY ⌊(1−t)·|A|⌋+1 distinct tokens of A
    *    exceed |A∖B| — and a hash collision can only MERGE buckets, i.e.
    *    add spurious candidates, which the exact verify kills.
    *  - Prefix selection orders by ascending document frequency (rarest
    *    first, one hash-keyed groupBy), which keeps stop-words out of
    *    prefixes and posting buckets small; again purely a bucket-size
    *    heuristic, not a correctness ingredient.
    *
    * Buckets over `maxBucket` members are dropped with observable
    * [[DedupMetrics]] stats — the same conditional-exactness contract as
    * the LSH/residue kernels (zero drops ⇒ pair set is exactly
    * [[containmentPairs]]'s, pinned in DedupSpec). Survivors are verified
    * with the IDENTICAL exact set arithmetic over the true token sets, so
    * emitted scores are bit-equal to the quadratic form's.
    *
    * Scale shape: two linear hash-keyed shuffles (token-rank window by id,
    * posting groupBy on (block, token-hash)) + one distinct on candidate
    * ids + a hash join back to the sets for verification. Ids must be
    * numeric (cast to long — the LSH-family id contract). */
  /** Cost-dispatched containment pairs — the form production calls: the
    * quadratic-within-block join for SMALL blocks, the prefix-filtered
    * index for LARGE ones, per block, union of the two. Both paths are
    * exact (same pair set, bit-equal scores — DedupSpec), so the split is
    * purely a cost decision, the operator-level analog of Spark's own
    * broadcast-vs-shuffle join selection: below `maxQuadBlock` docs a
    * block's n² comparisons run as ONE codegen'd equi-join + filter and
    * beat the index path's three shuffles of fixed overhead (measured at
    * sf0.1: 250-doc blocks, 0.8 s quadratic vs 3.5 s indexed — the work
    * floor is the same ~560k verifications either way on that corpus's
    * 31-token vocabulary, and the index machinery is pure overhead);
    * above it, n² dominates every fixed cost and the index path is the
    * only survivable plan. Block sizes come from one cheap count
    * aggregate. Ids must be numeric (cast to long, both paths, so the
    * union is type-stable). */
  def containmentPairsAuto(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String, threshold: Double,
                           maxQuadBlock: Int = 2048,
                           maxBucket: Int = 10000): DataFrame = {
    val d = df.withColumn(idCol, col(idCol).cast("long"))
    val sizes = d.groupBy(col(blockCol)).agg(count(lit(1)).as("__bn"))
    val tagged = d.join(sizes, Seq(blockCol))
    val small = tagged.filter(col("__bn") <= maxQuadBlock).drop("__bn")
    val large = tagged.filter(col("__bn") > maxQuadBlock).drop("__bn")
    containmentPairs(small, idCol, textCol, blockCol, threshold)
      .unionByName(
        containmentPairsIndexed(large, idCol, textCol, blockCol, threshold,
          maxBucket))
  }

  def containmentPairsIndexed(df: DataFrame, idCol: String, textCol: String,
                              blockCol: String, threshold: Double,
                              maxBucket: Int = 10000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .repartition(spark.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long").as("id"), col(blockCol).as("blk"),
        tokenSet(col(textCol)).as("s"))
    // token rows carry only (id, blk, set size, token HASH) — never the
    // set, never the string
    val toks = base.select(col("id"), col("blk"), size(col("s")).as("sz"),
      explode(transform(col("s"), w => xxhash64(w))).as("w"))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("df"))
    // Minimum integer overlap that PASSES THE VERIFIER for a smaller-set
    // size m: the smallest o with o/m >= t under the exact same double
    // arithmetic the verification filter runs. Deriving the prefix length
    // from ⌊(1−t)·m⌋ instead is WRONG at the boundary — (1.0 − 0.9) is
    // 0.0999…8 in IEEE, so a C = 0.9 pair over a 10-token set got a
    // 1-token prefix while |A∖B| = 1 (found as 74 lost boundary pairs in
    // the DedupSpec parity corpus). o is within 1 of ⌊t·m⌋; probing the
    // three candidates with the verifier's own comparison is exact.
    val fl = floor(lit(threshold) * col("sz"))
    val minOverlap = when((fl - 1) / col("sz") >= threshold, fl - 1)
      .when(fl / col("sz") >= threshold, fl)
      .otherwise(fl + 1)
    val ranked = toks.join(freq, "w")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")
          .orderBy(col("df"), col("w"))))
      // prefix = sz − o_min + 1 tokens: any that many distinct tokens of
      // A must intersect every B that can still verify
      .withColumn("pfx", col("rn") <= col("sz") - minOverlap + 1)
    val drops = DedupMetrics.counter(spark, "containment", maxBucket)
    val cand = ranked
      .groupBy("blk", "w")
      .agg(collect_list(struct(col("id"), col("sz"), col("pfx"))).as("ps"))
      .select(col("ps"))
      .as[Seq[(Long, Int, Boolean)]]
      .mapPartitions { buckets =>
        var warned = false
        buckets.flatMap { ps =>
          val n = ps.size
          if (n < 2) Iterator.empty
          else if (n > maxBucket) {
            drops.buckets.add(1L); drops.rows.add(n.toLong)
            if (!warned) { DedupMetrics.warnDropped("containment", n, maxBucket); warned = true }
            Iterator.empty
          } else {
            val arr = ps.toArray
            // prefix-side member is the (weakly) smaller doc; equal sizes
            // emit both orientations, normalized + distinct-ed below
            for {
              a <- arr.iterator if a._3
              b <- arr.iterator
              if b._1 != a._1 && a._2 <= b._2
            } yield if (a._1 < b._1) (a._1, b._1) else (b._1, a._1)
          }
        }
      }
      .toDF("id_a", "id_b")
      .distinct()
    // exact verification — the same expressions as containmentPairs, so
    // surviving pairs carry bit-identical scores
    val lk = base.select(col("id"), col("s"))
    cand
      .join(lk.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(lk.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("containment",
        size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
          least(size(col("s_a")), size(col("s_b"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Cross-document SPAN dedup profile — the exact-substring-dedup shape of
    * Lee et al., "Deduplicating Training Data Makes Language Models Better"
    * (ACL 2022), at token-window granularity: every length-`w` token window
    * that occurs in ≥ 2 distinct documents is a duplicated span, and a
    * document's duplication level is the fraction of its token POSITIONS
    * covered by at least one such window (overlapping windows don't double
    * count — coverage is a position-set union, not a window count).
    *
    * Emits one row per document: (id, n_tokens, n_dup_windows,
    * n_cov_tokens, cov_frac) — the per-doc signal a pipeline thresholds on
    * to drop or trim duplicated documents. Documents shorter than `w`
    * have no windows and report zero duplication.
    *
    * Scale shape: window enumeration is map-side (one array transform per
    * row — ~n_tokens small rows out per doc); the duplicate-window
    * index is ONE hash shuffle on the window text (the same inverted-index
    * discipline as [[graft.operators.Splits.contamination]] — no pairwise
    * join anywhere); coverage is a distinct + count per doc over hit
    * windows only, which on real corpora is a small fraction of all
    * windows. The hit frame feeds two aggregates (window count + coverage)
    * and is tiny relative to the corpus, so recomputing its lineage twice
    * is cheaper than a persist barrier at 100 TB; callers chasing the last
    * few percent can persist it upstream.
    *
    * At 100 TB the window text itself never needs to shuffle: swap the
    * `gram` string for a 64-bit hash (xxhash64) and the index shrinks ~8×
    * with a ~n²·2⁻⁶⁴ false-merge risk. The string form is kept here so the
    * DuckDB oracle replays the operator exactly. */
  def spanDedupProfile(df: DataFrame, idCol: String, textCol: String,
                       w: Int = 8): DataFrame = {
    val (base, wins, dup) = spanWindowIndex(df, idCol, textCol, w)
    val hit = wins.join(dup, "gram")
    val dw = hit.groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    val cov = hit
      .select(col("id"), explode(sequence(col("w0"), col("w0") + (w - 1))).as("p"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("n_cov_tokens"))
    base.select(col("id"), size(col("tk")).cast("long").as("n_tokens"))
      .join(dw, Seq("id"), "left")
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_cov_tokens"), lit(0L)).as("n_cov_tokens"),
        // zero-token docs (empty/whitespace text) report 0.0, not the
        // NULL (Spark) / NaN (DuckDB) a bare 0/0 division would produce
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(coalesce(col("n_cov_tokens"), lit(0L)).cast("double") /
            col("n_tokens"), 4)).as("cov_frac"))
  }

  /** Shared window enumeration of [[spanDedupProfile]]/[[spanDedupClean]]:
    * `base` = (id, token array); `wins` = (id, w0, gram) for every
    * length-`w` window (docs shorter than `w` emit nothing —
    * sequence(0, size-w) would count DOWN for size < w); `dup` = grams in
    * ≥ 2 distinct documents. One definition of "duplicated span" for both
    * the profile and the transform — they cannot silently diverge. */
  private def spanWindowIndex(df: DataFrame, idCol: String, textCol: String,
                              w: Int): (DataFrame, DataFrame, DataFrame) = {
    require(w >= 2, s"window width must be >= 2, got $w")
    val base = df.select(col(idCol).cast("long").as("id"),
      filter(split(col(textCol), " "), t => t =!= "").as("tk"))
    val wins = base
      .filter(size(col("tk")) >= w)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("tk")) - w),
        i => struct(i.as("w0"),
          concat_ws(" ", slice(col("tk"), i + lit(1), lit(w))).as("gram")))).as("wn"))
      .select(col("id"), col("wn.w0").as("w0"), col("wn.gram").as("gram"))
    val dup = wins.groupBy("gram")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    (base, wins, dup)
  }

  /** The TRANSFORM half of [[spanDedupProfile]]: rewrite each document
    * with its cross-document duplicated spans REMOVED (every token
    * position covered by a ≥2-document window is dropped; uncovered
    * tokens keep their relative order). This is the aggressive variant —
    * both copies of a duplicated span are cut, where Lee et al. keep one
    * occurrence; the aggressive form needs no global "who keeps it"
    * election (which is a second CC-shaped pass) and is what pipelines
    * run when any cross-doc boilerplate is unwanted. Same scale shape as
    * the profile: map-side window enumeration, ONE gram shuffle, coverage
    * join back; the rewrite itself is a per-row array filter. */
  def spanDedupClean(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 8): DataFrame = {
    val (base, wins, dup) = spanWindowIndex(df, idCol, textCol, w)
    val cov = wins.join(dup, "gram")
      .select(col("id"), explode(sequence(col("w0"), col("w0") + (w - 1))).as("p"))
      // no distinct: collect_set's set semantics dedup positions in-agg
      .groupBy("id").agg(collect_set(col("p")).as("drop_pos"))
    base.join(cov, Seq("id"), "left")
      .select(col("id"), col("tk"),
        when(col("drop_pos").isNull, col("tk"))
          .otherwise(filter(col("tk"),
            (t, i) => !array_contains(col("drop_pos"), i))).as("kept"))
      .select(col("id"), size(col("tk")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("kept")).as("kept_text"))
  }

  /** Record-linkage pairs at Levenshtein distance ≤ 1 via FastSS deletion
    * neighborhoods (Bocek et al., 2007): every string emits itself plus its
    * |s| single-char deletions as join keys; two strings are within one
    * edit IFF their neighborhoods intersect (substitution → both delete the
    * differing position; insertion/deletion → the shorter string IS a
    * member of the longer one's neighborhood). The candidate step is a HASH
    * JOIN on (block, key) — O(n·L) keys total, never the block-quadratic
    * all-pairs a direct `levenshtein` join costs (and which no cheap
    * length/prefix prefilter saves when the corpus shares a common prefix,
    * e.g. generated names). Neighborhood intersection admits false
    * positives at distance 2 (two different deletions, same residue), so
    * candidates are confirmed with one exact `levenshtein` each.
    *
    * Returns (blk, id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}.
    * Shares [[editPairsK]]'s hash-kernel candidate pipeline (k = 1: L+1
    * residues per string — the streamed-hash key generation and the
    * run-detector buckets pay off the same way, just one order lower). */
  def editPairs1(df: DataFrame, idCol: String, blockCol: String,
                 strCol: String, maxBucket: Int = 2000): DataFrame =
    neighborhoodPairs(df, idCol, blockCol, strCol, k = 1, maxBucket)

  /** [[editPairs1]] generalized to Levenshtein distance ≤ `k` via k-deletion
    * neighborhoods: every string emits all variants with up to `k` chars
    * deleted as join keys. If ed(a,b) ≤ k, an alignment argument gives a
    * common string reachable from BOTH by ≤ k deletions (delete each side's
    * substituted/inserted chars), so neighborhood intersection is a
    * complete candidate generator; it over-generates (intersection only
    * bounds ed ≤ 2k), and one exact `levenshtein` per candidate disposes.
    *
    * The key-volume tradeoff is the reason for the `k ≤ 2` cap: a string of
    * length L emits Σ_{d≤k} C(L,d) keys — L+1 at k=1, ~L²/2 at k=2, L³/6 at
    * k=3. At k=2 the hash join still beats block-quadratic `levenshtein`
    * for the block sizes linkage blocking produces; by k=3 the candidate
    * flood (both key count AND collision fan-out per key) overtakes it, and
    * the right tool is a different blocking scheme, not a deeper
    * neighborhood.
    *
    * Key generation is a tight JVM kernel ([[hashDeletionResidues]]) that
    * hashes every ≤2-deletion residue of (block, string) by STREAMING the
    * surviving chars through a 64-bit FNV-1a — the residue strings are
    * never materialized. The previous formulation (nested `transform` +
    * `substr`/`concat` + `array_distinct` column expressions) built ~L²/2
    * residue STRINGS per row and spent 60%+ of d11's wall-clock there;
    * the hash kernel removes every allocation from the hot loop. Hash
    * collisions (64-bit, content-hash) can only ADD candidates, never
    * lose one; the block-equality recheck and the exact levenshtein
    * dispose of them.
    *
    * Residue buckets larger than `maxBucket` (degenerate near-identical
    * clusters — where pair emission would go quadratic) are REFUSED, the
    * refusing task WARNs, and drop counts ride in named accumulators
    * (`graft.dedup.edit2.*`, the [[DedupMetrics]] discipline shared with
    * `minhashLshPairsManaged`) — never silent. Exactness vs a block-quadratic
    * oracle therefore holds exactly when the drop counters read zero.
    *
    * Returns (blk, id_a, id_b, dist) with id_a < id_b, dist ∈ [0, k]. */
  def editPairsK(df: DataFrame, idCol: String, blockCol: String,
                 strCol: String, k: Int, maxBucket: Int = 2000): DataFrame = {
    require(k >= 1 && k <= 2,
      s"editPairsK: k=$k unsupported — key volume is O(L^k) per string " +
        "(see scaladoc); use k=1 or k=2, or change the blocking scheme")
    neighborhoodPairs(df, idCol, blockCol, strCol, k, maxBucket)
  }

  /** Shared candidate pipeline of [[editPairs1]]/[[editPairsK]]. */
  private def neighborhoodPairs(df: DataFrame, idCol: String, blockCol: String,
                                strCol: String, k: Int, maxBucket: Int): DataFrame = {
    {
      val spark = df.sparkSession
      import spark.implicits._
      val n = df.select(col(idCol).cast("long").as("id"),
        col(blockCol).as("blk"), col(strCol).as("s"))
      val drops = DedupMetrics.counter(spark, s"edit$k", maxBucket)
      // Only (id, hash) rows ever shuffle — 16 bytes/key instead of the
      // ~L-char residue strings that would otherwise dominate the exchange.
      // NULL strings/blocks emit no keys: a NULL can never pair (the same
      // contract the editPairs1 expression path gets from explode(null)).
      val keys = n
        .select(col("id"), col("blk").cast("string").as("blk_s"), col("s"))
        .as[(Long, String, String)]
        .mapPartitions(_.flatMap { case (id, blk, s) =>
          if (blk == null || s == null) Iterator.empty
          else hashDeletionResidues(blk, s, k).iterator.map(h => (id, h))
        })
        .toDF("id", "kh")
      // Candidate generation: ONE shuffle of the (id, kh) keys, then a
      // partition-local sort and a streaming run-detector that emits pairs
      // straight out of each equal-kh run. 75%+ of buckets are singletons;
      // this shape allocates NOTHING for them, unlike a groupBy+collect_set
      // (ObjectHashAggregate builds a set per group — measured +1.8 s at
      // sf0.1) or a key self-join (shuffles the key table twice).
      val cand = keys
        .repartition(col("kh"))
        .sortWithinPartitions("kh", "id")
        .select(col("kh"), col("id")).as[(Long, Long)]
        .mapPartitions { rows =>
          var warned = false
          val it = rows.buffered
          new Iterator[Iterator[(Long, Long)]] {
            def hasNext: Boolean = it.hasNext
            def next(): Iterator[(Long, Long)] = {
              val kh = it.head._1
              val buf = new scala.collection.mutable.ArrayBuffer[Long](4)
              // ids arrive sorted within the run: skip adjacent repeats so
              // a duplicated input id can never emit a (x, x) self-pair
              // (the old join's id_a < id_b exclusion, preserved)
              while (it.hasNext && it.head._1 == kh) {
                val id = it.next()._2
                if (buf.isEmpty || buf(buf.size - 1) != id) buf += id
              }
              val m = buf.size
              if (m < 2) Iterator.empty
              else if (m > maxBucket) {
                drops.buckets.add(1L); drops.rows.add(m.toLong)
                if (!warned) {
                  DedupMetrics.warnDropped(s"edit$k", m, maxBucket); warned = true
                }
                Iterator.empty
              } else {
                val ids = buf.toArray // already id-ascending (partition sort)
                for { i <- ids.indices.iterator
                      j <- Iterator.range(i + 1, m) } yield (ids(i), ids(j))
              }
            }
          }.flatten
        }
        .toDF("id_a", "id_b")
      val lk = n.select(col("id"), col("blk"), col("s"))
      // A pair can surface from several shared residues — duplicates are
      // NOT dropped here: they ride the (broadcast, map-side) joins and the
      // exact-verify filter, and dedup happens on the far smaller verified
      // set. distinct() before the join measured slower (full-width shuffle
      // of 1.3M candidate rows vs ~0.2M result rows).
      cand
        .join(lk.select(col("id").as("id_a"), col("blk"), col("s").as("s_a")),
          Seq("id_a"))
        .join(lk.select(col("id").as("id_b"), col("blk").as("blk_b"),
          col("s").as("s_b")), Seq("id_b"))
        // hash-collision cross-block FPs die here; plain === also keeps
        // the join-key contract that NULL blocks never pair
        .filter(col("blk") === col("blk_b"))
        .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
        .filter(col("dist") <= k)
        .select(col("blk"), col("id_a"), col("id_b"), col("dist"))
        .distinct()
    }
  }

  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** All DISTINCT 64-bit FNV-1a hashes of (block ++ SEP ++ residue) for
    * every residue of `s` with 0, 1, or (when `k` = 2) 2 chars deleted —
    * computed by streaming the surviving chars, no residue string is ever
    * built. The separator folds in a value outside the char range so
    * block/string boundary ambiguity cannot alias keys. Duplicate
    * residues (deletions inside runs of equal chars produce the same
    * string) collapse via a sort + adjacent-dedup of the hash array.
    * O(L^{k+1}) char folds per call — ~10⁴ for typical name-length
    * strings at k=2, pure register work. */
  private[operators] def hashDeletionResidues(blk: String, s: String,
                                              k: Int = 2): Array[Long] = {
    val L = s.length
    var h0 = FnvOffset
    var b = 0
    while (b < blk.length) { h0 = (h0 ^ blk.charAt(b).toLong) * FnvPrime; b += 1 }
    h0 = (h0 ^ 0x1ffffL) * FnvPrime // separator: outside any char value
    def residueHash(skip1: Int, skip2: Int): Long = {
      var h = h0
      var p = 0
      while (p < L) {
        if (p != skip1 && p != skip2) h = (h ^ s.charAt(p).toLong) * FnvPrime
        p += 1
      }
      h
    }
    val out = new Array[Long](
      1 + L + (if (k >= 2) L * (L - 1) / 2 else 0))
    var w = 0
    out(w) = residueHash(-1, -1); w += 1
    var i = 0
    while (i < L) {
      out(w) = residueHash(i, -1); w += 1
      if (k >= 2) {
        var j = i + 1
        while (j < L) { out(w) = residueHash(i, j); w += 1; j += 1 }
      }
      i += 1
    }
    java.util.Arrays.sort(out)
    // adjacent-dedup in place; return the compact prefix
    var r = 1; var k2 = 1
    while (r < out.length) {
      if (out(r) != out(r - 1)) { out(k2) = out(r); k2 += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(out, k2)
  }
}
