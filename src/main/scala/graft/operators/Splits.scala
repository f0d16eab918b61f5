package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-splitting and sequence-packing operators for training-data
  * pipelines.
  *
  * Both are deterministic by construction (closed-form hash / pinned
  * window order), so they are exactly reproducible across runs, across
  * cluster layouts, AND by the DuckDB oracle — unlike `randomSplit`,
  * whose per-partition Bernoulli sampling changes with partitioning and
  * gives no stable row↔split mapping.
  */
object Splits {

  /** The hash ring all deterministic split/sample operators (and the IVF
    * initializer) share: a 2³¹ ring with a golden-ratio multiplier below
    * 2³¹, so `(key mod Ring) · Mult < 2⁶²` — no overflow for ANY long key
    * even under ANSI arithmetic, and closed-form BIGINT math in the DuckDB
    * oracle. Keys must be non-negative integers; hash a string key first
    * (e.g. `TextFunctions.tokenHash31(col)` keeps the oracle exact, or
    * `xxhash64` when oracle replay isn't needed). */
  val HashRing = 2147483648L // 2^31
  val HashMult = 1327217885L // odd, ≈ φ⁻¹·2³¹ (Fibonacci hashing)

  /** `((key mod Ring) · Mult) mod Ring` — overflow-proof for all longs. */
  def ringHash(key: Column): Column =
    pmod(pmod(key.cast("long"), lit(HashRing)) * lit(HashMult), lit(HashRing))

  /** Deterministic split assignment by multiplicative hash of `key` over
    * the [[HashRing]]: cumulative weight boundaries carve the ring, and a
    * row lands in the segment its hash falls into. Same key → same split,
    * always — pass a GROUP key (source, url domain, author — hashed to a
    * long first, see [[HashRing]]) instead of the row id to keep groups
    * intact across splits (leakage control). Map-only: no shuffle, no
    * state. */
  def assign(key: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.size >= 2, "need at least two splits")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"weights must sum to 1, got ${weights.map(_._2).sum}")
    val bucket = ringHash(key)
    val cuts = cutsFor(weights)
    // when(bucket < cut1, name1).when(bucket < cut2, name2)...otherwise(last)
    val chain = weights.dropRight(1).zip(cuts).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cut)) =>
        Some(acc.fold(when(bucket < cut, name))(_.when(bucket < cut, name)))
    }
    chain.get.otherwise(weights.last._1)
  }

  /** The split boundaries [[assign]] uses, for embedding in oracle SQL. */
  def cutsFor(weights: Seq[(String, Double)]): Seq[Long] =
    weights.map(_._2).scanLeft(0.0)(_ + _).tail.map(c => (c * HashRing).toLong)

  /** Deterministic per-group downsampling: keep a row iff its key's hash
    * falls below the group's rate boundary on the 2³² ring — the
    * reproducible replacement for `DataFrameStatFunctions.sampleBy`
    * (Bernoulli per row: different rows survive on every run/layout).
    * The standard "rebalance the language/source mix" step of a corpus
    * pipeline: map-only, stable per key, and the kept set of a lower rate
    * is a SUBSET of a higher rate's (nested samples — rate changes don't
    * reshuffle survivors). `rates` maps group value → keep fraction;
    * unlisted groups keep `defaultRate`. */
  def sampleByGroup(df: DataFrame, key: Column, group: Column,
                    rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1))
    val bucket = ringHash(key)
    val cut = rates.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (g, r)) =>
        val c = (r * HashRing).toLong
        Some(acc.fold(when(group === g, c))(_.when(group === g, c)))
    }.fold(lit((defaultRate * HashRing).toLong))(_.otherwise((defaultRate * HashRing).toLong))
    df.filter(bucket < cut)
  }

  /** Keep-decision for [[sampleByWeight]]: true iff `key`'s ring hash
    * falls below `weightNum/weightDen` of the ring. The comparison is
    * EXACT integer arithmetic — `hash · den < min(num, den) · Ring` —
    * so there is no per-row float boundary an oracle could disagree on:
    * hash < 2³¹ and den ≤ 2³¹ keep both products under 2⁶². Weights ≥ 1
    * clamp to keep-always; negative AND NULL weights drop the row (a
    * missing quality signal must not default to keep-always, which is
    * what Spark's null-skipping least() would silently do). */
  def keepByWeight(key: Column, weightNum: Column, weightDen: Long): Column = {
    require(weightDen > 0 && weightDen <= Int.MaxValue.toLong + 1,
      s"weightDen must be in (0, 2^31], got $weightDen")
    ringHash(key) * weightDen <
      greatest(least(coalesce(weightNum.cast("long"), lit(0L)), lit(weightDen)),
        lit(0L)) * HashRing
  }

  /** Deterministic per-row WEIGHTED sampling (importance resampling): keep
    * each row with probability `weightNum/weightDen`, decided by the row
    * key's multiplicative hash — the quality-weighted downsampling step of
    * a corpus pipeline ("keep high-quality documents with higher
    * probability"), reproducible across runs, cluster layouts, and by the
    * DuckDB oracle, unlike rand()-based filtering. `weightNum` is a
    * per-row integer column (a quality score, a length cap, a vote
    * count); the effective keep rate is min(max(num,0),den)/den. Map-only:
    * no shuffle, no state, and nested like [[sampleByGroup]] — raising a
    * row's weight never evicts it. */
  def sampleByWeight(df: DataFrame, key: Column, weightNum: Column,
                     weightDen: Long): DataFrame =
    df.filter(keepByWeight(key, weightNum, weightDen))

  /** Cross-split contamination check (decontamination): for every doc in
    * `targetSplit`, how many of its distinct word n-grams also appear
    * anywhere in `sourceSplit` — the exact inverted-index overlap used to
    * decontaminate eval sets against training corpora. No pairwise join:
    * the source's DISTINCT grams form the inverted index (one hash shuffle
    * on the gram), the target's grams probe it, hits aggregate per target
    * doc. Shingles come from the same JVM kernel the dedup family uses
    * (TextFunctions.shingleSetJvm), so gram semantics match d02/d03
    * exactly. Emits every target doc (zero-contamination rows included):
    * (id, n_grams, n_contaminated, frac). Docs with fewer than `n` tokens
    * have no grams and are excluded, as in the dedup operators. */
  def contamination(df: DataFrame, idCol: String, textCol: String,
                    splitCol: Column, sourceSplit: String, targetSplit: String,
                    n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // One shingle pass, one shuffle: rows outside the two relevant splits
    // are dropped BEFORE the kernel, and the inverted index and the target
    // probe come out of a single groupBy on the gram (per gram: did the
    // source have it; which target docs carry it) — no second scan, no
    // join, nothing recomputed.
    val grams = df
      .select(col(idCol).cast("long").as("id"), splitCol.as("split"),
        col(textCol).as("text"))
      .filter(col("split").isin(sourceSplit, targetSplit))
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, sp, text) =>
        graft.functions.TextFunctions.shingleSetJvm(text, n)
          .iterator.flatMap(_.iterator.map(g => (id, sp, g)))
      })
      .toDF("id", "split", "g")
    // Per-gram verdict as an AGGREGATE (map-side partial max collapses a
    // hot gram's rows before the shuffle), then a join-back of the target
    // rows — never a collect_list of doc ids per gram: a boilerplate gram
    // carried by 50M docs would otherwise materialize one 50M-element
    // aggregation buffer on a single reducer (the OOM shape every capped
    // Dedup kernel refuses). The join's build side is one row per gram,
    // so a hot gram costs streaming lookups, not memory.
    val perGram = grams
      .groupBy("g")
      .agg(max(when(col("split") === sourceSplit, 1).otherwise(0)).as("in_src"))
    grams.filter(col("split") === targetSplit)
      .join(perGram, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("in_src")).cast("long").as("n_contaminated"))
      .withColumn("frac",
        round(col("n_contaminated").cast("double") / col("n_grams"), 4))
  }

  /** Bloom-filter decontamination AUDIT — the sketch-accelerated cousin of
    * [[contamination]], in the production direction: the BENCHMARK split's
    * distinct n-grams build one Bloom filter (Spark's own
    * `BloomFilterAggregate`, surfaced via [[graft.plans.GraftExtensions]]),
    * and every CORPUS doc's grams probe it map-side. At 100 TB this is the
    * shape that wins: the benchmark side is small and aggregates to a
    * `numBits/8`-byte filter with NO distinct shuffle (Bloom insertion is
    * idempotent and the OR-merge commutative, so partial aggregation
    * dedups for free), and the corpus side needs no join at all — each
    * executor probes a plan-embedded constant.
    *
    * This method also carries the exact inverted-index leg (same single
    * gram-shuffle as [[contamination]]) so callers can AUDIT the sketch:
    * emits per corpus doc `(id, n_grams, n_true_hits, n_bloom_hits)`.
    * Bloom guarantees no false negatives — `n_bloom_hits >= n_true_hits`
    * always — and the configured geometry (`numBits` / `estimatedItems`)
    * puts the per-gram false-positive rate low enough that
    * `n_bloom_hits = n_true_hits` in practice; SplitsSpec measures it.
    * Production pipelines drop the exact leg and threshold on
    * `n_bloom_hits` alone. */
  def bloomContamination(df: DataFrame, idCol: String, textCol: String,
                         splitCol: Column, benchSplit: String,
                         corpusSplit: String, n: Int = 3,
                         estimatedItems: Long = 400000L,
                         numBits: Long = 1L << 22): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def shingled(rows: DataFrame): DataFrame = rows
      .as[(Long, String, String)]
      .mapPartitions(_.flatMap { case (id, sp, text) =>
        graft.functions.TextFunctions.shingleSetJvm(text, n)
          .iterator.flatMap(_.iterator.map(g => (id, sp, g)))
      })
      .toDF("id", "split", "g")
    val tagged = df
      .select(col(idCol).cast("long").as("id"), splitCol.as("split"),
        col(textCol).as("text"))
    // Build: shingle ONLY the bench split (the split filter sits below the
    // opaque shingle kernel, where Catalyst can still push it into the
    // scan) and fold straight into the filter — only the numBits/8 filter
    // bytes reach the driver (the broadcast-small-side discipline).
    val bloomBytes = Option(
      shingled(tagged.filter(col("split") === benchSplit))
        .agg(call_function("bloom_agg", xxhash64(col("g")),
          lit(estimatedItems), lit(numBits)).as("bf"))
        .head.getAs[Array[Byte]]("bf"))
    val grams =
      shingled(tagged.filter(col("split").isin(benchSplit, corpusSplit)))
    // An empty bench split yields a NULL filter: semantically an empty
    // set, so every probe answers false rather than null-poisoning sums.
    val bloomHit = bloomBytes match {
      case Some(bytes) =>
        call_function("bloom_might_contain", lit(bytes), xxhash64(col("g")))
          .cast("int")
      case None => lit(0)
    }
    // Same skew-safe shape as [[contamination]]: per-gram verdicts as an
    // aggregate (and the Bloom probe once per DISTINCT gram, on the
    // aggregated row), then a join-back — no per-gram doc-id list buffer.
    val perGram = grams
      .groupBy("g")
      .agg(max(when(col("split") === benchSplit, 1).otherwise(0)).as("in_bench"))
      .withColumn("bloom_hit", bloomHit)
    grams.filter(col("split") === corpusSplit)
      .join(perGram, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("in_bench")).cast("long").as("n_true_hits"),
        sum(col("bloom_hit")).cast("long").as("n_bloom_hits"))
  }

  /** Sequence packing: assign each row to a fixed-budget bin by the
    * cumulative size of the rows before it (within `part`, ordered by
    * `order`) — the standard pretraining "pack documents into ~budget-token
    * sequences" step, as a window computation. A row whose prefix sum
    * crosses the boundary starts in its bin and may overflow it by at most
    * one row — greedy sequential packing, deterministic for a unique
    * `order` key.
    *
    * Scale shape: one window per `part` value — the partition key (shard,
    * language, date bucket) is the parallelism unit; packing is never a
    * global single-partition sort. */
  def packByBudget(df: DataFrame, part: Column, order: Column,
                   size: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(part).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum_before", coalesce(sum(size.cast("long")).over(w), lit(0L)))
      .withColumn("bin", floor(col("__cum_before") / budget).cast("long"))
      .drop("__cum_before")
  }
}
