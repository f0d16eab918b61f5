package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the hot keys of the large (probe) side and
  * replicate the matching build-side rows across the salt range.
  *
  * AQE's skew-join splitting (on by default, GraftSession) covers
  * sort-merge joins at runtime; explicit salting remains the tool when
  * (a) the skew is known ahead of time (a handful of mega-keys), (b) the
  * join is feeding an aggregation keyed on the same column (AQE can't
  * split the aggregate), or (c) running pre-3.2 clusters. One pass, no
  * extra shuffle beyond the join's own: the probe side gains a uniform
  * random salt column, the build side explodes `saltFactor` copies —
  * acceptable because build is the small side.
  *
  * The salt is derived from a hash of stable row content, not rand():
  * deterministic under retries/speculative execution (a rand() salt can
  * duplicate or drop rows when a task is re-run — a real correctness bug
  * at scale, not a style point).
  */
object SkewJoin {

  /** Inner equi-join `large ⋈ small` on `key`, with `large`'s rows spread
    * over `saltFactor` sub-keys. `saltSource` must be stable per row
    * (e.g. a row id) — it seeds the deterministic salt. */
  def saltedInnerJoin(large: DataFrame, small: DataFrame, key: String,
                      saltSource: Column, saltFactor: Int): DataFrame = {
    require(saltFactor > 0)
    val l = large.withColumn("__salt", pmod(xxhash64(saltSource), lit(saltFactor)))
    val s = small
      .withColumn("__salt_i", explode(sequence(lit(0), lit(saltFactor - 1))))
      .withColumn("__salt", col("__salt_i").cast("long")).drop("__salt_i")
    l.join(s, Seq(key, "__salt")).drop("__salt")
  }

  /** Skewed-key frequency probe: the planning helper — find keys whose row
    * count exceeds `threshold` (these are the salting candidates). */
  def hotKeys(df: DataFrame, key: String, threshold: Long): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n")).filter(col("n") >= threshold)

  /** Bloom-prefiltered inner equi-join: build a Bloom filter over the
    * SMALL side's join keys (one commutative `bloom_agg` — only numBits/8
    * filter bytes ever reach the driver), embed it as a plan literal in a
    * map-side `bloom_might_contain` probe on the LARGE side, then run the
    * real join on survivors. Results are IDENTICAL to the plain join (a
    * Bloom filter has no false negatives; false positives die in the
    * join) — the win is SHUFFLE mass: large-side rows whose key cannot
    * match never enter the join exchange, the dominant cost when the
    * large side dwarfs its match set. Spark's own runtime row-level
    * filtering (`spark.sql.optimizer.runtime.bloomFilter.*`) plays the
    * same trick when its thresholds approve; this form is explicit,
    * deterministic, and sized by the caller.
    *
    * Size `numBits` ≈ 10× expected distinct keys for ~1% false positives
    * (surviving FPs only cost shuffle, never correctness). */
  def bloomFilteredJoin(large: DataFrame, small: DataFrame, key: String,
                        estimatedItems: Long = 1000000L,
                        numBits: Long = 1L << 23): DataFrame = {
    // xxhash64 hashes each numeric TYPE differently, while the join itself
    // coerces both sides to a common type before comparing — hashing the
    // raw columns of an INT-vs-BIGINT key pair would build the filter from
    // long hashes and probe with int hashes, manufacturing false NEGATIVES
    // (silently dropped matches). Hash through the exact type the join
    // would compare at: Spark's own union coercion decides it. That
    // equivalence only holds INSIDE one type family — a string-vs-numeric
    // pair unions at string but binary-compares at a numeric type, so the
    // filter would hash values the join never compares; refuse it rather
    // than silently drop matches.
    // within one family (numeric with numeric, datetime with datetime)
    // union coercion and comparison coercion promote to the same type, so
    // the equivalence holds; across families it does not
    val lt = large.schema(key).dataType
    val st = small.schema(key).dataType
    def fam(d: org.apache.spark.sql.types.DataType): Int = d match {
      case _: org.apache.spark.sql.types.NumericType => 1
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => 2
      case _ => 0
    }
    require(lt == st || (fam(lt) == fam(st) && fam(lt) != 0),
      s"bloomFilteredJoin: key '$key' is $lt vs $st — mixed type families " +
        "union-coerce differently than the join compares, so the prefilter " +
        "could drop true matches; cast both sides to one type first")
    val common = large.select(col(key)).unionByName(small.select(col(key)))
      .schema.head.dataType
    // NULL filter ⇔ empty small side: the join result is empty; keep the
    // joined schema without scanning either side
    Option(
      small.agg(call_function("bloom_agg", xxhash64(col(key).cast(common)),
          lit(estimatedItems), lit(numBits)).as("bf"))
        .head.getAs[Array[Byte]]("bf"))
      .fold(large.filter(lit(false)).join(small, Seq(key))) { bytes =>
        large.filter(call_function("bloom_might_contain", lit(bytes),
            xxhash64(col(key).cast(common))))
          .join(small, Seq(key))
      }
  }
}
