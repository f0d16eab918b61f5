package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SkewJoinSpec extends SparkSpec {
  import sqlImplicits._

  test("salted join returns exactly the plain join's rows") {
    // one mega-key (90% of rows) + a tail
    val large = ((1 to 900).map(i => (1L, i.toLong)) ++
        (1 to 100).map(i => (i.toLong % 7 + 2, 1000L + i)))
      .toDF("k", "row_id")
    val small = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (9L, "unmatched"))
      .toDF("k", "v")

    val plain = large.join(small, Seq("k")).select("k", "row_id", "v")
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedInnerJoin(large, small, "k", col("row_id"), 8)
      .select("k", "row_id", "v").collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.size === 900 + (1 to 100).count(i => i % 7 + 2 <= 3))
  }

  test("salting actually spreads the hot key across sub-partitions") {
    val large = (1 to 1000).map(i => (1L, i.toLong)).toDF("k", "row_id")
    val saltCounts = large
      .withColumn("__salt", pmod(xxhash64(col("row_id")), lit(8)))
      .groupBy("__salt").count().collect().map(_.getLong(1))
    assert(saltCounts.length === 8)       // all 8 salts used
    assert(saltCounts.max < 1000 * 0.3)   // no salt holds the whole key
  }

  test("salt is deterministic across evaluations (retry-safe)") {
    val df = (1 to 50).map(i => (1L, i.toLong)).toDF("k", "row_id")
      .withColumn("__salt", pmod(xxhash64(col("row_id")), lit(8)))
    assert(df.collect().toSet === df.collect().toSet)
    val twice = df.union(df).distinct()
    assert(twice.count() === 50) // same salt both times → exact dedup
  }

  test("hotKeys finds the mega-key") {
    val large = ((1 to 900).map(_ => (1L, 0L)) ++ Seq((2L, 0L))).toDF("k", "x")
    val hot = SkewJoin.hotKeys(large, "k", 100).collect()
    assert(hot.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("bloomFilteredJoin ≡ plain join, with the probe in the plan") {
    val sf = "/root/testdata/sf0.001"
    val small = graft.io.Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val fact = graft.io.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
    val bloomed = SkewJoin.bloomFilteredJoin(fact, small, "o_orderkey",
      estimatedItems = 10000L, numBits = 1L << 17)
    val plain = fact.join(small, Seq("o_orderkey"))
    assert(bloomed.collect().map(_.toSeq).toSet ===
      plain.collect().map(_.toSeq).toSet)
    assert(plain.count() > 0, "fixture must join something")
    // the literal-filter probe sits in the large side's plan (the
    // expression pretty-prints as might_contain)
    assert(bloomed.queryExecution.executedPlan.toString
      .contains("might_contain"))
  }

  test("bloomFilteredJoin: empty small side yields empty result, joined schema") {
    val fact = Seq((1L, "a"), (2L, "b")).toDF("k", "x")
    val small = Seq((1L, 9L)).toDF("k", "y").filter(col("y") === -1)
    val out = SkewJoin.bloomFilteredJoin(fact, small, "k")
    assert(out.columns.toSeq === Seq("k", "x", "y"))
    assert(out.count() === 0)
  }

  test("bloomFilteredJoin matches across INT-vs-BIGINT key types (no false negatives)") {
    // xxhash64 hashes int and long inputs differently; the operator must
    // hash through the join's common type or every match silently drops
    val fact = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "x") // k: INT
    val small = Seq((1L, 10L), (3L, 30L)).toDF("k", "y")        // k: BIGINT
    val out = SkewJoin.bloomFilteredJoin(fact, small, "k")
      .select("x", "y").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(("a", 10L), ("c", 30L)))
  }

  test("bloomFilteredJoin refuses mixed type families (string-vs-numeric key)") {
    // string unions with bigint at STRING, but the join would compare at a
    // numeric type — the filter would hash values the join never sees, a
    // silent-false-negative factory; the guard turns it into a loud error
    val fact = Seq(("1", "a"), ("2", "b")).toDF("k", "x")  // k: STRING
    val small = Seq((1L, 10L)).toDF("k", "y")              // k: BIGINT
    val e = intercept[IllegalArgumentException] {
      SkewJoin.bloomFilteredJoin(fact, small, "k")
    }
    assert(e.getMessage.contains("cast both sides to one type"))
  }

  test("bloomFilteredJoin allows DATE-vs-TIMESTAMP keys (one coercion family)") {
    // union coercion and comparison coercion both promote date→timestamp,
    // so the filter hashes the type the join compares at — exact
    val fact = Seq((java.sql.Date.valueOf("2024-01-01"), "a"),
      (java.sql.Date.valueOf("2024-03-05"), "b")).toDF("k", "x")
    val small = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L))
      .toDF("k", "y")
    val out = SkewJoin.bloomFilteredJoin(fact, small, "k")
      .select("x", "y").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val plain = fact.join(small, Seq("k"))
      .select("x", "y").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === plain && out === Set(("a", 10L)))
  }

  test("bloom prefilter prunes non-matching fact rows before the join") {
    // keys 1..1000 on the fact side; small side holds 10 — at 2^17 bits the
    // FP rate is ~0, so survivors ≈ matches
    val fact = (1 to 1000).map(i => (i.toLong, i)).toDF("k", "x")
    val small = (1 to 10).map(i => (i.toLong * 100, i)).toDF("k", "y")
    val bytes = small.agg(call_function("bloom_agg", xxhash64(col("k")),
      lit(10000L), lit(1L << 17))).head.getAs[Array[Byte]](0)
    val survivors = fact.filter(call_function("bloom_might_contain",
      lit(bytes), xxhash64(col("k")))).count()
    assert(survivors >= 10 && survivors < 50,
      s"expected ~10 survivors of 1000, got $survivors")
  }
}
