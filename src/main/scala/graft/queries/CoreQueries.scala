package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.Tables
import graft.operators.Layout

/** Relational operator inventory (SURVEY.md §2) expressed over the driver
  * testdata tables, each paired with ANSI SQL the DuckDB oracle runs on the
  * same parquet files.
  *
  * Determinism rules (SURVEY.md §7.5):
  *  - every query ends in a total ORDER BY, identical on both engines;
  *  - sums over fractional doubles go through [[exactSum]] (fixed-point
  *    bigint units) so parallel summation order can never flip a rounded
  *    digit vs the oracle's sequential sum;
  *  - argmax/dedup winners are pinned by a total order, never left to
  *    "first row encountered" (the reference's R semantics are frame-order
  *    dependent; see SURVEY.md §2.4 A4/A7).
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** Exact sum of a fractional double column: round to integer units at
    * `scale` decimals (values are fixed-point in the data, so the rounded
    * unit count is bit-exact), sum as long, divide back. Deterministic under
    * any partitioning — safe to hash-compare against a single-threaded
    * oracle, and exactly what you want at 1000-executor scale where the
    * reduction tree order is nondeterministic. */
  private def exactSum(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    sum(round(c * f, 0).cast("long")) / f
  }
  /** SQL-side twin of [[exactSum]]. */
  private def sqlExactSum(e: String, scale: Int): String = {
    val f = math.pow(10, scale).toLong
    s"sum(CAST(round(($e) * $f) AS BIGINT)) / $f.0"
  }

  // FULL-CORPUS co-purchase adjacency index — the build/probe split the
  // IVF/cluster/signature caches give the vector/text families, applied
  // to the graph family's biggest build: the all-orders co-purchase
  // self-join plus the hub-safe adjacency aggregation happen ONCE per
  // (session, table dir); rank probes (q65) pay only their rounds. Same
  // lifecycle as the other session indexes: Bench/MedianBench call
  // [[prepareGraphIndex]] so the one-time build is timed with the index
  // builds, and [[releaseGraphIndexes]] is session-teardown hygiene.
  // With `spark.graft.indexDir` set, the adjacency also round-trips
  // through its durable parquet form (IndexStore "copurchase" kind): a
  // fresh session loads both layouts lazily — zero rebuild jobs — and
  // the measured counts ride the meta, the 100-TB ingest-epoch shape.
  private def cachedGraph(s: SparkSession, dir: String, graphKind: String,
                          params: Map[String, String])
                         (build: => graft.operators.Adjacency.Hybrid)
      : graft.operators.Adjacency.Hybrid =
    SessionIndexes.get(s, "graph", s"$dir#$graphKind", "graph")(
      graft.operators.IndexStore.fromConf(s, graft.operators.IndexStore.graph,
        graphKind, s"$dir/lineitem.parquet", params)(build))(_.release())

  /** Pair-generation shared by the co-purchase graphs: parts appearing in
    * the same order, both directions, src/dst LONG. `private[graft]` so
    * tools (StreamBench's graph-roll path) can stage the same edge set
    * the queries run on. */
  private[graft] def copurchasePairs(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ip = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    ip.as("a").join(ip.as("b"),
        col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
      .select(col("a.p").cast("long").as("src"),
        col("b.p").cast("long").as("dst"))
  }

  /** `table` bound to the width its parquet-footer row count measures
    * (zero Spark jobs; AQE off at the tiny floor) — for bodies whose
    * every shuffle is bounded by that table ([[graft.operators.Checkpoints.sized]]). */
  private def sizedTable(s: SparkSession, dir: String, table: String): DataFrame =
    graft.operators.Checkpoints.sized(t(s, dir, table),
      graft.operators.IndexStore.parquetRowCount(s, s"$dir/$table.parquet"))

  private def copurchaseAdjacency(s: SparkSession, dir: String): graft.operators.Adjacency.Hybrid =
    cachedGraph(s, dir, "copurchase",
      Map("dedup" -> "true",
        "hub_limit" -> graft.operators.Adjacency.DefaultHubLimit.toString)) {
      // dedup=true: duplicate (o,p) line items and cross-order pair
      // repeats collapse inside the build's ONE collect_set shuffle
      graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext)(
        graft.operators.Adjacency.build(
          copurchasePairs(t(s, dir, "lineitem")), dedup = true))
    }

  /** q79's STANDING epoch: the co-purchase graph of 99% of orders
    * (pmod 100 =!= 0) — the state a continuously-ingesting deployment
    * carries between epochs, so it lives in the session/durable index
    * exactly like the full graph and the d13 standing labels; q79 pays
    * only its |Δ| fold per call. */
  private def standingCopurchaseAdjacency(s: SparkSession, dir: String): graft.operators.Adjacency.Hybrid =
    cachedGraph(s, dir, "copurchase_standing",
      Map("dedup" -> "true", "split" -> "pmod100",
        "hub_limit" -> graft.operators.Adjacency.DefaultHubLimit.toString)) {
      graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext)(
        graft.operators.Adjacency.build(
          copurchasePairs(t(s, dir, "lineitem")
            .filter(pmod(col("l_orderkey"), lit(100)) =!= 0)), dedup = true))
    }

  /** Build AND materialize the co-purchase graph indexes for
    * (session, dir) — the explicit once-per-corpus-version step; the
    * builds are eager (Adjacency.build materializes both layouts). */
  def prepareGraphIndex(s: SparkSession, dir: String): Unit =
    // two independent adjacency builds (full corpus + the 99% standing
    // epoch q79 folds into): each is pair-gen + a collect_set shuffle with
    // driver round-trips between
    SessionIndexes.inParallel("graft-graph-prepare")(
      () => { copurchaseAdjacency(s, dir); () },
      () => { standingCopurchaseAdjacency(s, dir); () })

  /** Drop cached graph indexes of `s` and release their persisted
    * frames — session-teardown hygiene. */
  def releaseGraphIndexes(s: SparkSession): Unit = SessionIndexes.release(s, "graph")

  // -------------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // P1/P8/A2 + exact sums: TPC-H Q1-style pricing summary.
    "q01_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-31 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // P2-P4/F3: projection + range predicates, pushed to the parquet scan.
    "q02_filter_project" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 20) && year(col("l_shipdate")) === 2000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // J1/J2: multi-way equi-join with broadcast dimension, revenue rollup.
    "q03_join_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("num_items"),
             exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
        .orderBy("n_name")
    },

    // J7: semi-join (EXISTS) — customers with at least one open order.
    "q04_exists_semi" -> { (s, dir) =>
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      t(s, dir, "customer")
        .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },

    // J6: anti-join (NOT EXISTS) — customers with no recent 'P' order
    // (the reference's exclusion mechanism: cohort MINUS excluded-key set).
    "q05_not_exists_anti" -> { (s, dir) =>
      val excl = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "P" && year(col("o_orderdate")) >= 2000)
      t(s, dir, "customer")
        .join(excl, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
        .orderBy("c_custkey")
    },

    // J5: composite-key self-join — view→purchase pairs on the same day
    // (same shape as the reference's same-day SBP+DBP pairing, SURVEY §2.3 J5).
    "q06_pair_join" -> { (s, dir) =>
      val e = t(s, dir, "events").withColumn("d", to_date(col("ts")))
      val v = e.filter(col("event_type") === "view").select("user_id", "d")
      val p = e.filter(col("event_type") === "purchase").select("user_id", "d")
      v.join(p, Seq("user_id", "d"))
        .groupBy("user_id", "d").agg(count(lit(1)).as("pairs"))
        .orderBy("user_id", "d")
    },

    // A1: count-distinct per key + equality filter (the reference's
    // mis-bridge detector shape: keep keys with exactly-N distinct values).
    "q07_count_distinct" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
             count(lit(1)).as("n_events"),
             max(col("value")).as("max_value"))
        .filter(col("n_types") === 5)
        .orderBy("user_id")
    },

    // A7/W1: keyed dedup with a pinned total order (deterministic keep-first).
    "q08_dedup_first" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"),
                col("event_type").as("first_type"))
        .orderBy("user_id")
    },

    // A4: argmax per group via lexicographic struct max — latest order per
    // customer, ties broken by highest key (total order, SURVEY §2.4 A4).
    "q09_argmax_latest" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))).as("m"))
        .select(col("o_custkey"),
                to_date(col("m.o_orderdate")).as("last_orderdate"),
                col("m.o_orderkey").as("last_orderkey"),
                col("m.o_totalprice").as("last_totalprice"))
        .orderBy("o_custkey")
    },

    // A5/W2: frequency table with share-of-total (tabyl shape).
    "q10_share_pct" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pct",
          round(col("n").cast("double") * 100 / sum(col("n")).over(Window.partitionBy()), 4))
        .orderBy("c_mktsegment")
    },

    // A5 totals: rollup with labeled total rows.
    "q11_rollup" -> { (s, dir) =>
      t(s, dir, "orders")
        .rollup(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"), exactSum(col("o_totalprice"), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("yr"), lit(-1)).as("yr"),
                col("n_orders"), col("sum_price"))
        .orderBy("status", "yr")
    },

    // U1-U3: union / intersect / except of key sets, tagged.
    "q12_setops" -> { (s, dir) =>
      val a = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k")).distinct()
      a.union(b).distinct().withColumn("op", lit("union"))
        .unionByName(a.intersect(b).withColumn("op", lit("intersect")))
        .unionByName(a.except(b).withColumn("op", lit("except")))
        .select("op", "k")
        .orderBy("op", "k")
    },

    // F1/F2/F9: scalar functions — recode, case-map, substring, length.
    "q13_recode_scalar" -> { (s, dir) =>
      t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"),
                lower(col("n_name")).as("nation_lc"),
                substring(col("n_name"), 1, 3).as("abbr"),
                length(col("n_name")).as("name_len"),
                when(col("r_name") === "AMERICA", "WEST")
                  .when(col("r_name") === "EUROPE", "WEST")
                  .when(col("r_name") === "ASIA", "EAST")
                  .otherwise("OTHER").as("bloc"))
        .orderBy("n_nationkey")
    },

    // P8/F3/F6 + A1: group by year of a date column.
    "q14_year_agg" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"),
             countDistinct(col("o_custkey")).as("n_custs"),
             exactSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("yr")
    },

    // O1-O3: global top-k with total tie-break order.
    "q15_topk" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    },

    // J2/F10: left-join enrich + NULL→0 fill (the reference's flag-fill shape).
    "q16_left_join_fill" -> { (s, dir) =>
      val oc = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice"), 2).as("spend"))
      t(s, dir, "customer")
        .join(oc, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
                coalesce(col("n"), lit(0L)).as("n_orders"),
                coalesce(col("spend"), lit(0.0)).as("total_spend"))
        .orderBy("c_custkey")
    },

    // Streaming-parity batch shape: tumbling 1h buckets per event type.
    "q17_time_bucket" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), exactSum(col("value"), 2).as("sum_value"))
        .orderBy("hour_epoch", "event_type")
    },

    // SLIDING event-time windows (6h width, 3h slide — each event lands in
    // exactly width/slide = 2 overlapping windows): distinct-user reach per
    // window, the classic "rolling active users" shape. Exercises the
    // overlap path of native `window()` that q17's tumbling buckets never
    // touch — Spark explodes each row into its windows BEFORE the
    // aggregate, so the shuffle carries ×(width/slide) rows; at 100 TB the
    // slide ratio is the explicit cost dial. The oracle replays the
    // epoch-aligned window arithmetic with an integer unnest.
    "q64_sliding_distinct" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("n_users"), col("n_events"))
        .orderBy("w_start")
    },

    // S7 profiling: one-pass column stats (the reference's skim/str shape).
    "q19_profile" -> { (s, dir) =>
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        count(col("l_shipdate")).as("n_ship_nonnull"),
        to_date(min(col("l_shipdate"))).as("min_ship"),
        to_date(max(col("l_shipdate"))).as("max_ship"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_returnflag")).as("n_flags"))
    },

    // Sketch/approximate aggregation. HLL internals differ per engine, so
    // the sketch VALUE can't be oracle-matched — instead the query emits
    // the exact count plus a tolerance verdict on the sketch (rsd = 0.01,
    // checked at 5% ≈ 5σ — deterministically true unless the sketch is
    // broken), which DuckDB reproduces exactly. Point accuracy is
    // additionally asserted in ApproxSpec.
    "q20_approx_distinct" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx"),
             countDistinct(col("o_custkey")).as("exact_custs"))
        .select(col("o_orderstatus"), col("exact_custs"),
          (abs(col("approx") - col("exact_custs")).cast("double") / col("exact_custs")
            <= 0.05).as("approx_within_5pct"))
        .orderBy("o_orderstatus")
    },

    // Quantile SKETCH (approx_percentile / Greenwald-Khanna) beside q27's
    // exact sort-based percentile — the one-pass answer a 100-TB scan
    // allows, with the q20 verdict pattern making the approximation
    // oracle-checkable: the exact quantiles hash-compare directly (p ∈
    // {1/2, 7/8} — DYADIC fractions on integral data, so the R-7
    // interpolation is exact on both engines; 0.99 would gamble the last
    // ulp) and the sketch must land within the tolerance or the verdict
    // column flips and the hash check fails. accuracy=10000 bounds rank
    // error at n/10000.
    "q36_approx_quantiles" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("exact_p50"),
          expr("percentile(l_quantity, 0.875)").as("exact_p875"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("ap50"),
          expr("approx_percentile(l_quantity, 0.875, 10000)").as("ap875"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("exact_p50"), col("exact_p875"), col("n"),
          (abs(col("ap50") - col("exact_p50")) / col("exact_p50") <= 0.05)
            .as("p50_within_5pct"),
          (abs(col("ap875") - col("exact_p875")) / col("exact_p875") <= 0.05)
            .as("p875_within_5pct"))
        .orderBy("l_returnflag")
    },

    // As-of join: each purchase enriched with the latest strictly-prior
    // view by the same user (union + running-max window: one shuffle,
    // no range explosion — operators.AsOfJoin).
    "q21_asof_join" -> { (s, dir) =>
      val e = t(s, dir, "events").withColumn("ts_us", unix_micros(col("ts")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id")
      val views = e.filter(col("event_type") === "view")
        .select("user_id", "ts_us", "event_id")
      graft.operators.AsOfJoin.asOf(purchases, views, Seq("user_id"),
          "ts_us", "ts_us", "event_id", Seq("event_id"))
        .select(col("event_id"), col("user_id"),
                col("asof_event_id").as("prior_view_id"),
                col("asof_time").as("prior_view_us"))
        .orderBy("event_id")
    },

    // Grouping-sets cube with labeled subtotals.
    "q22_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n"), exactSum(col("o_totalprice"), 2).as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
                coalesce(col("yr"), lit(-1)).as("yr"), col("n"), col("sum_price"))
        .orderBy("status", "yr")
    },

    // Gap-based sessionization in batch (lag + running session counter) —
    // the batch twin of EventStreams.userSessions.
    "q23_sessionize" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      t(s, dir, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("new_session",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs ||
               lag(col("ts_us"), 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "session_id")
    },

    // Range join: lineitems shipped within 7 days of any year-2000
    // order's date (keyless interval containment) — banded to an equi-join
    // on 7-day buckets (operators.RangeJoin), aggregated per status.
    // The window × interval-count product bounds the pair fan-out; an
    // unbounded window over all orders is a cross-join in disguise at any
    // scale, banded or not.
    "q24_range_join" -> { (s, dir) =>
      val day = 86400L
      val points = t(s, dir, "lineitem")
        .select(unix_timestamp(col("l_shipdate")).as("ship_s"),
                col("l_orderkey"))
      val intervals = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 2000 && col("o_orderstatus") === "P")
        .select(col("o_orderstatus"),
                unix_timestamp(col("o_orderdate")).as("start_s"),
                (unix_timestamp(col("o_orderdate")) + 7 * day).as("end_s"))
      graft.operators.RangeJoin.pointInInterval(
          points, intervals, "ship_s", "start_s", "end_s",
          bucketWidth = 7 * day)
        .groupBy(month(timestamp_seconds(col("start_s"))).as("mo"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("mo")
    },

    // F-regex: extract a field from a JSON-ish string payload.
    "q18_regex_extract" -> { (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", regexp_extract(col("props"), "\"k\": *([0-9]+)", 1).cast("int"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), exactSum(col("value"), 2).as("sum_value"))
        .orderBy("k")
    },

    // W-range: rolling 7-day supply volume per supplier — a time-RANGE
    // window frame (not ROWS), the shape Spark's rangeBetween exists for.
    // Daily pre-aggregation first: the window then slides over one row per
    // (supplier, day) instead of every lineitem — at 100 TB that's the
    // difference between a window over ~10^9 rows and ~10^6. Integer
    // day-index ordering keeps the frame arithmetic exact; all rolled
    // quantities are integral, so no exactSum machinery is needed.
    "q25_rolling_window" -> { (s, dir) =>
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("ship_day"))
        .agg(sum(col("l_quantity")).cast("long").as("day_qty"),
             count(lit(1)).as("n_items"))
      val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day_n"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("day_n", datediff(col("ship_day"), to_date(lit("1970-01-01"))))
        .select(col("l_suppkey"), col("ship_day"), col("day_qty"), col("n_items"),
          sum(col("day_qty")).over(w).as("qty_7d"),
          count(lit(1)).over(w).as("days_7d"))
        .orderBy("l_suppkey", "ship_day")
    },

    // A-pivot: crosstab with an explicit (bounded) pivot domain — the
    // explicit value list keeps the plan a single pass (no distinct-scan
    // to discover columns, which at scale is a full extra job).
    "q26_pivot" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")).cast("long"))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("qty_f"),
          coalesce(col("O"), lit(0L)).as("qty_o"))
        .orderBy("l_returnflag")
    },

    // F-json: schema-projected semi-structured parsing (from_json), the
    // typed alternative to q18's regex extraction. At scale the schema
    // projection matters: only the requested fields are parsed, and the
    // parse is codegen'd — no per-row UDF, no full JSON DOM.
    // The field is extracted as its RAW STRING on both engines (round-4
    // advice): from_json with `k INT` would NULL a string-typed "12" where
    // the oracle's json_extract_string+CAST yields 12 — parity would be
    // fixture-dependent. String extraction (from_json `k STRING` here,
    // json_extract_string in DuckDB) is engine-independent for every
    // payload, including string-typed and missing k.
    "q28_json" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
            .getField("k").as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy("k")
    },

    // SQL-subquery: correlated SCALAR subquery through the SQL entry point
    // (EP1) — Catalyst decorrelates it into an aggregate + join; there is
    // no per-row re-execution (the RDBMS trap). Deviation of each
    // customer's balance from their nation's average.
    "q31_correlated" -> { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      // the whole deviation is ONE exact integer numerator (cents ×
      // group count — both engines sum the same integers) over ONE double
      // division: no trailing round() whose half-boundary ties the two
      // engines break differently (a real sf0.001 customer landed on one).
      // Spark only decorrelates outer references in WHERE/HAVING, so the
      // group aggregates are three scalar subqueries (MergeScalarSubqueries
      // fuses them into one) and the outer row's arithmetic stays outside.
      s.sql(
        """SELECT c_custkey, c_nationkey,
          |  (CAST(round(c_acctbal * 100) AS BIGINT)
          |     * (SELECT count(*) FROM customer c2
          |        WHERE c2.c_nationkey = customer.c_nationkey)
          |   - (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
          |      FROM customer c2
          |      WHERE c2.c_nationkey = customer.c_nationkey))
          |  / CAST(100 * (SELECT count(*) FROM customer c2
          |                WHERE c2.c_nationkey = customer.c_nationkey) AS DOUBLE)
          |  AS bal_dev
          |FROM customer
          |ORDER BY c_custkey""".stripMargin)
    },

    // W-offset: lag/lead — days since each customer's previous order and
    // the order-value delta. The offset-window family (distinct from
    // ranking q09, share q10, range-frame q25).
    "q32_lag_lead" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_day"),
          datediff(to_date(col("o_orderdate")),
            lag(to_date(col("o_orderdate")), 1).over(w)).cast("long")
            .as("days_since_prev"),
          round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2)
            .as("price_delta"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"))
        .orderBy("o_custkey", "order_day", "o_orderkey")
    },

    // U-unpivot: wide→long reshaping (melt) — the inverse of q26's pivot.
    // Spark's unpivot is a zero-shuffle Expand (each input row fans out to
    // one row per measure in the same task); the one exchange here is the
    // measure-keyed aggregate that follows. Measures share the exactSum
    // fixed-point discipline so the per-measure totals hash-match a
    // sequential oracle under any partitioning.
    "q33_unpivot" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n"), exactSum(col("val"), 4).as("total"))
        .orderBy("measure")
    },

    // W-distribution: ntile / percent_rank / cume_dist — the distribution
    // window family (vs ranking q09, share q10, frame q25, offset q32).
    // The window order is TOTAL (acctbal, custkey) so tile boundaries and
    // rank fractions are engine-independent; both fractions are a single
    // IEEE division of the same integers, hence bit-identical across
    // engines with no rounding step.
    "q34_distribution" -> { (s, dir) =>
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("c_custkey")
    },

    // Semi-structured array column surface: build a per-order array in a
    // pinned order (sort_array over (linenumber, qty) structs — collect_list
    // alone is shuffle-order-dependent), then the higher-order-function
    // family over it: transform / filter / aggregate(fold) / exists, plus
    // an md5 over the rendered array that pins the exact content and order.
    // Quantities are integral in the data; the long cast keeps every HOF
    // result exact integer arithmetic on both engines. Scale shape: one
    // hash shuffle on the group key; arrays are bounded by order size
    // (≤ 7 lines in TPC-H), so rows stay narrow. HOFs evaluate as
    // interpreted lambdas (excluded from whole-stage codegen) — fine here
    // because the per-row work is O(order lines); a corpus-scale hot loop
    // would go through a JVM kernel instead (SURVEY §2.10 ladder).
    "q35_array_hof" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("qty"))))
          .as("ps"))
        .select(col("l_orderkey"),
          transform(col("ps"), p => p.getField("qty")).as("qs"))
        .select(col("l_orderkey"),
          size(col("qs")).cast("long").as("n_items"),
          size(filter(col("qs"), x => x > 25)).cast("long").as("n_big"),
          aggregate(col("qs"), lit(0L), (a, x) => a + x).as("total_qty"),
          array_max(col("qs")).as("max_qty"),
          exists(col("qs"), x => x % 10 === 0).as("any_round"),
          md5(concat_ws(",", transform(col("qs"), _.cast("string")))).as("qs_hash"))
        .orderBy("l_orderkey")
    },

    // A-gsets: explicit GROUPING SETS (the general form behind q11's
    // rollup / q22's cube) with grouping_id disambiguating strata — one
    // Expand + one aggregate, not one job per stratum. Ordering by gid
    // first keeps the total order free of engine-specific NULL placement.
    "q30_grouping_sets" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
              Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          grouping_id().as("gid"), count(lit(1)).as("n"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    },

    // O-topk: per-group top-k through the CUSTOM whole-operator plan
    // (TopKPerKey logical node → TopKStrategy → bounded-heap exec, injected
    // via spark.sql.extensions). O(n log k) with no per-group sort — the
    // window row_number formulation this replaces sorts every group in
    // full. Total order (price, orderkey, linenumber) pins k-boundary ties.
    "q29_topk_per_key" -> { (s, dir) =>
      graft.plans.TopK.perKey(
        t(s, dir, "lineitem")
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        Seq("l_returnflag"),
        Seq("l_extendedprice" -> false, "l_orderkey" -> true, "l_linenumber" -> true),
        k = 3)
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    },

    // A-quantile: EXACT percentiles per group (Spark `percentile`, the
    // sort-based exact aggregate — `approx_percentile` is the sketch
    // alternative when a one-pass 100-TB answer is allowed; q20 covers
    // that trade). p ∈ {.25,.5,.75} on integral values: every interpolated
    // result is an exact dyadic rational, so the hash compare is safe.
    "q27_quantiles" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // A-histogram: fixed-width numeric binning (the width_bucket shape).
    // Bucket index is floor of an exactly-rounded IEEE division by a
    // literal width — bit-identical bucketing on any engine — then one
    // hash aggregate. Min/max ride through un-rounded: they are exact
    // input doubles, so the hash compare is safe without a rounding
    // convention. Scale shape: map-side bucketing, one shuffle on the
    // bucket key, ~O(distinct buckets) output rows.
    "q37_histogram" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"),
                col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          exactSum(col("o_totalprice"), 2).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("bucket")
    },

    // W-islands: gaps-and-islands — per-customer purchase streaks, where
    // consecutive orders ≤ 30 days apart collapse into one island (lag
    // break flag + running sum, the classic two-window formulation; q23's
    // sessionize is the event-time cousin — this one runs on DATE
    // arithmetic and emits island summaries with streak lengths).
    // Total order (date, orderkey) pins same-day orders on both engines.
    "q38_gaps_islands" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("d"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
                to_date(col("o_orderdate")).as("d"))
        .withColumn("brk",
          when(lag(col("d"), 1).over(w).isNull ||
               datediff(col("d"), lag(col("d"), 1).over(w)) > 30, 1)
            .otherwise(0))
        .withColumn("island", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("o_custkey"), col("island"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("d")).as("start_d"), max(col("d")).as("end_d"))
        .orderBy("o_custkey", "island")
    },

    // A-sketch-rollup: the MERGEABLE-sketch pattern that makes 100-TB
    // distinct counting feasible — per-(status, year) HLL sketches
    // (Datasketches HllSketch via Spark's hll_sketch_agg), rolled up per
    // status with hll_union_agg, beside the single-level sketch and the
    // exact count. At scale the per-shard sketches are computed once at
    // ingest and every later rollup is a cheap union — no re-scan of raw
    // data. The two estimate paths legitimately differ a few per mille
    // (sparse→dense promotion happens at different points), so the
    // oracle-checkable claims are the q20-style verdicts: each path
    // within 5% of exact, and the paths within 2% of each other —
    // deterministic booleans on this data (measured ≤1.3% / ≤0.7%).
    "q40_hll_rollup" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val merged = o
        .groupBy(col("o_orderstatus"), year(col("o_orderdate")).as("yr"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
        .groupBy(col("o_orderstatus"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_m"))
      o.groupBy(col("o_orderstatus"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("est_d"),
          countDistinct(col("o_custkey")).as("exact_custs"))
        .join(merged, Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("exact_custs"),
          (abs(col("est_d") - col("exact_custs")).cast("double")
            / col("exact_custs") <= 0.05).as("direct_within_5pct"),
          (abs(col("est_m") - col("exact_custs")).cast("double")
            / col("exact_custs") <= 0.05).as("merged_within_5pct"),
          (abs(col("est_m") - col("est_d")).cast("double")
            / col("exact_custs") <= 0.02).as("paths_agree_2pct"))
        .orderBy("o_orderstatus")
    },

    // J-skew: the explicit skew-salting join made driver-visible — events
    // (large, potentially hot user keys) join customers (small) through
    // SkewJoin.saltedInnerJoin: the probe side takes a DETERMINISTIC salt
    // (hash of the stable event_id — retry/speculation-safe, unlike
    // rand()), the build side replicates saltFactor copies, and the
    // result must be EXACTLY the unsalted join's — which is what the
    // oracle checks. Revenue rolled up per segment on top (the
    // (b)-case of the operator's scaladoc: the aggregate keys on the
    // salted column, where AQE's runtime splitting can't help).
    "q41_skew_join" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .withColumnRenamed("c_custkey", "user_id")
      graft.operators.SkewJoin.saltedInnerJoin(e, c, "user_id",
          col("event_id"), saltFactor = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_purchases"),
          exactSum(col("value"), 4).as("revenue"))
        .orderBy("c_mktsegment")
    },

    // W-gapfill: time-series regularization — per-user daily totals on a
    // COMPLETE day grid (sequence-explode between the user's first and
    // last active day), gaps forward-filled with the last observed value
    // (last(ignoreNulls) over an unbounded-preceding frame; leading gaps
    // can't exist since the grid starts at the first observation). The
    // resample/fill shape every downstream window model needs. Daily sums
    // go through exactSum so the carried values are engine-exact. Scale
    // shape: the grid explode is bounded by span-days × users and happens
    // AFTER the daily pre-aggregate; both windows and the grid join key
    // on user_id — one hash exchange family, no cross join.
    "q42_gap_fill" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .filter(col("user_id") < 20 && col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(exactSum(col("value"), 4).as("day_value"))
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
      val w = Window.partitionBy("user_id").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          last(col("day_value"), ignoreNulls = true).over(w).as("value_filled"),
          col("day_value").isNull.as("was_gap"))
        .orderBy("user_id", "d")
    },

    // A-retention: cohort/retention analysis — users grouped by first-
    // activity week (the cohort), counted per whole-week offset since.
    // Two aggregates and a broadcastable first-activity join; week
    // arithmetic is integer (epoch-day div 7) so cohort boundaries are
    // engine-exact, with no tz/locale week-of-year semantics in play.
    "q43_retention" -> { (s, dir) =>
      val acts = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
            / 7).cast("long").as("wk"))
      val firstWk = acts.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
      acts.join(firstWk, "user_id")
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("wk_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_wk", "wk_offset")
    },

    // A-listagg: ordered string aggregation (LISTAGG / string_agg). Spark
    // has no order-guaranteeing string_agg aggregate, so the engine form
    // is the composition that IS deterministic under parallel merge:
    // collect_list → sort_array → array_join (order pinned by the sort,
    // not by shuffle arrival). Unique names make the sort a total order.
    "q39_listagg" -> { (s, dir) =>
      t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",")
               .as("nations"),
             count(lit(1)).as("n"))
        .orderBy("r_name")
    },

    // A-funnel: ordered multi-step event funnel (signup → view → click →
    // purchase), each step's timestamp strictly after the previous step's.
    // Chained-min formulation: step N is one groupBy over the step-N events
    // semi-joined to step N-1 survivors — per-step frames shrink to
    // ≤ n_users rows immediately, every later join is user-key hash joins
    // between already-aggregated (small) frames. All time arithmetic in
    // epoch-micros BIGINT so both engines compare identical integers.
    "q44_funnel" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"))
      def step(prev: DataFrame, prevT: String, typ: String, out: String) =
        ev.filter(col("event_type") === typ)
          .join(prev.select("user_id", prevT), "user_id")
          .filter(col("ts_us") > col(prevT))
          .groupBy("user_id").agg(min(col("ts_us")).as(out))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
      val s2 = step(s1, "t1", "view", "t2")
      val s3 = step(s2, "t2", "click", "t3")
      val s4 = step(s3, "t3", "purchase", "t4")
      val counts = Seq("1_signup" -> s1, "2_view" -> s2,
          "3_click" -> s3, "4_purchase" -> s4)
        .map { case (nm, df) =>
          df.agg(count(lit(1)).as("n_users")).select(lit(nm).as("step"), col("n_users"))
        }
        .reduce(_ unionByName _)
      counts
        .crossJoin(broadcast(s1.agg(count(lit(1)).as("entry_n"))))
        .select(col("step"), col("n_users"),
          round(col("n_users").cast("double") / col("entry_n"), 4).as("pct_of_entry"))
        .orderBy("step")
    },

    // A-sweepline: max concurrent half-open intervals [ts, ts+30min) per
    // event type — the classic +1/-1 edge union with a running sum.
    // Coincident edges are merged by a pre-aggregation on (type, t) before
    // the window, which (a) makes the window order total (one row per t) so
    // the running sum is engine-deterministic, and (b) nets an interval
    // ending exactly when another starts to zero — the correct close-open
    // semantics. One shuffle for the merge; the window reuses its
    // partitioning.
    "q45_concurrency" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val edges = e.select(col("event_type"), col("ts_us").as("t"),
          lit(1L).as("delta"))
        .unionByName(e.select(col("event_type"),
          (col("ts_us") + lit(1800000000L)).as("t"), lit(-1L).as("delta")))
      val w = Window.partitionBy("event_type").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      edges.groupBy("event_type", "t").agg(sum(col("delta")).as("d"))
        .withColumn("running", sum(col("d")).over(w))
        .groupBy("event_type")
        .agg(max(col("running")).as("max_concurrent"),
          count(lit(1)).as("n_edges"))
        .orderBy("event_type")
    },

    // A-scd2: slowly-changing-dimension (type 2) build from a change log.
    // Purchases per user, value bucketed into a tier; a row opens a new
    // validity interval iff its tier differs from the previous row's
    // (lag), and the interval closes at the next change (lead), NULL while
    // current. Window order is total (ts_us, event_id); both windows and
    // the change filter share ONE hash exchange on user_id.
    "q46_scd2" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val changes = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), floor(col("value") / 25).cast("long").as("tier"))
        .withColumn("prev_tier", lag(col("tier"), 1).over(byUser))
        .filter(col("prev_tier").isNull || col("tier") =!= col("prev_tier"))
      changes
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(byUser))
        .select(col("user_id"), col("tier"), col("ts_us").as("valid_from_us"),
          col("valid_to_us"))
        .orderBy("user_id", "valid_from_us", "tier")
    },

    // A-mode/median: the two order-statistics aggregates Spark lacks as
    // deterministic built-ins, formulated so ties cannot diverge between
    // engines: mode = highest count, smallest value among tied counts;
    // median = the value at position (n+1) div 2 of the value-sorted group
    // (lower median — an order statistic of the multiset, so row-level tie
    // order is irrelevant). Both are one window over one groupBy; the mode
    // aggregate pre-shrinks to |group × distinct-status| rows before its
    // window.
    "q47_mode_median" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val mode = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority")
            .orderBy(col("cnt").desc, col("o_orderstatus"))))
        .filter(col("rn") === 1)
        .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"),
          col("cnt").as("mode_n"))
      val wp = Window.partitionBy("o_orderpriority")
      val median = o.select(col("o_orderpriority"), col("o_totalprice"))
        .withColumn("rn", row_number().over(wp.orderBy(col("o_totalprice"))))
        .withColumn("n", count(lit(1)).over(wp))
        .filter(col("rn") === call_function("div", col("n") + 1, lit(2L)))
        .select(col("o_orderpriority"), col("n").as("n_orders"),
          col("o_totalprice").as("median_price"))
      mode.join(median, "o_orderpriority")
        .select(col("o_orderpriority"), col("n_orders"), col("mode_status"),
          col("mode_n"), col("median_price"))
        .orderBy("o_orderpriority")
    },

    // W-first-seen: first-occurrence flags and a cumulative distinct-type
    // count per user — the "new vs returning behavior" window pattern.
    // is_first comes from a (user, type) window, the running distinct
    // count is then just a running sum of the flag over the (user) window;
    // both orders are total via the event_id tie-break.
    "q48_first_seen" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
      val wt = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_us", "event_id")
      val wu = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("is_first", row_number().over(wt) === 1)
        .withColumn("n_types_seen",
          sum(col("is_first").cast("long")).over(wu))
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"), col("is_first"), col("n_types_seen"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // Entity resolution (record linkage) at Levenshtein ≤ 1, blocked by
    // nation. NOT a pairwise join: candidates come from a FastSS
    // deletion-neighborhood hash join (see Dedup.editPairs1) — the direct
    // block-quadratic formulation measured 23 s at sf0.1 (one task: tiny
    // file, huge kernel) and 7 s even fully parallelized; the
    // neighborhood join runs the exact kernel on candidates only.
    "d09_record_linkage" -> { (s, dir) =>
      graft.operators.Dedup.editPairs1(
          t(s, dir, "customer"), "c_custkey", "c_nationkey", "c_name")
        .select(col("blk").as("nation"), col("id_a"), col("id_b"), col("dist"))
        .orderBy("nation", "id_a", "id_b")
    },

    // Entity resolution widened to Levenshtein ≤ 2: the 2-deletion
    // neighborhood join (Dedup.editPairsK) — candidates from up-to-two-
    // char-deletion keys, one exact levenshtein per candidate. The oracle
    // is the block-quadratic formulation; equality holds because the
    // neighborhood candidate set is COMPLETE for ed ≤ 2 (alignment
    // argument in the operator's scaladoc).
    "d11_edit2_linkage" -> { (s, dir) =>
      graft.operators.Dedup.editPairsK(
          t(s, dir, "customer"), "c_custkey", "c_nationkey", "c_name", k = 2)
        .select(col("blk").as("nation"), col("id_a"), col("id_b"), col("dist"))
        .orderBy("nation", "id_a", "id_b")
    },

    // Layout audit: Z-order (Morton) bucketing of orders on
    // (customer, order-day) — the write-side layout that makes BOTH
    // dimensions pruneable from file min/max stats. The query reports each
    // Z-bucket's bounding box; that per-bucket boxes are narrow in both
    // dims (vs a sort on either single key, where the other dim spans the
    // whole table) is exactly the property OPTIMIZE ZORDER buys. The
    // Z-value is a closed-form shift/mask sum — map-only, codegen'd,
    // replayed bit-for-bit by the oracle.
    "q49_zorder_layout" -> { (s, dir) =>
      val d = t(s, dir, "orders").select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      d.withColumn("z", Layout.zValue(col("o_custkey"), col("day")))
        .withColumn("bucket", call_function("div", col("z"), lit(1L << 20)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
          min(col("day")).as("min_day"), max(col("day")).as("max_day"))
        .orderBy("bucket")
    },

    // A-winsorize: robust statistics via rank-based P5/P95 winsorization.
    // The bounds are ORDER STATISTICS (value at an integer position of the
    // value-sorted group), not interpolated percentiles — positions are
    // pure integer arithmetic, so both engines pick the same element and
    // the clipped mean is hash-exact through the fixed-point sum. Bounds
    // per group are 5 rows → broadcast back onto the fact table.
    "q50_winsorize" -> { (s, dir) =>
      val wp = Window.partitionBy("o_orderpriority")
      val r = t(s, dir, "orders").select(col("o_orderpriority"), col("o_totalprice"))
        .withColumn("rn", row_number().over(wp.orderBy(col("o_totalprice"))))
        .withColumn("n", count(lit(1)).over(wp))
      val lo = r.filter(col("rn") ===
          call_function("div", col("n") * 5, lit(100L)) + 1)
        .select(col("o_orderpriority"), col("o_totalprice").as("lo"))
      val hi = r.filter(col("rn") ===
          greatest(call_function("div", col("n") * 95, lit(100L)), lit(1L)))
        .select(col("o_orderpriority"), col("o_totalprice").as("hi"))
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_totalprice"))
        .join(broadcast(lo), "o_orderpriority")
        .join(broadcast(hi), "o_orderpriority")
        .withColumn("clip", least(greatest(col("o_totalprice"), col("lo")), col("hi")))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum((col("o_totalprice") < col("lo")).cast("long")).as("n_lo"),
          sum((col("o_totalprice") > col("hi")).cast("long")).as("n_hi"),
          max(col("lo")).as("p05"), max(col("hi")).as("p95"),
          round(exactSum(col("clip"), 2) / count(lit(1)), 4).as("winsor_mean"))
        .orderBy("o_orderpriority")
    },

    // J-asof-forward: the forward as-of join with a tolerance bound —
    // "first purchase within an hour after each view", the conversion-
    // attribution shape. Same single-shuffle tagged-union window as q21's
    // backward as-of (see AsOfJoin); the tolerance nulls far matches
    // AFTER the nearest-pick, per pandas merge_asof semantics.
    "q51_asof_forward" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts_us", "event_id")
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"), col("event_id").as("buy_id"),
          col("value"))
      graft.operators.AsOfJoin.asOf(views, buys, Seq("user_id"),
          "ts_us", "ts_us", "buy_id", payload = Seq("buy_id", "value"),
          strict = true, direction = "forward", tolerance = Some(3600000000L))
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("asof_buy_id"), col("asof_value"), col("asof_time"),
          (col("asof_time") - col("ts_us")).as("gap_us"))
        .orderBy("user_id", "ts_us", "event_id")
    },

    // J-bloom: Bloom-prefiltered fact join — the small side is a sharply
    // filtered order set; its key filter rides to the lineitem side as a
    // plan-literal might_contain probe, so non-matching fact rows never
    // enter the join shuffle. Results identical to the plain join (the
    // oracle IS the plain join); SkewJoinSpec pins the equivalence and
    // the pruning.
    "q52_bloom_join" -> { (s, dir) =>
      val small = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 2001)
        .select(col("o_orderkey"), col("o_orderdate"))
      val fact = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_extendedprice"), col("l_discount"))
      graft.operators.SkewJoin.bloomFilteredJoin(fact, small, "o_orderkey",
          estimatedItems = 100000L, numBits = 1L << 20)
        .groupBy(month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_items"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy("mo")
    },

    // A-path: event-type transition matrix within 30-minute continuity —
    // the "user journey" aggregation: lag pairs per user (total window
    // order), session continuity as a gap bound, transition shares from
    // an exact long window sum and ONE division.
    "q53_path_transitions" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val ev = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      ev.filter(col("prev_type").isNotNull &&
          col("ts_us") - col("prev_ts") <= lit(1800000000L))
        .groupBy(col("prev_type").as("from_type"),
          col("event_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pct", round(col("n").cast("double") * 100 /
          sum(col("n")).over(Window.partitionBy("from_type")), 4))
        .orderBy("from_type", "to_type")
    },

    // A-hierarchy: share-of-parent at two levels (nation within region,
    // region within total). The float trap here is the WINDOW sum: summing
    // already-divided doubles is reduction-order-dependent, so revenue
    // stays in fixed-point LONG units through both window sums and each
    // share is one terminal division.
    "q54_share_of_parent" -> { (s, dir) =>
      val units = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 10000, 0).cast("long")).as("units"))
      val wr = Window.partitionBy("r_name")
      val wt = Window.partitionBy()
      units.select(col("r_name"), col("n_name"),
          (col("units") / 1e4).as("revenue"),
          round(col("units").cast("double") * 100 /
            sum(col("units")).over(wr), 4).as("pct_of_region"),
          round(sum(col("units")).over(wr).cast("double") * 100 /
            sum(col("units")).over(wt), 4).as("region_pct_of_total"))
        .orderBy("r_name", "n_name")
    },

    // W-session-window: Spark's NATIVE session_window aggregate (the
    // merging-interval session operator, usable in batch and streaming) —
    // checked against a first-principles gap-and-running-sum oracle, so
    // the built-in's exact boundary semantics (a new session starts when
    // gap ≥ the timeout; end = last event + timeout, half-open) are pinned
    // rather than assumed. Complements q23, which builds sessions manually.
    "q55_session_window" -> { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")
    },

    // Recursive-hierarchy traversal (the WITH RECURSIVE gap in Spark SQL):
    // a deterministic decimal-digit tree over part keys (parent = key div
    // 10) explodes to its full ancestor closure via Hierarchy.ancestors'
    // iterative frontier joins, profiled per depth. The oracle runs the
    // same closure as a genuine recursive CTE — engine iteration ≡ SQL
    // recursion, hash-exact.
    "q56_transitive_closure" -> { (s, dir) =>
      val edges = sizedTable(s, dir, "part")
        .filter(col("p_partkey") >= 10)
        .select(col("p_partkey").as("child"),
          call_function("div", col("p_partkey"), lit(10L)).as("parent"))
      val anc = graft.operators.Hierarchy.ancestors(edges)
      val out = anc.groupBy(col("depth"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("node")).as("n_nodes"),
          countDistinct(col("anc")).as("n_ancs"),
          sum(col("anc")).as("sum_anc"))
        .orderBy("depth")
      // ≤ maxDepth rows: collect the profile, then free every level
      // checkpoint — repeated invocations must not strand cached RDDs
      // (and a bounded per-depth summary is legitimate driver data, the
      // same class as the IVF model)
      val rows = out.collect().toSeq
      graft.operators.Components.releaseCheckpoint(anc)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // Table reconciliation over two derived order snapshots: pre-2002 vs
    // post-2000, with a deterministic perturbation in the "new" version so
    // every status arises. Column-exact change detection (IS DISTINCT
    // FROM), no row hashing — see TableDiff.
    "d10_table_diff" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val prev = orders.filter(year(col("o_orderdate")) <= 2001)
      val next = orders.filter(year(col("o_orderdate")) >= 2001)
        .withColumn("o_totalprice",
          when(col("o_custkey") % 10 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
      graft.operators.TableDiff.diff(prev, next, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("status")
    },

    // One-pass data-quality audit (Deequ-style constraint metrics) over
    // orders, plus a referential-integrity leg: lineitem rows whose order
    // is missing from a parent snapshot cut at 2001 (simulating the
    // late-arriving-dimension case — the full parent has no orphans by
    // construction). Exact mode so DuckDB can re-derive every number; see
    // DataQuality for the approx/HLL 100 TB mode.
    "q57_quality_audit" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val audit = graft.operators.DataQuality.audit(orders,
        nullCols = Seq("o_custkey", "o_orderstatus", "o_totalprice"),
        distinctCols = Seq("o_orderstatus", "o_custkey"),
        numericCols = Seq("o_totalprice"),
        keyCols = Seq("o_orderkey"))
      val ref = graft.operators.DataQuality.referentialOrphans(
        li, "l_orderkey",
        orders.filter(year(col("o_orderdate")) <= 2001), "o_orderkey")
      audit.unionByName(ref)
        .select(col("metric"), col("col_name"),
          round(col("value"), 2).as("value"))
        .orderBy("metric", "col_name")
    },

    // Incremental aggregate maintenance (IncrementalAgg) proven against the
    // one-shot answer: build mergeable state on two corpus halves, merge —
    // must equal aggregating everything at once (count/fixed-point-sum are
    // algebraic, min/max semilattice); and retract the late half from
    // full-corpus state — must equal aggregating only the early half. The
    // 100-TB point: each refresh shuffles O(state) rows, never the corpus.
    "q58_incremental_agg" -> { (s, dir) =>
      import graft.operators.IncrementalAgg._
      val orders = t(s, dir, "orders")
      val early = orders.filter(year(col("o_orderdate")) <= 1997)
      val late = orders.filter(year(col("o_orderdate")) > 1997)
      val keys = Seq("o_orderstatus")
      val sums = Seq("o_totalprice" -> 2)
      // merge leg (with non-invertible min/max — merge handles them)
      val total = finish(merge(
        build(early, keys, sums, minMax = Seq("o_totalprice")),
        build(late, keys, sums, minMax = Seq("o_totalprice"))))
      // retract leg (invertible metrics only, per the retract contract)
      val earlyViaRetract = finish(retract(
        build(orders, keys, sums), build(late, keys, sums)))
        .select(col("o_orderstatus"), col("n").as("n_early"),
          col("sum_o_totalprice").as("sum_early"))
      // LEFT join + coalesce: a status with no pre-1998 rows is a
      // fully-retracted key (dropped by retract), but the oracle's
      // FILTER form still emits it with n_early = 0 / NULL sum
      total.join(earlyViaRetract, keys, "left")
        .select(col("o_orderstatus"), col("n"),
          round(col("sum_o_totalprice"), 2).as("sum_o_totalprice"),
          col("min_o_totalprice"), col("max_o_totalprice"),
          coalesce(col("n_early"), lit(0L)).as("n_early"),
          round(col("sum_early"), 2).as("sum_early"))
        .orderBy("o_orderstatus")
    },

    // The q20 tolerance-verdict pattern applied to the audit's 100-TB mode:
    // approx (HLL, rsd=0.01) audit joined to the exact audit; distinct
    // counts must land within 5% (≈5σ — deterministically true unless the
    // sketch breaks), approx dup_key_rows must be non-negative (the clamp)
    // and bounded by the sketch error, row counts must match exactly
    // (counting is exact in both modes). DuckDB re-derives the exact side
    // and the verdicts, so the approx mode is driver-checked end-to-end.
    "q59_quality_approx" -> { (s, dir) =>
      import graft.operators.DataQuality.audit
      val orders = t(s, dir, "orders")
      val spec = (e: Boolean) => audit(orders,
        distinctCols = Seq("o_custkey", "o_orderstatus"),
        keyCols = Seq("o_orderkey"), exact = e, rsd = 0.01)
      val ex = spec(true).withColumnRenamed("value", "exact_value")
      val ap = spec(false).withColumnRenamed("value", "approx_value")
      val n = orders.agg(count(lit(1)).cast("double").as("total_rows"))
      ex.join(ap, Seq("metric", "col_name"))
        .crossJoin(broadcast(n))
        .select(col("metric"), col("col_name"), col("exact_value"),
          when(col("metric") === "distinct_count",
            abs(col("approx_value") - col("exact_value")) <=
              col("exact_value") * 0.05)
          .when(col("metric") === "dup_key_rows",
            col("approx_value") >= 0 &&
              col("approx_value") <= col("total_rows") * 0.05)
          .otherwise(col("approx_value") === col("exact_value"))
          .as("approx_ok"))
        .orderBy("metric", "col_name")
    },

    // Equal-frequency (quantile) binning — the feature-engineering twin of
    // q37's fixed-width histogram: ntile(8) over a TOTAL order
    // (o_totalprice, o_orderkey — the tie-break is what makes the bin
    // assignment deterministic and hash-checkable). The global window is
    // the exact-semantics pin; at 100 TB the same binning runs as
    // approx_percentile boundaries broadcast onto the scan (the q36/q50
    // pattern) — exact global ntile requires the sort by definition.
    "q60_equal_freq_bins" -> { (s, dir) =>
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("bin", ntile(8).over(w))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          round(exactSum(col("o_totalprice"), 2), 2).as("sum_price"))
        .orderBy("bin")
    },

    // Point-in-time feature computation (the feature-store shape): for
    // every purchase event, trailing-window features over the user's OWN
    // prior activity — 7-day event count, 7-day exact fixed-point value
    // sum, and tenure (days since the user's first event). ONE pass:
    // a per-user RANGE frame computes the trailing aggregates for every
    // event, purchases filter afterwards — no self-join, no shuffle
    // beyond the per-user partition. The frame ends at -1 μs, so nothing
    // at-or-after the anchor leaks in (PIT correctness — the train-serve
    // skew rule). Composes with q21/q51's as-of joins for cross-table
    // features.
    "q61_pit_features" -> { (s, dir) =>
      val us7d = 7L * 86400L * 1000000L
      val e = t(s, dir, "events").withColumn("ts_us", unix_micros(col("ts")))
      val trail = Window.partitionBy("user_id").orderBy("ts_us")
        .rangeBetween(-us7d, -1L)
      val ever = Window.partitionBy("user_id").orderBy("ts_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("n_prior_7d", count(lit(1)).over(trail))
        .withColumn("sum_prior_7d",
          coalesce(sum(round(col("value") * 100, 0).cast("long")).over(trail), lit(0L)))
        .withColumn("first_us", min(col("ts_us")).over(ever))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("n_prior_7d"),
          round(col("sum_prior_7d") / 100.0, 2).as("sum_prior_7d"),
          floor((col("ts_us") - col("first_us")) / lit(86400000000L))
            .as("tenure_days"))
        .orderBy("event_id")
    },

    // SCD2 point-in-time LOOKUP — the consuming half of q46's dimension
    // build: every view event is resolved to the user's tier version
    // valid AT that instant. Not a range join: SCD2 intervals partition
    // each user's timeline gap-free, so "latest valid_from at-or-before
    // ts" (one as-of join, strict = false for the inclusive-from
    // boundary) IS the interval lookup, at O(sort-merge) instead of
    // interval-banding cost. Views before a user's first version carry
    // NULL — unknown history is not a fabricated tier.
    "q62_scd2_lookup" -> { (s, dir) =>
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val e = t(s, dir, "events")
      val changes = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), floor(col("value") / 25).cast("long").as("tier"))
        .withColumn("prev_tier", lag(col("tier"), 1).over(byUser))
        .filter(col("prev_tier").isNull || col("tier") =!= col("prev_tier"))
        .select(col("user_id"), col("ts_us").as("valid_from_us"),
          col("event_id"), col("tier"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      graft.operators.AsOfJoin.asOf(views, changes, Seq("user_id"),
          "ts_us", "valid_from_us", "event_id", Seq("tier"), strict = false)
        .select(col("event_id"), col("user_id"), col("asof_tier").as("tier"))
        .orderBy("event_id")
    },

    // Batch MERGE/upsert (r8 verdict task 6) — the producer half of the
    // SCD family: q46 derives history from a log, q62 reads it as-of;
    // Merge maintains the LIVE current-state table between ingests.
    // Construction doubles as the correctness proof: target = latest row
    // per user before a mid-log cutoff, updates = the log after it, and
    // MERGE of the two must equal the snapshot recomputed over the WHOLE
    // log (every second-half ts exceeds every first-half ts, so
    // per-key-latest composes) — which is exactly what the oracle
    // computes, so hash-equality certifies update, insert, and
    // no-second-half-row retention paths at once.
    "q63_merge_upsert" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val cutUs = lit(java.time.Instant.parse("2024-01-15T00:00:00Z")
        .toEpochMilli * 1000L)
      val target = e.filter(col("ts_us") < cutUs)
        .withColumn("_rn", row_number().over(byUser))
        .filter(col("_rn") === 1).drop("_rn")
      val updates = e.filter(col("ts_us") >= cutUs)
      graft.operators.Merge.upsert(target, updates, Seq("user_id"),
          orderBy = Seq("ts_us", "event_id"))
        .orderBy("user_id")
    },

    // Iterative graph ranking: fixed-point integer PageRank over the part
    // co-purchase graph (parts sharing an order are linked, both
    // directions, distinct). The graph family's ranking member beside
    // q56's closure and d05's components. Exactness: every rank is a LONG
    // in 1e-9 units, per-edge contributions are floor divisions, damping
    // is integer — order-independent under any partitioning, so 5
    // iterations replay bit-identically in the oracle's unrolled CTEs.
    // Scale shape: the within-order self-join's fan-out is bounded by
    // order size (≤7 lineitems/order in TPC-H-shaped data), so |E| =
    // O(|lineitem| · parts-per-order); PageRank.ranks persists the edge
    // list src-clustered once and shuffles only the |V|-row rank frame
    // per iteration. Output is the top-20 profile — bounded driver data,
    // collected so the persisted leaves can be freed (the q56 pattern).
    "q65_copurchase_pagerank" -> { (s, dir) =>
      // probes the session co-purchase adjacency index (built once per
      // corpus version — pair-gen self-join + collect_set shuffle live
      // there); the query itself is 5 rank rounds + the top-20. The
      // within-order generator emits both directions, so the graph is
      // symmetric and the node set reads off the adjacency frame directly
      val mr = graft.operators.PageRank.ranksOverAdjacency(
        copurchaseAdjacency(s, dir), iters = 5, symmetric = true)
      val top = mr.ranks
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(20)
      val rows = top.collect().toSeq
      mr.release() // frees this probe's rounds; the index stays cached
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), top.schema)
    },

    // Sketch SET ALGEBRA — the q40 rollup's missing operation: mergeable
    // sketches union natively, but year-over-year customer OVERLAP
    // (retention) needs intersection, estimated by inclusion-exclusion
    // over three HLL estimates (|A|+|B|−|A∪B|). At 100 TB the per-year
    // sketches are built once at ingest and every pairwise overlap is two
    // sketch merges — no re-scan, no shuffle of raw keys; the exact
    // distinct-pair join exists here as the audit. All verdicts are
    // integer cross-multiplications (hll_sketch_estimate returns bigint),
    // so the report is deterministic and the oracle pins the expected-true
    // verdict columns (q40's pattern) beside its own exact counts.
    "q66_hll_set_ops" -> { (s, dir) =>
      // (ck, yr) feeds three consumers (per-year sketches + both sides of
      // the intersection self-join): persist it or pay the orders scan +
      // distinct shuffle 3×; the bounded output is collected so the
      // cached frame can be freed (the q56/q65 pattern)
      val dist = sizedTable(s, dir, "orders")
        .select(col("o_custkey").as("ck"), year(col("o_orderdate")).as("yr"))
        .distinct()
        .persist()
      val perYear = dist.groupBy("yr")
        .agg(hll_sketch_agg(col("ck"), lit(14)).as("sk"),
          count(lit(1)).as("n"))
      val a = perYear.select(col("yr").as("yr_a"), col("sk").as("sk_a"),
        col("n").as("exact_a"))
      val b = perYear.select(col("yr").as("yr_b"), col("sk").as("sk_b"),
        col("n").as("exact_b"))
      val inter = dist.as("x").join(dist.as("y"),
          col("x.ck") === col("y.ck") && col("x.yr") + 1 === col("y.yr"))
        .groupBy(col("x.yr").as("yr_i"))
        .agg(count(lit(1)).as("exact_i"))
      val out = a.join(b, col("yr_a") + 1 === col("yr_b"))
        .join(inter, col("yr_a") === col("yr_i"), "left")
        .select(col("yr_a"), col("yr_b"), col("exact_a"), col("exact_b"),
          (col("exact_a") + col("exact_b") -
            coalesce(col("exact_i"), lit(0L))).as("exact_union"),
          coalesce(col("exact_i"), lit(0L)).as("exact_inter"),
          hll_sketch_estimate(col("sk_a")).as("est_a"),
          hll_sketch_estimate(col("sk_b")).as("est_b"),
          hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_u"))
        .withColumn("est_i", col("est_a") + col("est_b") - col("est_u"))
        .select(col("yr_a"), col("yr_b"), col("exact_a"), col("exact_b"),
          col("exact_union"), col("exact_inter"),
          (abs(col("est_u") - col("exact_union")) * 50 <= col("exact_union"))
            .as("union_within_2pct"),
          // the inclusion-exclusion error scales with the UNION (three
          // estimates each ~0.8% of their set), so the tolerance is
          // conditioned on it — a small-overlap year pair would flip a
          // verdict pinned to exact_inter even with the sketch on-spec
          (abs(col("est_i") - col("exact_inter")) * 10 <= col("exact_union"))
            .as("inter_within_10pct_of_union"))
        .orderBy("yr_a")
      val rows = out.collect().toSeq
      dist.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // Incremental JOIN-view maintenance (the join twin of q58's
    // incremental aggregates): the orders⋈lineitem revenue view is
    // refreshed from the post-2000 arrivals via the delta identity
    // ΔV = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB — three joins whose one side is
    // delta-sized, never a re-join of the standing tables. The split is
    // by EVENT TIME (order date / ship date), not by the join key, so all
    // three delta terms are real: old orders keep receiving late
    // shipments (A_old⋈ΔB), new orders bring their own lineitems (ΔA⋈ΔB).
    // Because inner equi-join is monotone over inserts, the maintained
    // view must equal the recomputed join EXACTLY — which is what the
    // oracle computes, so hash equality certifies the identity. Output is
    // the per-(year, status) revenue rollup of the maintained rows.
    "q67_ivm_join" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"),
          col("l_discount"), col("l_shipdate"))
      val (aOld, dA) = (o.filter(year(col("o_orderdate")) <= 2000),
        o.filter(year(col("o_orderdate")) > 2000))
      val (bOld, dB) = (li.filter(year(col("l_shipdate")) <= 2000),
        li.filter(year(col("l_shipdate")) > 2000))
      val viewOld = aOld.join(bOld, Seq("o_orderkey"))
      graft.operators.IncrementalJoin
        .insertOnlyInner(viewOld, aOld, bOld, dA, dB, Seq("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"),
          exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy("yr", "o_orderstatus")
    },

    // Interval × interval OVERLAP join (q24 is point-in-interval; this is
    // the two-sided temporal co-occurrence): every purchase's 30-minute
    // attribution window against every signup's 2-hour activation window,
    // keyless. Naively a BroadcastNestedLoopJoin; RangeJoin.intervalOverlap
    // bands BOTH sides to 1-hour buckets → equi-join + exact predicate,
    // each pair emitted once by the left-edge-bucket rule (no distinct
    // pass in the plan). Output is the overlaps-per-purchase histogram
    // with exact integer overlap durations.
    "q68_interval_overlap" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val a = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("a_id"), col("us").as("a_s"),
          (col("us") + 1800000000L).as("a_e"))
      val b = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("b_id"), col("us").as("b_s"),
          (col("us") + 7200000000L).as("b_e"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
          "a_s", "a_e", "b_s", "b_e", bucketWidth = 3600000000L)
        .select(col("a_id"),
          (least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("ov_us"))
        .groupBy("a_id")
        .agg(count(lit(1)).as("n_ov"), sum(col("ov_us")).as("ov_us"))
        .groupBy("n_ov")
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("ov_us")).as("sum_ov_us"))
        .orderBy("n_ov")
    },

    // Personalized PageRank — the "related items" member of the graph
    // family (q65 ranks globally; this ranks damped reachability FROM a
    // seed set): teleport mass restarts only at the parts a customer
    // cohort actually bought, so the top NON-seeds are the
    // recommendations. Graph scoped to one ship-quarter (the analysis
    // window); same adjacency/staged machinery and exact fixed-point
    // arithmetic as q65, seed-conditional base the only delta — replayed
    // by the oracle's unrolled CTEs with the same CASE.
    "q69_personalized_pagerank" -> { (s, dir) =>
      val li97 = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997 &&
          month(col("l_shipdate")) <= 3)
      val ip = li97.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      val seeds = li97
        .join(t(s, dir, "orders").filter(col("o_custkey") % 10 === 1),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("node"))
      val mr = graft.operators.PageRank.personalizedRanks(e, "src", "dst",
        seeds, "node", iters = 4, dedupEdges = true, symmetric = true)
      val top = mr.ranks
        .join(broadcast(seeds.distinct().withColumn("__seed", lit(true))),
          Seq("node"), "left")
        .select(col("node"), col("rank_fp"), col("outdeg"),
          coalesce(col("__seed"), lit(false)).as("is_seed"))
        .orderBy(col("rank_fp").desc, col("node"))
        .limit(20)
      val rows = top.collect().toSeq
      mr.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), top.schema)
    },

    // Community detection — synchronous label propagation over the 1997
    // co-purchase graph (the graph family's clustering member; q65 ranks,
    // d05 connects, this partitions). Classic LPA is nondeterministic;
    // LabelPropagation pins synchronous rounds + (max count, min label)
    // tie-breaks, so 4 rounds replay exactly as the oracle's unrolled
    // count+argmax CTEs. The year scope keeps a community structure worth
    // reporting (the full graph is near-complete and collapses to one
    // label); output is the top-20 community profile — bounded driver
    // data, collected so the staged frames can be freed (q65 pattern).
    "q70_label_propagation" -> { (s, dir) =>
      // no pre-distinct (q65's documented choice): duplicate (o,p) rows
      // would multiply the self-join output before the adjacency build's
      // collect_set collapses them, but the testdata measures a dup ratio
      // of exactly 1.0 (pairs are unique), so a distinct here is a pure
      // extra shuffle; q76 differs because its per-pair count(*) NEEDS
      // the distinct for correctness, not performance
      val ip = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      val ml = graft.operators.LabelPropagation.labels(e, "src", "dst",
        iters = 4, dedupEdges = true, symmetric = true)
      val top = ml.labels
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("sz"), min(col("node")).as("min_node"))
        .orderBy(col("sz").desc, col("community"))
        .limit(20)
      val rows = top.collect().toSeq
      ml.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), top.schema)
    },

    // Triangle census — degree-ordered orientation over an ORDER-sampled
    // co-purchase graph (l_orderkey % 4: cluster sampling keeps whole
    // orders, so within-order clique structure — the thing being measured
    // — survives the sample intact; the full graph's 41M wedges are the
    // bench-budget reason for sampling, not a capability limit). The
    // oriented wedge join bounds the blow-up at O(|E|^1.5) regardless of
    // hub skew; the oracle certifies it with the plain a<b<c triple join,
    // which counts the SAME triangle set by a different algorithm — an
    // algebraic identity, not a replay. Output: per-node participation
    // histogram (how many nodes sit in n triangles).
    "q71_triangle_count" -> { (s, dir) =>
      val ip = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      val mt = graft.operators.Triangles.perNode(e, "src", "dst")
      val hist = mt.counts
        .groupBy("n_tri")
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("n_tri")
      val rows = hist.collect().toSeq
      mt.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), hist.schema)
    },

    // k-core extraction — iterative peeling on the customer–part bipartite
    // purchase graph (degrees there are scale-INVARIANT — a TPC-H-shaped
    // customer buys ~35 distinct parts and a part serves ~30 customers at
    // every SF — so one k threshold peels meaningfully at sf0.001 and
    // sf0.1 alike, unlike the near-complete co-purchase projection). The
    // 1996–97 order-date scope trims the analysis window (and the bench
    // cost: per-round time is round-count-dominated, so the scoped graph
    // at 5 rounds is the same demonstration at a third of the edges). The
    // two id spaces interleave as 2p / 2c+1, pure integer arithmetic the
    // oracle repeats. 5 peel rounds at k=8, each an unrolled CTE; the
    // output is the surviving-degree histogram per side. Convergence is
    // NOT assumed — the result is defined as the round-5 survivor set,
    // which is what the oracle replays (KCore scaladoc).
    "q72_kcore" -> { (s, dir) =>
      val bp = t(s, dir, "orders")
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2 + 1).as("src"),
          (col("l_partkey") * 2).as("dst"))
      val mc = graft.operators.KCore.core(bp, "src", "dst", k = 8, rounds = 5)
      val hist = mc.core
        .groupBy(pmod(col("node"), lit(2)).as("side"), col("deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("side", "deg")
      val rows = hist.collect().toSeq
      mc.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), hist.schema)
    },

    // Rolling-median / MAD anomaly detection on inter-event gaps — the
    // robust-statistics member of the window family (q25 rolls a mean;
    // median+MAD is what real monitoring uses because one outlier
    // poisons a mean but not a median). Everything is INTEGER: gaps are
    // epoch-micro differences, the rolling lower median picks an EXISTING
    // element of the 11-gap frame (sorted-array index (n+1) div 2 — no
    // averaging, no floats), MAD is the lower median of |gap−med|, and
    // the flag is gap > med + 3·MAD with a ≥5-gap warm-up guard — so the
    // whole pipeline replays hash-exactly in SQL. Plan shape: the lag
    // window and the frame window share (event_type, us, event_id)
    // partitioning+order, so Spark sorts once; the median/MAD arithmetic
    // is per-row array expressions inside codegen, no second shuffle.
    "q73_gap_anomaly" -> { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val ord = Window.partitionBy("event_type").orderBy("us", "event_id")
      val g = ev
        .withColumn("gap", col("us") - lag(col("us"), 1).over(ord))
        .filter(col("gap").isNotNull)
      val frame = Window.partitionBy("event_type").orderBy("us", "event_id")
        .rowsBetween(-10, Window.currentRow)
      val lowerMed = (a: Column) =>
        element_at(a, ((size(a) + 1) / 2).cast("int"))
      val armed = g
        .withColumn("arr", sort_array(collect_list(col("gap")).over(frame)))
        .withColumn("med", lowerMed(col("arr")))
        .withColumn("mad", lowerMed(sort_array(
          transform(col("arr"), x => abs(x - col("med"))))))
        .withColumn("n", size(col("arr")))
      armed.groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("n") >= 5 &&
              col("gap") > col("med") + col("mad") * 3, 1L)
            .otherwise(0L)).as("n_anom"),
          max(col("gap")).as("max_gap"),
          sum(col("med")).as("sum_med"))
        .orderBy("event_type")
    },

    // Multi-source BFS hop rings — the graph family's distance member
    // (q56 asks reachable-or-not, q69 ranks damped reachability; this
    // reports exact hop distance): how many co-purchase hops separate
    // the catalogue from the parts a small customer cohort actually
    // bought. Frontier iteration shuffles only the newly-reached ring
    // each round (O(|E|) total across all rounds — the 100-TB property),
    // with the known-set anti-join broadcast below the measured-count
    // limit. Output: nodes-per-ring histogram; parts not reached within
    // 6 hops are absent by contract (BfsHops scaladoc).
    "q74_bfs_hops" -> { (s, dir) =>
      val li97 = t(s, dir, "lineitem").filter(year(col("l_shipdate")) === 1997)
      val ip = li97.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val e = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      val seeds = li97
        .join(t(s, dir, "orders").filter(col("o_custkey") % 499 === 7),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("node"))
      val md = graft.operators.BfsHops.hops(e, "src", "dst",
        seeds, "node", maxHops = 6)
      val hist = md.dists
        .groupBy("dist")
        .agg(count(lit(1)).as("n_nodes"), min(col("node")).as("min_node"))
        .orderBy("dist")
      val rows = hist.collect().toSeq
      md.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), hist.schema)
    },

    // BOM-style SUBTREE ROLLUP — the aggregation half of the recursive-
    // hierarchy story (q56 profiles the closure; this answers the question
    // hierarchies exist for: total cost under each assembly). Every part
    // rolls its retail price up the decimal-digit tree to all ancestors
    // (self included, the BOM convention), exact cents. Closure via
    // Hierarchy.ancestors' frontier joins; prices ride ONE join against
    // the pair set, then one aggregate per ancestor — at 100 TB the
    // closure is |pairs| = O(|V|·depth) rows, never re-walked per level.
    "q75_bom_rollup" -> { (s, dir) =>
      val parts = t(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"))
      val edges = parts
        .filter(col("p_partkey") >= 10)
        .select(col("p_partkey").as("child"),
          call_function("div", col("p_partkey"), lit(10L)).as("parent"))
      val anc = graft.operators.Hierarchy.ancestors(edges)
      val pairs = anc.select(col("node"), col("anc"))
        .union(parts.select(col("p_partkey").as("node"),
          col("p_partkey").as("anc")))
      val out = pairs
        .join(parts.withColumnRenamed("p_partkey", "node"), Seq("node"))
        .groupBy(col("anc"))
        .agg(count(lit(1)).as("n_members"),
          exactSum(col("p_retailprice"), 2).as("subtree_cost"))
        .orderBy("anc")
      // bounded (|parts| rows): collect, then free the closure's level
      // checkpoints (the q56 lifecycle)
      val rows = out.collect().toSeq
      graft.operators.Components.releaseCheckpoint(anc)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // Weighted CHEAPEST PATH (min-plus / Bellman-Ford, bounded rounds) —
    // the weighted generalization of q74's hop rings: edge cost is
    // 1e6 div co-occurrence-count, so strong associations are cheap and
    // the 6-round relaxation finds the strongest association CHAIN from
    // the cohort's parts to everything nearby. Exact integer min-plus
    // (CheapestPaths scaladoc): cost after round i = cheapest path using
    // ≤ i edges, which is precisely what the oracle's unrolled full
    // relaxation computes; the operator's improved-only frontier is the
    // exact SPFA optimization of the same quantity.
    "q76_cheapest_path" -> { (s, dir) =>
      val li97 = t(s, dir, "lineitem").filter(year(col("l_shipdate")) === 1997)
      val ip = li97.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .groupBy(col("a.p").as("src"), col("b.p").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("src"), col("dst"),
          call_function("div", lit(1000000L), col("cnt")).as("w"))
      val seeds = li97
        .join(t(s, dir, "orders").filter(col("o_custkey") % 499 === 7),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("node"))
      val mc = graft.operators.CheapestPaths.relax(e, "src", "dst", "w",
        seeds, "node", rounds = 6)
      val top = mc.costs.orderBy("cost", "node").limit(20)
      val rows = top.collect().toSeq
      mc.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), top.schema)
    },

    // MODULARITY AUDIT for q70's communities — the quality-measurement
    // half of community detection, the way v09 audits ANN recall and v19
    // audits IVF drift: LPA is a heuristic, so the partition it emits
    // needs a number saying whether it beats random. Newman modularity in
    // EXACT integers over the directed symmetric edge set: per community,
    //   contrib_num = intra_edges · E − d_c²   (Q = Σ contrib_num / E²)
    // — positive means denser than the configuration-model expectation.
    // Same graph, same 4 LPA rounds as q70 (the oracle shares the ONE
    // lpaCtes generator, so the two queries can never audit different
    // labellings). Integer bound: E < ~3e9 directed edges keeps d_c² in
    // Long — beyond that the audit needs decimal; documented, same class
    // as PageRank's |V|·scale·85 bound.
    "q77_modularity_audit" -> { (s, dir) =>
      val ip = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val eRaw = ip.as("a").join(ip.as("b"),
          col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
        .select(col("a.p").as("src"), col("b.p").as("dst"))
      // ONE pair-generation for both the labelling and the audit (the t25
      // lesson — don't compute the expensive subplan twice): the distinct
      // directed graph is persisted, LPA consumes it with dedupEdges off
      // (already distinct — collect_list ≡ collect_set here), and the
      // audit's four consumers (count, degrees, both intra ends) read the
      // same cache
      val e = eRaw.distinct().persist()
      val ml = graft.operators.LabelPropagation.labels(e, "src", "dst",
        iters = 4, dedupEdges = false, symmetric = true)
      val em = e.count()
      val deg = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("dg"))
      val comm = ml.labels.join(deg, Seq("node"))
        .groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("sz"), sum(col("dg")).as("d_c"))
      val la = ml.labels.select(col("node").as("src"), col("lab").as("ls"))
      val lb = ml.labels.select(col("node").as("dst"), col("lab").as("ld"))
      val intra = e.join(la, Seq("src")).join(lb, Seq("dst"))
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("community"))
        .agg(count(lit(1)).as("intra_e"))
      val outF = comm.join(intra, Seq("community"), "left")
        .select(col("community"), col("sz"), col("d_c"),
          coalesce(col("intra_e"), lit(0L)).as("intra_e"),
          (coalesce(col("intra_e"), lit(0L)) * em -
            col("d_c") * col("d_c")).as("contrib_num"))
        .orderBy(col("sz").desc, col("community"))
        .limit(20)
      val rows = outF.collect().toSeq
      e.unpersist()
      ml.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), outF.schema)
    },

    // GRAPH-FAMILY COMPOSITION — the managed-handle contract under
    // chaining (t28 composes the text family; this composes the graph
    // family): k-core trim densifies the 1997 co-purchase graph, PageRank
    // ranks the core, LPA labels it, and the modularity audit scores the
    // labelling — FOUR iterative operators over one persisted edge cache,
    // each releasing its staged rounds before the next starts
    // (GraphComposeSpec pins zero persisted RDDs after the final
    // release). All arithmetic is the exact-integer kind the individual
    // oracles already certify, so the whole chain replays as one unrolled
    // CTE pipeline: peel rounds → trimmed edges → PR fixed-point rounds +
    // LPA vote rounds → per-community rank mass beside the modularity
    // contribution.
    // The whole composition runs inside ONE failure sweep: a throw after
    // e.persist() (e.g. PageRank's overflow guard firing in the terminal
    // collect) would otherwise strand e/ce and three operators' staged
    // rounds — the per-operator sweeps can't reach frames registered
    // before their entry. Same-thread nesting of the inner sweeps is the
    // ledger's supported shape (CheckpointsGuardSpec).
    "q78_core_communities" -> { (s, dir) =>
     graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext) {
      // one pair-generation (the shared co-purchase generator, scoped to
      // 1997 shipments), four consumers (q77's persist discipline)
      val e = copurchasePairs(t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")) === 1997)).distinct().persist()
      val mc = graft.operators.KCore.core(e, "src", "dst", k = 3, rounds = 4)
      // trim the DIRECTED symmetric graph to the survivor set: two
      // semi-joins, symmetry preserved (both directions share endpoints)
      val keep = mc.core.select("node")
      val ce = e
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .persist()
      val cem = ce.count() // materializes ce; em for the modularity formula
      // ONE hybrid adjacency serves both iterative consumers — PageRank
      // and LPA expand the same layout frames (the over-adjacency
      // build/probe split), saving a full O(|E|) collect_set build. The
      // two legs are INDEPENDENT consumers of that shared read-only
      // state, so they run CONCURRENTLY (the pqBuild bounded-pool
      // discipline): q78's wall-clock pays max(PR, LPA) round chains,
      // not their sum. Shuffle sizing under concurrency: each leg binds
      // its rounds to its own measured-width session, so neither leg
      // sees the other's conf. Both
      // futures are settled before either result is unwrapped, so a
      // failed leg never leaves the other staging frames after the
      // enclosing failure sweep fires.
      val adj = graft.operators.Adjacency.build(
        ce.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst")), dedup = false)
      val (mr, ml) = {
        import scala.concurrent.{Await, ExecutionContext, Future}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2,
          (r: Runnable) => {
            val th = new Thread(r, "graft-q78-leg"); th.setDaemon(true); th
          })
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        try {
          val fr = Future(graft.operators.PageRank
            .ranksOverAdjacency(adj, iters = 3, symmetric = true))
          val fl = Future(graft.operators.LabelPropagation
            .labelsOverAdjacency(adj, iters = 3, symmetric = true))
          val d = scala.concurrent.duration.Duration(600L,
            java.util.concurrent.TimeUnit.SECONDS)
          val rT = scala.util.Try(Await.result(fr, d))
          val lT = scala.util.Try(Await.result(fl, d))
          (rT.get, lT.get)
        } finally { pool.shutdownNow(); () }
      }
      val deg = ce.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("dg"))
      val nl = ml.labels.join(deg, Seq("node"))
        .join(mr.ranks.select(col("node"), col("rank_fp")), Seq("node"))
      val comm = nl.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("sz"), sum(col("dg")).as("d_c"),
          sum(col("rank_fp")).as("rank_mass"))
      val la = ml.labels.select(col("node").as("src"), col("lab").as("ls"))
      val lb = ml.labels.select(col("node").as("dst"), col("lab").as("ld"))
      val intra = ce.join(la, Seq("src")).join(lb, Seq("dst"))
        .filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("community"))
        .agg(count(lit(1)).as("intra_e"))
      val outF = comm.join(intra, Seq("community"), "left")
        .select(col("community"), col("sz"), col("d_c"),
          coalesce(col("intra_e"), lit(0L)).as("intra_e"),
          (coalesce(col("intra_e"), lit(0L)) * cem -
            col("d_c") * col("d_c")).as("contrib_num"),
          col("rank_mass"))
        .orderBy(col("sz").desc, col("community"))
        .limit(20)
      val rows = outF.collect().toSeq
      // release ONLY after the terminal collect (the family convention:
      // ce's lazy plan references the core's staged checkpoint, so a
      // cache-evicted recompute must still find it)
      ml.release()
      mr.release()
      adj.release()
      mc.release()
      ce.unpersist()
      e.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), outF.schema)
     }
    },

    // q79: INCREMENTAL graph maintenance — the ingest-epoch contract for
    // the graph family (the q58/q67/d13 identity applied to the adjacency
    // itself). The STANDING co-purchase adjacency (99% of orders) is
    // served from the session/durable graph index — built once per corpus
    // version, the d13 production shape — and the remaining orders arrive
    // as a delta epoch that FOLDS in via Adjacency.foldEdges, so the
    // per-call cost is the |Δ| fold: delta-sized shuffles, everything
    // |E|-shaped skipped (pair-gen self-join, degree pre-pass, collect_set
    // shuffle). The output is a degree histogram with per-bucket
    // source/dst checksums over the folded adjacency — every source's
    // (outdeg, dst multiset sum) contributes, so hash equality against
    // the oracle's FULL REBUILD (DuckDB never sees the split) certifies
    // fold == rebuild.
    "q79_incremental_adjacency" -> { (s, dir) =>
      val standing = standingCopurchaseAdjacency(s, dir)
      val folded = graft.operators.Checkpoints.sweepingOnFailure(s.sparkContext)(
        graft.operators.Adjacency.foldEdges(standing,
          copurchasePairs(t(s, dir, "lineitem")
            .filter(pmod(col("l_orderkey"), lit(100)) === 0)),
          dedup = true)) // the fold owns its frames; the index keeps serving
      val perSrc = {
        val arr = folded.arrayAdj.select(col("src"), col("outdeg"),
          aggregate(col("dsts"), lit(0L), (acc, x) => acc + x).as("dst_sum"))
        if (folded.hubCount == 0) arr
        else arr.unionByName(folded.flat.groupBy("src")
          .agg(count(lit(1)).as("outdeg"), sum(col("dst")).as("dst_sum")))
      }
      val hist = perSrc.groupBy("outdeg")
        .agg(count(lit(1)).as("n_srcs"), sum(col("src")).as("src_sum"),
          sum(col("dst_sum")).as("dst_sum"))
        .orderBy("outdeg")
      // release in finally: on success this still runs AFTER the terminal
      // collect (the family convention); on a failed collect it keeps the
      // fold's frames from outliving the call
      val (rows, histSchema) =
        try (hist.collect().toSeq, hist.schema) finally folded.release()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), histSchema)
    },

    // Degree assortativity of the co-purchase graph — Newman's degree
    // correlation, computed as the Pearson coefficient over edge-endpoint
    // degrees. The generator emits both directions, so the x/y marginals
    // are IDENTICAL and r reduces to (m·Σxy − (Σx)²)/(m·Σx² − (Σx)²) —
    // no sqrt, and every Σ is an exact integer sum (order-free), so the
    // only float work is the ONE terminal division (the t21 discipline).
    // Scale shape: degrees read straight off the index's stored outdeg
    // (dedup'd build, so outdeg = distinct-neighbor degree — no recount);
    // the edge ⋈ degree joins shuffle on src/dst with AQE broadcasting
    // the |V|-sized degree frame when it fits; one global 1-row aggregate.
    // Long range: m·Σx² here is ~10¹⁵; a 10¹²-edge deployment moves these
    // four sums to DECIMAL(38) — the formula is unchanged.
    "q80_degree_assortativity" -> { (s, dir) =>
      val hyb = copurchaseAdjacency(s, dir)
      val deg = hyb.outDegrees.select(col("src").as("node"), col("outdeg"))
      val e = hyb.edges.select("src", "dst")
      val j = e
        .join(deg.select(col("node").as("src"), col("outdeg").as("dx")), Seq("src"))
        .join(deg.select(col("node").as("dst"), col("outdeg").as("dy")), Seq("dst"))
      val agg = j.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sum_d"),
        sum(col("dx") * col("dy")).as("sum_dd"),
        sum(col("dx") * col("dx")).as("sum_d2"))
      val out = agg.select(col("m"), col("sum_d"), col("sum_dd"), col("sum_d2"),
        when(col("m") * col("sum_d2") - col("sum_d") * col("sum_d") === 0L,
          lit(0.0))
          .otherwise(round(
            (col("m").cast("double") * col("sum_dd") -
              col("sum_d").cast("double") * col("sum_d")) /
            (col("m").cast("double") * col("sum_d2") -
              col("sum_d").cast("double") * col("sum_d")), 6))
          .as("assortativity"))
      val rows = out.collect().toSeq // 1 row; the index stays cached
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // Tiered (L0/L1) epoch-roll identity — the q79 pattern for
    // GraphTieredStream: the 1997 co-purchase edges split into 5
    // deterministic order-keyed batches and folded through the FULL
    // tiered lifecycle (minors 0–1, the L1 major at batch 2, minors 3–4 —
    // so the read below merges BOTH tiers), then the same degree
    // histogram as q79 over the merged view. The oracle replays the flat
    // full build in SQL, so hash equality certifies
    // tiered-fold-chain ≡ rebuild — the d13/q79/t38/v24 incremental
    // identity at the tiered-durability layer. Each call pays a fresh
    // roll into its own temp root (the t38/t39 convention: the
    // maintenance chain IS the measured artifact).
    "q81_tiered_roll" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(year(col("l_shipdate")) === 1997)
      val root = java.nio.file.Files.createTempDirectory("q81_tiered").toString
      // the try spans the FOLDS too: a mid-roll throw (starved-window
      // retry, executor OOM) must not strand the temp root (review catch)
      try {
        (0 until 5).foreach { i =>
          // pin + count the batch pairs so the fold's |Δ|-sized shuffles
          // (within-batch distinct, the major's re-aggregation) run at
          // the measured width — the q82/CopurchaseStream discipline
          // (lower-only; a cluster session keeps its width)
          val pairs = copurchasePairs(
            li.filter(pmod(col("l_orderkey"), lit(5)) === i)).persist()
          try {
            graft.streaming.GraphTieredStream.foldBatch(
              graft.operators.Checkpoints.sized(pairs, pairs.count()),
              root, batchId = i.toLong, majorEvery = 3)
          } finally { pairs.unpersist(); () }
        }
        val view = graft.streaming.GraphTieredStream.loadCurrent(s, root)
          .getOrElse(sys.error("tiered roll committed nothing"))
        // histogram is collected (driver rows) before the root dies
        tieredEdgeHistogram(s, view)
      } finally graft.io.TempRoots.delete(root)
    },

    // q82: the CROSS-BATCH composition q81 leaves to spec coverage —
    // batches split by l_linenumber, so one order's lines SPAN up to 5
    // batches and per-batch pair-gen alone would drop most pairs; the
    // full CopurchaseStream machinery (standing lines dir, bucket-pruned
    // incremental join Δ⋈standing ∪ Δ⋈Δ, TIERED L0/L1 commits with a
    // mid-roll major) must reconstruct them. Hash equality against the
    // same full-corpus pair replay as q81 certifies the incremental-join
    // identity AND the tiered line-roll composition end-to-end.
    "q82_line_tiered_roll" -> { (s, dir) =>
      // the per-batch fold sizes its shuffles by its own |Δ| inside
      // CopurchaseStream
      val li = t(s, dir, "lineitem").filter(year(col("l_shipdate")) === 1997)
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
      val linesDir = java.nio.file.Files.createTempDirectory("q82_lines").toString
      val root = java.nio.file.Files.createTempDirectory("q82_tiered").toString
      try {
        (0 until 5).foreach { i =>
          graft.streaming.CopurchaseStream.foldBatchTiered(
            li.filter(pmod(col("l_linenumber"), lit(5)) === i)
              .select("l_orderkey", "l_partkey"),
            linesDir, root, batchId = i.toLong, majorEvery = 3)
        }
        val view = graft.streaming.GraphTieredStream.loadCurrent(s, root)
          .getOrElse(sys.error("tiered line roll committed nothing"))
        tieredEdgeHistogram(s, view)
      } finally { graft.io.TempRoots.delete(root)
        graft.io.TempRoots.delete(linesDir) }
    },

    // q84: the graph family's EDGE-RETRACTION lifecycle as ONE oracle row
    // (the m07 shape at the graph layer — closing the last family
    // asymmetry, r15 verdict #1): the q81 roll (5 batches, major at 2,
    // live minors above it — dead edges land in BOTH tiers), then every
    // stored edge with (src + dst) % 7 == 3 is tombstoned. BOTH
    // retraction paths must agree exactly: the query-time exclusion read
    // (mergedEdgesExcluding over the pre-compaction view) and the plain
    // read after compactMajor physically rebuilds the survivors into a
    // new L1 generation — asserted identical engine-side before the
    // result returns. The oracle replays the all-at-once pair set minus
    // the same tombstone rule, so hash equality certifies
    // roll + exclusion-read + physical compaction ≡ a from-scratch
    // rebuild over the effective (post-retraction) edge set.
    "q84_graph_retraction" -> { (s, dir) =>
      val li = t(s, dir, "lineitem").filter(year(col("l_shipdate")) === 1997)
      val work = java.nio.file.Files.createTempDirectory("q84_tiered").toString
      try {
        val root = s"$work/tiers"
        (0 until 5).foreach { i =>
          // measured fold width — the q81/q82 discipline (see q81)
          val pairs = copurchasePairs(
            li.filter(pmod(col("l_orderkey"), lit(5)) === i)).persist()
          try {
            graft.streaming.GraphTieredStream.foldBatch(
              graft.operators.Checkpoints.sized(pairs, pairs.count()),
              root, batchId = i.toLong, majorEvery = 3)
          } finally { pairs.unpersist(); () }
        }
        val view = graft.streaming.GraphTieredStream.loadCurrent(s, root)
          .getOrElse(sys.error("tiered roll committed nothing"))
        val before = try {
          // tombstones derive from the STORED view but are staged to their
          // own parquet first: compaction prunes the epochs the lazy frame
          // would re-read, and a GDPR worklist is a durable artifact, not
          // a view-lifetime lineage (no driver collect, no cached RDD)
          view.mergedEdges
            .filter((col("src") + col("dst")) % 7 === 3)
            .write.mode("overwrite").parquet(s"$work/dead")
          edgeHistogramRows(view.mergedEdgesExcluding(
            s.read.parquet(s"$work/dead")))
        } finally view.release()
        graft.streaming.GraphTieredStream.compactMajor(s, root,
            s.read.parquet(s"$work/dead"))
          .getOrElse(sys.error("q84 compaction must fire at ~1/7 dead"))
        val clean = graft.streaming.GraphTieredStream.loadCurrent(s, root)
          .getOrElse(sys.error("no tiered view after compaction"))
        val (rows, histSchema) =
          try edgeHistogramRows(clean.mergedEdges) finally clean.release()
        require(rows == before._1,
          "query-time exclusion read diverged from physical compaction")
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), histSchema)
      } finally graft.io.TempRoots.delete(work)
    }
  )

  /** The q81/q82/q84 result shape: out-degree histogram (with id
    * checksums) over an edge frame, collected to driver rows (tiny —
    * one row per distinct degree). */
  private def edgeHistogramRows(edges: DataFrame)
      : (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType) = {
    val hist = edges
      .groupBy("src")
      .agg(count(lit(1)).as("outdeg"), sum(col("dst")).as("dst_sum"))
      .groupBy("outdeg")
      .agg(count(lit(1)).as("n_srcs"), sum(col("src")).as("src_sum"),
        sum(col("dst_sum")).as("dst_sum"))
      .orderBy("outdeg")
    (hist.collect().toSeq, hist.schema)
  }

  /** [[edgeHistogramRows]] over a tiered view's merged edge set,
    * collected under the view's release and re-parallelized to one
    * deterministic partition. */
  private def tieredEdgeHistogram(s: SparkSession,
      view: graft.streaming.GraphTieredStream.Tiered): DataFrame = {
    val (rows, histSchema) =
      try edgeHistogramRows(view.mergedEdges) finally view.release()
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), histSchema)
  }

  // q65: the fixed-point PageRank iterations replay as unrolled CTEs —
  // same constants, same floor divisions (`//` ≡ Spark's `div` for the
  // nonnegative operands here), same LEFT JOIN base-only fallback for
  // nodes with no inflow. Generated from the SAME Scala constants the
  // Spark side uses, so the two can never drift.
  private def q65Oracle(iters: Int, scale: Long): String = {
    val base = scale * 15 / 100
    val steps = (1 to iters).map { i =>
      s"""  c$i AS (SELECT e.dst AS node, CAST(sum(p.r // d.outdeg) AS BIGINT) AS m
         |          FROM e JOIN r${i - 1} p ON p.node = e.src
         |                 JOIN deg d ON d.src = e.src
         |          GROUP BY e.dst),
         |  r$i AS (SELECT n.node,
         |            CAST($base + (COALESCE(c.m, 0) * 85) // 100 AS BIGINT) AS r
         |          FROM n LEFT JOIN c$i c ON c.node = n.node),""".stripMargin
    }.mkString("\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |  e AS MATERIALIZED (
       |    SELECT DISTINCT a.p AS src, b.p AS dst
       |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p),
       |  deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |  n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |  r0 AS (SELECT node, CAST($scale AS BIGINT) AS r FROM n),
       |$steps
       |  fin AS (SELECT r.node, r.r AS rank_fp,
       |            COALESCE(d.outdeg, 0) AS outdeg
       |          FROM r$iters r LEFT JOIN deg d ON d.src = r.node)
       |SELECT node, rank_fp, outdeg FROM fin
       |ORDER BY rank_fp DESC, node
       |LIMIT 20""".stripMargin
  }

  // q69: q65's unrolled replay with the seed-conditional base/r0 CASE —
  // generated from the same constants as the Spark side.
  private def q69Oracle(iters: Int, scale: Long): String = {
    val base = scale * 15 / 100
    val steps = (1 to iters).map { i =>
      s"""  c$i AS (SELECT e.dst AS node, CAST(sum(p.r // d.outdeg) AS BIGINT) AS m
         |          FROM e JOIN r${i - 1} p ON p.node = e.src
         |                 JOIN deg d ON d.src = e.src
         |          GROUP BY e.dst),
         |  r$i AS (SELECT n.node,
         |            CAST(CASE WHEN s.node IS NOT NULL THEN $base ELSE 0 END
         |                 + (COALESCE(c.m, 0) * 85) // 100 AS BIGINT) AS r
         |          FROM n LEFT JOIN sd s ON s.node = n.node
         |               LEFT JOIN c$i c ON c.node = n.node),""".stripMargin
    }.mkString("\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE year(l_shipdate) = 1997 AND month(l_shipdate) <= 3),
       |  e AS MATERIALIZED (
       |    SELECT DISTINCT a.p AS src, b.p AS dst
       |    FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
       |  deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |  n AS (SELECT DISTINCT src AS node FROM e),
       |  sd AS (SELECT DISTINCT l_partkey AS node
       |         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |         WHERE year(l_shipdate) = 1997 AND month(l_shipdate) <= 3
       |           AND o_custkey % 10 = 1),
       |  r0 AS (SELECT n.node,
       |           CAST(CASE WHEN s.node IS NOT NULL THEN $scale ELSE 0 END
       |                AS BIGINT) AS r
       |         FROM n LEFT JOIN sd s ON s.node = n.node),
       |$steps
       |  fin AS (SELECT r.node, r.r AS rank_fp,
       |            COALESCE(d.outdeg, 0) AS outdeg,
       |            s.node IS NOT NULL AS is_seed
       |          FROM r$iters r LEFT JOIN deg d ON d.src = r.node
       |               LEFT JOIN sd s ON s.node = r.node)
       |SELECT node, rank_fp, outdeg, is_seed FROM fin
       |ORDER BY rank_fp DESC, node
       |LIMIT 20""".stripMargin
  }

  // q70: synchronous LPA replays as unrolled count+argmax CTEs — the
  // row_number argmax ORDER BY (count DESC, label ASC) is exactly the
  // operator's min(struct(-count, label)). Generated from the same iters
  // constant the Spark side uses. The graph is symmetric (both directions
  // emitted), so every node has in-votes and the LEFT JOIN keep-previous
  // fallback never fires on either engine; it is written anyway to mirror
  // the operator's shape.
  /** The shared LPA replay prefix (graph build + `iters` unrolled
    * count/argmax rounds, final labels in CTE `l<iters>`) — q70 profiles
    * the communities, q77 audits their modularity, and both must run the
    * SAME labelling, so they share one generator. */
  private def lpaCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      // each l CTE is referenced twice (votes + keep-previous fallback):
      // MATERIALIZED stops DuckDB inlining the chain into 2^iters copies
      s"""  v$i AS (SELECT e.dst AS node, l.lab, count(*) AS c
         |          FROM e JOIN l${i - 1} l ON l.node = e.src
         |          GROUP BY e.dst, l.lab),
         |  a$i AS (SELECT node, lab FROM (
         |            SELECT node, lab,
         |              row_number() OVER (PARTITION BY node
         |                                 ORDER BY c DESC, lab) AS rn
         |            FROM v$i) WHERE rn = 1),
         |  l$i AS MATERIALIZED (
         |          SELECT p.node, COALESCE(a.lab, p.lab) AS lab
         |          FROM l${i - 1} p LEFT JOIN a$i a ON a.node = p.node),""".stripMargin
    }.mkString("\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE year(l_shipdate) = 1997),
       |  e AS MATERIALIZED (
       |    SELECT DISTINCT a.p AS src, b.p AS dst
       |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p),
       |  l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM e),
       |$steps""".stripMargin
  }

  private def q70Oracle(iters: Int): String =
    s"""${lpaCtes(iters)}
       |  fin AS (SELECT lab AS community, count(*) AS sz,
       |            min(node) AS min_node
       |          FROM l$iters GROUP BY lab)
       |SELECT community, sz, min_node FROM fin
       |ORDER BY sz DESC, community
       |LIMIT 20""".stripMargin

  // q77: same labelling as q70 (shared lpaCtes), then the exact
  // modularity arithmetic — per community, contrib_num = intra·E − d_c²
  // over the DIRECTED symmetric edge set (Q = Σ contrib_num / E²).
  private def q77Oracle(iters: Int): String =
    s"""${lpaCtes(iters)}
       |  m AS (SELECT count(*) AS em FROM e),
       |  deg AS (SELECT src AS node, count(*) AS dg FROM e GROUP BY src),
       |  nl AS (SELECT l.node, l.lab, d.dg
       |         FROM l$iters l JOIN deg d ON d.node = l.node),
       |  comm AS (SELECT lab AS community, count(*) AS sz,
       |             CAST(sum(dg) AS BIGINT) AS d_c
       |           FROM nl GROUP BY lab),
       |  intra AS (SELECT la.lab AS community,
       |              CAST(count(*) AS BIGINT) AS intra_e
       |            FROM e JOIN l$iters la ON la.node = e.src
       |                   JOIN l$iters lb ON lb.node = e.dst
       |            WHERE la.lab = lb.lab
       |            GROUP BY la.lab)
       |SELECT community, sz, d_c,
       |  COALESCE(intra_e, 0) AS intra_e,
       |  COALESCE(intra_e, 0) * em - d_c * d_c AS contrib_num
       |FROM comm LEFT JOIN intra USING (community), m
       |ORDER BY sz DESC, community
       |LIMIT 20""".stripMargin

  // q78: the full composition replays as ONE unrolled CTE pipeline —
  // q72-style peel rounds over the canonicalized co-purchase graph, the
  // trimmed directed core, q65's PR fixed-point rounds + q70's LPA vote
  // rounds over it, and q77's modularity arithmetic with the rank mass
  // joined in. Generated from the SAME constants as the Spark side.
  private def q78Oracle(k: Int, peelRounds: Int, prIters: Int,
                        lpaIters: Int, scale: Long): String = {
    val base = scale * 15 / 100
    val peel = (1 to peelRounds).map { i =>
      s"""  pe$i AS MATERIALIZED (
         |          SELECT e.a, e.b FROM und e
         |          JOIN s${i - 1} x ON x.node = e.a
         |          JOIN s${i - 1} y ON y.node = e.b),
         |  s$i AS MATERIALIZED (
         |          SELECT node FROM (
         |            SELECT node, count(*) AS deg FROM (
         |              SELECT a AS node FROM pe$i
         |              UNION ALL SELECT b FROM pe$i)
         |            GROUP BY node HAVING count(*) >= $k)),""".stripMargin
    }.mkString("\n")
    val pr = (1 to prIters).map { i =>
      s"""  c$i AS (SELECT ce.dst AS node, CAST(sum(p.r // d.outdeg) AS BIGINT) AS m
         |          FROM ce JOIN r${i - 1} p ON p.node = ce.src
         |                 JOIN cdeg d ON d.src = ce.src
         |          GROUP BY ce.dst),
         |  r$i AS (SELECT n.node,
         |            CAST($base + (COALESCE(c.m, 0) * 85) // 100 AS BIGINT) AS r
         |          FROM cn n LEFT JOIN c$i c ON c.node = n.node),""".stripMargin
    }.mkString("\n")
    val lpa = (1 to lpaIters).map { i =>
      s"""  v$i AS (SELECT ce.dst AS node, l.lab, count(*) AS c
         |          FROM ce JOIN l${i - 1} l ON l.node = ce.src
         |          GROUP BY ce.dst, l.lab),
         |  a$i AS (SELECT node, lab FROM (
         |            SELECT node, lab,
         |              row_number() OVER (PARTITION BY node
         |                                 ORDER BY c DESC, lab) AS rn
         |            FROM v$i) WHERE rn = 1),
         |  l$i AS MATERIALIZED (
         |          SELECT p.node, COALESCE(a.lab, p.lab) AS lab
         |          FROM l${i - 1} p LEFT JOIN a$i a ON a.node = p.node),""".stripMargin
    }.mkString("\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE year(l_shipdate) = 1997),
       |  e AS MATERIALIZED (
       |    SELECT DISTINCT a.p AS src, b.p AS dst
       |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p),
       |  und AS MATERIALIZED (
       |    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |    FROM e),
       |  s0 AS MATERIALIZED (
       |         SELECT node FROM (
       |           SELECT node, count(*) AS deg FROM (
       |             SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |           GROUP BY node HAVING count(*) >= $k)),
       |$peel
       |  ce AS MATERIALIZED (
       |    SELECT e.src, e.dst FROM e
       |    JOIN s$peelRounds x ON x.node = e.src
       |    JOIN s$peelRounds y ON y.node = e.dst),
       |  cdeg AS MATERIALIZED (
       |    SELECT src, count(*) AS outdeg FROM ce GROUP BY src),
       |  cn AS MATERIALIZED (SELECT DISTINCT src AS node FROM ce),
       |  r0 AS (SELECT node, CAST($scale AS BIGINT) AS r FROM cn),
       |$pr
       |  l0 AS MATERIALIZED (SELECT node, node AS lab FROM cn),
       |$lpa
       |  m AS (SELECT count(*) AS em FROM ce),
       |  nl AS (SELECT l.node, l.lab, d.outdeg AS dg, r.r AS rank_fp
       |         FROM l$lpaIters l JOIN cdeg d ON d.src = l.node
       |                JOIN r$prIters r ON r.node = l.node),
       |  comm AS (SELECT lab AS community, count(*) AS sz,
       |             CAST(sum(dg) AS BIGINT) AS d_c,
       |             CAST(sum(rank_fp) AS BIGINT) AS rank_mass
       |           FROM nl GROUP BY lab),
       |  intra AS (SELECT la.lab AS community,
       |              CAST(count(*) AS BIGINT) AS intra_e
       |            FROM ce JOIN l$lpaIters la ON la.node = ce.src
       |                   JOIN l$lpaIters lb ON lb.node = ce.dst
       |            WHERE la.lab = lb.lab
       |            GROUP BY la.lab)
       |SELECT community, sz, d_c,
       |  COALESCE(intra_e, 0) AS intra_e,
       |  COALESCE(intra_e, 0) * em - d_c * d_c AS contrib_num,
       |  rank_mass
       |FROM comm LEFT JOIN intra USING (community), m
       |ORDER BY sz DESC, community
       |LIMIT 20""".stripMargin
  }

  // q72: the peel rounds replay as unrolled CTEs — round 0 thresholds the
  // full-graph degree, each later round recounts inside the previous
  // survivor set. Generated from the same (k, rounds) constants.
  private def q72Oracle(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      // e references s twice and s references e twice — without
      // MATERIALIZED DuckDB inlines the chain into 4^rounds copies
      s"""  e$i AS MATERIALIZED (
         |          SELECT e.a, e.b FROM und e
         |          JOIN s${i - 1} x ON x.node = e.a
         |          JOIN s${i - 1} y ON y.node = e.b),
         |  s$i AS MATERIALIZED (
         |          SELECT node, count(*) AS deg FROM (
         |            SELECT a AS node FROM e$i
         |            UNION ALL SELECT b FROM e$i)
         |          GROUP BY node HAVING count(*) >= $k),""".stripMargin
    }.mkString("\n")
    s"""WITH und AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey * 2 + 1 AS a, l_partkey * 2 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  WHERE year(o_orderdate) IN (1996, 1997)),
       |  s0 AS MATERIALIZED (
       |         SELECT node, count(*) AS deg FROM (
       |           SELECT a AS node FROM und UNION ALL SELECT b FROM und)
       |         GROUP BY node HAVING count(*) >= $k),
       |$steps
       |  fin AS (SELECT node % 2 AS side, deg FROM s$rounds)
       |SELECT side, deg, count(*) AS n_nodes FROM fin
       |GROUP BY side, deg
       |ORDER BY side, deg""".stripMargin
  }

  // q74: the frontier rounds replay as unrolled CTEs — f_i is the ring
  // reached at hop i (neighbors of f_{i-1} minus the known set), k_i the
  // accumulated distance table. Each f/k is referenced twice →
  // MATERIALIZED (the q72 lesson).
  private def q74Oracle(maxHops: Int): String = {
    val steps = (1 to maxHops).map { i =>
      s"""  f$i AS MATERIALIZED (
         |    SELECT DISTINCT e.dst AS node
         |    FROM e JOIN f${i - 1} f ON f.node = e.src
         |    LEFT JOIN k${i - 1} k ON k.node = e.dst
         |    WHERE k.node IS NULL),
         |  k$i AS MATERIALIZED (
         |    SELECT node, dist FROM k${i - 1}
         |    UNION ALL SELECT node, $i AS dist FROM f$i),""".stripMargin
    }.mkString("\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE year(l_shipdate) = 1997),
       |  e AS MATERIALIZED (
       |    SELECT DISTINCT a.p AS src, b.p AS dst
       |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p),
       |  sd AS MATERIALIZED (
       |    SELECT DISTINCT l_partkey AS node
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |    WHERE year(l_shipdate) = 1997 AND o_custkey % 499 = 7),
       |  k0 AS MATERIALIZED (SELECT node, 0 AS dist FROM sd),
       |  f0 AS MATERIALIZED (SELECT node FROM sd),
       |$steps
       |  fin AS (SELECT dist, count(*) AS n_nodes, min(node) AS min_node
       |          FROM k$maxHops GROUP BY dist)
       |SELECT dist, n_nodes, min_node FROM fin
       |ORDER BY dist""".stripMargin
  }

  // q76: unrolled FULL relaxation — cost after round i = cheapest path
  // over ≤ i edges, the invariant the operator's frontier form preserves
  // (CheapestPathsSpec). Each c CTE is referenced twice → MATERIALIZED.
  private def q76Oracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""  c$i AS MATERIALIZED (
         |    SELECT node, min(cost) AS cost FROM (
         |      SELECT node, cost FROM c${i - 1}
         |      UNION ALL
         |      SELECT e.dst AS node, c.cost + e.w AS cost
         |      FROM e JOIN c${i - 1} c ON c.node = e.src)
         |    GROUP BY node),""".stripMargin
    }.mkString("\n")
    s"""WITH ip AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |  WHERE year(l_shipdate) = 1997),
       |  e AS MATERIALIZED (
       |    SELECT a.p AS src, b.p AS dst,
       |      1000000 // count(*) AS w
       |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p
       |    GROUP BY a.p, b.p),
       |  sd AS MATERIALIZED (
       |    SELECT DISTINCT l_partkey AS node
       |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |    WHERE year(l_shipdate) = 1997 AND o_custkey % 499 = 7),
       |  c0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS cost FROM sd),
       |$steps
       |  fin AS (SELECT node, cost FROM c$rounds)
       |SELECT node, cost FROM fin
       |ORDER BY cost, node
       |LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------------------------
  val oracle: Map[String, String] = Map(
    "q74_bfs_hops" -> q74Oracle(6),

    // q75: q56's recursive closure + the self rows, one price join, one
    // rollup — the oracle IS the textbook WITH RECURSIVE BOM query.
    "q75_bom_rollup" ->
      s"""WITH RECURSIVE
         |  e AS MATERIALIZED (SELECT p_partkey AS child,
         |                            p_partkey // 10 AS parent
         |                     FROM part WHERE p_partkey >= 10),
         |  anc(node, anc) AS (
         |    SELECT child, parent FROM e
         |    UNION ALL
         |    SELECT a.node, e.parent FROM anc a JOIN e ON e.child = a.anc),
         |  pairs AS (SELECT node, anc FROM anc
         |            UNION ALL SELECT p_partkey, p_partkey FROM part)
         |SELECT anc, count(*) AS n_members,
         |  ${sqlExactSum("p.p_retailprice", 2)} AS subtree_cost
         |FROM pairs JOIN part p ON p.p_partkey = pairs.node
         |GROUP BY anc
         |ORDER BY anc""".stripMargin,

    "q76_cheapest_path" -> q76Oracle(6),
    "q65_copurchase_pagerank" -> q65Oracle(5, 1000000000L),
    "q69_personalized_pagerank" -> q69Oracle(4, 1000000000L),
    "q70_label_propagation" -> q70Oracle(4),
    "q77_modularity_audit" -> q77Oracle(4),
    "q78_core_communities" -> q78Oracle(3, 4, 3, 3, 1000000000L),

    // q79: the oracle REBUILDS the adjacency from every order in one shot
    // (it never sees the standing/delta split), so hash equality certifies
    // the fold against the rebuild — the d13 certification pattern at the
    // graph layer.
    // q80: full replay — pair-gen, distinct-neighbor degrees, exact
    // integer sums, the same symmetric-marginal Pearson reduction and the
    // single terminal double division (identical tree, so the round(…, 6)
    // hash-matches).
    "q80_degree_assortativity" ->
      """WITH ip AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |  e AS MATERIALIZED (
        |    SELECT DISTINCT CAST(a.p AS BIGINT) AS src,
        |           CAST(b.p AS BIGINT) AS dst
        |    FROM ip a JOIN ip b ON a.o = b.o AND a.p <> b.p),
        |  deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        |          FROM e GROUP BY src),
        |  j AS (SELECT da.d AS dx, db.d AS dy FROM e
        |        JOIN deg da ON da.node = e.src
        |        JOIN deg db ON db.node = e.dst),
        |  agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |            CAST(sum(dx) AS BIGINT) AS sum_d,
        |            CAST(sum(dx * dy) AS BIGINT) AS sum_dd,
        |            CAST(sum(dx * dx) AS BIGINT) AS sum_d2
        |          FROM j)
        |SELECT m, sum_d, sum_dd, sum_d2,
        |  CASE WHEN m * sum_d2 - sum_d * sum_d = 0 THEN 0.0
        |       ELSE round(
        |         (CAST(m AS DOUBLE) * sum_dd - CAST(sum_d AS DOUBLE) * sum_d) /
        |         (CAST(m AS DOUBLE) * sum_d2 - CAST(sum_d AS DOUBLE) * sum_d), 6)
        |  END AS assortativity
        |FROM agg""".stripMargin,

    "q79_incremental_adjacency" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
        |         CAST(b.l_partkey AS BIGINT) AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |  per AS (SELECT src, count(*) AS outdeg, sum(dst) AS dst_sum
        |          FROM pairs GROUP BY src)
        |SELECT outdeg, count(*) AS n_srcs, CAST(sum(src) AS BIGINT) AS src_sum,
        |       CAST(sum(dst_sum) AS BIGINT) AS dst_sum
        |FROM per GROUP BY outdeg ORDER BY outdeg""".stripMargin,

    // q81: the oracle replays the FLAT full build over the same 1997 pair
    // set — hash equality certifies the tiered L0/L1 fold chain (two
    // minors, a major, two more minors; the read merges both tiers)
    // against a from-scratch rebuild. Batches split by l_orderkey, so
    // every order's lines share a batch and per-batch pair-gen is
    // complete by construction (the cross-batch case is CopurchaseStream's
    // contract, certified by its own spec).
    "q81_tiered_roll" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
        |         CAST(b.l_partkey AS BIGINT) AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE year(a.l_shipdate) = 1997 AND year(b.l_shipdate) = 1997),
        |  per AS (SELECT src, count(*) AS outdeg, sum(dst) AS dst_sum
        |          FROM pairs GROUP BY src)
        |SELECT outdeg, count(*) AS n_srcs, CAST(sum(src) AS BIGINT) AS src_sum,
        |       CAST(sum(dst_sum) AS BIGINT) AS dst_sum
        |FROM per GROUP BY outdeg ORDER BY outdeg""".stripMargin,

    // q82: the SAME full-corpus replay — the engine side differs (lines
    // arrive split ACROSS batches by l_linenumber, reconstructed by the
    // CopurchaseStream incremental join into tiered commits), the truth
    // doesn't: the rolled edge set must equal the all-at-once pair set.
    "q82_line_tiered_roll" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
        |         CAST(b.l_partkey AS BIGINT) AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE year(a.l_shipdate) = 1997 AND year(b.l_shipdate) = 1997),
        |  per AS (SELECT src, count(*) AS outdeg, sum(dst) AS dst_sum
        |          FROM pairs GROUP BY src)
        |SELECT outdeg, count(*) AS n_srcs, CAST(sum(src) AS BIGINT) AS src_sum,
        |       CAST(sum(dst_sum) AS BIGINT) AS dst_sum
        |FROM per GROUP BY outdeg ORDER BY outdeg""".stripMargin,

    // q84: the same full-corpus pair replay MINUS the tombstone rule —
    // the from-scratch rebuild over the effective (post-retraction) edge
    // set that both the exclusion read and the physical compaction must
    // equal (the engine side additionally asserts those two agree).
    "q84_graph_retraction" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
        |         CAST(b.l_partkey AS BIGINT) AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE year(a.l_shipdate) = 1997 AND year(b.l_shipdate) = 1997),
        |  live AS (SELECT src, dst FROM pairs WHERE (src + dst) % 7 <> 3),
        |  per AS (SELECT src, count(*) AS outdeg, sum(dst) AS dst_sum
        |          FROM live GROUP BY src)
        |SELECT outdeg, count(*) AS n_srcs, CAST(sum(src) AS BIGINT) AS src_sum,
        |       CAST(sum(dst_sum) AS BIGINT) AS dst_sum
        |FROM per GROUP BY outdeg ORDER BY outdeg""".stripMargin,

    // q71: the oracle counts the SAME triangle set by the a<b<c triple
    // join — a different algorithm certifying the degree-ordered
    // orientation through an algebraic identity rather than a replay.
    "q71_triangle_count" ->
      """WITH ip AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        |  und AS MATERIALIZED (
        |    SELECT DISTINCT a.p AS a, b.p AS b
        |    FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p),
        |  tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |          FROM und e1
        |          JOIN und e2 ON e2.a = e1.b
        |          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |  pn AS (SELECT node, count(*) AS n_tri FROM (
        |           SELECT x AS node FROM tri
        |           UNION ALL SELECT y FROM tri
        |           UNION ALL SELECT z FROM tri)
        |         GROUP BY node)
        |SELECT n_tri, count(*) AS n_nodes FROM pn
        |GROUP BY n_tri ORDER BY n_tri""".stripMargin,

    "q72_kcore" -> q72Oracle(8, 5),

    // q73: full replay — DuckDB's list() window aggregate over the same
    // 11-row frame, list_sort + 1-based (n+1)//2 index for the lower
    // median, list_transform for the MAD leg. The gap frame is
    // MATERIALIZED so the window runs over the filtered rows exactly as
    // Spark's post-filter window does.
    "q73_gap_anomaly" ->
      """WITH ev AS (SELECT event_type, event_id,
        |              CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
        |  g AS MATERIALIZED (
        |    SELECT * FROM (
        |      SELECT event_type, event_id, us,
        |        us - lag(us) OVER (PARTITION BY event_type
        |                           ORDER BY us, event_id) AS gap
        |      FROM ev) WHERE gap IS NOT NULL),
        |  wins AS (SELECT event_type, gap,
        |             list_sort(list(gap) OVER (PARTITION BY event_type
        |               ORDER BY us, event_id
        |               ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)) AS arr
        |           FROM g),
        |  m AS (SELECT event_type, gap, arr,
        |          arr[(len(arr) + 1) // 2] AS med FROM wins),
        |  mm AS (SELECT event_type, gap, med, len(arr) AS n,
        |           list_sort(list_transform(arr, x -> abs(x - med)))
        |             [(len(arr) + 1) // 2] AS mad
        |         FROM m)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(count(*) FILTER (WHERE n >= 5 AND gap > med + 3 * mad)
        |       AS BIGINT) AS n_anom,
        |  max(gap) AS max_gap,
        |  CAST(sum(med) AS BIGINT) AS sum_med
        |FROM mm GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // q66: exact counts recomputed; the sketch-path verdicts are pinned
    // expected-true (q40's pattern — DuckDB cannot replay DataSketches
    // HLL, so the oracle certifies the exact columns and the CLAIM that
    // the estimates landed inside their tolerance).
    "q66_hll_set_ops" ->
      """WITH d AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS ck, year(o_orderdate) AS yr
        |  FROM orders),
        |  n AS (SELECT yr, count(*) AS n FROM d GROUP BY yr),
        |  i AS (SELECT x.yr AS yr_i, count(*) AS exact_i
        |        FROM d x JOIN d y ON y.ck = x.ck AND y.yr = x.yr + 1
        |        GROUP BY x.yr)
        |SELECT a.yr AS yr_a, b.yr AS yr_b, a.n AS exact_a, b.n AS exact_b,
        |  a.n + b.n - COALESCE(i.exact_i, 0) AS exact_union,
        |  COALESCE(i.exact_i, 0) AS exact_inter,
        |  true AS union_within_2pct,
        |  true AS inter_within_10pct_of_union
        |FROM n a JOIN n b ON b.yr = a.yr + 1
        |     LEFT JOIN i ON i.yr_i = a.yr
        |ORDER BY yr_a""".stripMargin,

    // q67: the maintained view must equal the recomputed full join — the
    // oracle IS the recompute.
    "q67_ivm_join" ->
      s"""SELECT year(o_orderdate) AS yr, o_orderstatus,
         |  count(*) AS n_rows,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |GROUP BY year(o_orderdate), o_orderstatus
         |ORDER BY yr, o_orderstatus""".stripMargin,

    // q68: DuckDB evaluates the overlap as a plain inequality join —
    // banding is the engine's scale path, invisible in the result.
    "q68_interval_overlap" ->
      """WITH e AS MATERIALIZED (
        |  SELECT event_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS us
        |  FROM events),
        |  a AS (SELECT event_id AS a_id, us AS a_s, us + 1800000000 AS a_e
        |        FROM e WHERE event_type = 'purchase'),
        |  b AS (SELECT event_id AS b_id, us AS b_s, us + 7200000000 AS b_e
        |        FROM e WHERE event_type = 'signup'),
        |  p AS (SELECT a_id, least(a_e, b_e) - greatest(a_s, b_s) AS ov
        |        FROM a JOIN b ON a_s < b_e AND b_s < a_e),
        |  pa AS (SELECT a_id, count(*) AS n_ov,
        |           CAST(sum(ov) AS BIGINT) AS ov_us
        |         FROM p GROUP BY a_id)
        |SELECT n_ov, count(*) AS n_purchases,
        |  CAST(sum(ov_us) AS BIGINT) AS sum_ov_us
        |FROM pa GROUP BY n_ov
        |ORDER BY n_ov""".stripMargin,
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         |  ${sqlExactSum("l_extendedprice", 2)} AS sum_base_price,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
         |  round(avg(l_quantity), 4) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND year(l_shipdate) = 2000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q03_join_revenue" ->
      s"""SELECT n_name, count(*) AS num_items,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,

    "q04_exists_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q05_not_exists_anti" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
        |    AND year(o_orderdate) >= 2000)
        |ORDER BY c_custkey""".stripMargin,

    "q06_pair_join" ->
      """SELECT v.user_id, CAST(v.ts AS DATE) AS d, count(*) AS pairs
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id AND CAST(v.ts AS DATE) = CAST(p.ts AS DATE)
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q07_count_distinct" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types,
        |  count(*) AS n_events, max(value) AS max_value
        |FROM events
        |GROUP BY user_id
        |HAVING count(DISTINCT event_type) = 5
        |ORDER BY user_id""".stripMargin,

    "q08_dedup_first" ->
      """SELECT user_id, event_id AS first_event_id, event_type AS first_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q09_argmax_latest" ->
      """SELECT o_custkey, CAST(o_orderdate AS DATE) AS last_orderdate,
        |  o_orderkey AS last_orderkey, o_totalprice AS last_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q10_share_pct" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(count(*) AS DOUBLE) * 100 / sum(count(*)) OVER (), 4) AS pct
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q11_rollup" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(yr, -1) AS yr,
         |  count(*) AS n_orders, ${sqlExactSum("o_totalprice", 2)} AS sum_price
         |FROM (SELECT o_orderstatus, year(o_orderdate) AS yr, o_totalprice FROM orders)
         |GROUP BY ROLLUP (o_orderstatus, yr)
         |ORDER BY status, yr""".stripMargin,

    "q12_setops" ->
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |     b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'union' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b)
        |UNION ALL
        |SELECT 'intersect' AS op, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |UNION ALL
        |SELECT 'except' AS op, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
        |ORDER BY op, k""".stripMargin,

    "q13_recode_scalar" ->
      """SELECT n_nationkey, lower(n_name) AS nation_lc,
        |  substring(n_name, 1, 3) AS abbr, length(n_name) AS name_len,
        |  CASE WHEN r_name = 'AMERICA' THEN 'WEST'
        |       WHEN r_name = 'EUROPE' THEN 'WEST'
        |       WHEN r_name = 'ASIA' THEN 'EAST'
        |       ELSE 'OTHER' END AS bloc
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin,

    "q14_year_agg" ->
      s"""SELECT year(o_orderdate) AS yr, count(*) AS n_orders,
         |  count(DISTINCT o_custkey) AS n_custs,
         |  ${sqlExactSum("o_totalprice", 2)} AS sum_price
         |FROM orders
         |GROUP BY 1
         |ORDER BY yr""".stripMargin,

    "q15_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin,

    "q16_left_join_fill" ->
      s"""SELECT c_custkey, coalesce(n, 0) AS n_orders,
         |  coalesce(spend, CAST(0 AS DOUBLE)) AS total_spend
         |FROM customer
         |LEFT JOIN (SELECT o_custkey, count(*) AS n,
         |             ${sqlExactSum("o_totalprice", 2)} AS spend
         |           FROM orders GROUP BY o_custkey) o
         |  ON c_custkey = o_custkey
         |ORDER BY c_custkey""".stripMargin,

    "q17_time_bucket" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         |  event_type, count(*) AS n, ${sqlExactSum("value", 2)} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour_epoch, event_type""".stripMargin,

    // q64: epoch-aligned slide arithmetic — an event at epoch-second es
    // belongs to the window starting at its own 3h slide boundary and the
    // one before it (width 6h / slide 3h ⇒ exactly 2). floor(), NOT a
    // bare BIGINT cast: the cast ROUNDS fractional seconds, and an event
    // 0.5 s under a slide boundary would round across it into the wrong
    // window pair (2 such rows exist at sf0.1) — Spark's window() floors
    // exact microseconds.
    "q64_sliding_distinct" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
        |           FROM events),
        |     x AS (SELECT user_id, es,
        |             unnest([(es // 10800) * 10800,
        |                     (es // 10800) * 10800 - 10800]) AS w_start
        |           FROM e)
        |SELECT w_start, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM x
        |WHERE es >= w_start AND es < w_start + 21600
        |GROUP BY w_start
        |ORDER BY w_start""".stripMargin,

    // q20: the exact side is reproduced; the sketch side is verified as a
    // tolerance verdict (see the query comment) — DuckDB emits the literal
    // TRUE the Spark flag must equal.
    "q20_approx_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_custs,
        |  true AS approx_within_5pct
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // q36: exact quantiles hash-compare (dyadic, same R-7 interpolation);
    // the sketch side is asserted through the verdict booleans — a sketch
    // outside tolerance flips them and fails the hash, like q20.
    "q36_approx_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS exact_p50,
        |  quantile_cont(l_quantity, 0.875) AS exact_p875,
        |  count(*) AS n,
        |  true AS p50_within_5pct,
        |  true AS p875_within_5pct
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q19_profile" ->
      """SELECT count(*) AS n_rows, count(l_shipdate) AS n_ship_nonnull,
        |  CAST(min(l_shipdate) AS DATE) AS min_ship,
        |  CAST(max(l_shipdate) AS DATE) AS max_ship,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |  count(DISTINCT l_returnflag) AS n_flags
        |FROM lineitem""".stripMargin,

    "q24_range_join" ->
      """SELECT month(o_orderdate) AS mo, count(*) AS n_pairs
        |FROM orders, lineitem
        |WHERE year(o_orderdate) = 2000 AND o_orderstatus = 'P'
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate < o_orderdate + INTERVAL 7 DAY
        |GROUP BY 1
        |ORDER BY mo""".stripMargin,

    "q21_asof_join" ->
      """WITH tagged AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, 0 AS side
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id, 1 AS side
        |  FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT user_id, ts_us, event_id, side,
        |    max(CASE WHEN side = 1 THEN {'t': ts_us, 'id': event_id} END)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, side, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
        |  FROM tagged)
        |SELECT event_id, user_id, last_view.id AS prior_view_id,
        |  last_view.t AS prior_view_us
        |FROM m WHERE side = 0
        |ORDER BY event_id""".stripMargin,

    "q22_cube" ->
      s"""SELECT coalesce(o_orderstatus, 'ALL') AS status, coalesce(yr, -1) AS yr,
         |  count(*) AS n, ${sqlExactSum("o_totalprice", 2)} AS sum_price
         |FROM (SELECT o_orderstatus, year(o_orderdate) AS yr, o_totalprice FROM orders)
         |GROUP BY CUBE (o_orderstatus, yr)
         |ORDER BY status, yr""".stripMargin,

    "q23_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |           FROM events),
        |flags AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flags)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM sess
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q18_regex_extract" ->
      s"""SELECT CAST(regexp_extract(props, '"k": *([0-9]+)', 1) AS INT) AS k,
         |  count(*) AS n, ${sqlExactSum("value", 2)} AS sum_value
         |FROM events
         |GROUP BY 1
         |ORDER BY k""".stripMargin,

    // q25: DuckDB's RANGE frame over a DATE key with an INTERVAL bound is
    // the same closed [day-6, day] window as Spark's integer-day
    // rangeBetween(-6, 0).
    "q25_rolling_window" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS ship_day,
        |    CAST(sum(l_quantity) AS BIGINT) AS day_qty,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, ship_day, day_qty, n_items,
        |  CAST(sum(day_qty) OVER w AS BIGINT) AS qty_7d,
        |  count(*) OVER w AS days_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY ship_day
        |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY l_suppkey, ship_day""".stripMargin,

    "q26_pivot" ->
      """SELECT l_returnflag,
        |  CAST(COALESCE(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0) AS BIGINT) AS qty_f,
        |  CAST(COALESCE(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0) AS BIGINT) AS qty_o
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q28_json" ->
      """SELECT json_extract_string(props, '$.k') AS k,
        |  count(*) AS n, min(event_id) AS first_event, max(event_id) AS last_event
        |FROM events
        |GROUP BY 1
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q30_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q33_unpivot" ->
      s"""SELECT measure, count(*) AS n,
        |  ${sqlExactSum("val", 4)} AS total
        |FROM lineitem UNPIVOT (val FOR measure IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))
        |GROUP BY measure
        |ORDER BY measure""".stripMargin,

    "q34_distribution" ->
      """SELECT c_custkey, c_mktsegment,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // q35: DuckDB's list lambdas mirror Spark's HOFs 1:1; the BIGINT cast
    // before list-build keeps every element integral so fold/sum/render
    // are exact on both engines. list_sum on a BIGINT list widens to
    // HUGEINT → cast back (the round-1 q23/t05 lesson). ORDER BY pins
    // (linenumber, qty) — the testdata has duplicate linenumbers within an
    // order, and a linenumber-only sort leaves the tie to engine whim
    // (sort_array on the struct already pins both on the Spark side).
    "q35_array_hof" ->
      """WITH a AS (
        |  SELECT l_orderkey,
        |    list(CAST(l_quantity AS BIGINT)
        |         ORDER BY l_linenumber, CAST(l_quantity AS BIGINT)) AS qs
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(qs) AS BIGINT) AS n_items,
        |  CAST(len(list_filter(qs, x -> x > 25)) AS BIGINT) AS n_big,
        |  CAST(list_sum(qs) AS BIGINT) AS total_qty,
        |  list_max(qs) AS max_qty,
        |  len(list_filter(qs, x -> x % 10 = 0)) > 0 AS any_round,
        |  md5(array_to_string(qs, ',')) AS qs_hash
        |FROM a
        |ORDER BY l_orderkey""".stripMargin,

    // q31: the Spark side runs this exact text through its SQL entry point.
    "q31_correlated" ->
      """SELECT c_custkey, c_nationkey,
        |  (CAST(round(c_acctbal * 100) AS BIGINT)
        |     * (SELECT count(*) FROM customer c2
        |        WHERE c2.c_nationkey = customer.c_nationkey)
        |   - (SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
        |      FROM customer c2
        |      WHERE c2.c_nationkey = customer.c_nationkey))
        |  / CAST(100 * (SELECT count(*) FROM customer c2
        |                WHERE c2.c_nationkey = customer.c_nationkey) AS DOUBLE)
        |  AS bal_dev
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "q32_lag_lead" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_day,
        |  date_diff('day', CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |            CAST(o_orderdate AS DATE)) AS days_since_prev,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS price_delta,
        |  lead(o_orderkey, 1) OVER w AS next_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_day, o_orderkey""".stripMargin,

    "q29_topk_per_key" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice
        |FROM r WHERE rn <= 3
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,

    // q27: quantile_cont is the same R-7 linear interpolation as Spark's
    // exact `percentile`; at p = k/4 on integral data every result is a
    // dyadic rational, hence bit-exact across engines.
    "q27_quantiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  min(l_quantity) AS qmin,
        |  max(l_quantity) AS qmax,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q37_histogram" ->
      s"""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
         |  count(*) AS n,
         |  ${sqlExactSum("o_totalprice", 2)} AS sum_price,
         |  min(o_totalprice) AS min_price,
         |  max(o_totalprice) AS max_price
         |FROM orders
         |GROUP BY 1
         |ORDER BY bucket""".stripMargin,

    "q38_gaps_islands" ->
      """WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d
        |           FROM orders),
        |f AS (SELECT o_custkey, o_orderkey, d,
        |        CASE WHEN lag(d) OVER w IS NULL
        |               OR date_diff('day', lag(d) OVER w, d) > 30 THEN 1
        |             ELSE 0 END AS brk
        |      FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
        |i AS (SELECT o_custkey, d,
        |        CAST(sum(brk) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS island
        |      FROM f)
        |SELECT o_custkey, island, count(*) AS n_orders,
        |  min(d) AS start_d, max(d) AS end_d
        |FROM i
        |GROUP BY o_custkey, island
        |ORDER BY o_custkey, island""".stripMargin,

    // q43: integer epoch-week arithmetic on both sides (// is floor div).
    "q43_retention" ->
      """WITH a AS (SELECT user_id,
        |             CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
        |               AS BIGINT) AS wk
        |           FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY user_id)
        |SELECT f.cohort_wk, a.wk - f.cohort_wk AS wk_offset,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM a JOIN f ON f.user_id = a.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // q42: generate_series grid + IGNORE NULLS forward-fill window.
    "q42_gap_fill" ->
      s"""WITH daily AS (
         |  SELECT user_id, CAST(ts AS DATE) AS d,
         |    ${sqlExactSum("value", 4)} AS day_value
         |  FROM events
         |  WHERE user_id < 20 AND event_type = 'purchase'
         |  GROUP BY user_id, CAST(ts AS DATE)),
         |grid AS (
         |  SELECT user_id, unnest(generate_series(min(d), max(d),
         |                                         INTERVAL 1 DAY))::DATE AS d
         |  FROM daily GROUP BY user_id)
         |SELECT g.user_id, g.d,
         |  last_value(daily.day_value IGNORE NULLS) OVER (
         |    PARTITION BY g.user_id ORDER BY g.d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
         |  daily.day_value IS NULL AS was_gap
         |FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d
         |ORDER BY g.user_id, g.d""".stripMargin,

    // q41: the oracle is the UNSALTED join — salting must be invisible.
    "q41_skew_join" ->
      s"""SELECT c.c_mktsegment, count(*) AS n_purchases,
         |  ${sqlExactSum("e.value", 4)} AS revenue
         |FROM events e JOIN customer c ON c.c_custkey = e.user_id
         |WHERE e.event_type = 'purchase'
         |GROUP BY c.c_mktsegment
         |ORDER BY c.c_mktsegment""".stripMargin,

    "q40_hll_rollup" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS exact_custs,
        |  true AS direct_within_5pct,
        |  true AS merged_within_5pct,
        |  true AS paths_agree_2pct
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q39_listagg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
        |  count(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,

    "q44_funnel" ->
      """WITH e AS MATERIALIZED (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |                  event_type
        |           FROM events),
        |s1 AS MATERIALIZED (SELECT user_id, min(ts_us) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS MATERIALIZED (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND ts_us > t1 GROUP BY e.user_id),
        |s3 AS MATERIALIZED (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND ts_us > t2 GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(ts_us) AS t4 FROM e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND ts_us > t3 GROUP BY e.user_id),
        |n AS (SELECT '1_signup' AS step, count(*) AS n_users FROM s1
        |      UNION ALL SELECT '2_view', count(*) FROM s2
        |      UNION ALL SELECT '3_click', count(*) FROM s3
        |      UNION ALL SELECT '4_purchase', count(*) FROM s4)
        |SELECT step, n_users,
        |  round(CAST(n_users AS DOUBLE) / (SELECT count(*) FROM s1), 4)
        |    AS pct_of_entry
        |FROM n
        |ORDER BY step""".stripMargin,

    "q45_concurrency" ->
      """WITH e AS MATERIALIZED (SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |           FROM events),
        |edges AS (SELECT event_type, ts_us AS t, 1 AS delta FROM e
        |          UNION ALL
        |          SELECT event_type, ts_us + 1800000000, -1 FROM e),
        |m AS (SELECT event_type, t, CAST(sum(delta) AS BIGINT) AS d
        |      FROM edges GROUP BY event_type, t),
        |r AS (SELECT event_type, t,
        |        sum(d) OVER (PARTITION BY event_type ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |      FROM m)
        |SELECT event_type, CAST(max(running) AS BIGINT) AS max_concurrent,
        |  count(*) AS n_edges
        |FROM r
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q46_scd2" ->
      """WITH p AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |                  event_id, CAST(floor(value / 25) AS BIGINT) AS tier
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us, event_id, tier,
        |        lag(tier) OVER (PARTITION BY user_id
        |                        ORDER BY ts_us, event_id) AS prev_tier
        |      FROM p),
        |ch AS (SELECT user_id, ts_us, event_id, tier FROM c
        |       WHERE prev_tier IS NULL OR tier <> prev_tier)
        |SELECT user_id, tier, ts_us AS valid_from_us,
        |  lead(ts_us) OVER (PARTITION BY user_id
        |                    ORDER BY ts_us, event_id) AS valid_to_us
        |FROM ch
        |ORDER BY user_id, valid_from_us, tier""".stripMargin,

    "q47_mode_median" ->
      """WITH m AS (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
        |           FROM orders GROUP BY o_orderpriority, o_orderstatus),
        |md AS (SELECT o_orderpriority, o_orderstatus AS mode_status,
        |         cnt AS mode_n,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY cnt DESC, o_orderstatus) AS rn
        |       FROM m),
        |r AS (SELECT o_orderpriority, o_totalprice,
        |        row_number() OVER (PARTITION BY o_orderpriority
        |                           ORDER BY o_totalprice) AS rn,
        |        count(*) OVER (PARTITION BY o_orderpriority) AS n
        |      FROM orders)
        |SELECT d.o_orderpriority, r.n AS n_orders, d.mode_status, d.mode_n,
        |  r.o_totalprice AS median_price
        |FROM md d JOIN r ON d.o_orderpriority = r.o_orderpriority
        |               AND r.rn = (r.n + 1) // 2
        |WHERE d.rn = 1
        |ORDER BY d.o_orderpriority""".stripMargin,

    "q48_first_seen" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |                  event_id, event_type
        |           FROM events),
        |f AS (SELECT user_id, ts_us, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts_us, event_id) = 1 AS is_first
        |      FROM e)
        |SELECT user_id, ts_us, event_id, event_type, is_first,
        |  CAST(sum(CASE WHEN is_first THEN 1 ELSE 0 END)
        |         OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       AS BIGINT) AS n_types_seen
        |FROM f
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "d09_record_linkage" ->
      """SELECT a.c_nationkey AS nation, a.c_custkey AS id_a,
        |  b.c_custkey AS id_b, levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY nation, id_a, id_b""".stripMargin,

    "d11_edit2_linkage" ->
      """SELECT a.c_nationkey AS nation, a.c_custkey AS id_a,
        |  b.c_custkey AS id_b, levenshtein(a.c_name, b.c_name) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY nation, id_a, id_b""".stripMargin,

    "q49_zorder_layout" ->
      s"""WITH d AS (SELECT o_custkey,
         |             CAST(datediff('day', DATE '1970-01-01',
         |                           CAST(o_orderdate AS DATE)) AS BIGINT) AS day
         |           FROM orders),
         |z AS (SELECT o_custkey, day,
         |        ${Layout.zValueSql("o_custkey", "day")} AS z
         |      FROM d)
         |SELECT z // 1048576 AS bucket, count(*) AS n,
         |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
         |  min(day) AS min_day, max(day) AS max_day
         |FROM z
         |GROUP BY bucket
         |ORDER BY bucket""".stripMargin,

    "q50_winsorize" ->
      s"""WITH r AS MATERIALIZED (SELECT o_orderpriority, o_totalprice,
         |        row_number() OVER (PARTITION BY o_orderpriority
         |                           ORDER BY o_totalprice) AS rn,
         |        count(*) OVER (PARTITION BY o_orderpriority) AS n
         |      FROM orders),
         |lo AS (SELECT o_orderpriority, o_totalprice AS lo FROM r
         |       WHERE rn = (n * 5) // 100 + 1),
         |hi AS (SELECT o_orderpriority, o_totalprice AS hi FROM r
         |       WHERE rn = greatest((n * 95) // 100, 1)),
         |c AS (SELECT o.o_orderpriority, o.o_totalprice, lo.lo, hi.hi,
         |        least(greatest(o.o_totalprice, lo.lo), hi.hi) AS clip
         |      FROM orders o JOIN lo USING (o_orderpriority)
         |                    JOIN hi USING (o_orderpriority))
         |SELECT o_orderpriority, count(*) AS n,
         |  CAST(sum(CASE WHEN o_totalprice < lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lo,
         |  CAST(sum(CASE WHEN o_totalprice > hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hi,
         |  max(lo) AS p05, max(hi) AS p95,
         |  round((${sqlExactSum("clip", 2)}) / count(*), 4) AS winsor_mean
         |FROM c
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "q51_asof_forward" ->
      """WITH e AS MATERIALIZED (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |                  event_id, event_type, value
        |           FROM events),
        |v AS MATERIALIZED (SELECT user_id, ts_us, event_id FROM e WHERE event_type = 'view'),
        |b AS (SELECT user_id, ts_us AS b_ts, event_id AS buy_id, value
        |      FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT v.user_id, v.event_id, b.b_ts, b.buy_id, b.value,
        |        row_number() OVER (PARTITION BY v.user_id, v.event_id
        |                           ORDER BY b.b_ts, b.buy_id) AS rn
        |      FROM v JOIN b ON b.user_id = v.user_id
        |        AND b.b_ts > v.ts_us AND b.b_ts <= v.ts_us + 3600000000)
        |SELECT v.user_id, v.event_id, v.ts_us,
        |  c.buy_id AS asof_buy_id, c.value AS asof_value, c.b_ts AS asof_time,
        |  c.b_ts - v.ts_us AS gap_us
        |FROM v LEFT JOIN c ON c.user_id = v.user_id
        |                  AND c.event_id = v.event_id AND c.rn = 1
        |ORDER BY v.user_id, v.ts_us, v.event_id""".stripMargin,

    // the oracle is the PLAIN join: the Bloom prefilter must be invisible
    // in results
    "q52_bloom_join" ->
      s"""SELECT month(o_orderdate) AS mo, count(*) AS n_items,
         |  ${sqlExactSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 2001
         |GROUP BY mo
         |ORDER BY mo""".stripMargin,

    "q53_path_transitions" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         event_id, event_type
        |  FROM events),
        |p AS (SELECT event_type,
        |        lag(event_type) OVER w AS prev_type,
        |        ts_us - lag(ts_us) OVER w AS gap
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id)),
        |tr AS (SELECT prev_type AS from_type, event_type AS to_type,
        |         count(*) AS n
        |       FROM p
        |       WHERE prev_type IS NOT NULL AND gap <= 1800000000
        |       GROUP BY prev_type, event_type)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) * 100 /
        |        sum(n) OVER (PARTITION BY from_type), 4) AS pct
        |FROM tr
        |ORDER BY from_type, to_type""".stripMargin,

    "q54_share_of_parent" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT r_name, n_name,
        |    CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000)
        |                  AS BIGINT)) AS BIGINT) AS units
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, units / 10000.0 AS revenue,
        |  round(CAST(units AS DOUBLE) * 100 /
        |        sum(units) OVER (PARTITION BY r_name), 4) AS pct_of_region,
        |  round(CAST(sum(units) OVER (PARTITION BY r_name) AS DOUBLE) * 100 /
        |        sum(units) OVER (), 4) AS region_pct_of_total
        |FROM rev
        |ORDER BY r_name, n_name""".stripMargin,

    // first-principles replay of session_window semantics: new session at
    // gap >= timeout (the built-in's half-open [start, last+timeout))
    "q55_session_window" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id
        |  FROM events),
        |f AS (SELECT user_id, ts_us, event_id,
        |        CASE WHEN lag(ts_us) OVER w IS NULL
        |               OR ts_us - lag(ts_us) OVER w >= 1800000000
        |             THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id, ts_us,
        |        CAST(sum(ns) OVER (PARTITION BY user_id
        |          ORDER BY ts_us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS sid
        |      FROM f)
        |SELECT user_id, min(ts_us) AS start_us,
        |  max(ts_us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s
        |GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q56_transitive_closure" ->
      """WITH RECURSIVE
        |  e AS MATERIALIZED (SELECT p_partkey AS child,
        |                            p_partkey // 10 AS parent
        |                     FROM part WHERE p_partkey >= 10),
        |  anc(node, anc, depth) AS (
        |    SELECT child, parent, CAST(1 AS BIGINT) FROM e
        |    UNION ALL
        |    SELECT a.node, e.parent, a.depth + 1
        |    FROM anc a JOIN e ON e.child = a.anc)
        |SELECT depth, count(*) AS n_pairs,
        |  count(DISTINCT node) AS n_nodes, count(DISTINCT anc) AS n_ancs,
        |  CAST(sum(anc) AS BIGINT) AS sum_anc
        |FROM anc
        |GROUP BY depth
        |ORDER BY depth""".stripMargin,

    "d10_table_diff" ->
      """WITH o AS MATERIALIZED (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE year(o_orderdate) <= 2001),
        |n AS MATERIALIZED (
        |  SELECT o_orderkey,
        |    CASE WHEN o_custkey % 10 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderstatus
        |  FROM orders WHERE year(o_orderdate) >= 2001),
        |d AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS key,
        |        CASE WHEN n.o_orderkey IS NULL THEN 'removed'
        |             WHEN o.o_orderkey IS NULL THEN 'added'
        |             WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
        |               OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
        |               THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT status, count(*) AS n, min(key) AS min_key, max(key) AS max_key
        |FROM d
        |GROUP BY status
        |ORDER BY status""".stripMargin,

    "q57_quality_audit" ->
      """WITH m AS (
        |  SELECT 'row_count' AS metric, '*' AS col_name,
        |    CAST(count(*) AS DOUBLE) AS value FROM orders
        |  UNION ALL SELECT 'null_count', 'o_custkey',
        |    CAST(count(*) - count(o_custkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'null_count', 'o_orderstatus',
        |    CAST(count(*) - count(o_orderstatus) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'null_count', 'o_totalprice',
        |    CAST(count(*) - count(o_totalprice) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'distinct_count', 'o_orderstatus',
        |    CAST(count(DISTINCT o_orderstatus) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'distinct_count', 'o_custkey',
        |    CAST(count(DISTINCT o_custkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'min', 'o_totalprice',
        |    min(o_totalprice) FROM orders
        |  UNION ALL SELECT 'max', 'o_totalprice',
        |    max(o_totalprice) FROM orders
        |  UNION ALL SELECT 'dup_key_rows', 'o_orderkey',
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'null_key_rows', 'o_orderkey',
        |    CAST(count(*) - count(o_orderkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'orphan_count', 'l_orderkey',
        |    CAST(count(*) AS DOUBLE) FROM lineitem l
        |    WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
        |      SELECT 1 FROM orders o
        |      WHERE o.o_orderkey = l.l_orderkey
        |        AND year(o.o_orderdate) <= 2001)
        |  UNION ALL SELECT 'null_key_rows', 'l_orderkey',
        |    CAST(count(*) - count(l_orderkey) AS DOUBLE) FROM lineitem)
        |SELECT metric, col_name, round(value, 2) AS value
        |FROM m
        |ORDER BY metric, col_name""".stripMargin,

    "q58_incremental_agg" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  round(${sqlExactSum("o_totalprice", 2)}, 2) AS sum_o_totalprice,
         |  min(CAST(o_totalprice AS DOUBLE)) AS min_o_totalprice,
         |  max(CAST(o_totalprice AS DOUBLE)) AS max_o_totalprice,
         |  count(*) FILTER (WHERE year(o_orderdate) <= 1997) AS n_early,
         |  round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         |          FILTER (WHERE year(o_orderdate) <= 1997) / 100.0,
         |        2) AS sum_early
         |FROM orders
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    "q59_quality_approx" ->
      """WITH m AS (
        |  SELECT 'distinct_count' AS metric, 'o_custkey' AS col_name,
        |    CAST(count(DISTINCT o_custkey) AS DOUBLE) AS exact_value FROM orders
        |  UNION ALL SELECT 'distinct_count', 'o_orderstatus',
        |    CAST(count(DISTINCT o_orderstatus) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'dup_key_rows', 'o_orderkey',
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'null_key_rows', 'o_orderkey',
        |    CAST(count(*) - count(o_orderkey) AS DOUBLE) FROM orders
        |  UNION ALL SELECT 'row_count', '*',
        |    CAST(count(*) AS DOUBLE) FROM orders)
        |SELECT metric, col_name, exact_value, TRUE AS approx_ok
        |FROM m
        |ORDER BY metric, col_name""".stripMargin,

    "q60_equal_freq_bins" ->
      s"""WITH b AS (SELECT o_totalprice,
         |             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
         |           FROM orders)
         |SELECT bin, count(*) AS n,
         |  min(o_totalprice) AS lo, max(o_totalprice) AS hi,
         |  round(${sqlExactSum("o_totalprice", 2)}, 2) AS sum_price
         |FROM b
         |GROUP BY bin
         |ORDER BY bin""".stripMargin,

    "q61_pit_features" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |           FROM events),
        |     f AS (SELECT event_id, user_id, event_type, ts_us,
        |             count(*) OVER w7 AS n_prior_7d,
        |             COALESCE(sum(CAST(round(value * 100) AS BIGINT)) OVER w7,
        |                      0) AS s7,
        |             min(ts_us) OVER (PARTITION BY user_id
        |                              ORDER BY ts_us) AS first_us
        |           FROM e
        |           WINDOW w7 AS (PARTITION BY user_id ORDER BY ts_us
        |                         RANGE BETWEEN 604800000000 PRECEDING
        |                               AND 1 PRECEDING))
        |SELECT event_id, user_id, n_prior_7d,
        |  round(s7 / 100.0, 2) AS sum_prior_7d,
        |  CAST(floor((ts_us - first_us) / 86400000000) AS BIGINT) AS tenure_days
        |FROM f
        |WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,

    "q62_scd2_lookup" ->
      """WITH p AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             event_id, CAST(floor(value / 25) AS BIGINT) AS tier
        |           FROM events WHERE event_type = 'purchase'),
        |     ch AS (SELECT user_id, ts_us, event_id, tier FROM (
        |              SELECT *, lag(tier) OVER (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id) AS prev
        |              FROM p)
        |            WHERE prev IS NULL OR tier <> prev),
        |     v AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             event_id
        |           FROM events WHERE event_type = 'view')
        |SELECT v.event_id, v.user_id,
        |  (SELECT ch.tier FROM ch
        |   WHERE ch.user_id = v.user_id AND ch.ts_us <= v.ts_us
        |   ORDER BY ch.ts_us DESC, ch.event_id DESC LIMIT 1) AS tier
        |FROM v
        |ORDER BY event_id""".stripMargin,

    // q63: the merged state must equal the snapshot recomputed over the
    // full log — latest row per user by (ts, event_id).
    "q63_merge_upsert" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |             event_type, value
        |           FROM events)
        |SELECT user_id, event_id, ts_us, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |              ORDER BY ts_us DESC, event_id DESC) AS rn
        |  FROM e)
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin
  )
}
