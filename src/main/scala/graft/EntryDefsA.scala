package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions
import graft.operators.{Cleaning, Dedup, Quality, Similarity, TextDedup}
import graft.sources.Tables

import graft.EntryDefsA._
import graft.EntryDefsB._
import graft.EntryDefsC._
import graft.EntryDrives._

/** Query registry bodies, part A (q01–l-family) — a pure
  * mechanical move out of SparkEntry (r13 verdict #6: registry
  * hygiene); every def is byte-identical to its pre-split form
  * and is re-exported through [[SparkEntry.queries]]. */
private[graft] object EntryDefsA {
  /** q01 — P1/P2/P3 cleaning projections as one codegen'd select. */
  private[graft] def q01(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      Cleaning.dateToString(col("l_shipdate")).as("ship_date"),
      col("l_suppkey").cast("long").as("premise_code"),
      col("l_partkey").cast("long").as("item_code"),
      col("l_extendedprice").cast("double").as("price"),
      Cleaning.cleanString(col("l_returnflag")).as("flag"))

  /** q02 — A1 dedup-latest with deterministic tie-break (window form).
    * The order key ends in l_extendedprice because lineitem plants
    * duplicate (orderkey, linenumber) rows with differing prices (the
    * q22 lesson): the order must be TOTAL over every emitted column or
    * rank 1 of a group becomes engine-order-dependent. */
  private[graft] def q02(s: SparkSession, d: String): DataFrame =
    Dedup.latestPerGroup(
      Tables.lineitem(s, d),
      keys = Seq("l_suppkey", "l_partkey"),
      order = Seq(col("l_shipdate").desc, col("l_orderkey").asc,
                  col("l_linenumber").asc, col("l_extendedprice").asc))
      .select(
        col("l_suppkey").as("premise_code"),
        col("l_partkey").as("item_code"),
        Cleaning.dateToString(col("l_shipdate")).as("ship_date"),
        col("l_extendedprice").as("price"))

  /** q02b — A1 in the aggregate (max_by) formulation: enables map-side
    * partial aggregation so the shuffle carries one candidate per
    * group-per-partition instead of every row — the better plan when
    * groups are large/skewed. Checked against the SAME oracle as q02:
    * the two formulations must be indistinguishable. */
  private[graft] def q02b(s: SparkSession, d: String): DataFrame =
    Dedup.latestPerGroupAgg(
      Tables.lineitem(s, d),
      keys = Seq("l_suppkey", "l_partkey"),
      orderKey = struct(col("l_shipdate"), -col("l_orderkey"),
        -col("l_linenumber"), -col("l_extendedprice")),
      payload = Seq("l_shipdate", "l_extendedprice"))
      .select(
        col("l_suppkey").as("premise_code"),
        col("l_partkey").as("item_code"),
        Cleaning.dateToString(col("l_shipdate")).as("ship_date"),
        col("l_extendedprice").as("price"))

  /** q03 — the implied consumer join: latest price ⋈ items ⋈ premises
    * (both broadcast; fact-side partitioning untouched). */
  private[graft] def q03(s: SparkSession, d: String): DataFrame =
    graft.operators.Enrich.enrich(
      q02(s, d),
      Tables.part(s, d).select(col("p_partkey").as("item_code"),
        col("p_name").as("item"), col("p_brand").as("brand")),
      Tables.supplier(s, d).select(col("s_suppkey").as("premise_code"),
        col("s_name").as("premise")))
      .select("premise_code", "item_code", "ship_date", "price",
              "item", "brand", "premise")

  /** q04 — A2 uniqueness assertion as a data result: per-table duplicate
    * key counts over both dimension keys (0 ⇒ constraint holds). */
  private[graft] def q04(s: SparkSession, d: String): DataFrame = {
    val dupP = Quality.duplicateKeys(Tables.part(s, d), "p_partkey")
      .agg(count(lit(1)).as("dup_keys")).withColumn("tbl", lit("part"))
    val dupS = Quality.duplicateKeys(Tables.supplier(s, d), "s_suppkey")
      .agg(count(lit(1)).as("dup_keys")).withColumn("tbl", lit("supplier"))
    dupP.unionByName(dupS).select("tbl", "dup_keys")
  }

  /** q05 — pricing summary aggregation (TPC-H Q1 shape): map-side partial
    * agg + single shuffle on the two low-cardinality group keys. */
  private[graft] def q05(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // float aggregates rounded to 4dp: Spark's partial-agg summation
        // order differs from the oracle's, so raw doubles differ in ULPs.
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        // never a rounded avg: sum-of-cents/count lands on .xx5 decimals
        // where Spark HALF_UP and DuckDB binary rounding disagree — the
        // caller divides sum_disc/count_order (same discipline as q22/q32)
        round(sum(col("l_discount")), 4).as("sum_disc"),
        count(lit(1)).as("count_order"))

  /** q06 — filtered projection; both predicate and column set reach the
    * parquet scan (PushedFilters + 3-column ReadSchema at explain time). */
  private[graft] def q06(s: SparkSession, d: String): DataFrame =
    // to_timestamp parses in the SESSION timezone (pinned UTC);
    // java.sql.Timestamp.valueOf would parse in the JVM default zone
    // and shift the cutoff instant on non-UTC machines
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("2000-01-01 00:00:00"))
        && col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_extendedprice"))

  /** q07 — top-k: global top 100 orders by value. Spark plans this as
    * TakeOrderedAndProject — per-partition heaps + a k-row driver merge,
    * no global sort; the only plan that survives 100 TB. Unique
    * tie-break keeps the result set deterministic. */
  private[graft] def q07(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** q08 — set operations: symmetric difference of two customer cohorts
    * via UNION / INTERSECT / EXCEPT (all distinct semantics). */
  private[graft] def q08(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val b = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    a.union(b).except(a.intersect(b))
  }

  /** q09 — window analytics per customer: rank, lag, running sum. One
    * shuffle on o_custkey serves all three window functions (same
    * partition spec → single Window exec). */
  private[graft] def q09(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rnk", rank().over(Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)))
      .withColumn("prev_date",
        Cleaning.dateToString(lag(col("o_orderdate"), 1).over(w)))
      .withColumn("run_total",
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"),
              col("prev_date"), col("run_total"))
  }

  /** q10 — scalar-function battery (SURVEY.md §2.8): trim/substr/case
    * conversions/round/concat/regexp/split/length/mod, all codegen'd
    * built-ins, zero UDFs. */
  private[graft] def q10(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      lower(col("p_type")).as("type_l"),
      substring(col("p_name"), 1, 5).as("name5"),
      length(col("p_name")).cast("long").as("name_len"),
      round(col("p_retailprice"), 1).as("price_r"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      regexp_replace(col("p_name"), " ", "_").as("name_us"),
      size(split(col("p_name"), " ")).cast("long").as("n_words"),
      (col("p_partkey") % 7).as("key_mod"),
      when(col("p_size") > 25, lit("big")).otherwise(lit("small")).as("size_class"))

  /** q11 — semi/anti joins: customers with vs without orders. Both sides
    * aggregate to key-sets before the join at scale (semi/anti join
    * shuffles only distinct keys under AQE). */
  private[graft] def q11(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey").as("c_custkey"))
    val withO = c.join(o, Seq("c_custkey"), "left_semi")
      .agg(count(lit(1)).as("cnt")).withColumn("cohort", lit("with_orders"))
    val noO = c.join(o, Seq("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("cnt")).withColumn("cohort", lit("without_orders"))
    withO.unionByName(noO).select("cohort", "cnt")
  }

  /** q12 — hierarchical rollup aggregate (nation × market segment).
    * Rollup nulls are disambiguated to 'ALL' (dims contain no real
    * nulls) so the oracle compare is unambiguous. */
  private[graft] def q12(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 4).as("sum_bal"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
              coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
              col("n_cust"), col("sum_bal"))
  }

  /** q13 — exact distinct counts (single + composite key). */
  private[graft] def q13(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      countDistinct(col("l_partkey")).as("d_parts"),
      countDistinct(col("l_suppkey")).as("d_supps"),
      countDistinct(col("l_partkey"), col("l_suppkey")).as("d_pairs"))

  /** q14 — join + aggregate: revenue per nation. orders⋈customer is the
    * real shuffle (both large at scale, equi-join on custkey); nation is
    * broadcast. AQE coalesces the post-shuffle partitions. */
  private[graft] def q14(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 4).as("revenue"),
           count(lit(1)).as("n_orders"))
  }

  /** q15 — tumbling-window aggregation over the events table (batch form
    * of the Structured Streaming windowed agg; epoch-aligned 5-minute
    * buckets identical to DuckDB's time_bucket). */
  private[graft] def q15(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** q39 — stream-static dim enrichment, batch twin: runs the EXACT
    * same code path as the st05 streaming drive
    * ([[graft.streaming.EventStreams.enrichedTumblingAgg]] — its
    * withWatermark is a documented no-op on a batch frame), so the
    * oracle gate on this query covers the streaming operator's
    * semantics for on-time data. Dim is broadcast; the stream/fact side
    * is never re-partitioned by the join, and the only shuffle is the
    * (window, segment) aggregation. */
  private[graft] def q39(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams.enrichedTumblingAgg(
      Tables.events(s, d), Tables.customer(s, d))

  /** q16 — sessionization in batch: a new session starts after a >30 min
    * gap per user. lag + running-sum over one user-partitioned window —
    * a single shuffle on user_id; the streaming twin lives in
    * graft.streaming (flatMapGroupsWithState). */
  private[graft] def q16(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("new_sess",
        when(col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(w) > 1800.0, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
  }

  /** q17 — approximate distinct (HLL sketch): the 100 TB path for q13.
    * Sketch internals differ between engines, so the oracle checks the
    * sketch's CONTRACT instead of its value: Spark emits the exact
    * counts (DuckDB recomputes them independently) plus booleans
    * asserting the rsd=2% sketch landed within 5% of exact — the row
    * hash-matches iff the sketch honors its error bound. HLL is
    * deterministic for fixed data, so the booleans are stable. */
  private[graft] def q17(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("ap"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("ao"),
      countDistinct(col("l_partkey")).as("d_parts"),
      countDistinct(col("l_orderkey")).as("d_orders"))
      .select(col("d_parts"), col("d_orders"),
        (abs(col("ap") - col("d_parts")).cast("double") / col("d_parts") <= 0.05)
          .as("parts_within_5pct"),
        (abs(col("ao") - col("d_orders")).cast("double") / col("d_orders") <= 0.05)
          .as("orders_within_5pct"))

  /** q18 — backward as-of join (orders pick up the latest lineitem
    * shipment at/before their order date for a shared key) via the
    * single-shuffle union+carry-forward plan in [[graft.operators.AsOfJoin]]. */
  private[graft] def q18(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .withColumn("k", col("o_custkey") % 10)
    val ships = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("k"), col("l_shipdate"))
    graft.operators.AsOfJoin.asofBackward(
      orders, ships, "k", "k", "o_orderdate", "l_shipdate",
      leftCols = Seq("o_orderkey", "o_orderdate"), asOfOut = "asof_ship")
      .select(col("o_orderkey"),
        Cleaning.dateToString(col("o_orderdate")).as("order_date"),
        Cleaning.dateToString(col("asof_ship")).as("asof_date"))
  }

  /** q18b — payload-carrying as-of join: like q18 but fetching the
    * matched shipment's price alongside its date. The right side is
    * pre-deduped to one row per (key, time) with a deterministic rule
    * (max price) because DuckDB's ASOF leaves the surviving row at tied
    * times unspecified — both engines then see an unambiguous match. */
  private[graft] def q18b(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .withColumn("k", col("o_custkey") % 10)
    val ships = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("k"), col("l_shipdate"))
      .agg(max(col("l_extendedprice")).as("ship_price"))
    graft.operators.AsOfJoin.asofBackward(
      orders, ships, "k", "k", "o_orderdate", "l_shipdate",
      leftCols = Seq("o_orderkey", "o_orderdate"), asOfOut = "asof_ship",
      rightCols = Seq("ship_price"))
      .select(col("o_orderkey"),
        Cleaning.dateToString(col("o_orderdate")).as("order_date"),
        Cleaning.dateToString(col("asof_ship")).as("asof_date"),
        col("ship_price"))
  }

  /** q18c — FORWARD as-of join: each order picks up the earliest
    * shipment at/after its date (mirror of q18, same single-shuffle
    * union+carry plan walked in descending time). */
  private[graft] def q18c(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .withColumn("k", col("o_custkey") % 10)
    val ships = Tables.lineitem(s, d)
      .select(col("l_suppkey").as("k"), col("l_shipdate"))
    graft.operators.AsOfJoin.asofForward(
      orders, ships, "k", "k", "o_orderdate", "l_shipdate",
      leftCols = Seq("o_orderkey", "o_orderdate"), asOfOut = "asof_ship")
      .select(col("o_orderkey"),
        Cleaning.dateToString(col("o_orderdate")).as("order_date"),
        Cleaning.dateToString(col("asof_ship")).as("asof_date"))
  }

  /** q19 — pivot: revenue matrix nation × market segment (fixed pivot
    * values keep the schema static — mandatory at scale, a dynamic pivot
    * needs a driver-side distinct pass first). */
  private[graft] def q19(s: SparkSession, d: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .pivot("c_mktsegment", segs)
      .agg(round(sum(col("o_totalprice")), 4))
  }

  /** q20 — statistical aggregates: correlation, stddev, variance,
    * covariance (all single-pass, partial-aggregable moments). */
  private[graft] def q20(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      round(corr(col("o_totalprice"), col("o_custkey")), 6).as("corr_tc"),
      round(stddev_samp(col("o_totalprice")), 4).as("sd_total"),
      round(var_samp(col("o_totalprice")), 4).as("var_total"),
      round(covar_samp(col("o_totalprice"), col("o_custkey")), 4).as("cov_tc"))

  /** q21 — ordered string aggregation per group (deterministic:
    * array_sort before join). */
  private[graft] def q21(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .groupBy(col("n_regionkey"))
      .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))

  /** q22 — moving average (last 4 rows) per supplier over ship time;
    * same single-shuffle window shape as the dedup. */
  private[graft] def q22(s: SparkSession, d: String): DataFrame = {
    // l_extendedprice as the final sort key: (orderkey, linenumber) is
    // NOT unique in this data (planted dup rows — the reason q02
    // exists), and at sf0.1 one such tie has differing prices, so
    // engines disagree on running sums unless the order is total over
    // every sum-relevant column (remaining ties are then value-identical
    // rows, making the windowed sums order-invariant)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_extendedprice").asc)
      .rowsBetween(-3, Window.currentRow)
    // windowed SUM of 2-dp prices is an exact 2-dp decimal, so
    // round(.,2) is ULP-immune; a rounded windowed AVG diverges between
    // engines at sf0.1 (same .xx5 trap as q32) — emit sum + count, the
    // caller divides
    Tables.lineitem(s, d).select(
      col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
      round(sum(col("l_extendedprice")).over(w), 2).as("ma4_sum"),
      count(lit(1)).over(w).as("ma4_n"))
  }

  /** q23 — full outer join with presence classification. */
  private[graft] def q23(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_custkey"))
    val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
    c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, "both")
          .when(col("c_custkey").isNotNull, "customer_only")
          .otherwise("orders_only").as("presence"))
      .groupBy(col("presence")).agg(count(lit(1)).as("cnt"))
  }

  /** q24 — cube over (nation, segment): all four grouping combinations. */
  private[graft] def q24(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .cube(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"))
      .select(coalesce(col("n_name"), lit("ALL")).as("nation"),
              coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
              col("n_cust"))
  }

  /** q25 — exact interpolated percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont` semantics). One percentile(array(...)) call:
    * four separate aggregates each build their own value-count map over
    * the full column — the array form shares a single buffer. */
  private[graft] def q25(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .agg(expr("percentile(o_totalprice, array(0.25D, 0.5D, 0.75D, 0.99D))")
        .as("ps"))
      .select(
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p99"))

  /** q40 — approximate quantiles via the mergeable GK sketch
    * (approx_percentile, accuracy 1000 ⇒ rank error ≤ n/1000), checked
    * as a rank-bound CONTRACT: the oracle recomputes the exact values
    * at ranks (q ± 0.01)·n — 10× the sketch's guarantee, so the
    * boolean carries a wide deterministic margin (raw rank errors:
    * `graft.RecallProbe`) — and asserts each approx value lands
    * between them. lo/hi are raw column values (no arithmetic), so
    * they hash bit-exactly. Even the verification side avoids a global
    * sort: the 8 needed order statistics are located two-level — a
    * map-side-combined count per value-range bucket, broadcast prefix
    * sums to find which bucket holds each target rank, then a
    * hash-partitioned row_number over ONLY those ≤8 buckets' rows
    * (ties share the value, so the statistic is deterministic). Bench
    * still measures the sketch agg alone (benchOverrides). At 100 TB
    * the sketch is the only form that exists — exact percentiles (q25)
    * need a global sort, GK partials merge map-side like any agg. */
  private[graft] def q40(s: SparkSession, d: String): DataFrame = {
    val slack = 0.01
    val o = Tables.orders(s, d).select(col("o_totalprice").as("val"))
    val approx = o.agg(
      expr("approx_percentile(val, array(0.25D, 0.5D, 0.75D, 0.99D), 1000)")
        .as("ap"),
      count(lit(1)).as("n"))
    rankBoundCheck(o, quantileBounds(approx, slack))
  }

  /** (quantile, av, klo, khi) frame from a 1-row (ap array, n) approx
    * result: target ranks at (q ± slack)·n, clamped to [1, n]. */
  private[graft] def quantileBounds(approx: DataFrame, slack: Double): DataFrame =
    approx
      .select(col("ap"), col("n"),
        posexplode(array(Seq(0.25, 0.5, 0.75, 0.99).map(lit): _*)))
      .select(element_at(col("ap"), col("pos") + 1).as("av"),
        col("col").as("quantile"),
        greatest(lit(1L), floor((col("col") - slack) * col("n"))
          .cast("long")).as("klo"),
        least(col("n"), ceil((col("col") + slack) * col("n"))
          .cast("long")).as("khi"))

  /** Shared rank-bound verifier (q40/q78): locate the exact order
    * statistics at each target rank two-level — map-side-combined
    * counts per value-range bucket, broadcast prefix sums to find the
    * bucket holding each rank, then a hash-partitioned row_number over
    * ONLY the ≤8 target buckets' rows — and assert each approx value
    * lands between its lo/hi exact values. The full table contributes
    * counters, never rows, to any single-partition step. */
  private[graft] def rankBoundCheck(o: DataFrame, k: DataFrame): DataFrame = {
    // bucket counts: the only full-table pass, and it shuffles counters
    // (map-side partial agg), never rows
    val bucketed = o.withColumn("rb", floor(col("val") / 1024d).cast("long"))
    val bcounts = bucketed.groupBy(col("rb")).agg(count(lit(1)).as("bc"))
    val baseW = Window.orderBy(col("rb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bcounts.select(col("rb").as("trb"), col("bc"),
      coalesce(sum(col("bc")).over(baseW), lit(0L)).as("base"))
    // 8 target ranks → the bucket containing each (base < rank ≤ base+bc)
    val tb = k.select(col("quantile"), col("av"), explode(array(
        struct(lit("lo").as("side"), col("klo").as("tr")),
        struct(lit("hi").as("side"), col("khi").as("tr")))).as("t"))
      .select(col("quantile"), col("av"), col("t.side").as("side"),
        col("t.tr").as("tr"))
      .join(broadcast(bases),
        col("tr") > col("base") && col("tr") <= col("base") + col("bc"))
      .select(col("quantile"), col("av"), col("side"), col("tr"),
        col("base"), col("trb"))
    // rank only rows inside a target bucket (≤8 buckets survive the semi)
    val localW = Window.partitionBy(col("rb")).orderBy(col("val").asc)
    val hit = bucketed
      .join(broadcast(tb.select(col("trb")).distinct()),
        col("rb") === col("trb"), "left_semi")
      .withColumn("lr", row_number().over(localW).cast("long"))
    hit.join(broadcast(tb),
        col("rb") === col("trb") && col("lr") === col("tr") - col("base"))
      .groupBy(col("quantile"), col("av")).agg(
        max(when(col("side") === "lo", col("val"))).as("lo"),
        max(when(col("side") === "hi", col("val"))).as("hi"))
      .select(col("quantile"), col("lo"), col("hi"),
        (col("av") >= col("lo") && col("av") <= col("hi"))
          .as("within_bounds"))
  }

  /** q78 — KLL quantile-sketch LIFECYCLE (per-year sketch_agg →
    * merge_agg → get_quantile): the mergeable-quantile story next to
    * q40's one-shot GK — per-slice partial sketches persist and a new
    * year's data never re-reads history, exactly q52's incremental
    * composition for the quantile family. Checked with the SAME
    * two-level rank-bound harness as q40 ([[rankBoundCheck]]): each
    * merged-sketch quantile must land between the exact values at
    * ranks (q ± 0.03)·n — beyond KLL k=200's ~1.33% two-sided
    * normalized rank-error guarantee, so the boolean carries real
    * margin. */
  private[graft] def q78(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_totalprice").as("val"),
      year(col("o_orderdate")).as("yr"))
    val perYr = o.groupBy(col("yr"))
      .agg(expr("kll_sketch_agg_double(val, 200)").as("sk"))
    val approx = perYr.agg(expr("kll_merge_agg_double(sk)").as("msk"))
      .select(expr("kll_sketch_get_quantile_double(msk, " +
          "array(0.25D, 0.5D, 0.75D, 0.99D))").as("ap"),
        expr("kll_sketch_get_n_double(msk)").as("n"))
    rankBoundCheck(o.select(col("val")), quantileBounds(approx, 0.03))
  }

  /** q79 — theta-sketch SET OPERATIONS: distinct-user estimates for
    * pairwise event-type INTERSECTIONS — the question HLL cannot
    * answer (HLL unions only; theta sketches keep a hash sample, so
    * A∩B and A\B estimate directly). Per-type sketches build in one
    * partial-combined pass; the |types|² pairing is vocabulary-sized.
    * Contract oracle: DuckDB recomputes every exact intersection; the
    * boolean asserts the estimate within 10% (at fixture scale the
    * sketches run in exact mode — every user hash retained below
    * lgK=12 capacity — so the margin is the full band). */
  private[graft] def q79(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("user_id")).distinct()
    val sks = ev.groupBy(col("event_type"))
      .agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val est = sks.select(col("event_type").as("ta"), col("sk").as("ska"))
      .join(sks.select(col("event_type").as("tb"), col("sk").as("skb")),
        col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        expr("theta_sketch_estimate(theta_intersection(ska, skb))")
          .as("est"))
    val exact = ev.select(col("event_type").as("ta"), col("user_id"))
      .join(ev.select(col("event_type").as("tb"), col("user_id")),
        "user_id")
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    est.join(exact, Seq("ta", "tb"))
      .select(col("ta"), col("tb"), col("n_exact"),
        (abs(col("est") - col("n_exact")).cast("double")
          <= col("n_exact").cast("double") * 0.10).as("within_10pct"))
  }

  /** l01 — JSONL export/reimport parity: writes the documents table as
    * newline-delimited JSON (the interchange format training-data
    * pipelines speak), reads it back through the same schema, and
    * asserts exact content parity via an order-insensitive
    * bit_xor(xxhash64) signature (ANSI-safe; sum would throw on
    * overflow). Real sink+source plumbing — splittable line files,
    * full unicode/escape round-trip — with the weaker aggregate-parity
    * oracle (count + contract boolean): the CONTENT equality is the
    * Spark-side signature comparison. */
  private[graft] def l01(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val out = Scratch.path("jsonl", d)
    docs.write.mode("overwrite").json(out)
    val back = s.read.schema(docs.schema).json(out)
    def sig(df: DataFrame, n: String, g: String) = df.agg(
      count(lit(1)).as(n),
      expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))").as(g))
    sig(docs, "n_docs", "sig_a").crossJoin(sig(back, "n_back", "sig_b"))
      .select(col("n_docs"),
        (col("n_docs") === col("n_back") && col("sig_a") === col("sig_b"))
          .as("roundtrip_ok"))
  }

  /** l03 — ORC interchange roundtrip: the columnar format a
    * mixed-engine lake speaks alongside parquet (Hive/Trino/Presto
    * lineage) — completes the format battery next to l01's JSONL and
    * the parquet scans. Writes documents as zlib ORC, reads back, and
    * asserts exact content parity via the l01 order-insensitive
    * bit_xor(xxhash64) signature; the per-lang aggregate is computed
    * FROM THE ORC COPY (vectorized ORC reader + pushdown, same scan
    * discipline as parquet) so the oracle's parquet-derived numbers
    * gate the whole write→read→aggregate path. */
  private[graft] def l03(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val out = Scratch.path("orc", d)
    docs.write.mode("overwrite").option("compression", "zlib").orc(out)
    val back = s.read.schema(docs.schema).orc(out)
    def sig(df: DataFrame, n: String, g: String) = df.agg(
      count(lit(1)).as(n),
      expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))").as(g))
    val langAgg = back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"), sum(col("n_chars")).as("sum_chars"))
    langAgg.crossJoin(
        sig(docs, "n_docs", "sig_a").crossJoin(sig(back, "n_back", "sig_b"))
          .select((col("n_docs") === col("n_back") &&
            col("sig_a") === col("sig_b")).as("roundtrip_ok")))
  }

  /** l05 — Avro interchange roundtrip, completing the format battery
    * (parquet scans, l01 JSONL, l02 dirty CSV, l03 ORC): the
    * row-oriented container format an ingest/Kafka tier speaks. Writes
    * documents as deflate Avro object-container files via
    * [[graft.sources.AvroLake]] (the public Avro library directly —
    * the spark-avro connector jar is absent here; see AvroLake's
    * scaladoc), reads them back, and gates the whole
    * write→read→aggregate path exactly like l03: per-lang aggregate
    * computed FROM THE AVRO COPY against parquet-derived oracle
    * numbers, plus the l01 order-insensitive bit_xor(xxhash64) content
    * signature as a roundtrip_ok boolean. */
  private[graft] def l05(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val out = Scratch.path("avro", d)
    graft.sources.AvroLake.write(docs, out)
    val back = graft.sources.AvroLake.read(s, out).toDF()
    def sig(df: DataFrame, n: String, g: String) = df.agg(
      count(lit(1)).as(n),
      expr("bit_xor(xxhash64(doc_id, text, lang, source, n_chars))").as(g))
    val langAgg = back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_lang"), sum(col("n_chars")).as("sum_chars"))
    langAgg.crossJoin(
        sig(docs, "n_docs", "sig_a").crossJoin(sig(back, "n_back", "sig_b"))
          .select((col("n_docs") === col("n_back") &&
            col("sig_a") === col("sig_b")).as("roundtrip_ok")))
  }

  /** l06 — DYNAMIC PARTITION PRUNING over the month-partitioned lake:
    * the reason [[graft.sources.PartitionedLake]] partitions by month
    * at all. The filter that decides WHICH months matter lives on a
    * dimension (here: the order-calendar dim, filtered on year+quarter
    * — columns the fact's partition key only determines indirectly, so
    * no static prune is possible); Spark's DPP rule turns the joined
    * dim into a runtime IN-subquery on the fact scan's PartitionFilters
    * (pinned in PlanShapeSpec), so a 100 TB decade-deep lake opens
    * exactly the 3 matching months' files instead of scanning
    * everything into the join. The dim broadcasts; DPP reuses that
    * same broadcast exchange as the pruning subquery — the prune is
    * free. Oracle: recomputes the whole join+aggregate from the
    * original parquet, gating the write→prune→join→agg path. */
  private[graft] def l06(s: SparkSession, d: String): DataFrame = {
    val lake = Scratch.path("dpp", d)
    graft.sources.PartitionedLake.writeByMonth(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity", "l_shipdate"),
      "l_shipdate", lake)
    val dim = Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"))
      .filter(col("yr") === 1997 && col("qtr") === 1)
      .select("month").distinct()
    s.read.parquet(lake).join(dim, Seq("month"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** l07 — small-file COMPACTION maintenance
    * ([[graft.sources.PartitionedLake.compactAll]]): streaming ingest
    * (st09/st11's upsert-per-batch discipline) leaves each partition
    * holding one file per micro-batch; every later scan pays a task +
    * a parquet footer per file, which at 100 TB is the difference
    * between a manifest read and a namenode meltdown. The fixture
    * stages the documents lake pre-fragmented by FOUR sequential
    * single-task writes (one per doc_id % 4 residue) — each write
    * lands exactly one file in every lang it touches, so the
    * FS-MEASURED files_before per lang EQUALS the data-derivable
    * count(DISTINCT doc_id % 4), which the oracle recomputes from the
    * table at any SF (the r9-advice fix: the old 8-hash-bucket staging
    * asserted files_before >= 4, a threshold the fixture's hash
    * residues happened to satisfy, not a property of the data) —
    * compacts to one file per lang, and emits the per-lang aggregate
    * FROM THE COMPACTED LAKE, gating that re-layout moved no rows.
    * The coalesce(1) staging writes are the FRAGMENTER (simulating
    * many tiny ingests), not the operator under test. */
  private[graft] def l07(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedLake
    val lake = Scratch.path("compact", d)
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    (0 to 3).foreach { r =>
      docs.filter(pmod(col("doc_id"), lit(4)) === r).coalesce(1)
        .write.mode(if (r == 0) "overwrite" else "append")
        .partitionBy("lang").parquet(lake)
    }
    val before = PartitionedLake.partitionFileCounts(s, lake, "lang")
    PartitionedLake.compactAll(s, lake, "lang")
    val after = PartitionedLake.partitionFileCounts(s, lake, "lang")
    val sp = s
    import sp.implicits._
    val counts = before.keys.toSeq.sorted
      .map(l => (l, before(l), after.getOrElse(l, 0)))
      .toDF("lang", "files_before", "files_after")
    s.read.parquet(lake)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .join(broadcast(counts), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sum_chars"),
        col("files_before").cast("long").as("files_before"),
        (col("files_after") === 1).as("compacted_ok"))
  }

  /** l08 — file-level ZONE-MAP skipping: l12's single-version form.
    * The lake ([[graft.sources.VersionedLake]]) is committed once,
    * range-clustered on the key under one constant partition, with
    * per-file (lo, hi) stats recorded in the version manifest
    * (`statsCol` — the Iceberg manifest / Delta file-stats shape; r9
    * verdict item 3: no per-query manifest rebuild). The registered
    * query is the RETRIEVAL path a production reader runs: global
    * bounds come from the manifest's stats (driver-side planning
    * metadata, file-count-sized), and
    * [[graft.sources.VersionedLake.readVersionRange]] hands only the
    * stats-intersecting files to the scan; unmatched files are never
    * opened. The query's bounds derive from the manifest's global
    * min/max (integer arithmetic the oracle re-derives from the
    * table), the aggregate is computed from the PRUNED read, and
    * `skip_effective` asserts the manifest actually dropped at least
    * half the files — a pruning regression fails the gate, a row-loss
    * regression fails the oracle numbers. Staged once per JVM: the
    * clustered commit is the l06-pair discipline, the measured row is
    * the query. */
  private[graft] val zoneMapLakeCache = scala.collection.concurrent.TrieMap
    .empty[String, String]
  private[graft] def l08(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = zoneMapLakeCache.getOrElseUpdate(d, {
      val p = Scratch.path("zonemap", d)
      VersionedLake.reset(s, p)
      VersionedLake.commitOverwrite(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), lit("all").as("part"))
          .repartitionByRange(16, col("l_orderkey"))
          .sortWithinPartitions(col("l_orderkey")),
        "part", p, statsCol = Some("l_orderkey"))
      p
    })
    val stats = VersionedLake.manifestFiles(s, lake, 1)
    val gmin = stats.flatMap(_.lo).min
    val gmax = stats.flatMap(_.hi).max
    val lo = gmin + (gmax - gmin) / 2
    val hi = gmin + (gmax - gmin) * 5 / 8
    val (pruned, nMatched, nTotal) =
      VersionedLake.readVersionRange(s, lake, 1, lo, hi)
    pruned
      .filter(col("l_orderkey").between(lo, hi))
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity"), 0).cast("long")).as("qty"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("price_cents"))
      .withColumn("skip_effective", lit(nMatched * 2 <= nTotal))
  }

  /** The versioned-lake family's shared staging frame: 1997 Q1
    * lineitem slimmed to (key, payload, month). `dedupKeys` collapses
    * the fixture's planted duplicate (orderkey, linenumber) rows to
    * one per key — required wherever keyed semantics (MERGE l11, CDF
    * l13) make "the matched row" ill-posed under duplicates. */
  private[graft] def ttSlimLineitem(s: SparkSession, d: String,
                             dedupKeys: Boolean = false): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-03"))
    if (!dedupKeys) base
    else base.groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("month")).as("month"))
  }

  /** The insert-key offset for the tt-fixtures' synthetic rows: the
    * next 10M multiple ABOVE the table's own max key, derived (one
    * 1-row planning aggregate) rather than hardcoded — a fixed
    * +10000000 silently collides with real orderkeys once the SF grows
    * them past it (~SF 1.7; r10 advice). The oracle derives the same
    * bound in SQL — the derivation IS the fixture's construction spec,
    * not an engine formula. At the fixture SFs this lands on exactly
    * 10000000, so historical hashes are unchanged. */
  private[graft] def ttKeyOffset(li: DataFrame): Long = {
    val mx = li.agg(max(col("l_orderkey"))).head().getLong(0)
    (mx / 10000000L + 1L) * 10000000L
  }

  /** The oracle-side twin of [[ttKeyOffset]] over a CTE named `li`. */
  private[graft] val ttKeyOffsetSql: String =
    "(SELECT (max(l_orderkey) // 10000000 + 1) * 10000000 FROM li)"

  /** One (n_rows, sum_qty, key_sig, version) summary row per frame. */
  private[graft] def ttVersionSummary(df: DataFrame, v: Int): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
      .withColumn("version", lit(v))

  /** l09/l11's shared output shape: both versions' summaries plus the
    * q56-style full-outer diff counts between them on the v2 row. */
  private[graft] def ttSummariesWithDiff(v1: DataFrame,
                                  v2: DataFrame): DataFrame = {
    val key = Seq("l_orderkey", "l_linenumber")
    val diff = v1.select((key.map(col) :+ col("l_quantity").as("q1")): _*)
      .join(v2.select((key.map(col) :+ col("l_quantity").as("q2")): _*),
        key, "full_outer")
      .agg(
        sum(when(col("q1").isNotNull && col("q2").isNotNull
          && col("q1") =!= col("q2"), 1L).otherwise(0L))
          .as("n_changed_vs_prev"),
        sum(when(col("q2").isNull, 1L).otherwise(0L))
          .as("n_removed_vs_prev"),
        sum(when(col("q1").isNull, 1L).otherwise(0L))
          .as("n_added_vs_prev"))
    ttVersionSummary(v1, 1)
      .withColumn("n_changed_vs_prev", lit(0L))
      .withColumn("n_removed_vs_prev", lit(0L))
      .withColumn("n_added_vs_prev", lit(0L))
      .unionByName(ttVersionSummary(v2, 2).crossJoin(diff))
  }

  /** l09 — snapshot VERSIONING / TIME TRAVEL
    * ([[graft.sources.VersionedLake]]), which l08's zone maps already
    * ride (r9 verdict item 2). The in-place dynamic-overwrite lake of
    * l06/l07 loses history the moment an upsert lands; a versioned lake
    * (immutable data files + per-version manifests, the Delta/Iceberg
    * commit-log shape) keeps every snapshot readable — restatements
    * become auditable instead of destructive. The fixture drives the
    * canonical restatement story on ONE lake: version 1 commits
    * 1997 Q1, version 2 upserts a February correction (lines ≤ 4
    * kept, quantity + 1 — January/March carry forward BY POINTER,
    * never rewritten), then both versions are time-travel read from
    * the same lake and q56's snapshot-diff discipline runs BETWEEN
    * them (one full-outer join on the key, counts ∝ churn). The
    * oracle re-derives both snapshots and the diff from the original
    * parquet — a row lost or duplicated by the manifest machinery
    * fails n_rows/key_sig; a stale-version read fails the v1 row;
    * diff-count drift fails the v2 row. LakeSpec additionally pins
    * the concurrent-reader-sees-old-version guarantee. */
  private[graft] def l09(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("ttlake", d)
    VersionedLake.reset(s, lake) // deterministic two-commit history
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake)
    val feb = li.filter(col("month") === "1997-02")
      .filter(col("l_linenumber") <= 4)
      .withColumn("l_quantity", col("l_quantity") + 1)
    VersionedLake.commitUpsert(feb, "month", lake)
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1),
      VersionedLake.readLatest(s, lake))
  }

  /** l10 — retention VACUUM on the versioned lake
    * ([[graft.sources.VersionedLake.vacuum]]): l09's append-only
    * commit log completes the lifecycle here — without vacuum a
    * versioned lake only ever grows. Three commits land on one lake
    * (Q1 snapshot; a February restatement; a March restatement), then
    * vacuum retains the newest TWO versions: version 1's manifest is
    * dropped and the only data files no retained manifest references —
    * commit 1's replaced February files; its January files are STILL
    * LIVE through the carried-forward pointers in v2/v3 — are
    * physically deleted. The emitted rows are the two retained
    * versions' full summaries read AFTER the vacuum (deleting a live
    * file fails these numbers), plus computed booleans: v1 both
    * dropped from the log and unreadable, zero unreferenced files
    * left, and at least one file physically deleted (the exact count
    * is layout-dependent — task-count-sized — so the gate pins the
    * boolean, not the number). Oracle re-derives both retained
    * snapshots from the original parquet. */
  private[graft] def l10(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("vaclake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-03")
        .filter(col("l_linenumber") <= 3)
        .withColumn("l_quantity", col("l_quantity") + 2),
      "month", lake)
    val (nDropped, nDeleted) = VersionedLake.vacuum(s, lake, retain = 2)
    val v1Gone =
      try { VersionedLake.readVersion(s, lake, 1); false }
      catch { case _: IllegalArgumentException => true }
    val noOrphans = VersionedLake.unreferencedDataFiles(s, lake).isEmpty
    def summary(v: Int): DataFrame =
      ttVersionSummary(VersionedLake.readVersion(s, lake, v), v)
    summary(2).unionByName(summary(3))
      .withColumn("v1_vacuumed", lit(nDropped == 1 && v1Gone))
      .withColumn("no_orphans", lit(noOrphans))
      .withColumn("files_deleted", lit(nDeleted > 0))
  }

  /** l11 — keyed MERGE INTO the versioned lake
    * ([[graft.sources.VersionedLake.commitMerge]]): the Delta/Iceberg
    * MERGE on l09's commit log — q86/q81's changeset discipline
    * applied AT the table layer instead of above it. The delta mixes
    * UPDATES (February lines ≤ 2 restated, quantity + 5 — full new
    * payload for existing keys) and INSERTS (new +10000000-offset
    * keys derived from February's line 7), and the merge is
    * partition-pruned: only February is read (through the manifest,
    * never a month it doesn't touch), ONE anti-join drops the matched
    * keys' old rows, and the commit replaces February while
    * January/March carry forward by pointer — cost ∝ touched
    * partitions + delta. Both versions then time-travel read from the
    * one lake with the l09 diff between them; the oracle re-derives
    * the merged snapshot and the changed/added counts from the
    * original parquet (a dropped unmatched row, a surviving matched
    * row, or a lost carried-forward month each fail a different
    * number). The staged frame is one-row-per-key (a min-aggregate
    * over the fixture's duplicate (orderkey, linenumber) plantings):
    * MERGE is keyed semantics, so the fixture must provide an actual
    * key — with duplicates, "update the matched row" is ill-posed
    * (Delta errors on multiple source matches for the same reason). */
  private[graft] def l11(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("mergelake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    val feb = li.filter(col("month") === "1997-02")
    val off = ttKeyOffset(li)
    val delta = feb.filter(col("l_linenumber") <= 2)
      .withColumn("l_quantity", col("l_quantity") + 5)
      .unionByName(feb.filter(col("l_linenumber") === 7)
        .withColumn("l_orderkey", col("l_orderkey") + off)
        .withColumn("l_quantity", col("l_quantity") + 3))
    VersionedLake.commitMerge(delta,
      Seq("l_orderkey", "l_linenumber"), "month", lake)
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1),
      VersionedLake.readLatest(s, lake))
  }

  /** l15 — MERGE WHEN MATCHED DELETE on the versioned lake
    * ([[graft.sources.VersionedLake.commitMerge]] `deleteCol`): l11's
    * three-verb MERGE completed with the tombstone verb — the delta
    * mixes UPDATES (February lines ≤ 2, quantity + 5), INSERTS
    * (offset-key copies of line 7, quantity + 3) and DELETES (lines
    * 5–6 flagged through the tombstone column), applied in ONE
    * partition-pruned commit: matched keys leave through the same
    * anti-join the updates ride, tombstoned keys are simply never
    * re-inserted, and a delete that empties a partition drops the
    * partition from the manifest (the forceReplaced path — LakeSpec).
    * January/March carry forward by pointer. Both versions then
    * time-travel read from the one lake with the l09 diff between
    * them — the n_removed_vs_prev count is the delete verb's witness;
    * the oracle re-derives everything from the original parquet by
    * the construction. */
  private[graft] def l15(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("mdlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    val feb = li.filter(col("month") === "1997-02")
    val off = ttKeyOffset(li)
    val delta = feb.filter(col("l_linenumber") <= 2)
        .withColumn("l_quantity", col("l_quantity") + 5)
        .withColumn("is_delete", lit(false))
      .unionByName(feb.filter(col("l_linenumber") === 7)
        .withColumn("l_orderkey", col("l_orderkey") + off)
        .withColumn("l_quantity", col("l_quantity") + 3)
        .withColumn("is_delete", lit(false)))
      .unionByName(feb.filter(col("l_linenumber").between(5, 6))
        .withColumn("is_delete", lit(true)))
    VersionedLake.commitMerge(delta,
      Seq("l_orderkey", "l_linenumber"), "month", lake,
      deleteCol = Some("is_delete"))
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1),
      VersionedLake.readLatest(s, lake))
  }

  /** l16 — SCHEMA EVOLUTION at the table layer: every manifest records
    * its commit's schema, so the lake — not the reader — knows what
    * each version looked like (l04's mergeSchema semantics promoted
    * from a reader option to commit-log metadata, the Delta/Iceberg
    * schema-tracking shape). Version 2 upserts a February restatement
    * CARRYING A NEW COLUMN (`src`): the mixed file list (pre-evolution
    * January/March pointers + post-evolution February files) reads
    * under the RECORDED schema — old files surface `src` as NULL, and
    * [[graft.sources.VersionedLake.readVersionEvolved]] gives version
    * 1 the same one-schema view (all-NULL src). A plain
    * footer-derived read would silently DROP the evolved column for
    * exactly this file mix (LakeSpec pins the mechanism; this gates
    * the numbers). n_src counts non-NULL src per version: 0 for v1,
    * exactly the restated-row count for v2 — the oracle re-derives
    * both from the original parquet. */
  private[graft] def l16(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("evlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1)
        .withColumn("src", lit("restated")),
      "month", lake)
    def summ(df: DataFrame, v: Int): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"),
          count(col("src")).as("n_src"))
        .withColumn("version", lit(v))
    summ(VersionedLake.readVersionEvolved(s, lake, 1), 1)
      .unionByName(summ(VersionedLake.readLatest(s, lake), 2))
  }

  /** l17 — OPTIMIZE ZORDER BY as a commit
    * ([[graft.sources.VersionedLake.commitOptimize]] `zorderBy` +
    * [[graft.plans.ZOrder2]]): the Delta `OPTIMIZE ... ZORDER BY`
    * verb on the l09 log. The staging builds the WORST layout for
    * range pruning — February fragmented into 4 interleaved appends
    * (rows by l_orderkey mod 4), so every fragment's zone spans the
    * whole key domain and a narrow range read must open every file
    * (all_files_hit pins that) — then OPTIMIZE re-clusters each
    * fragmented partition on the Morton-interleaved
    * (l_orderkey, l_linenumber) key into 4 range files, re-recording
    * zone stats in the new manifest. The SAME range read against the
    * post-optimize version skips most files (zorder_skips), while the
    * row-filtered aggregates — the oracle's numbers — are identical
    * either side: pure re-layout. Bounds derive from the manifest's
    * own global stats (l12's integer arithmetic); file counts stay
    * out of the hashed numbers (booleans only — layout is
    * parallelism-dependent, the l10 discipline). */
  private[graft] def l17(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("zolake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(
      li.filter(col("month") =!= "1997-02").coalesce(1), "month", lake,
      statsCol = Some("l_orderkey"))
    (0 to 3).foreach { r =>
      VersionedLake.commitAppend(
        li.filter(col("month") === "1997-02")
          .filter(pmod(col("l_orderkey"), lit(4)) === r).coalesce(1),
        "month", lake, statsCol = Some("l_orderkey"))
    }
    val pre = VersionedLake.latestVersion(s, lake)
    val stats = VersionedLake.manifestFiles(s, lake, pre)
    val gmin = stats.flatMap(_.lo).min
    val gmax = stats.flatMap(_.hi).max
    val lo = gmin + (gmax - gmin) * 3 / 8
    val hi = gmin + (gmax - gmin) / 2
    val (preDf, mPre, tPre) =
      VersionedLake.readVersionRange(s, lake, pre, lo, hi)
    val post = VersionedLake.commitOptimize(s, lake, "month",
      statsCol = Some("l_orderkey"),
      zorderBy = Seq("l_orderkey", "l_linenumber"),
      targetFilesPerPart = 4)
    val (postDf, mPost, _) =
      VersionedLake.readVersionRange(s, lake, post, lo, hi)
    def summ(df: DataFrame, phase: String): DataFrame =
      df.filter(col("l_orderkey").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("phase", lit(phase))
    summ(preDf, "pre")
      .withColumn("layout_ok", lit(mPre == tPre))
      .unionByName(summ(postDf, "post")
        .withColumn("layout_ok", lit(mPost < mPre)))
  }

  /** l18 — TIMESTAMP AS-OF time travel
    * ([[graft.sources.VersionedLake.readAsOf]]): Delta's `TIMESTAMP AS
    * OF`, resolved from the `ts=` commit stamp each manifest header
    * records (caller-passed clock — the fixture stamps 100/200/300 —
    * never a wall-clock read inside the library, so the determinism
    * contracts hold). Three stamped commits (Q1 snapshot; February
    * restated +1 for lines ≤ 4; March restated +2 for lines ≤ 3),
    * then three as-of reads exercise the resolution cases: BETWEEN
    * commits (ts 250 → version 2), EXACT hit (ts 300 → version 3),
    * AFTER the last (ts 9999 → version 3); before_first_fails pins
    * the loud before-first-commit case (no table existed — the one
    * case with no zero-rows answer). The oracle re-derives each
    * resolved snapshot from the original parquet. */
  private[graft] def l18(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("aslake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake,
      commitTs = Some(100L))
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake, commitTs = Some(200L))
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-03")
        .filter(col("l_linenumber") <= 3)
        .withColumn("l_quantity", col("l_quantity") + 2),
      "month", lake, commitTs = Some(300L))
    val beforeFirstFails =
      try { VersionedLake.versionAsOf(s, lake, 50L); false }
      catch { case _: IllegalArgumentException => true }
    def summAt(ts: Long): DataFrame =
      ttVersionSummary(VersionedLake.readAsOf(s, lake, ts),
          VersionedLake.versionAsOf(s, lake, ts))
        .withColumn("asof_ts", lit(ts))
    summAt(250L).unionByName(summAt(300L)).unionByName(summAt(9999L))
      .withColumn("before_first_fails", lit(beforeFirstFails))
  }

  /** l19 — CHANGE-FEED-DRIVEN incremental view maintenance: q88's
    * counting-IVM algebra fed by the TABLE LAYER's change feed
    * ([[graft.sources.VersionedLake.changesBetween]]) instead of a
    * hand-built CDC delta — the composition l13 exists for. The
    * maintained view (per-month row count + integer quantity cents)
    * is computed ONCE from version 1, then each commit's change feed
    * applies algebraically: added → (+1, +after), removed →
    * (−1, −before), changed → (0, after − before), one re-combine
    * groupBy per batch, HAVING n > 0 — cost ∝ churn + view size, the
    * base is never re-read. Two restatement commits drive all three
    * change kinds; the EMITTED rows are the maintained view itself,
    * which the oracle recomputes FULLY from the original parquet by
    * the restatements' construction — maintenance is correct iff
    * indistinguishable from rebuilding (the q86/q88 discipline);
    * ivm_eq_rebuild additionally pins view == direct recompute of the
    * latest version in-engine. Integer-exact throughout (cents).
    * `rebuildCheck = false` is the bench operator form (r11 verdict):
    * the maintenance fold alone, without the O(base) rebuild-equality
    * harness the oracle gate keeps. */
  private[graft] def l19(s: SparkSession, d: String): DataFrame =
    l19Impl(s, d, rebuildCheck = true)

  private[graft] def l19Impl(s: SparkSession, d: String,
                      rebuildCheck: Boolean): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("ivmlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
      .select(col("l_orderkey"), col("l_linenumber"), col("month"),
        round(col("l_quantity") * 100, 0).cast("long").as("qty_c"))
    VersionedLake.commitOverwrite(li, "month", lake)
    val off = ttKeyOffset(li)
    val feb = li.filter(col("month") === "1997-02")
    VersionedLake.commitUpsert( // v2: updates, inserts, implicit removes
      feb.filter(col("l_linenumber") <= 4)
        .withColumn("qty_c", col("qty_c") + 100L)
        .unionByName(feb.filter(col("l_linenumber") === 7)
          .withColumn("l_orderkey", col("l_orderkey") + off)
          .withColumn("qty_c", col("qty_c") + 300L)),
      "month", lake)
    val mar = li.filter(col("month") === "1997-03")
    VersionedLake.commitUpsert( // v3: March restated, lines > 3 removed
      mar.filter(col("l_linenumber") <= 3)
        .withColumn("qty_c", col("qty_c") + 200L),
      "month", lake)
    def viewOf(df: DataFrame): DataFrame =
      df.groupBy(col("month"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty_c")).as("qty_cents"))
    // v1 full compute, then each version's change feed applied
    // algebraically — month rides in the key so the view's grouping
    // key survives the feed
    val keys = Seq("l_orderkey", "l_linenumber", "month")
    val view = (2 to VersionedLake.latestVersion(s, lake))
      .foldLeft(viewOf(VersionedLake.readVersion(s, lake, 1))) {
        (acc, v) =>
          val cf = VersionedLake.changesBetween(s, lake, v - 1, v,
            keys, "qty_c")
          val deltaAgg = cf.groupBy(col("month")).agg(
            sum(when(col("change_kind") === "added", 1L)
              .when(col("change_kind") === "removed", -1L)
              .otherwise(0L)).as("n_rows"),
            sum(when(col("change_kind") === "added", col("qty_c_after"))
              .when(col("change_kind") === "removed", -col("qty_c_before"))
              .otherwise(col("qty_c_after") - col("qty_c_before")))
              .as("qty_cents"))
          acc.unionByName(deltaAgg).groupBy(col("month"))
            .agg(sum(col("n_rows")).as("n_rows"),
              sum(col("qty_cents")).as("qty_cents"))
            .filter(col("n_rows") > 0)
      }
    if (!rebuildCheck) view
    else {
      // maintained == rebuilt, proven in-engine on top of the oracle
      val rebuilt = viewOf(VersionedLake.readLatest(s, lake))
      val eq = view.withColumnRenamed("n_rows", "n1")
        .withColumnRenamed("qty_cents", "q1")
        .join(rebuilt, Seq("month"), "full_outer")
        .agg(count(when(col("n1").isNull || col("n_rows").isNull ||
          col("n1") =!= col("n_rows") || col("q1") =!= col("qty_cents"),
          1)).as("n_bad"))
        .select((col("n_bad") === 0L).as("ivm_eq_rebuild"))
      view.crossJoin(broadcast(eq))
    }
  }

  /** l20 — SHALLOW / DEEP CLONE
    * ([[graft.sources.VersionedLake.shallowClone]]): Delta's CLONE
    * verb — version 2 of the source materializes as version 1 of TWO
    * new lakes: a shallow clone (manifest POINTERS at the source's
    * files, zero bytes copied — the zero-cost experimentation branch)
    * and a deep clone (file copies, full independence). The branch
    * then takes its OWN commit (March restated — the source never
    * sees it), both clones are vacuumed-around: clone-local vacuum
    * must not touch borrowed source files, and a source vacuum down
    * to the cloned version keeps both clones readable (the shallow
    * one borrows files still live in the source's retained manifest;
    * the deep one owns copies). Every snapshot is read AFTER the
    * vacuums — a wrongly-deleted borrowed file fails its numbers.
    * Oracle re-derives all three snapshots from the original parquet
    * by construction. */
  private[graft] def l20(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val src = Scratch.path("clsrc", d)
    val sh = Scratch.path("clsh", d)
    val dp = Scratch.path("cldp", d)
    Seq(src, sh, dp).foreach(VersionedLake.reset(s, _))
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", src)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", src)
    VersionedLake.shallowClone(s, src, sh, v = 2)
    VersionedLake.shallowClone(s, src, dp, v = 2, deep = true)
    VersionedLake.commitUpsert( // the branch's own commit
      li.filter(col("month") === "1997-03")
        .filter(col("l_linenumber") <= 3)
        .withColumn("l_quantity", col("l_quantity") + 2),
      "month", sh)
    VersionedLake.vacuum(s, sh, retain = 1)
    VersionedLake.vacuum(s, src, retain = 1)
    def snap(path: String, label: String): DataFrame =
      VersionedLake.readLatest(s, path)
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("snapshot", lit(label))
    snap(src, "src").unionByName(snap(sh, "branch"))
      .unionByName(snap(dp, "deep"))
  }

  /** l21 — RESTORE TO VERSION
    * ([[graft.sources.VersionedLake.commitRestore]]): Delta's RESTORE
    * verb — the auditable undo: a bad February restatement (version
    * 2) is rolled back by committing version 1's FILE LIST forward as
    * version 3 (pointers — zero data moves, zero_copy pins it), so
    * content reverts while history only grows (history_forward pins
    * versions == 1,2,3 and the bad version stays readable for the
    * audit). Oracle re-derives both the bad snapshot and the restored
    * one — which must equal version 1 exactly — from the original
    * parquet. */
  private[graft] def l21(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("rstlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitUpsert( // the bad commit
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 2)
        .withColumn("l_quantity", col("l_quantity") + 9),
      "month", lake)
    val v3 = VersionedLake.commitRestore(s, lake, 1)
    val historyForward =
      v3 == 3 && VersionedLake.versions(s, lake) == Seq(1, 2, 3)
    val zeroCopy =
      VersionedLake.manifestFiles(s, lake, 3).map(_.rel).toSet ==
        VersionedLake.manifestFiles(s, lake, 1).map(_.rel).toSet
    ttVersionSummary(VersionedLake.readVersion(s, lake, 2), 2)
      .unionByName(ttVersionSummary(VersionedLake.readLatest(s, lake), 3))
      .withColumn("history_forward", lit(historyForward))
      .withColumn("zero_copy", lit(zeroCopy))
  }

  /** l22 — the versioned lake as a STREAMING SOURCE
    * ([[graft.sources.VersionedLake.appendsBetween]]): the Delta
    * streaming-source shape — a reader holds a version CURSOR and each
    * poll reads ONLY the files added since (never a join, never the
    * base; cost ∝ the appended delta). Three month-sliced APPEND
    * commits, then the (1, 3] feed must be exactly commits 2–3's rows
    * (February + March by construction — the oracle's aggregate); a
    * subsequent UPSERT rewrites files, and the append-only reader must
    * REFUSE across it (rewrite_refused — Delta's ignoreChanges-unset
    * behavior: fail loudly rather than silently misread a rewrite;
    * changesBetween is the API for that case). st23 drives the same
    * cursor loop against a live streaming ingest. */
  private[graft] def l22(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("applake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    Seq("1997-01", "1997-02", "1997-03").foreach { m =>
      VersionedLake.commitAppend(
        li.filter(col("month") === m), "month", lake)
    }
    val feed = VersionedLake.appendsBetween(s, lake, 1, 3)
      .localCheckpoint(true) // pin the feed before the rewrite below
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 2)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake)
    val rewriteRefused =
      try { VersionedLake.appendsBetween(s, lake, 3, 4); false }
      catch { case _: IllegalArgumentException => true }
    feed.agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
      .withColumn("rewrite_refused", lit(rewriteRefused))
  }

  /** l23 — DELETION VECTORS
    * ([[graft.sources.VersionedLake.commitDelete]]): the Delta DV /
    * Iceberg positional-delete shape closing l15's scale gap — l15's
    * MERGE-DELETE rewrites every touched partition's bytes, so at
    * 100 TB a 0.01% takedown pays a 100% write bill; a DV commit
    * records the doomed rows' (file, row-index) positions in small
    * sidecar parquet files and only ADDS them to the manifest.
    * Version 2 deletes February lines 5–6 (l15's slice) as DVs:
    * no_data_rewrite pins — from the manifests — that v2's data-file
    * set is BYTE-IDENTICAL to v1's (pointers, zero rows rewritten;
    * the witness l15 cannot produce), dv_sidecars_v2 that the delete
    * physically landed as sidecars. Readers anti-fold the positions
    * ([[graft.sources.VersionedLake.readVersion]], broadcast-sized
    * here); a reader pinned to v1 still sees the rows (LakeSpec).
    * Version 3 is OPTIMIZE materializing the fold and RETIRING the
    * sidecars (dv_retired_v3) — content provably unchanged: the v3
    * row's diff counts vs v2 are COMPUTED by the same full-outer
    * q56 diff, and the oracle re-derives all three snapshots from the
    * original parquet. */
  private[graft] def l23(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("dvlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitDelete(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber").between(5, 6))
        .select(col("l_orderkey"), col("l_linenumber"), col("month")),
      Seq("l_orderkey", "l_linenumber"), "month", lake)
    val vOpt = VersionedLake.commitOptimize(s, lake, "month")
    // manifest-metadata witnesses (booleans, the l10 discipline —
    // never file counts: layout is parallelism-dependent)
    def rels(v: Int, kind: String) = VersionedLake
      .manifestFiles(s, lake, v).filter(_.kind == kind).map(_.rel).toSet
    val noDataRewrite = rels(2, "data") == rels(1, "data")
    val dvSidecars = rels(2, "dv").nonEmpty
    val dvRetired = rels(vOpt, "dv").isEmpty
    val v2 = VersionedLake.readVersion(s, lake, 2)
    val v3row = ttSummariesWithDiff(v2,
        VersionedLake.readVersion(s, lake, vOpt))
      .filter(col("version") === 2).withColumn("version", lit(3))
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1), v2)
      .unionByName(v3row)
      .withColumn("no_data_rewrite", lit(noDataRewrite))
      .withColumn("dv_sidecars_v2", lit(dvSidecars))
      .withColumn("dv_retired_v3", lit(dvRetired))
  }

  /** l24 — COLUMN-MAPPING schema evolution
    * ([[graft.sources.VersionedLake.commitRenameColumn]] /
    * [[graft.sources.VersionedLake.commitDropColumn]]): l16 handles
    * ADD; rename/drop need id-based resolution (Delta columnMapping /
    * Iceberg field ids) or a re-added name silently resurrects
    * dropped bytes. Every commit's recorded schema carries stable
    * column ids plus an era map (id → physical name at write time);
    * reads resolve by id across eras. The fixture drives the full
    * story on one lake: v2 RENAMES l_quantity→qty as a metadata-only
    * commit (rename_zero_copy pins the file set is byte-identical);
    * v3 restates February under the NEW name — the v3_renamed probe
    * reads a MIXED-ERA file list (January/March physically named
    * l_quantity, February qty) resolved by id; v4 DROPS qty and v5
    * re-adds the name with different values — the v5_readd probe's
    * n_qty counts ONLY the re-added rows (January/March read NULL:
    * fresh id, old bytes dead — THE l24 pin), and the v1_evolved
    * probe (version 1 under the latest schema, aligned by id) reads
    * qty as all-NULL for the same reason. The oracle re-derives every
    * probe from the original parquet by construction. */
  private[graft] def l24(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("cmlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitRenameColumn(s, lake, "l_quantity", "qty")
    def rels(v: Int) =
      VersionedLake.manifestFiles(s, lake, v).map(_.rel).toSet
    val renameZeroCopy = rels(2) == rels(1)
    val feb = li.filter(col("month") === "1997-02")
    VersionedLake.commitUpsert( // v3: February restated under NEW name
      feb.filter(col("l_linenumber") <= 4)
        .withColumn("qty", col("l_quantity") + 1).drop("l_quantity"),
      "month", lake)
    VersionedLake.commitDropColumn(s, lake, "qty") // v4
    VersionedLake.commitUpsert( // v5: the NAME re-added, fresh column
      feb.filter(col("l_linenumber") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("month"),
          col("l_linenumber").cast("double").as("qty")),
      "month", lake)
    def probe(name: String, df: DataFrame, qcol: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(round(sum(col(qcol)), 2), lit(0.0)).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"),
          count(col(qcol)).as("n_qty"))
        .withColumn("probe", lit(name))
    probe("v1", VersionedLake.readVersion(s, lake, 1), "l_quantity")
      .unionByName(probe("v3_renamed",
        VersionedLake.readVersion(s, lake, 3), "qty"))
      .unionByName(probe("v5_readd",
        VersionedLake.readLatest(s, lake), "qty"))
      .unionByName(probe("v1_evolved",
        VersionedLake.readVersionEvolved(s, lake, 1), "qty"))
      .withColumn("rename_zero_copy", lit(renameZeroCopy))
  }

  /** l25 — SEGMENTED MANIFESTS
    * ([[graft.sources.VersionedLake.enableSegmentedManifests]]): the
    * metadata half of the carry-forward discipline. A flat manifest
    * re-serializes the FULL file list every commit — at 10^6 files
    * that is ~10^8 bytes of driver metadata per commit even when one
    * partition changed, and every reader parses all of it. Segmented
    * manifests (the Iceberg snapshot → manifest-list → manifest
    * tree reduced to one content-hash reuse rule) store each
    * partition's entry lines in an immutable `_log/seg-*.seg` file
    * and keep one pointer line per partition: an untouched
    * partition's segment carries forward BY POINTER, so commit
    * metadata cost is O(touched partitions + partition count), and
    * [[graft.sources.VersionedLake.readVersion]]'s parts filter
    * prunes AT THE POINTER — un-probed partitions' file lists are
    * never even opened. The fixture drives l09's restatement story on
    * a segmented lake: v1 commits Q1 (3 partitions → 3 segments), v2
    * restates February — segs_reused_v2 = 2 and segs_fresh_v2 = 1 are
    * DETERMINISTIC (segments are per-partition, never per-file, so
    * parallelism cannot move them; the l10 file-count caveat doesn't
    * apply). The version=3 row is the February-only POINTER-PRUNED
    * read of v2. The oracle re-derives all three snapshots and the
    * diff from the original parquet — an entry line lost, duplicated,
    * or mis-expanded by segmentation fails n_rows/key_sig; a wrongly
    * reused segment fails the v2 row; a mis-pruned read fails the
    * version=3 row. LakeSpec pins the flat↔segmented interleave
    * (mid-life enable), vacuum's reuse-aware segment reclaim, and the
    * DV/column-mapping composition. */
  private[graft] def l25(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("seglake", d)
    VersionedLake.reset(s, lake)
    VersionedLake.enableSegmentedManifests(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake)
    val p1 = VersionedLake.segmentPointers(s, lake, 1)
    val p2 = VersionedLake.segmentPointers(s, lake, 2)
    val reused = p2.count { case (part, ptr) => p1.get(part).contains(ptr) }
    val prunedFeb = ttVersionSummary(
        VersionedLake.readVersion(s, lake, 2, Seq("1997-02")), 3)
      .withColumn("n_changed_vs_prev", lit(0L))
      .withColumn("n_removed_vs_prev", lit(0L))
      .withColumn("n_added_vs_prev", lit(0L))
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1),
        VersionedLake.readVersion(s, lake, 2))
      .unionByName(prunedFeb)
      .withColumn("segs_total", lit(p2.size))
      .withColumn("segs_reused_v2", lit(reused))
      .withColumn("segs_fresh_v2", lit(p2.size - reused))
  }

  /** l26 — TABLE CONSTRAINTS
    * ([[graft.sources.VersionedLake.commitAddConstraint]]): Delta's
    * `ALTER TABLE ADD CONSTRAINT ... CHECK` enforced at the COMMIT
    * layer — the Deequ-style quality gate moved from a separate
    * validation job into the table format itself, where it cannot be
    * skipped. A constraint is a boolean SQL expression recorded in
    * every manifest and carried forward like the schema; every
    * data-writing commit validates its DELTA in one aggregate pass
    * (cost ∝ delta — at 100 TB the alternative full-table re-check
    * per ingest is the thing that doesn't scale), aborting loudly
    * with per-constraint counts BEFORE a version is claimed. SQL
    * CHECK semantics: only FALSE violates, so NOT NULL is spelled
    * `x IS NOT NULL`. The fixture: v2/v3 add bounds + not-null
    * constraints (each validating the full snapshot once at add
    * time); a qty=-5 restatement ABORTS minting no version
    * (no_version_minted); the corrected restatement lands validated;
    * adding a constraint the existing data violates is REFUSED
    * (oracle re-derives the refusal condition as max(qty) > 10);
    * dropping a column a CHECK references is refused
    * (drop_column_refused) — never a dangling constraint. The final
    * snapshot and the violating-delta row count re-derive from the
    * original parquet. */
  private[graft] def l26(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("cklake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitAddConstraint(s, lake, "qty_bounds",
      "l_quantity > 0 AND l_quantity <= 200")
    VersionedLake.commitAddConstraint(s, lake, "month_not_null",
      "month IS NOT NULL")
    val badDelta = li.filter(col("month") === "1997-02")
      .filter(col("l_linenumber") <= 2)
      .withColumn("l_quantity", lit(-5.0))
    val violRows = badDelta.count() // delta-sized planning aggregate
    val aborted =
      try { VersionedLake.commitUpsert(badDelta, "month", lake); false }
      catch { case _: IllegalStateException => true }
    val noVersionMinted = VersionedLake.latestVersion(s, lake) == 3
    VersionedLake.commitUpsert( // the corrected restatement, validated
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake)
    val addRefused =
      try {
        VersionedLake.commitAddConstraint(s, lake, "qty_tight",
          "l_quantity <= 10")
        VersionedLake.commitDropConstraint(s, lake, "qty_tight")
        false
      } catch { case _: IllegalStateException => true }
    val dropColRefused =
      try { VersionedLake.commitDropColumn(s, lake, "l_quantity"); false }
      catch { case _: IllegalArgumentException => true }
    val carried = VersionedLake.readConstraints(s, lake,
      VersionedLake.latestVersion(s, lake)).map(_._1).toSet ==
      Set("qty_bounds", "month_not_null")
    VersionedLake.readLatest(s, lake)
      .agg(count(lit(1)).as("n_rows_v4"),
        round(sum(col("l_quantity")), 2).as("sum_qty_v4"),
        sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig_v4"))
      .withColumn("viol_rows", lit(violRows))
      .withColumn("violating_commit_aborted", lit(aborted))
      .withColumn("no_version_minted", lit(noVersionMinted))
      .withColumn("add_over_violating_refused", lit(addRefused))
      .withColumn("drop_column_refused", lit(dropColRefused))
      .withColumn("constraint_carried", lit(carried))
  }

  /** l27 — HIDDEN PARTITIONING
    * ([[graft.sources.HiddenPartitioning]]): Iceberg's partition
    * transforms. Every prior lake query hands the engine a
    * pre-derived partition column — the caller must know the layout,
    * and a query filtering on the SOURCE column (`l_shipdate`) while
    * the table partitions on a derived string silently full-scans:
    * THE partition-layout failure mode at 100 TB. Here the table
    * declares `month(l_shipdate)` / `bucket(8, l_orderkey)` as
    * immutable metadata; writers derive the partition value through
    * the recorded transform and readers never mention it — a range
    * predicate on the source column projects through the monotonic
    * transform to a partition interval (Iceberg's inclusive
    * projection), and point lookups compute their keys' partitions
    * through the ENGINE's own transform expression (bucket hashing
    * can never drift between write and probe). Pruning lands in
    * [[graft.sources.VersionedLake.readVersion]]'s parts filter, so
    * with l25 it skips un-probed partitions at the segment POINTER.
    * Witnesses: the February range scans 1 of 3 month partitions
    * (per-partition counters — deterministic); the 5-key bucket
    * lookup touches fewer partitions than live (bucket_pruned); the
    * internal `__p` column never surfaces (hidden_col_absent). The
    * oracle re-derives both probe results from the original parquet
    * with plain source-column predicates — a wrongly-pruned
    * partition loses rows and fails the counts. */
  private[graft] def l27(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    val lakeA = Scratch.path("hplake_a", d)
    val lakeB = Scratch.path("hplake_b", d)
    VersionedLake.reset(s, lakeA)
    VersionedLake.reset(s, lakeB)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        to_date(col("l_shipdate")).as("l_shipdate"))
      .filter(col("l_shipdate").between("1997-01-01", "1997-03-31"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("l_shipdate")).as("l_shipdate"))
    HP.define(s, lakeA, HP.Spec("l_shipdate", HP.Month))
    HP.commitOverwrite(li, lakeA)
    HP.define(s, lakeB, HP.Spec("l_orderkey", HP.Bucket(8)))
    HP.commitOverwrite(li, lakeB)
    val (lo, hi) = ("1997-02-03", "1997-02-20")
    val rangeDf = HP.readBetween(s, lakeA, lo, hi)
    val keys = li
      .filter(date_format(col("l_shipdate"), "yyyy-MM") === "1997-02")
      .select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(5)
    val matchDf = HP.readMatching(s, lakeB, keys)
    val partsTotalA = VersionedLake.manifestFiles(s, lakeA, 1)
      .map(_.part).distinct.size
    val partsRange = HP.partsBetween(s, lakeA, 1, lo, hi).size
    val partsTotalB = VersionedLake.manifestFiles(s, lakeB, 1)
      .map(_.part).distinct.size
    val partsMatch = HP.partsMatching(s, lakeB, 1, keys).size
    val hiddenAbsent = !rangeDf.columns.contains("__p") &&
      !matchDf.columns.contains("__p")
    def probe(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
    probe("range_month", rangeDf)
      .unionByName(probe("match_bucket", matchDf))
      .withColumn("parts_total_month", lit(partsTotalA))
      .withColumn("parts_scanned_range", lit(partsRange))
      .withColumn("bucket_pruned", lit(partsMatch < partsTotalB))
      .withColumn("hidden_col_absent", lit(hiddenAbsent))
  }

  /** l31 — PARTITION-SPEC EVOLUTION
    * ([[graft.sources.HiddenPartitioning.evolve]]): l27's hidden
    * partitioning completed with Iceberg's spec evolution — the
    * migration story a 100 TB table actually hits. Q1 1997 commits
    * under `month(l_shipdate)`; the spec then EVOLVES to
    * `day(l_shipdate)` and April appends under the new granularity —
    * no history rewritten, no second lake. A range read spanning both
    * eras projects its bounds through EACH era's transform (inclusive
    * projection) and unions the pruned partition sets: month-era
    * partitions prune at month granularity, day-era at day. A point
    * lookup computes each era's partition values through that era's
    * ENGINE expression. Results stay transform-invisible — the oracle
    * is the plain source-column predicate over the original parquet
    * (l27's result-invisibility discipline) — while the scanned-
    * partition counters (parallelism-INDEPENDENT, the l25 rule)
    * re-derive from the data: months with data in the projected month
    * window, days with data in the day window. LakeSpec pins the
    * pre/post-evolution pruning, the bucket-era conservative union
    * and the evolution refusals. */
  private[graft] def l31(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    val lake = Scratch.path("spevlake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        to_date(col("l_shipdate")).as("l_shipdate"))
      .filter(col("l_shipdate").between("1997-01-01", "1997-04-30"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("l_shipdate")).as("l_shipdate"))
    HP.define(s, lake, HP.Spec("l_shipdate", HP.Month))
    HP.commitOverwrite(li.filter(col("l_shipdate") < "1997-04-01"), lake)
    HP.evolve(s, lake, HP.Spec("l_shipdate", HP.Day))
    HP.commitAppend(li.filter(col("l_shipdate") >= "1997-04-01"), lake)
    val (lo, hi) = ("1997-02-10", "1997-04-05")
    val rangeDf = HP.readBetween(s, lake, lo, hi)
    val parts = HP.partsBetween(s, lake, 2, lo, hi)
    val keys = li.filter(
        col("l_shipdate").isin("1997-02-14", "1997-04-03"))
      .select(col("l_shipdate")).distinct()
    val matchDf = HP.readMatching(s, lake, keys)
    val total = VersionedLake.manifestFiles(s, lake, 2)
      .filter(_.kind == "data").map(_.part).distinct.size
    def probe(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
    probe("range_mixed", rangeDf)
      .unionByName(probe("match_mixed", matchDf))
      // month values are 7 chars, day values 10: the era split of the
      // pruned set is visible in the partition strings themselves
      .withColumn("parts_month_era_scanned", lit(parts.count(_.length == 7)))
      .withColumn("parts_day_era_scanned", lit(parts.count(_.length == 10)))
      .withColumn("pruned", lit(parts.size < total))
  }

  /** l34 — the versioned lake through DATASOURCE V2
    * ([[graft.sources.GraftLakeSource]], format `graftlake`): the
    * consumption shape every real table-format user expects — no
    * library calls, `CREATE TEMPORARY VIEW ... USING graftlake
    * OPTIONS (path, versionAsOf, partitionColumn)` and plain SQL.
    * The l09 fixture lake (v1 = Q1 1997; v2 = February restated to
    * lines ≤ 4, quantity + 1) is read through TWO SQL views — one
    * pinned `versionAsOf 1`, one latest — each filtered to February:
    * the pushed month filter prunes AT THE MANIFEST (un-probed
    * partitions' segment pointers never open; the V1Scan adapter then
    * runs the library read underneath), witnessed by the
    * parts_live/parts_read counters (partition counts —
    * parallelism-independent, the l25 rule). The oracle re-derives
    * both versions' February aggregates from the original parquet —
    * time travel through the format, result-invisible. The spec
    * additionally pins timestampAsOf, prune-to-empty, column pruning
    * and the DV/widening composition. */
  private[graft] def l34(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{GraftLakeSource, VersionedLake}
    val lake = Scratch.path("dsv2lake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitUpsert(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake)
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_dsv2_v1
      USING graftlake
      OPTIONS (path '$lake', versionAsOf '1', partitionColumn 'month')""")
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_dsv2_v2
      USING graftlake
      OPTIONS (path '$lake', partitionColumn 'month')""")
    def probe(view: String): (Long, Double, Long, Int, Int) = {
      GraftLakeSource.lastScanParts.set(None)
      val r = s.sql(
        s"""SELECT count(*), round(sum(l_quantity), 2),
           |  CAST(sum(l_orderkey * 7 + l_linenumber) AS BIGINT)
           |FROM $view WHERE month = '1997-02'""".stripMargin)
        .collect().head // 1-row result; the collect drives the scan
      val (live, read) =
        GraftLakeSource.lastScanParts.get().getOrElse((-1, -1))
      (r.getLong(0), r.getDouble(1), r.getLong(2), live, read)
    }
    val p1 = probe("graft_dsv2_v1")
    val p2 = probe("graft_dsv2_v2")
    import s.implicits._
    Seq(("v1_feb", p1._1, p1._2, p1._3, p1._4, p1._5),
        ("v2_feb", p2._1, p2._2, p2._3, p2._4, p2._5))
      .toDF("probe", "n_rows", "sum_qty", "key_sig",
        "parts_live", "parts_read")
  }

  /** l35 — the graftlake WRITE path (r13 verdict #2): the two writes
    * that reduce to `df.write` modes go through the format. Q1 1997
    * seeds the lake (the library verb — a fresh lake has no recorded
    * schema for the format to infer); April lands as a PLAIN format
    * append (`df.write.format("graftlake").mode("append")` →
    * [[graft.sources.VersionedLake.commitAppend]] under the hood);
    * May lands as a `txn`-optioned append
    * ([[graft.sources.VersionedLake.commitBatchAppend]] — the
    * exactly-once foreachBatch sink THROUGH the format) and is then
    * REPLAYED byte-identically: the replay must mint nothing
    * (`replay_noop`). A write through a time-travel option refuses
    * loudly (`tt_write_refused`). The oracle restates the
    * library-append equality: both probes re-derive from the original
    * parquet — if the format writes had landed differently from
    * library appends (dropped rows, doubled May, a forked version),
    * the aggregates or the booleans would miss.
    * GraftLakeSourceSpec pins the OCC composition (format append vs
    * concurrent library upsert), the overwrite mode and the SQL-user
    * shape (temp views, INSERT INTO, the catalog). */
  private[graft] def l35(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("dsv2wlake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-05"))
    VersionedLake.commitOverwrite(
      li.filter(col("month") <= "1997-03"), "month", lake)
    li.filter(col("month") === "1997-04")
      .write.format("graftlake").option("partitionColumn", "month")
      .mode("append").save(lake)
    def mayWrite(): Unit =
      li.filter(col("month") === "1997-05")
        .write.format("graftlake").option("partitionColumn", "month")
        .option("txn", "1").mode("append").save(lake)
    mayWrite()
    val vAfter = VersionedLake.latestVersion(s, lake)
    mayWrite() // checkpoint-replay twin: must be a no-op commit
    val replayNoop =
      vAfter == 3 && VersionedLake.latestVersion(s, lake) == vAfter
    val ttRefused =
      try {
        li.limit(1).write.format("graftlake")
          .option("partitionColumn", "month")
          .option("versionAsOf", "1").mode("append").save(lake)
        false
      } catch { case _: IllegalArgumentException => true }
    def rd(opts: (String, String)*) = {
      val r = s.read.format("graftlake").option("partitionColumn", "month")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(lake)
    }
    def probe(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
    probe("fmt_appended", rd())
      .unionByName(probe("pre_append", rd("versionAsOf" -> "1")))
      .withColumn("replay_noop", lit(replayNoop))
      .withColumn("tt_write_refused", lit(ttRefused))
  }

  /** l32 — TYPE WIDENING under column mapping (Delta's type-widening
    * feature on l24's id-mapped log): version 1 commits Q1 with
    * NARROW physical types (`l_orderkey` int, `l_quantity` float);
    * version 2 appends April under the WIDENED logical schema
    * (long / double) in the same commit that records the new types.
    * No byte is rewritten: each era's `coltype` manifest lines record
    * the physical type its files were written with, old files read
    * under (old name, old type) and CAST UP — never a reader-side
    * promotion assumption — while the logical schema is the widened
    * one. A later NARROWING commit refuses loudly and mints nothing
    * (the engine-refusal probe discipline). Quantities are integral
    * in this fixture, so the float→double sums are bit-exact on both
    * engines; the oracle re-derives both versions' aggregates from
    * the original parquet through the same narrow-then-widen casts.
    * LakeSpec pins the schema types, the exact cast-up, time travel
    * to the narrow era and the rename composition. */
  private[graft] def l32(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("twlake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-04"))
    VersionedLake.commitOverwrite(
      li.filter(col("month") < "1997-04")
        .select(col("l_orderkey").cast("int").as("l_orderkey"),
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("float").as("l_quantity"),
          col("month")),
      "month", lake)
    val v2 = VersionedLake.commitAppend(
      li.filter(col("month") === "1997-04")
        .select(col("l_orderkey").cast("long").as("l_orderkey"),
          col("l_linenumber").cast("int").as("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("month")),
      "month", lake)
    val narrowRefused =
      try {
        VersionedLake.commitAppend(
          li.limit(1)
            .select(col("l_orderkey").cast("int").as("l_orderkey"),
              col("l_linenumber").cast("int").as("l_linenumber"),
              col("l_quantity").cast("float").as("l_quantity"),
              col("month")),
          "month", lake)
        false
      } catch { case _: IllegalArgumentException => true }
    val mintedNothing = VersionedLake.latestVersion(s, lake) == v2
    val lat = VersionedLake.readLatest(s, lake)
    val widened =
      lat.schema("l_orderkey").dataType ==
        org.apache.spark.sql.types.LongType &&
      lat.schema("l_quantity").dataType ==
        org.apache.spark.sql.types.DoubleType
    def probe(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast("double")), 2).as("sum_qty"),
          sum(col("l_orderkey").cast("long") * 7 +
            col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
    probe(VersionedLake.readVersion(s, lake, 1), "v1_narrow")
      .unionByName(probe(lat, "v2_mixed"))
      .withColumn("narrow_refused", lit(narrowRefused))
      .withColumn("minted_nothing", lit(mintedNothing))
      .withColumn("types_widened", lit(widened))
  }

  /** l28 — BLOOM-FILTER file-skipping index
    * ([[graft.sources.BloomIndex]]): Delta's `CREATE BLOOMFILTER
    * INDEX`. The lake's zone maps (l08/l12) prune RANGE reads on the
    * clustered key; a point lookup on an UNCORRELATED column
    * (`l_partkey IN (...)` against a month-partitioned,
    * orderkey-clustered table) matches every file's (lo, hi) span and
    * opens all of them — at 100 TB that full-scan IS the query cost.
    * A per-file Bloom filter (sidecar parquet under `_log/`, KBs per
    * file) answers membership in metadata: the lookup reads only
    * matching files plus any not-yet-indexed ones (never a false
    * negative; a false positive dies in the exact semi-join). Filters
    * attach to immutable FILES, so indexing is INCREMENTAL — after an
    * append, [[graft.sources.BloomIndex.ensure]] indexes only the new
    * files (incremental_fresh_only), carried files reuse their rows.
    * The layout is the l12 deterministic range-fragmenter (8 ranges ×
    * 3 months), so the skip margins hold at every parallelism; skip
    * witnesses stay BOOLEANS (the l10 rule). The oracle re-derives
    * both lookups from the original parquet with plain IN predicates
    * — a wrongly skipped file loses rows and fails the counts. */
  private[graft] def l28(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = Scratch.path("bflake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-03"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("l_partkey")).as("l_partkey"),
        min(col("month")).as("month"))
    VersionedLake.commitOverwrite(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      "month", lake)
    BloomIndex.define(s, lake, BloomIndex.Cfg("l_partkey"))
    val indexed1 = BloomIndex.ensure(s, lake, 1)
    val keys = li.select(col("l_partkey")).distinct()
      .orderBy(col("l_partkey")).limit(5)
    val (toRead1, nIdx1, nSkip1) = BloomIndex.prunedRels(s, lake, 1, keys)
    // the lookup over the prune this lifecycle already ran for its
    // witness booleans
    val probe1 = BloomIndex.lookup(s, lake, keys, 1, toRead1)
    // incremental half: an append whose rows all carry the smallest
    // probed partkey (fresh files must join the lookup's result)
    val off = ttKeyOffset(li)
    val kmin = keys.agg(min(col("l_partkey"))).head().getLong(0) // 1-row
    VersionedLake.commitAppend(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 2)
        .withColumn("l_orderkey", col("l_orderkey") + off)
        .withColumn("l_partkey", lit(kmin)),
      "month", lake)
    val indexed2 = BloomIndex.ensure(s, lake, 2)
    val freshOnly = indexed2.nonEmpty &&
      indexed2.toSet.intersect(indexed1.toSet).isEmpty
    val (toRead2, _, nSkip2) = BloomIndex.prunedRels(s, lake, 2, keys)
    val probe2 = BloomIndex.lookup(s, lake, keys, 2, toRead2)
    def summarize(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
    summarize(probe1, "v1_lookup")
      .unionByName(summarize(probe2, "v2_lookup"))
      .withColumn("bloom_skips_v1",
        lit(nSkip1 > 0 && toRead1.size < nIdx1))
      .withColumn("bloom_skips_v2", lit(nSkip2 > 0))
      .withColumn("incremental_fresh_only", lit(freshOnly))
  }

  /** l29 — commit HISTORY as a metadata table
    * ([[graft.sources.VersionedLake.history]]): Delta's `DESCRIBE
    * HISTORY` / Iceberg's `snapshots` metadata table — the audit
    * surface every governed deployment queries before it queries the
    * data ("who restated February, when, under which txn?"). One row
    * per live version: op verb, txn presence (exactly-once ingest
    * provenance), commit stamp presence, touched-partition count,
    * DV presence, active-constraint count — driver-side manifest
    * metadata only, version-count-sized, row data never read for the
    * history itself. The fixture drives FIVE verbs on one lake
    * (overwrite, batch-txn upsert, DV delete, stamped restore, add
    * constraint) and joins each history row with its snapshot's row
    * count; the oracle re-derives every field from the construction —
    * an op mislabeled, a txn dropped, a constraint miscounted, or a
    * version resolving to the wrong snapshot all fail the row. */
  private[graft] def l29(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("histlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    VersionedLake.commitBatchUpsert( // txn-carrying (exactly-once form)
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1),
      "month", lake, txn = 7L)
    VersionedLake.commitDelete(
      li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("month")),
      Seq("l_orderkey", "l_linenumber"), "month", lake)
    VersionedLake.commitRestore(s, lake, 1, commitTs = Some(4000L))
    VersionedLake.commitAddConstraint(s, lake, "qty_pos",
      "l_quantity > 0")
    val h = VersionedLake.history(s, lake).collect() // 5-row planning
    val rows = h.map { r =>
      val v = r.getInt(0)
      (v, r.getString(1), !r.isNullAt(2), !r.isNullAt(3), r.getInt(4),
        r.getBoolean(5), r.getInt(6),
        VersionedLake.readVersion(s, lake, v).count())
    }.toSeq
    import s.implicits._
    rows.toDF("version", "op", "has_txn", "has_ts", "n_parts",
      "has_dvs", "n_constraints", "n_rows")
  }

  /** l30 — MERGE with SCHEMA EVOLUTION
    * ([[graft.sources.VersionedLake.commitMerge]] `evolveSchema`):
    * Delta's `schema.autoMerge`. l11's MERGE requires the delta to
    * match the table schema and l16 evolves schema through a plain
    * upsert; real ingest pipelines hit both at once — a restatement
    * feed that grew a provenance column mid-stream must MERGE AND
    * evolve in one atomic commit, or the pipeline needs a separate
    * schema-change step with a window where neither schema is right.
    * The fixture: one evolving merge updates February lines ≤ 2
    * (qty + 1) and inserts offset-keyed copies of line 1, all
    * carrying a NEW `src` column; kept rows surface src as NULL
    * (n_src counts exactly the delta), version 1 read EVOLVED
    * surfaces src all-NULL, and the SAME merge WITHOUT the flag is
    * REFUSED loudly minting nothing (strict_refused +
    * strict_minted_nothing) — never a silent column drop. The oracle
    * re-derives the merged snapshot, per-probe counts, and the
    * key/src signatures from the original parquet. */
  private[graft] def l30(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("melake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    val off = ttKeyOffset(li)
    val feb = li.filter(col("month") === "1997-02")
    val delta = feb.filter(col("l_linenumber") <= 2)
        .withColumn("l_quantity", col("l_quantity") + 1)
      .unionByName(feb.filter(col("l_linenumber") === 1)
        .withColumn("l_orderkey", col("l_orderkey") + off))
      .withColumn("src", lit("merge"))
    val strictRefused =
      try {
        VersionedLake.commitMerge(delta,
          Seq("l_orderkey", "l_linenumber"), "month", lake)
        false
      } catch {
        case _: org.apache.spark.sql.AnalysisException => true
      }
    val strictMintedNothing = VersionedLake.latestVersion(s, lake) == 1
    VersionedLake.commitMerge(delta,
      Seq("l_orderkey", "l_linenumber"), "month", lake,
      evolveSchema = true)
    val v2 = VersionedLake.readLatest(s, lake)
    val v1e = VersionedLake.readVersionEvolved(s, lake, 1)
    def probe(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"),
          count(col("src")).as("n_src"))
        .withColumn("probe", lit(name))
    probe(v2, "v2_merged").unionByName(probe(v1e, "v1_evolved"))
      .withColumn("strict_refused", lit(strictRefused))
      .withColumn("strict_minted_nothing", lit(strictMintedNothing))
  }

  /** l33 — MERGE THROUGH DELETION VECTORS
    * ([[graft.sources.VersionedLake.commitMergeDv]]): l15's exact
    * three-verb merge (updates Feb lines ≤ 2 qty+5, inserts offset
    * copies of line 7, tombstones lines 5–6) executed the Delta
    * DV-MERGE way — ONE commit marks matched stored rows dead with
    * l23 positional DV sidecars and APPENDS the delta's upserts;
    * every base data file carries forward by pointer. Write cost is
    * ∝ changed rows (the point of the verb at 100 TB: a rewrite
    * merge pays touched-PARTITION bytes, this pays DV + delta
    * bytes). The read must be INDISTINGUISHABLE from the rewrite
    * form, so the oracle is l15's rebuild restatement verbatim; the
    * extra columns witness the economics — base_files_carried (no v1
    * data file left the manifest), dv_rows (one DV row per matched
    * stored row — the oracle re-derives the matched count from the
    * construction) and fresh_rows (the upsert rows, all the data
    * bytes this commit wrote). Row counts are parallelism-
    * INDEPENDENT (file counts are not — the l10 discipline).
    * LakeSpec pins the pointer carry-forward, OPTIMIZE
    * materialization and the OCC races. */
  private[graft] def l33(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("mdvlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    val feb = li.filter(col("month") === "1997-02")
    val off = ttKeyOffset(li)
    val delta = feb.filter(col("l_linenumber") <= 2)
        .withColumn("l_quantity", col("l_quantity") + 5)
        .withColumn("is_delete", lit(false))
      .unionByName(feb.filter(col("l_linenumber") === 7)
        .withColumn("l_orderkey", col("l_orderkey") + off)
        .withColumn("l_quantity", col("l_quantity") + 3)
        .withColumn("is_delete", lit(false)))
      .unionByName(feb.filter(col("l_linenumber").between(5, 6))
        .withColumn("is_delete", lit(true)))
    val v2 = VersionedLake.commitMergeDv(delta,
      Seq("l_orderkey", "l_linenumber"), "month", lake,
      deleteCol = Some("is_delete"))
    def rels(v: Int, kind: String) = VersionedLake
      .manifestFiles(s, lake, v).filter(_.kind == kind).map(_.rel).toSet
    val (d1, d2) = (rels(1, "data"), rels(v2, "data"))
    val dvRows = s.read.parquet(
      rels(v2, "dv").toSeq.map(r => s"$lake/$r"): _*).count()
    val freshRows = VersionedLake.readFiles(s, lake, v2, d2 -- d1).count()
    ttSummariesWithDiff(VersionedLake.readVersion(s, lake, 1),
      VersionedLake.readLatest(s, lake))
      .withColumn("base_files_carried", lit(d1.subsetOf(d2)))
      .withColumn("dv_rows", lit(dvRows))
      .withColumn("fresh_rows", lit(freshRows))
  }

  /** l12 — zone-map-pruned TIME-TRAVEL range query: l08's per-file
    * (lo, hi) skipping stats carried across l09's version history
    * ([[graft.sources.VersionedLake.FileEntry]] — the Iceberg
    * manifest-row shape, where the commit log IS the skipping index),
    * so a range query against an OLD snapshot prunes files exactly
    * like one against the latest. Two commits land range-clustered on
    * the key with statsCol recorded (version 2 restates February;
    * January/March carry forward by pointer WITH their stats), then
    * the same key window is read from BOTH versions via
    * [[graft.sources.VersionedLake.readVersionRange]] — only
    * stats-intersecting files reach either reader. Bounds derive from
    * version 1's own manifest stats (driver-side planning metadata,
    * integer arithmetic the oracle re-derives from the table's
    * min/max); aggregates come from the pruned reads with the
    * row-level predicate applied (zones prune files, rows still
    * filter), so a wrongly-skipped file fails the numbers;
    * skip_effective asserts >= half the files never opened. */
  private[graft] def l12(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("zvlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    def clustered(df: DataFrame, n: Int): DataFrame =
      df.repartitionByRange(n, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey"))
    VersionedLake.commitOverwrite(clustered(li, 8), "month", lake,
      statsCol = Some("l_orderkey"))
    VersionedLake.commitUpsert(
      clustered(li.filter(col("month") === "1997-02")
        .filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1), 4),
      "month", lake, statsCol = Some("l_orderkey"))
    val stats = VersionedLake.manifestFiles(s, lake, 1)
    val gmin = stats.flatMap(_.lo).min
    val gmax = stats.flatMap(_.hi).max
    val lo = gmin + (gmax - gmin) * 3 / 8
    val hi = gmin + (gmax - gmin) / 2
    def rangeSummary(v: Int): DataFrame = {
      val (pruned, nMatch, nTotal) =
        VersionedLake.readVersionRange(s, lake, v, lo, hi)
      ttVersionSummary(
          pruned.filter(col("l_orderkey").between(lo, hi)), v)
        .withColumn("skip_effective", lit(nMatch * 2 <= nTotal))
    }
    rangeSummary(1).unionByName(rangeSummary(2))
  }

  /** l14 — OPTIMIZE as a commit ([[graft.sources.VersionedLake
    * .commitOptimize]]): l07/st19's small-file compaction lifted onto
    * the commit log — the last table-format verb, closing the
    * versioned lifecycle (ingest → optimize → vacuum). Three
    * single-file streaming appends fragment February to exactly 3
    * files (January/March stay at 1 — the deterministic staging
    * counts the oracle re-derives as a CASE); OPTIMIZE then compacts
    * every >1-file partition into one file AS A NEW VERSION — pure
    * re-layout, content computed-equal through the oracle's
    * count/sum/signature over the post-optimize read; already-compact
    * partitions carry forward by pointer, untouched. Unlike the
    * in-place compactAll (durable sibling-copy swap, l07), the
    * versioned form needs no staging copy and never yanks fragments
    * from a pinned reader — vacuum reclaims them later, on the
    * retention window. */
  private[graft] def l14(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("optlake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d)
    VersionedLake.commitOverwrite(
      li.filter(col("month") =!= "1997-02").coalesce(1), "month", lake)
    (0 to 2).foreach { r =>
      VersionedLake.commitBatchAppend(
        li.filter(col("month") === "1997-02")
          .filter(pmod(col("l_linenumber"), lit(3)) === r).coalesce(1),
        "month", lake, txn = r.toLong)
    }
    val pre = VersionedLake.latestVersion(s, lake)
    val before = VersionedLake.manifestFiles(s, lake, pre)
      .groupBy(_.part).map { case (p, es) => p -> es.size }
    val post = VersionedLake.commitOptimize(s, lake, "month")
    val after = VersionedLake.manifestFiles(s, lake, post)
      .groupBy(_.part).map { case (p, es) => p -> es.size }
    val sp = s
    import sp.implicits._
    val counts = before.keys.toSeq.sorted
      .map(m => (m, before(m), after.getOrElse(m, 0)))
      .toDF("month", "files_before", "files_after")
    VersionedLake.readLatest(s, lake)
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
      .join(broadcast(counts), Seq("month"))
      .select(col("month"), col("n_rows"), col("sum_qty"), col("key_sig"),
        col("files_before").cast("long").as("files_before"),
        (col("files_after") === 1).as("compacted_ok"))
  }


  /** l36 — MULTI-TABLE ATOMIC COMMIT through the coordinator log
    * ([[graft.sources.CommitCoordinator]]): the designed boundary
    * COVERAGE.md carried since l09 ("atomic multi-table commit needs
    * a coordinator log above both lakes"), now implemented. Two lakes
    * derive from lineitem — A holds Q1 rows, B the per-month counts —
    * and ONE coordinator record pins both (the same hard-link claim
    * primitive as the manifests). The torn instant is then
    * manufactured: April lands in lake A with NO coordinator advance
    * (the crash-between-lake-commits shape). `coord_pre` probes the
    * COORDINATED reads — still the consistent Q1 pair, the tear
    * structurally invisible — while `torn_direct_ahead` witnesses
    * that a direct read of A does see it (the documented single-table
    * posture). Recovery re-pins A's landed version and commits B's
    * missing half in one record; `coord_post` probes the completed
    * pair. `regression_refused`: a commit prepared against an older
    * A-version aborts loudly rather than un-publishing the newer pin.
    * The oracle re-derives every aggregate from the original parquet:
    * a coordinator that read the wrong version on either side of
    * either instant would miss the hash. */
  private[graft] def l36(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    val lakeA = Scratch.path("coordlake_a", d)
    val lakeB = Scratch.path("coordlake_b", d)
    val coord = Scratch.path("coordlog", d)
    Seq(lakeA, lakeB, coord).foreach(VersionedLake.reset(s, _))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-04"))
    val q1 = li.filter(col("month") <= "1997-03")
    val apr = li.filter(col("month") === "1997-04")
    def counts(df: DataFrame) =
      df.groupBy(col("month")).agg(count(lit(1)).as("cnt"))
    CC.commitAll(s, coord, Seq(
      () => (lakeA, VersionedLake.commitOverwrite(q1, "month", lakeA)),
      () => (lakeB, VersionedLake.commitOverwrite(counts(q1), "month",
        lakeB))))
    // the torn instant: April lands in A, the coordinator never moves
    VersionedLake.commitAppend(apr, "month", lakeA)
    def probe(name: String, a: DataFrame, b: DataFrame): DataFrame =
      a.agg(count(lit(1)).as("n_a"),
          round(sum(col("l_quantity")), 2).as("sum_a"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_a"))
        .crossJoin(b.agg(count(lit(1)).as("n_b"),
          sum(col("cnt")).as("tot_b")))
        .withColumn("probe", lit(name))
    val pre = probe("coord_pre",
      CC.readCoordinated(s, coord, lakeA),
      CC.readCoordinated(s, coord, lakeB))
    val tornDirectAhead =
      VersionedLake.readLatest(s, lakeA).count() >
        CC.readCoordinated(s, coord, lakeA).count()
    // recovery: re-pin A's landed version + B's missing half, one claim
    CC.commitAll(s, coord, Seq(
      () => (lakeA, VersionedLake.latestVersion(s, lakeA)),
      () => (lakeB, VersionedLake.commitAppend(counts(apr), "month",
        lakeB))))
    val post = probe("coord_post",
      CC.readCoordinated(s, coord, lakeA),
      CC.readCoordinated(s, coord, lakeB))
    val regressionRefused =
      try { CC.commitAll(s, coord, Seq(() => (lakeA, 1))); false }
      catch { case _: java.util.ConcurrentModificationException => true }
    pre.unionByName(post)
      .withColumn("torn_direct_ahead", lit(tornDirectAhead))
      .withColumn("regression_refused", lit(regressionRefused))
  }

  /** l37 — CROSS-COLUMN partition-spec evolution (r14; Iceberg
    * permits re-partitioning on a DIFFERENT source column, r13
    * refused it): Q1 1997 commits under `month(l_shipdate)`, the spec
    * then evolves to `bucket(8, l_orderkey)` and April appends under
    * the new layout. The sound mixed-column read rule: a predicate on
    * column X prunes exactly the eras whose spec DERIVES X; any other
    * era admits all its partitions (conservative union) and the row
    * predicate keeps the result exact. `range_cross` ranges on the
    * OLD column (month eras project to Feb+Mar, the bucket era admits
    * all — witnessed by parts_month_scanned and the boolean);
    * `match_cross` point-looks-up two deterministic April orderkeys
    * on the ACTIVE column (the bucket era prunes through the engine
    * hash to ≤ 2 of its partitions, month eras admit all 3). The
    * oracle re-derives rows and the projection counters from the
    * original parquet; bucket-era counters stay margin BOOLEANS
    * (hash layouts are not SQL-derivable). LakeSpec pins the refusals
    * (partCol rename; a range no spec projects). */
  private[graft] def l37(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    val lake = Scratch.path("spxclake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        to_date(col("l_shipdate")).as("l_shipdate"))
      .filter(col("l_shipdate").between("1997-01-01", "1997-04-30"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("l_shipdate")).as("l_shipdate"))
    HP.define(s, lake, HP.Spec("l_shipdate", HP.Month))
    HP.commitOverwrite(li.filter(col("l_shipdate") < "1997-04-01"), lake)
    HP.evolve(s, lake, HP.Spec("l_orderkey", HP.Bucket(8)))
    HP.commitAppend(li.filter(col("l_shipdate") >= "1997-04-01"), lake)
    val (lo, hi) = ("1997-02-10", "1997-04-05")
    val rangeParts = HP.partsBetween(s, lake, 2, lo, hi,
      srcCol = Some("l_shipdate"))
    val rangeDf = HP.readBetween(s, lake, lo, hi,
      srcCol = Some("l_shipdate"))
    val keys = li.filter(col("l_shipdate") >= "1997-04-01")
      .select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(2)
    val matchParts = HP.partsMatching(s, lake, 2, keys)
    val matchDf = HP.readMatching(s, lake, keys)
    val totalBuckets = VersionedLake.manifestFiles(s, lake, 2)
      .filter(_.kind == "data").map(_.part).distinct
      .count(_.forall(_.isDigit))
    def monthsOf(ps: Seq[String]) = ps.count(_.length == 7)
    def bucketsOf(ps: Seq[String]) = ps.count(_.forall(_.isDigit))
    def probe(name: String, df: DataFrame, monthsScanned: Int,
              bucketOk: Boolean): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("key_sig"))
        .withColumn("probe", lit(name))
        .withColumn("parts_month_scanned", lit(monthsScanned))
        .withColumn("bucket_era_bounded", lit(bucketOk))
    probe("range_cross", rangeDf, monthsOf(rangeParts),
        bucketsOf(rangeParts) == totalBuckets) // conservative: all admitted
      .unionByName(probe("match_cross", matchDf, monthsOf(matchParts),
        bucketsOf(matchParts) <= 2 && bucketsOf(matchParts) < totalBuckets))
  }

  /** l38 — SQL `DELETE FROM ... WHERE` through graftlake (r14 verdict
    * #5): the one row-level SQL verb that IS a clean reduction to the
    * l23 deletion-vector commit
    * ([[graft.sources.VersionedLake.commitDeleteWhere]] behind
    * SupportsDelete). Q1 1997 seeds the lake; the SQL delete marks
    * February's l_linenumber >= 5 rows dead by DV — every data file
    * carries forward BY POINTER (`carried_by_pointer`), the only
    * minted sidecar is February's (`dv_only_feb` — the partition
    * prune derived from the pushed month equality scoped the read AND
    * the re-mint), and the pre-delete version stays fully readable
    * (the `pre_delete` probe). A no-match delete mints nothing
    * (`nomatch_noop`); a predicate that cannot translate EXACTLY to
    * source filters refuses loudly and changes nothing
    * (`refusal_noop` — a weakened superset would delete rows the
    * WHERE never named); DML through a time-travelled view refuses
    * (`tt_refused`). The oracle RESTATES l23's delete equality from
    * the original parquet: post-delete aggregates re-derive with the
    * WHERE as an anti-filter — a widened or missed delete breaks
    * n_rows/sum_qty/key_sig. UPDATE/MERGE INTO refusals are pinned in
    * GraftLakeSourceSpec, which also drives the SQL-user shape. */
  private[graft] def l38(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("sqldellake", d)
    VersionedLake.reset(s, lake)
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-03"))
    VersionedLake.commitOverwrite(li, "month", lake)
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqldel
      USING graftlake OPTIONS (path '$lake', partitionColumn 'month')""")
    s.sql("""DELETE FROM graft_sqldel
      WHERE month = '1997-02' AND l_linenumber >= 5""")
    val v2 = VersionedLake.latestVersion(s, lake)
    def rels(v: Int, kind: String) = VersionedLake
      .manifestFiles(s, lake, v).filter(_.kind == kind)
    val carried = v2 == 2 &&
      rels(2, "data").map(_.rel).toSet == rels(1, "data").map(_.rel).toSet
    val dvFeb = rels(2, "dv").nonEmpty &&
      rels(2, "dv").forall(_.part == "1997-02")
    s.sql("DELETE FROM graft_sqldel WHERE month = '2099-12'")
    val nomatchNoop = VersionedLake.latestVersion(s, lake) == v2
    val refusalNoop =
      (try { s.sql("DELETE FROM graft_sqldel WHERE l_quantity / 2.0 = 3.0")
             false }
       catch { case _: Exception => true }) &&
        VersionedLake.latestVersion(s, lake) == v2
    s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_sqldel_v1
      USING graftlake
      OPTIONS (path '$lake', versionAsOf '1', partitionColumn 'month')""")
    val ttRefused =
      try { s.sql("DELETE FROM graft_sqldel_v1 WHERE l_linenumber = 1")
            false }
      catch { case _: Exception => true }
    def probe(name: String, view: String): DataFrame =
      s.sql(s"""SELECT count(*) AS n_rows,
          round(sum(l_quantity), 2) AS sum_qty,
          sum(l_orderkey * 7 + l_linenumber) AS key_sig
        FROM $view""")
        .withColumn("probe", lit(name))
    probe("post_delete", "graft_sqldel")
      .unionByName(probe("pre_delete", "graft_sqldel_v1"))
      .withColumn("carried_by_pointer", lit(carried))
      .withColumn("dv_only_feb", lit(dvFeb))
      .withColumn("nomatch_noop", lit(nomatchNoop))
      .withColumn("refusal_noop", lit(refusalNoop))
      .withColumn("tt_refused", lit(ttRefused))
  }

  /** l39 — the V2 CATALOG's full SQL lifecycle as one oracle row
    * (r15: name-resolved tables over [[graft.sources
    * .GraftLakeCatalog]]): CREATE NAMESPACE + CREATE TABLE seed the
    * lake (v1), `INSERT INTO … SELECT` lands the Q1-1997 slice (v2),
    * `DELETE FROM … WHERE month` marks February dead by DV (v3),
    * `TRUNCATE TABLE` rides SupportsDelete's AlwaysTrue default into
    * one more DV commit (v4) — and every probe reads BY NAME through
    * Spark-native `VERSION AS OF`, so a wrong pin or a truncate that
    * wiped history breaks pre/post aggregates the oracle re-derives
    * from the original parquet. The METADATA TABLES are part of the
    * gate: `n_versions` counts `t.history` rows (4 = the lifecycle),
    * `dv_n` counts `t.files` DV entries at latest — one per DISTINCT
    * month (February's delete DV carries forward under the truncate,
    * which mints DVs only for the partitions still holding live
    * rows), so the oracle re-derives it as count(DISTINCT month).
    * Refusal walls ride along: DROP NAMESPACE on a non-empty
    * namespace and INSERT INTO a metadata view both refuse loudly.
    * DV-entry-per-partition counts are parallelism-independent (the
    * r12 per-partition-counter rule), so the row is
    * partition-invariant. */
  private[graft] def l39(s: SparkSession, d: String): DataFrame = {
    val wh = Scratch.path("cat_wh", d)
    Scratch.wipe(wh)
    s.conf.set("spark.sql.catalog.l39cat",
      "graft.sources.GraftLakeCatalog")
    s.conf.set("spark.sql.catalog.l39cat.base", wh)
    s.sql("CREATE NAMESPACE l39cat.ns")
    s.sql("""CREATE TABLE l39cat.ns.t (l_orderkey BIGINT,
      l_linenumber BIGINT, l_quantity DOUBLE, month STRING)
      PARTITIONED BY (month)""")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-03"))
      .createOrReplaceTempView("l39_src")
    s.sql("""INSERT INTO l39cat.ns.t
      SELECT l_orderkey, l_linenumber, l_quantity, month FROM l39_src""")
    s.sql("DELETE FROM l39cat.ns.t WHERE month = '1997-02'")
    s.sql("TRUNCATE TABLE l39cat.ns.t")
    val nsRefused =
      try { s.sql("DROP NAMESPACE l39cat.ns"); false }
      catch { case _: Exception => true }
    val metaRo =
      try { s.sql("INSERT INTO l39cat.ns.t.history VALUES " +
              "(9, 'x', 9, 9, 9, false, 0)"); false }
      catch { case _: Exception => true }
    val nVersions = s.sql("SELECT count(*) FROM l39cat.ns.t.history")
      .head().getLong(0)
    val dvN = s.sql(
      "SELECT count(*) FROM l39cat.ns.t.files WHERE kind = 'dv'")
      .head().getLong(0)
    def probe(name: String, from: String): DataFrame = s.sql(
      s"""SELECT count(*) AS n_rows,
        coalesce(round(sum(l_quantity), 2), 0.0) AS sum_qty,
        coalesce(sum(l_orderkey * 7 + l_linenumber), 0) AS key_sig
      FROM $from""").withColumn("probe", lit(name))
    probe("pre_delete", "l39cat.ns.t VERSION AS OF 2")
      .unionByName(probe("post_delete", "l39cat.ns.t VERSION AS OF 3"))
      .unionByName(probe("post_truncate", "l39cat.ns.t"))
      .withColumn("n_versions", lit(nVersions))
      .withColumn("dv_n", lit(dvN))
      .withColumn("ns_nonempty_refused", lit(nsRefused))
      .withColumn("meta_readonly", lit(metaRo))
  }
}
