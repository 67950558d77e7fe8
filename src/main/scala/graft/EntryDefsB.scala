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

/** Query registry bodies, part B (text/similarity/multimodal families) — a pure
  * mechanical move out of SparkEntry (r13 verdict #6: registry
  * hygiene); every def is byte-identical to its pre-split form
  * and is re-exported through [[SparkEntry.queries]]. */
private[graft] object EntryDefsB {
  /** l13 — CHANGE-DATA-FEED read between versions
    * ([[graft.sources.VersionedLake.changesBetween]]): Delta's
    * `table_changes`, computed from the commit log — the manifest
    * diff names the churned partitions (identical file pointers ⇒
    * provably identical content, NEVER read), a full-outer join on
    * the key over just those partitions classifies each row, and the
    * feed drives downstream incrementals without re-diffing the
    * table (q56's audit executed AT the table layer, cost ∝ churn).
    * The fixture restates February against a deduped-key Q1 snapshot
    * with all three kinds present: lines ≤ 4 updated (quantity + 1),
    * lines > 4 dropped, +10000000-offset keys inserted (quantity
    * + 3). Output is the per-kind count and payload sums — the oracle
    * re-derives every number from the original parquet by the
    * restatement's construction. */
  private[graft] def l13(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val lake = Scratch.path("cdflake", d)
    VersionedLake.reset(s, lake)
    val li = ttSlimLineitem(s, d, dedupKeys = true)
    VersionedLake.commitOverwrite(li, "month", lake)
    val feb = li.filter(col("month") === "1997-02")
    val off = ttKeyOffset(li)
    VersionedLake.commitUpsert(
      feb.filter(col("l_linenumber") <= 4)
        .withColumn("l_quantity", col("l_quantity") + 1)
        .unionByName(feb.filter(col("l_linenumber") === 7)
          .withColumn("l_orderkey", col("l_orderkey") + off)
          .withColumn("l_quantity", col("l_quantity") + 3)),
      "month", lake)
    VersionedLake.changesBetween(s, lake, 1, 2,
        Seq("l_orderkey", "l_linenumber"), "l_quantity")
      .groupBy(col("change_kind"))
      .agg(count(lit(1)).as("n"),
        round(coalesce(sum(col("l_quantity_before")), lit(0.0)), 2)
          .as("sum_before"),
        round(coalesce(sum(col("l_quantity_after")), lit(0.0)), 2)
          .as("sum_after"))
  }

  /** l02 — dirty CSV ingest with quarantine: the lake-level form of the
    * reference's P4 tolerance asymmetry. The reference either skips a
    * dirty dimension row or fails the whole fact load; a 100 TB ingest
    * can do neither silently — PERMISSIVE parsing keeps every row,
    * routes each malformed LINE into a declared corrupt-record column
    * (the raw text, so nothing is lost), and the aggregate over the
    * clean rows proceeds in the same pass. The fixture CSV is derived
    * from documents with every 97th row planted malformed ("N/A" where
    * the bigint belongs — the same id-rule the oracle re-derives from
    * parquet, so the planted corruption is independently checkable).
    * Splittable line files: at 100 TB each executor parses its own
    * byte range; the quarantine column shuffles nowhere (it aggregates
    * to one count). */
  private[graft] def l02(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    val out = Scratch.path("csv", d)
    docs.select(concat(
        col("doc_id").cast("string"), lit(","), col("lang"), lit(","),
        when(col("doc_id") % 97 === 0, lit("N/A"))
          .otherwise(col("n_chars").cast("string"))).as("value"))
      .write.mode("overwrite").text(out)
    val back = s.read
      .schema("doc_id LONG, lang STRING, n_chars LONG, _bad STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
    back.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_bad"),
      sum(when(col("_bad").isNull, col("n_chars"))).as("sum_chars_good"))
  }

  /** l04 — SCHEMA EVOLUTION ingest: a lake's files never share one
    * schema for long — old batches lack columns later batches carry.
    * Batch A lands (doc_id, lang, n_chars), batch B adds a `quality`
    * column; the union read uses parquet `mergeSchema` so old rows
    * surface the new column as NULL (no rewrite of historical files —
    * at 100 TB, rewriting history for a column-add is the thing this
    * exists to avoid), and the aggregate handles the NULL era
    * explicitly. Footer-merge cost only; the scan stays vectorized +
    * pruned. Oracle: predicts every number from the documents table
    * and the batch-split rule, never touching the staged files. */
  private[graft] def l04(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val out = Scratch.path("evo", d)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$out/batch=a")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("n_chars") % 100).as("quality"))
      .write.mode("overwrite").parquet(s"$out/batch=b")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        count(col("quality")).as("n_with_quality"),
        coalesce(sum(col("quality")), lit(0L)).as("sum_quality"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** q30 — semi-structured JSON column: extract + filter + aggregate on
    * a JSON field inside the events.props string column. */
  private[graft] def q30(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"))
      // sum_k not avg_k: k is integral so the sum is exact in both
      // engines; a rounded avg is the .xx5 cross-engine trap
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           max(col("k")).as("max_k"))

  /** q76 — Spark 4 native VARIANT battery: parse the JSON props column
    * into the binary-encoded VARIANT type once and extract typed
    * fields with variant_get — at scale this replaces per-access
    * string re-parsing (q30's get_json_object path) with a single
    * parse + O(1) binary field reads. Pins the TRY semantics the scan
    * path needs: try_parse_json turns malformed input into NULL
    * instead of failing the job, and a missing path extracts NULL.
    * to_json(variant) canonicalizes (minified) — the oracle derives
    * the same string from the known value-space (integer values: no
    * spaces inside tokens). */
  private[graft] def q76(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        expr("try_parse_json(props)").as("v"),
        // leading '}' is malformed to every parser (Spark tolerates
        // TRAILING garbage after a complete value)
        expr("try_parse_json(concat('}', props))").as("bad"))
      .select(col("event_id"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.missing', 'bigint')").as("missing_k"),
        col("bad").isNull.as("malformed_null"),
        expr("to_json(v)").as("roundtrip"))

  /** q31 — datetime function battery: extract/trunc/add/diff/format. */
  private[graft] def q31(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("y"),
      month(col("o_orderdate")).cast("long").as("m"),
      dayofweek(col("o_orderdate")).cast("long").as("dow"),
      Cleaning.dateToString(date_trunc("month", col("o_orderdate"))).as("month_start"),
      Cleaning.dateToString(date_add(col("o_orderdate").cast("date"), 30)).as("due_date"),
      datediff(to_date(lit("2002-01-01")),
        col("o_orderdate").cast("date")).cast("long").as("age_days"))

  /** q32 — correlated scalar subquery: orders above their customer's
    * average order value (decorrelated by Catalyst into a join+agg). */
  private[graft] def q32(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val avgPer = o.groupBy(col("o_custkey").as("ck"))
      .agg(avg(col("o_totalprice")).as("avg_price"),
           sum(col("o_totalprice")).as("cust_sum"),
           count(lit(1)).as("cust_n"))
    // cross-engine float discipline: averages land on .xx5 decimals
    // (sum of cents / count) where Spark's BigDecimal HALF_UP and
    // DuckDB's binary rounding disagree by a full cent — so the output
    // carries sum (exactly a 2-dp decimal; round(.,2) erases summation
    // ULP) and count instead of the avg; the avg drives only the filter,
    // where a ULP gap can flip nothing but exact-equality rows (only
    // single-order customers, excluded identically by both engines).
    o.join(avgPer, o("o_custkey") === avgPer("ck"))
      .filter(col("o_totalprice") > col("avg_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        round(col("cust_sum"), 2).as("cust_sum"), col("cust_n"))
  }

  /** q33 — bag (multiset) set operations: EXCEPT ALL / INTERSECT ALL
    * preserve multiplicities, unlike the distinct variants of q08. */
  private[graft] def q33(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.select(col("l_partkey"))
    val b = li.filter(col("l_quantity") > 25).select(col("l_partkey"))
    a.exceptAll(b).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_kept"))
  }

  /** q34 — window navigation: ntile, first/last/nth value over full
    * frames (one shuffle on the partition key serves all four). */
  private[graft] def q34(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      ntile(4).over(w).cast("long").as("quartile"),
      first(col("o_orderkey")).over(full).as("first_order"),
      last(col("o_orderkey")).over(full).as("last_order"),
      nth_value(col("o_orderkey"), 2).over(full).as("second_order"))
  }

  /** q35 — string battery 2: pad/translate/reverse/repeat/position. */
  private[graft] def q35(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(
      col("n_nationkey"),
      lpad(col("n_name"), 12, "_").as("padded"),
      translate(col("n_name"), "AEIOU", "aeiou").as("lowered_vowels"),
      reverse(col("n_name")).as("reversed"),
      repeat(substring(col("n_name"), 1, 2), 3).as("repeated"),
      instr(col("n_name"), "_").cast("long").as("underscore_at"))

  /** q36 — explicit GROUPING SETS through the spark.sql entry path
    * (Tables.registerAll + SQL text): exercises the engine's SQL-first
    * surface, not just the DataFrame API. */
  private[graft] def q36(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT COALESCE(n_name, 'ALL') AS nation,
        |COALESCE(c_mktsegment, 'ALL') AS segment,
        |count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())""".stripMargin)
  }

  /** q37 — bucketized range join (no equi-key): high-value purchases
    * open 10-minute attribution windows; count/aggregate ALL events
    * falling inside each window. RangeJoin.scaladoc has the scale
    * argument (bucket equi-join vs BroadcastNestedLoop). The oracle
    * runs the naive BETWEEN join — identical output set by
    * construction iff the bucketization is lossless. */
  private[graft] def q37(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val iv = ev
      .filter(col("event_type") === "purchase" && col("value") > 95)
      .select(col("event_id").as("interval_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    graft.operators.RangeJoin.intervalJoin(
        iv, ev.select(col("ts").as("e_ts"), col("event_id").as("e_id"),
          col("user_id"), col("value")), bucketSeconds = 600)
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** q38 — Bloom-pruned shuffle join: the dim side's key set is
    * aggregated into a Bloom filter ([[graft.plans.BloomMightContain]],
    * codegen'd) that drops non-matching fact rows BEFORE the join
    * exchange — the runtime-filter pattern for a build side too big to
    * broadcast as rows but whose keys fit in a few hundred KB of bits.
    * At 100 TB this is the difference between shuffling the whole fact
    * table and shuffling only the ~matching fraction. Bloom false
    * positives are discarded by the exact join that follows, so the
    * result is byte-identical to the unfiltered join and the oracle is
    * the plain join SQL. The join is hinted shuffle_hash: a broadcast
    * join would make the Bloom redundant (this query DEMONSTRATES the
    * non-broadcastable-dim regime on fixture-sized data). */
  private[graft] def q38(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.supplier(s, d)
      .filter(col("s_acctbal") > 5000.0)
      .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"))
    // one small job over the dim side; capacity is generous so the
    // measured fpp stays near the nominal 1% even at 10x the fixture
    val bloom = dim.stat.bloomFilter("s_suppkey", 1000000L, 0.01)
    Tables.lineitem(s, d)
      .filter(graft.plans.BloomFunctions.mightContain(
        col("l_suppkey").cast("long"), bloom))
      .join(dim.hint("shuffle_hash"),
        col("l_suppkey").cast("long") === col("s_suppkey"))
      .groupBy(col("s_suppkey").as("suppkey"), col("s_name"))
      .agg(round(sum(col("l_extendedprice")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q26 — salted two-stage aggregation (skew path): must be value-equal
    * to the plain GROUP BY the oracle runs. */
  private[graft] def q26(s: SparkSession, d: String): DataFrame =
    graft.operators.Salt.saltedAgg(
      Tables.lineitem(s, d), Seq("l_returnflag"),
      Seq("total" -> ("l_extendedprice", "sum"),
          "n" -> ("l_extendedprice", "count"),
          "mn" -> ("l_quantity", "min"),
          "mx" -> ("l_quantity", "max")), factor = 8)
      // 2dp, not 4: the salted two-stage sum reassociates one level more
      // than DuckDB's single agg, and at sf0.1 the extra ULP drift showed
      // through a 4dp rounding (1e-9-relative diffs on ~5e9 sums)
      .select(col("l_returnflag"), round(col("total"), 2).as("total"),
        col("n"), col("mn"), col("mx"))

  /** q27 — TPC-H Q3 shape (shipping priority): 3-way join with
    * selective filters on both fact paths, top-10 by revenue. */
  private[graft] def q27(s: SparkSession, d: String): DataFrame = {
    val cut = to_timestamp(lit("1998-06-30 00:00:00"))
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(col("o_orderdate") < cut)
    val l = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .select(col("l_orderkey"),
        Cleaning.dateToString(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** q28 — TPC-H Q5 shape (local supplier volume): 6-table snowflake
    * join, region-filtered, revenue per nation. */
  private[graft] def q28(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d)
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, l("l_suppkey") === su("s_suppkey")
        && c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
  }

  /** q29 — histogram: fixed-width bucketing by portable floor
    * arithmetic (DuckDB 1.0 lacks width_bucket). */
  private[graft] def q29(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / 50000).cast("long"), lit(11L))
        .as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // Training-data pipeline operators (SURVEY.md §7.5): dedup family,
  // similarity search, text analysis.
  // ---------------------------------------------------------------------

  /** c01 — THE composed training-data pipeline: quality gate → exact
    * fingerprint dedup → near-dup prune → chunking, as a one-row funnel
    * summary the oracle re-derives stage by stage (the prune uses the
    * SQL-expressible exact pair truth; the MinHash route is the
    * library's scale path, spec-checked to recover the same set). */
  private[graft] def c01(s: SparkSession, d: String): DataFrame =
    graft.operators.Curate.stats(Tables.documents(s, d), "doc_id", "text")

  /** c02 — incremental curation: admit a delta batch against an
    * existing corpus without re-deduping the corpus — exact dup via
    * hash semi-join, near dup via the CROSS-SET prefix-filter Jaccard
    * join whose cost scales with the delta. The delta view models a
    * real ingest: a fresh slice (doc_id%100 >= 80) plus REPOSTS of
    * corpus docs under new ids (doc_id%100 < 10, id+1000000 — the
    * yesterday's-crawl-reappears case that makes the exact probe
    * load-bearing; the raw fixture plants zero identical-text pairs).
    * The oracle derives both probes independently: exact on raw text
    * equality (the engine's sha2-256 grouping is a shuffle-size
    * optimization it must be indistinguishable from) and near-dup from
    * the naive inverted-index Jaccard restricted to delta×corpus. */
  private[graft] def c02(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text", "source")
    val delta = docs.filter(col("doc_id") % 100 >= 80)
      .unionByName(docs.filter(col("doc_id") % 100 < 10)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val corpus = docs.filter(col("doc_id") % 100 < 80)
    graft.operators.Curate.incremental(delta, corpus,
      "doc_id", "text", "source", threshold = 0.5)
  }

  /** t05 — document chunking: overlapping 30-token windows, stride 20 —
    * the one-to-many generator shape of a training-data chunker, all
    * built-ins (posexplode over a transform). */
  private[graft] def t05(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val len = 30; val stride = 20
    // ceil, not floor: a floor window count drops up to stride-1 trailing
    // tokens per document (silent training-data loss the oracle could
    // not catch if it replicated the same arithmetic)
    val nChunks = ceil(greatest(size(toks) - len, lit(0)) / lit(stride.toDouble))
      .cast("int") + 1
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * stride + 1, lit(len))))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
        col("col").as("chunk"))
  }

  /** d01 — exact dedup: canonical doc + multiplicity per distinct text. */
  private[graft] def d01(s: SparkSession, d: String): DataFrame =
    TextDedup.exact(Tables.documents(s, d), "doc_id", "text")

  /** d02 — MinHash+LSH near-dup pairs, checked as a recall contract:
    * hash-family internals aren't SQL-expressible, but the ground truth
    * IS — pairs whose shingle-set AND token-set Jaccard clear 0.6
    * ([[TextDedup.shingleJaccardPairs]]). Spark emits the exact truth
    * count (DuckDB recomputes it independently) plus a boolean that the
    * banded-LSH pipeline recovered >= 90% of the truth set (measured:
    * 25/25 at sf0.01, 256/256 at sf0.1 — RecallProbe). Fixed hash
    * seeds make the boolean deterministic. */
  private[graft] def d02(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val truth = TextDedup.shingleJaccardPairs(docs, "doc_id", "text")
    val found = TextDedup.minhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = truth.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTrue.crossJoin(nHit).select(col("n_true"),
      (col("n_hit") >= col("n_true") * lit(0.9)).as("recall_ok"))
  }

  /** d12 — MinHash Jaccard ESTIMATOR accuracy
    * ([[TextDedup.minhashEstimateCheck]], Broder's estimator): per
    * truth pair, the k=64 signature-agreement fraction must land
    * within 0.25 of the exact shingle Jaccard — the bound a pipeline
    * relies on when it thresholds on signatures alone and skips exact
    * verification at scale. d02 gates the LSH pipeline's recall; this
    * gates the estimate itself. Pair set + exact Jaccard are
    * DuckDB-recomputable (the d02 truth CTEs, per-pair form); the
    * boolean's measured max error is 0.0764 at sf0.01 / 0.0966 at
    * sf0.1 (RecallProbe, mae ≈ 0.022) — 2.5× margin under 0.25
    * (stderr √(J(1−J)/64) ≤ 0.0625; the bound is 4σ). */
  private[graft] def d12(s: SparkSession, d: String): DataFrame =
    TextDedup.minhashEstimateCheck(Tables.documents(s, d), "doc_id", "text")

  /** d03 — SimHash near-dup pairs. The chunk blocking is pigeonhole-
    * EXACT (any pair at Hamming <= 3 shares one of the four 16-bit
    * chunks), so the check cross-validates the blocked operator against
    * an in-Spark brute-force all-signature-pairs scan: both directions
    * of the symmetric difference must be empty. The oracle asserts the
    * contract (constant TRUE row) — the signature itself has no SQL
    * equivalent. */
  private[graft] def d03(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sigs = TextDedup.simhash(docs, "doc_id", "text")
    val blocked = TextDedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b")
    val brute = sigs.alias("a")
      .join(sigs.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val missed = brute.join(blocked, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("nm"))
    val extra = blocked.join(brute, Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("nx"))
    brute.agg(count(lit(1)).as("nb")).crossJoin(missed).crossJoin(extra)
      .select((col("nm") === 0 && col("nx") === 0).as("blocking_exact"),
        (col("nb") > 0).as("pairs_nonzero"))
  }

  /** d04 — exact token-set Jaccard pairs within a source block, via the
    * inverted-index join (pure SQL semantics — fully oracle-checked). */
  private[graft] def d04(s: SparkSession, d: String): DataFrame =
    TextDedup.tokenJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      blockCol = "source", threshold = 0.5)

  /** d04b — the df-capped variant (maxDfRatio = 0.8): Jaccard over the
    * discriminative-token universe, dropping tokens present in > 80% of
    * their block. This is the 100 TB form of d04 — the uncapped
    * inverted index costs Σ df² per block, quadratic in block size on
    * stopword-like tokens. Same oracle discipline as d04 with the cap
    * mirrored (independently derived) in the SQL. */
  private[graft] def d04b(s: SparkSession, d: String): DataFrame =
    TextDedup.tokenJaccardPairs(Tables.documents(s, d), "doc_id", "text",
      blockCol = "source", threshold = 0.5, maxDfRatio = 0.8)

  /** d07 — duplicate clusters: token-Jaccard near-dup pairs (the d04
    * edge set) unioned into connected components via alternating
    * large-star/small-star (Graph.scaladoc — O(log²n) rounds regardless
    * of chain length), every document labeled with its component's
    * minimum doc_id, singletons included. The oracle re-derives the
    * components INDEPENDENTLY of the star algorithm: a recursive-CTE
    * min-label transitive closure over the same pair SQL. */
  private[graft] def d07(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.tokenJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", threshold = 0.5)
    graft.operators.Graph.dupClusters(
        docs.select(col("doc_id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("node").as("doc_id"), col("component"), col("cluster_size"))
  }

  /** c11 — soft dedup: duplicate-aware LOSS WEIGHTS instead of hard
    * removal (the SoftDeDup idea — down-weight duplicated content in
    * the training objective rather than dropping it): every document
    * keeps w = 1/|its near-dup cluster| so each distinct content unit
    * contributes total weight ~1 regardless of how many copies
    * crawled. Composes d07's clusters; emitted as the exact integer
    * micro-weight 10⁶ div n (float division never crosses the gate)
    * plus the cluster size. Scale shape = d07's (the weight is one
    * broadcast-sized arithmetic column on top of the CC labels). */
  private[graft] def c11(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.tokenJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", threshold = 0.5)
    graft.operators.Graph.dupClusters(
        docs.select(col("doc_id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("node").as("doc_id"), col("cluster_size"),
        expr("1000000L div cluster_size").as("w_micro"))
  }

  /** c12 — deterministic stratified train/val/test SPLIT (98/1/1 per
    * language): the holdout-carving step every training pipeline runs
    * before packing. Assignment by PER-STRATUM md5 RANK, not hash
    * bucketing — rank boundaries make the proportions EXACT per
    * stratum (a hash-modulo split is only approximate, and its skew
    * grows on small strata), the salt (':split') decorrelates the
    * order from every other md5-ranked stage (c03/c06/c07 sampling —
    * a doc's sample rank never predicts its split), and membership is
    * integer arithmetic (rn·100 vs n·98/99 — no float shares). Ranks
    * via the shared two-level [[Curate.md5RankByStratum]]: no stratum
    * ranks on a single partition at any corpus size. Content-level
    * eval leakage across the split is d08's decontamination job,
    * composable downstream. */
  private[graft] def c12(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val ranked = graft.operators.Curate
      .md5RankByStratum(docs, "doc_id", "lang", "split")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    ranked.join(broadcast(counts), "lang")
      .select(col("doc_id"), col("lang"), col("rn"),
        when(col("rn") * 100 <= col("n") * 98, "train")
          .when(col("rn") * 100 <= col("n") * 99, "val")
          .otherwise("test").as("split"))
  }

  /** c13 — SPLIT HYGIENE audit (c12 ∘ d08 composition): after the
    * stratified train/test split, how much n-gram leakage crosses the
    * boundary, and does decontamination actually clear it? Emits the
    * one-row audit a pipeline records per release: split sizes, train
    * docs sharing any 3-shingle with test, docs PRUNED by the policy,
    * and distinct shared shingles BEFORE and AFTER the prune. The prune
    * rule (drop docs sharing >= 2 DISTINCT test shingles) is
    * deliberately DIFFERENT from the leak probe (any shared shingle):
    * single-shingle docs survive, so shared_after is a genuinely
    * measured residual — a broken decontamination step moves it, where
    * a drop-everything-the-probe-found rule would make the AFTER zero
    * by construction and the audit could never fail. Scale shape:
    * the test side of every probe is a ~1% shingle-hash set
    * (broadcast); train text never shuffles; output is one row of
    * counters. Integer-exact. */
  private[graft] def c13(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
    val ranked = graft.operators.Curate
      .md5RankByStratum(docs, "doc_id", "lang", "split")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val split = ranked.join(broadcast(counts), "lang")
      .select(col("doc_id"), col("text"),
        when(col("rn") * 100 <= col("n") * 98, "train")
          .when(col("rn") * 100 <= col("n") * 99, "val")
          .otherwise("test").as("split"))
      .filter(col("split") =!= "val")
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val sh = split
      .select(col("doc_id"), col("split"), toks.as("toks"))
      .select(col("doc_id"), col("split"),
        explode(when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("sg"))
      .select(col("doc_id"), col("split"), xxhash64(col("sg")).as("h"))
    val testH = sh.filter(col("split") === "test").select("h").distinct()
    val trainSh = sh.filter(col("split") === "train")
      .select("doc_id", "h").localCheckpoint(true)
    val leakCounts = trainSh.join(broadcast(testH), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared")).localCheckpoint(true)
    val pruned = leakCounts.filter(col("n_shared") >= 2).select("doc_id")
    val kept = trainSh.join(pruned, Seq("doc_id"), "left_anti")
    val sizes = split.groupBy()
      .agg(count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "test", 1)).as("n_test"))
    sizes
      .crossJoin(broadcast(leakCounts
        .agg(count(lit(1)).as("n_leaky_train"))))
      .crossJoin(broadcast(pruned
        .agg(count(lit(1)).as("n_pruned_train"))))
      .crossJoin(broadcast(trainSh.join(broadcast(testH), Seq("h"))
        .agg(countDistinct(col("h")).as("shared_before"))))
      .crossJoin(broadcast(kept.join(broadcast(testH), Seq("h"))
        .agg(countDistinct(col("h")).as("shared_after"))))
  }

  /** c14 — deterministic WEIGHTED sampling without replacement (order
    * sampling with priorities: Ohlsson's sequential Poisson sampling /
    * Duffield–Lund–Thorup priority sampling, public literature): each
    * doc draws a reproducible uniform from md5(doc_id:salt) (52-bit
    * hex prefix — the t12/c06 md5-arithmetic discipline) and the k
    * docs with the SMALLEST priority u/w form the sample, so a doc's
    * inclusion odds scale with its weight (w = n_chars: char-budget-
    * proportional corpus draws). The draw is a pure function of corpus
    * content — re-running the pipeline reproduces the SAME sample (the
    * training-data lineage requirement rand() can never meet), and
    * membership depends on nothing but the k-th priority. Scale shape:
    * one scan computes priorities, the global smallest-k is
    * TakeOrderedAndProject (per-partition top-k, k·P-row driver merge
    * — never a global sort), weights never shuffle. Oracle: identical
    * integer-hash arithmetic — u is exact in both engines and u/w is
    * one correctly-rounded IEEE division, so even the emitted double
    * priority is bit-identical. */
  private[graft] def c14(s: SparkSession, d: String): DataFrame = {
    // fused 52-bit draw — bit-identical to
    // conv(substring(md5(…),1,13),16,10) (Md5Draw52 scaladoc); the
    // oracle keeps recomputing it through the hex route
    val u = graft.plans.Md5DrawKey52.md5DrawKey52(
      col("doc_id"), lit(":ws42")) + lit(1L)
    val w = greatest(col("n_chars"), lit(1L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (u.cast("double") / w.cast("double")).as("priority"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(100)
  }

  /** d06 — exact n-gram (3-shingle) Jaccard dedup pairs: the
    * order-sensitive cousin of d04's token-set Jaccard (a doc pair must
    * share word SEQUENCES, not just vocabulary). Same operator that
    * serves as d02's deterministic truth set, registered first-class;
    * pairs need both shingle-set and token-set Jaccard >= 0.6. */
  private[graft] def d06(s: SparkSession, d: String): DataFrame =
    TextDedup.shingleJaccardPairs(Tables.documents(s, d), "doc_id", "text")

  /** d05 — embedding near-duplicates via sign-LSH + cosine verify,
    * checked as a recall contract against the exact all-pairs truth:
    * DuckDB recomputes n_true independently (list_cosine_similarity),
    * and the boolean asserts the auto-tuned LSH recovered >= 80% of it
    * (measured: 0.915 at sf0.01, 0.970 at sf0.1 — RecallProbe).
    * Found pairs are exact-verified >= threshold, so found ⊆ truth and
    * recall is just n_hit/n_true. Seeded hyperplanes → deterministic. */
  private[graft] def d05(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val truth = Similarity.bruteForcePairs(emb, threshold = 0.4)
    val found = Similarity.nearDupPairs(emb, threshold = 0.4)
      .select("id_a", "id_b")
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = truth.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nTrue.crossJoin(nHit).select(col("n_true"),
      (col("n_hit") >= col("n_true") * lit(0.8)).as("recall_ok"))
  }

  /** d09 — SemDeDup-style semantic dedup contract: cluster-scoped
    * near-dup pruning ([[Similarity.semDedup]], nAssign=3 multi-assign)
    * vs the exact all-pairs ideal drop set. n_ideal is recomputable
    * (DuckDB re-runs the all-pairs cosine — d05's machinery);
    * recall_ok asserts the cluster-scoped pass catches ≥ 70% of the
    * ideal drops (measured 0.96 sf0.01 / 0.88 sf0.1 — RecallProbe);
    * drops_justified asserts every drop has a lower-id global near-dup
    * (a theorem of the construction — any within-cluster pair IS a
    * global pair — computed, not assumed). */
  private[graft] def d09(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val ideal = Similarity.bruteForcePairs(emb, 0.4)
      .select(col("id_b").as("vec_id")).distinct()
    val dropped = Similarity.semDedup(emb, 0.4)
      .filter(col("dropped")).select("vec_id")
    val nIdeal = ideal.agg(count(lit(1)).as("n_ideal"))
    val nHit = ideal.join(dropped, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nUnjust = dropped.join(ideal, Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_unjust"))
    nIdeal.crossJoin(nHit).crossJoin(nUnjust).select(
      col("n_ideal"),
      (col("n_hit") >= col("n_ideal") * lit(0.7)).as("recall_ok"),
      (col("n_unjust") === 0).as("drops_justified"))
  }

  /** d14 — PERSISTED-LSH incremental embedding dedup: the per-ingest
    * form of d05 (the c02/st11 cost-∝-delta discipline lifted to the
    * embedding modality). The base corpus's sign-LSH band table is
    * written to the lake ONCE ([[Similarity.bandTable]] → parquet);
    * the delta batch (vec_id % 4 == 3, ~25%) probes only the stored
    * bands plus itself and exact-verifies candidates
    * ([[Similarity.probeNearDupDelta]]). Contract: (1) the
    * incremental pairs EQUAL a full nearDupPairs rebuild restricted to
    * delta-touching pairs — a theorem of seeded tables, COMPUTED here
    * (set equality via counts + union cardinality), never assumed;
    * (2) d05's recall bound vs the exact delta-touching truth that
    * DuckDB recomputes (measured: 0.909 at sf0.01 [20/22 hits, bound
    * needs 18], 0.965 at sf0.1 [390/404, needs 324] — RecallProbe d14
    * row; bound 0.8 keeps >=2 hits of margin at both SFs).
    * st18 is the streaming form ([[graft.streaming.EmbedStreams]]). */
  private[graft] def d14(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (n, dim) = Similarity.corpusStats(emb)
    val tables = Similarity.nearDupTables(n, dim, 0.4)
    val base = emb.filter(col("vec_id") % 4 =!= 3)
    val delta = emb.filter(col("vec_id") % 4 === 3)
    val idx = Scratch.path("lshidx", d)
    Similarity.bandTable(base, tables).write.mode("overwrite").parquet(idx)
    val inc = Similarity
      .probeNearDupDelta(delta, s.read.parquet(idx), base, 0.4, tables)
      .select("id_a", "id_b").localCheckpoint(true)
    val rebuild = Similarity.nearDupPairs(emb, 0.4, stats = Some((n, dim)))
      .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
      .select("id_a", "id_b").localCheckpoint(true)
    val truth = Similarity.bruteForcePairs(emb, 0.4)
      .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
      .select("id_a", "id_b").localCheckpoint(true)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nHit = truth.join(inc, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nInc = inc.agg(count(lit(1)).as("n_inc"))
    val nReb = rebuild.agg(count(lit(1)).as("n_rebuild"))
    val nUnion = inc.unionByName(rebuild).distinct()
      .agg(count(lit(1)).as("n_union"))
    nTrue.crossJoin(nHit).crossJoin(nInc).crossJoin(nReb).crossJoin(nUnion)
      .select(col("n_true"),
        (col("n_hit") >= col("n_true") * lit(0.8)).as("recall_ok"),
        (col("n_inc") === col("n_rebuild") &&
          col("n_union") === col("n_inc")).as("inc_eq_rebuild"))
  }

  /** d15 — index TAKEDOWN (right-to-be-forgotten / licensing
    * retraction on d14's persisted LSH index): withdrawn ids' vectors,
    * band rows, and every near-dup pair referencing them physically
    * leave the lake, rewriting ONLY the ingest_batch partitions they
    * landed in ([[graft.streaming.EmbedStreams.retractIds]]). The
    * audit row a pipeline records per takedown: exact before/after/
    * takedown counts (DuckDB-recomputable), `purge_complete` (no
    * retracted id survives in ANY store — computed by re-scanning all
    * three), and `stores_eq_rebuild` (every store byte-equals an index
    * built from scratch without the retracted ids, same batch split —
    * order-insensitive bit_xor(xxhash64) signatures per store). The
    * rebuild + re-scan harness is the audit; the OPERATOR a pipeline
    * executes per takedown is one `retractIds` call — Bench measures
    * that form against a prebuilt index (benchOverrides rule). */
  private[graft] def d15(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (n, dim) = Similarity.corpusStats(emb)
    val tables = Similarity.nearDupTables(n, dim, 0.4)
    val idxA = Scratch.path("takedown_a", d)
    val idxB = Scratch.path("takedown_b", d)
    Scratch.wipe(idxA); Scratch.wipe(idxB)
    val b0 = emb.filter(col("vec_id") % 4 =!= 3)
    val b1 = emb.filter(col("vec_id") % 4 === 3)
    graft.streaming.EmbedStreams.ingestBatch(b0, 0L, idxA, tables, 0.4)
    graft.streaming.EmbedStreams.ingestBatch(b1, 1L, idxA, tables, 0.4)
    val takedown = emb.filter(col("vec_id") % 10 === 7).select("vec_id")
    graft.streaming.EmbedStreams.retractIds(takedown, idxA)
    graft.streaming.EmbedStreams.ingestBatch(
      b0.join(takedown, Seq("vec_id"), "left_anti"), 0L, idxB, tables, 0.4)
    graft.streaming.EmbedStreams.ingestBatch(
      b1.join(takedown, Seq("vec_id"), "left_anti"), 1L, idxB, tables, 0.4)
    def sig(idx: String, store: String, cols: Seq[String]): DataFrame =
      s.read.parquet(s"$idx/$store")
        .select(xxhash64((col("ingest_batch").cast("long").cast("string") +:
          cols.map(c => col(c).cast("string"))): _*).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("g"))
    val stores = Seq(
      ("bands", Seq("id", "table", "bucket")),
      ("vecs", Seq("vec_id", "embedding")),
      ("pairs", Seq("id_a", "id_b", "sim")))
    val eq = stores.map { case (st, cols) =>
      sig(idxA, st, cols).crossJoin(
          sig(idxB, st, cols).withColumnRenamed("n", "n2")
            .withColumnRenamed("g", "g2"))
        .select((col("n") === col("n2") && col("g") === col("g2"))
          .as(s"eq_$st"))
    }.reduce(_.crossJoin(_))
      .select((col("eq_bands") && col("eq_vecs") && col("eq_pairs"))
        .as("stores_eq_rebuild"))
    val leftover = stores.map { case (st, cols) =>
      val keys = if (st == "pairs") Seq("id_a", "id_b")
        else Seq(cols.head)
      val df = s.read.parquet(s"$idxA/$st")
      keys.map(k => df.join(takedown,
          df(k) === takedown("vec_id"), "left_semi")
        .agg(count(lit(1)).as("c"))).reduce(_.unionByName(_))
    }.reduce(_.unionByName(_)).agg(sum(col("c")).as("n_leftover"))
    emb.agg(count(lit(1)).as("n_vecs_before"))
      .crossJoin(broadcast(s.read.parquet(s"$idxA/vecs")
        .agg(count(lit(1)).as("n_vecs_after"))))
      .crossJoin(broadcast(takedown.agg(count(lit(1)).as("n_takedown"))))
      .crossJoin(broadcast(leftover
        .select((col("n_leftover") === 0).as("purge_complete"))))
      .crossJoin(broadcast(eq))
  }

  /** s01 — brute-force exact cosine top-10 for query vectors vec_id<10
    * (codegen'd CosineSimilarity kernel, broadcast queries). */
  private[graft] def s01(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
  }

  /** s09 — MMR diversity re-rank of the cosine top-20 pool, k=10 per
    * query ([[Similarity.mmrRerank]]); full deterministic oracle — the
    * DuckDB side replays the greedy with a recursive CTE carrying the
    * selected set, and λ=1/2 keeps every score bit-identical. */
  private[graft] def s09(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.mmrRerank(emb, emb.filter(col("vec_id") < 10))
  }

  /** s05 — int8-quantized brute-force top-10: integer scores are exact
    * both engines (QUANTIZATION CONTRACT, QuantizeExpressions.scaladoc),
    * so unlike s02/s03 this approximate-SEARCH-QUALITY operator still
    * gets a full deterministic oracle — the SQL recomputes scale
    * vector, codes and int64 scores and must hash-match bit-for-bit. */
  private[graft] def s05(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
  }

  /** Shared shape of the ANN recall checks (s02/s03): recall@10 of an
    * approximate top-k against the exact brute-force top-k (s01's path),
    * per query. Both sides are deterministic (seeded LSH / seeded
    * KMeans, unique-tie-break rankings), so `n_hit >= minHits` is a
    * stable boolean the oracle asserts per query id. */
  private[graft] def annRecallCheck(approx: DataFrame, exact: DataFrame,
                             minHits: Int): DataFrame = {
    val truthPairs = exact.select(col("query_id"), col("cand_id"))
    val hits = truthPairs
      .join(approx.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    truthPairs.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hit"), lit(0L)) >= minHits).as("recall_ok"))
  }

  /** s02 — LSH-bucketed approximate top-10 with exact re-rank, checked
    * as recall@10 >= 0.6 per query vs the brute-force truth (measured
    * min hits = 8 at sf0.01 AND sf0.1 — see graft.RecallProbe; the
    * fixture embeddings are near-random, 10th neighbors at cosine ~0.25,
    * so the auto-tuned table/plane budget from
    * [[graft.operators.Similarity.tuneSignLsh]] is what carries this). */
  private[graft] def s02(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    annRecallCheck(
      Similarity.lshTopK(emb, q, k = 10),
      Similarity.bruteForceTopK(emb, q, k = 10), minHits = 6)
  }

  /** s03 — IVF approximate top-10 (hash-ranked deterministic k-means
    * training sample + nProbe probing + exact rerank), checked as
    * recall@10 >= 0.4 per query vs the brute-force truth. nProbe/nLists
    * = 7/16 of the corpus is scanned; measured min hits = 5 at both SFs
    * with the partition-independent training sample (RecallProbe), so 4
    * is the contract with one hit of margin — honest for near-random
    * embeddings where cell residency barely correlates with top-10
    * membership. */
  private[graft] def s03(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    annRecallCheck(
      Similarity.ivfTopK(emb, q, k = 10, nProbe = 7),
      Similarity.bruteForceTopK(emb, q, k = 10), minHits = 4)
  }

  /** s10 — product-quantization ANN ([[Similarity.pqTopK]]: per-
    * subspace sub-quantizer codebooks + ADC lookup-table scoring +
    * exact re-rank of the top-250 shortlist), checked as recall@10 >=
    * 0.5 per query vs the brute-force truth. Measured min hits = 6 at
    * sf0.1 and 10 at sf0.01 (RecallProbe), so 5 is the contract with
    * one hit of margin — the fixture's near-random 64-dim embeddings
    * are PQ's hardest case (no cluster structure for codebooks to
    * exploit), which is exactly why the wide-shortlist dial is the
    * honest production shape. */
  private[graft] def s10(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    annRecallCheck(
      Similarity.pqTopK(emb, q, k = 10),
      Similarity.bruteForceTopK(emb, q, k = 10), minHits = 5)
  }

  /** s11 — hard-negative mining ([[Similarity.hardNegatives]]): per
    * anchor (vec_id < 10), the 5 most similar vectors with a DIFFERENT
    * label — the contrastive-training batch-builder. Full
    * deterministic oracle: both engines rank the identical
    * 9dp-rounded cosine + cand_id total order. */
  private[graft] def s11(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** s12 — FILTERED vector search ([[Similarity.ivfTopKFiltered]]):
    * IVF ANN under a metadata predicate (candidates must share the
    * query's label — every production vector store's "metadata
    * filtering" problem). The ~10%-selective label filter is the
    * known-hard regime: it thins every probed cell, so the operator
    * widens nProbe to 10 (vs s03's 7) and the contract measures what
    * that buys — recall@10 >= 0.5 per query vs the exact label-
    * filtered brute-force truth. Measured min hits = 6 at BOTH sf0.01
    * and sf0.1 (RecallProbe, mean 8.0/7.8), so 5 is the contract with
    * one hit of margin. */
  private[graft] def s12(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    annRecallCheck(
      Similarity.ivfTopKFiltered(emb, q, k = 10, nProbe = 10),
      Similarity.bruteForceTopKFiltered(emb, q, k = 10), minHits = 5)
  }

  /** s15 — ANN search over the PERSISTED LSH index: s02's lshTopK
    * without re-bucketing the corpus per query batch — the search-side
    * use of d14's lake-resident band table
    * ([[Similarity.lshTopKOverIndex]]). A production vector store
    * builds the index once per corpus version and every retrieval
    * batch probes it; rebuilding per run is the thing this exists to
    * stop. Contract: (1) s02's recall bound vs the brute-force truth
    * (identical seeded tables ⇒ the candidates — hence recall — are
    * s02's: measured min hits 8 at both SFs vs bound 6, RecallProbe
    * s02 row); (2) result EQUALS the rebuild form lshTopK — computed
    * set equality, the d14 discipline. */
  private[graft] def s15(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val (n, dim) = Similarity.corpusStats(emb)
    // the SAME tuning lshTopK auto-derives (simFloor .25, recall .9)
    val tables = Similarity.nearDupTables(n, dim, 0.25, targetRecall = 0.9)
    val idx = Scratch.path("lshsearch", d)
    Similarity.bandTable(emb, tables).write.mode("overwrite").parquet(idx)
    val q = emb.filter(col("vec_id") < 10)
    val approx = Similarity
      .lshTopKOverIndex(emb, s.read.parquet(idx), q, k = 10, tables)
      .localCheckpoint(true)
    val direct = Similarity.lshTopK(emb, q, k = 10)
    val eq = approx.unionByName(direct).distinct()
      .agg(count(lit(1)).as("n_u"))
      .crossJoin(approx.agg(count(lit(1)).as("n_a")))
      .crossJoin(direct.agg(count(lit(1)).as("n_d")))
      .select((col("n_u") === col("n_a") && col("n_a") === col("n_d"))
        .as("idx_eq_rebuild"))
    annRecallCheck(approx, Similarity.bruteForceTopK(emb, q, k = 10),
        minHits = 6)
      .crossJoin(broadcast(eq))
  }

  /** s16 — IVFADC, the composed production ANN index
    * ([[Similarity.ivfAdcTopK]]: IVF coarse cells + product-quantized
    * RESIDUALS + per-(query, cell) ADC lookup tables + exact rerank —
    * Jégou, Douze & Schmid 2011 §IV, the faiss IndexIVFPQ shape),
    * checked as recall@10 >= 0.4 per query vs the brute-force truth.
    * Measured min hits = 5 at BOTH SFs with m=16 subspaces and the
    * 500-wide ADC shortlist (RecallProbe) — exactly the coarse
    * quantizer's cell-residency ceiling (s03's measured min), i.e.
    * the residual-PQ stage recovers every true neighbor the cell
    * routing kept; 4 is the contract with one hit of margin. The
    * composite is the 100 TB memory story: a scanned candidate costs
    * m one-byte codes + its cell id, not the float vector, and only
    * nProbe/nLists of the corpus is scanned at all. */
  private[graft] def s16(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    annRecallCheck(
      Similarity.ivfAdcTopK(emb, q, k = 10, m = 16, rerank = 500),
      Similarity.bruteForceTopK(emb, q, k = 10), minHits = 4)
  }

  /** s18 — ANN search over the PERSISTED IVFADC index: s16's two
    * halves with the index written to — and re-read from — the lake in
    * between ([[Similarity.buildIvfAdcIndex]] → parquet →
    * [[Similarity.ivfAdcSearch]]): the s15 discipline on the IVFADC
    * modality. A production vector store trains the quantizers and
    * encodes the corpus once per version; every retrieval batch loads
    * three metadata-to-codes-sized tables and probes them — retraining
    * k-means + codebooks per query batch is the thing this exists to
    * stop. Contract: (1) s16's recall bound vs the brute-force truth
    * (same build, hence same measured min hits 5 at both SFs, bound
    * 4); (2) the persisted-index results EQUAL the in-memory rebuild
    * form — computed set equality over the full (query, rnk, cand,
    * sim) rows, the d14/s15 discipline, which also proves the parquet
    * roundtrip of centroids/codebook/codes is bit-faithful. */
  private[graft] def s18(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
    val root = Scratch.path("ivfadc", d)
    val built = Similarity.buildIvfAdcIndex(emb, m = 16)
    built.centroids.write.mode("overwrite").parquet(s"$root/centroids")
    built.codebook.write.mode("overwrite").parquet(s"$root/codebook")
    built.codes.write.mode("overwrite").parquet(s"$root/codes")
    val persisted = Similarity.IvfAdcIndex(
      s.read.parquet(s"$root/centroids"),
      s.read.parquet(s"$root/codebook"),
      s.read.parquet(s"$root/codes"))
    val approx = Similarity
      .ivfAdcSearch(emb, persisted, q, k = 10, m = 16, rerank = 500)
      .localCheckpoint(true)
    val direct = Similarity.ivfAdcTopK(emb, q, k = 10, m = 16,
      rerank = 500)
    val eq = approx.unionByName(direct).distinct()
      .agg(count(lit(1)).as("n_u"))
      .crossJoin(approx.agg(count(lit(1)).as("n_a")))
      .crossJoin(direct.agg(count(lit(1)).as("n_d")))
      .select((col("n_u") === col("n_a") && col("n_a") === col("n_d"))
        .as("idx_eq_rebuild"))
    annRecallCheck(approx, Similarity.bruteForceTopK(emb, q, k = 10),
        minHits = 4)
      .crossJoin(broadcast(eq))
  }

  /** Deterministic TEXT-side query vectors for the cross-modal search
    * (s19): a paired-encoder (CLIP-style) training setup puts both
    * modalities in ONE space, with a caption's vector NEAR — never
    * equal to — its image's. The container has no encoder models (the
    * m-family decode discipline), so the text encoder is a
    * deterministic fake: each image embedding for vec_id < 10 gets a
    * per-coordinate hash-derived perturbation (±0.20, xxhash64 of
    * (vec_id, coordinate) — reproducible on any partitioning) and a
    * +100000 id offset so the two modalities' key spaces never
    * collide. The Spark-side plumbing — id spaces, shared-space
    * probing, index reuse — is the real thing; only the encoder is
    * faked, exactly like the multimodal codec stubs. */
  private[graft] def crossModalQueries(s: SparkSession,
                                       d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id"), i), lit(41L)) - lit(20L))
            .cast("double") / lit(100.0)).cast("float")).as("embedding"))

  /** s19 — CROSS-MODAL retrieval (text → image) through the PERSISTED
    * image-side IVFADC index: the composition the s18 index exists
    * for — the image corpus is indexed ONCE (coarse cells + residual
    * PQ codes in the lake, [[cachedIvfAdcIndex]]), and query batches
    * from the OTHER modality probe it; nothing about IVFADC is
    * image-specific because both encoders target the same space, so
    * the probe is [[Similarity.ivfAdcSearch]] unchanged — no rebuild,
    * no modality-specific index. Contract: recall@10 per text query
    * vs the exact cross-modal brute force (text query × image corpus
    * cosine), at nProbe = 9 — a cross-modal query sits BETWEEN cells
    * (its perturbation moves it off the image's centroid), so it
    * buys two more probes than the same-modality s16/s18 dial; the
    * honest cross-encoder trade, scan 9/16 of the cells instead of
    * 7/16. Measured min hits 6 at BOTH SFs (RecallProbe: nProbe 7
    * gives min 4, 9 gives 6, 11 gives 8); bound 5 keeps 1 unit of
    * margin at both SFs (RecallMarginSpec). */
  private[graft] def s19(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val tq = crossModalQueries(s, d)
    val approx = Similarity.ivfAdcSearch(emb, cachedIvfAdcIndex(s, d),
      tq, k = 10, nProbe = 9, rerank = 500)
    annRecallCheck(approx, Similarity.bruteForceTopK(emb, tq, k = 10),
      minHits = 5)
  }

  /** s20 — INCREMENTAL IVFADC maintenance against the FROZEN index
    * ([[Similarity.encodeIvfAdc]] + [[graft.sources.VersionedLake]]):
    * the ingest half of the s18 lifecycle — new vectors are only
    * ASSIGNED and ENCODED (coarse centroids + PQ codebook trained once
    * per index version, never per batch; cost ∝ delta), their code
    * rows landing as four exactly-once txn-deduped APPEND commits on a
    * cell-partitioned versioned codes table (the faiss
    * `IndexIVFPQ.add` shape; st21 runs the same path under a real
    * stream). Contract, the q86/q88 rebuild discipline on this
    * modality: (1) the batch-accumulated codes table is computed-EQUAL
    * to a one-shot encode of the whole delta (per-row-independent
    * encode ⇒ batching cannot matter — set equality over the exact
    * integer (cand_id, cell, j, code) rows, which also proves the
    * lake roundtrip); (2) a SEARCH over base ∪ streamed codes equals
    * the search over base ∪ rebuilt codes — the consumer-visible form
    * of the same equality; (3) one version per batch and a replayed
    * txn is a no-op. n_new_vecs/n_codes are DuckDB-recomputable from
    * the delta's construction (m = 16 codes per vector). */
  private[graft] def s20(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val emb = Tables.embeddings(s, d)
    val idx = cachedIvfAdcIndex(s, d)
    val lake = Scratch.path("codeslake", d)
    VersionedLake.reset(s, lake)
    val delta = emb.filter(col("vec_id") % 10 < 4)
      .withColumn("vec_id", col("vec_id") + 200000L)
    (0 to 3).foreach { r =>
      VersionedLake.commitBatchAppend(
        Similarity.encodeIvfAdc(
          delta.filter(pmod(col("vec_id"), lit(4)) === r), idx),
        "cell", lake, txn = r.toLong)
    }
    val oneVersionPerBatch =
      VersionedLake.versions(s, lake) == Seq(1, 2, 3, 4)
    val replayNoop = VersionedLake.commitBatchAppend(
      Similarity.encodeIvfAdc(delta.limit(3), idx), "cell", lake,
      txn = 3L) == 4
    val streamed = VersionedLake.readLatest(s, lake)
      .select(col("cand_id"), col("cell"), col("j"), col("code"))
      .localCheckpoint(true)
    val rebuilt = Similarity.encodeIvfAdc(delta, idx)
    def setEq(a: DataFrame, b: DataFrame, name: String): DataFrame =
      a.unionByName(b).distinct().agg(count(lit(1)).as("n_u"))
        .crossJoin(a.agg(count(lit(1)).as("n_a")))
        .crossJoin(b.agg(count(lit(1)).as("n_b")))
        .select((col("n_u") === col("n_a") && col("n_a") === col("n_b"))
          .as(name))
    val codesEq = setEq(streamed, rebuilt, "codes_eq_rebuild")
    // the consumer-visible equality: search base ∪ delta through each
    // codes table
    val corpus = emb.unionByName(delta)
    val q = emb.filter(col("vec_id") < 10)
    def searchWith(codes: DataFrame): DataFrame = Similarity
      .ivfAdcSearch(corpus,
        Similarity.IvfAdcIndex(idx.centroids, idx.codebook,
          idx.codes.unionByName(codes)),
        q, k = 10, rerank = 500)
      .localCheckpoint(true)
    val searchEq = setEq(searchWith(streamed), searchWith(rebuilt),
      "search_eq_rebuild")
    streamed.agg(countDistinct(col("cand_id")).as("n_new_vecs"),
        count(lit(1)).as("n_codes"))
      .withColumn("one_version_per_batch",
        lit(oneVersionPerBatch && replayNoop))
      .crossJoin(broadcast(codesEq))
      .crossJoin(broadcast(searchEq))
  }

  /** s21 — IVFADC index TAKEDOWN (right-to-be-forgotten on the
    * persisted-codes modality — d15's discipline applied to the s20
    * codes lake): retracted vector ids' code rows must physically
    * leave the index, executed as ONE keyed MERGE-delete commit
    * ([[graft.sources.VersionedLake.commitMerge]] tombstones) — the
    * takedown list left-semi-joins the slim codes table to derive its
    * tombstone rows (each vector's m code rows share its ONE cell, so
    * the merge rewrites only the retracted vectors' cells; untouched
    * cells carry forward by pointer, and a fully-emptied cell leaves
    * the manifest via forceReplaced). Contract, the d15 equivalence:
    * the post-takedown codes table is SET-EQUAL to an index that
    * NEVER ingested the retracted vectors (encodeIvfAdc over the
    * surviving delta — frozen codebooks make that a pure per-row
    * function), purge_complete re-scans for any surviving retracted
    * id, and the pre/post counts are DuckDB-recomputable from the
    * delta's construction (m = 16 rows per vector). The takedown
    * history itself stays auditable: the pre-takedown version remains
    * readable until vacuum — data deletion is completed by the l10
    * retention path, exactly Delta's delete-then-vacuum story. */
  private[graft] def s21(s: SparkSession, d: String): DataFrame = {
    import graft.sources.VersionedLake
    val emb = Tables.embeddings(s, d)
    val idx = cachedIvfAdcIndex(s, d)
    val lake = Scratch.path("cdtdlake", d)
    VersionedLake.reset(s, lake)
    val delta = emb.filter(col("vec_id") % 10 < 4)
      .withColumn("vec_id", col("vec_id") + 200000L)
    (0 to 1).foreach { r =>
      VersionedLake.commitBatchAppend(
        Similarity.encodeIvfAdc(
          delta.filter(pmod(col("vec_id"), lit(2)) === r), idx),
        "cell", lake, txn = r.toLong)
    }
    val retract = delta.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("cand_id"))
    val before = VersionedLake.readLatest(s, lake).localCheckpoint(true)
    val tomb = before.join(broadcast(retract), Seq("cand_id"), "left_semi")
      .withColumn("is_delete", lit(true))
    VersionedLake.commitMerge(tomb, Seq("cand_id", "j"), "cell", lake,
      deleteCol = Some("is_delete"))
    val after = VersionedLake.readLatest(s, lake).localCheckpoint(true)
    val purge = after.join(broadcast(retract), Seq("cand_id"), "left_semi")
      .agg(count(lit(1)).as("n_left"))
      .select((col("n_left") === 0L).as("purge_complete"))
    // the d15 equivalence: indistinguishable from never-ingested
    val never = Similarity.encodeIvfAdc(
      delta.join(retract.withColumnRenamed("cand_id", "vec_id"),
        Seq("vec_id"), "left_anti"), idx)
    val sel = Seq("cand_id", "cell", "j", "code").map(col)
    val eq = after.select(sel: _*).unionByName(never.select(sel: _*))
      .distinct().agg(count(lit(1)).as("n_u"))
      .crossJoin(after.agg(count(lit(1)).as("n_a")))
      .crossJoin(never.agg(count(lit(1)).as("n_n")))
      .select((col("n_u") === col("n_a") && col("n_a") === col("n_n"))
        .as("equiv_never_ingested"))
    before.agg(count(lit(1)).as("n_codes_before"))
      .crossJoin(after.agg(count(lit(1)).as("n_codes_after")))
      .crossJoin(broadcast(purge))
      .crossJoin(broadcast(eq))
  }

  /** s13 — distributed Lloyd k-means refinement (LLOYD K-MEANS
    * CONTRACT, KMeansLloyd.scaladoc): k=8, 2 full-corpus iterations on
    * the int8-quantized embeddings — hash-ranked deterministic seeds,
    * assignment as a closure-broadcast codegen projection, update as
    * ONE map-side-combined (sums[], n) aggregation per round, floor-div
    * integer centroids. Integer-exact end to end, so the oracle
    * replays both unrolled iterations in SQL and every (cid, dist,
    * cluster_n) cell must hash-match — a FULL oracle where the
    * sampling-based IVF fit (s03) can only contract recall. */
  private[graft] def s13(s: SparkSession, d: String): DataFrame =
    graft.operators.KMeansLloyd.fitPredict(
      Tables.embeddings(s, d), k = 8, iters = 2)

  /** s14 — embedding DRIFT monitor: the train/serve-skew check a
    * production retrieval/curation pipeline runs between two corpus
    * snapshots (here the deterministic vec_id-parity halves standing
    * in for "last month" vs "this month"): per label — snapshot sizes,
    * per-side squared-norm masses, and the max per-dimension centroid
    * displacement. Everything INTEGER: embeddings quantize to 1e-4
    * grid scalars AFTER posexplode (scalar codegen arithmetic — no
    * per-element lambda), and the centroid difference clears its
    * denominators as d_i = n_cand·Σref_i − n_ref·Σcand_i, so no float
    * division ever happens and the gate hash-matches exactly. Scale
    * shape: two map-side-combined counter aggregations (per (label,
    * dim) and per label), label-count-sized output; the vector frame
    * never self-joins. */
  private[graft] def s14(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        (col("vec_id") % 2 === 1).as("cand"), col("embedding"))
    val ex = base
      .select(col("label"), col("cand"), posexplode(col("embedding")))
      .select(col("label"), col("cand"), col("pos"),
        floor(col("col").cast("double") * 10000 + 0.5).cast("long").as("q"))
    val byDim = ex.groupBy(col("label"), col("pos"))
      .agg(coalesce(sum(when(!col("cand"), col("q"))), lit(0L)).as("sr"),
        coalesce(sum(when(col("cand"), col("q"))), lit(0L)).as("sc"))
    // snapshot sizes from the UN-exploded frame — a zero-length embedding
    // has no pos=0 row post-explode but the oracle's per-row lab CTE (and
    // any sane "how many vectors" semantics) still counts it
    val counts = base.groupBy(col("label"))
      .agg(count(when(!col("cand"), 1)).as("n_ref"),
        count(when(col("cand"), 1)).as("n_cand"))
    val byLabel = ex.groupBy(col("label"))
      .agg(
        coalesce(sum(when(!col("cand"), col("q") * col("q"))), lit(0L))
          .as("norm2_ref"),
        coalesce(sum(when(col("cand"), col("q") * col("q"))), lit(0L))
          .as("norm2_cand"))
      .join(counts, "label")
    byDim.join(byLabel, "label")
      .groupBy(col("label"), col("n_ref"), col("n_cand"),
        col("norm2_ref"), col("norm2_cand"))
      .agg(max(abs(col("n_cand") * col("sr") - col("n_ref") * col("sc")))
        .as("shift_max"))
  }

  /** t06 — stopword filtering: token counts before/after removing the
    * English stopword set (a standard cleaning stage ahead of
    * shingling/dedup). */
  private[graft] def t06(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
    val toks = TextFunctions.tokenSet(col("text"))
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      size(array_except(toks, array(stop.map(lit): _*))).cast("long")
        .as("n_content_tokens"))
  }

  /** s04 — label centroids via the typed [[graft.functions.VectorStats]]
    * Aggregator (one (sums, n) buffer per group vs the 64× shuffle of
    * explode+avg), exploded to (label, dim, sum, n) for the oracle.
    * Emits round(sum,4) + n, never a rounded mean — the consumer divides
    * (same .xx5 cross-engine discipline as q22/q32). */
  private[graft] def s04(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(graft.functions.VectorStats.vectorStats(col("embedding")).as("st"))
      .select(col("label"), col("st.n").as("n"), posexplode(col("st.sums")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        round(col("col"), 4).as("s"), col("n"))

  /** t01 — stopword-heuristic language ID with per-language scores and
    * deterministic argmax (tie → first in de<en<es<fr<zh order). */
  private[graft] def t01(s: SparkSession, d: String): DataFrame = {
    val txt = col("text")
    val scores = TextFunctions.langMarkers.map { case (lang, _) =>
      lang -> TextFunctions.langScore(txt, lang)
    }
    Tables.documents(s, d).select(
      col("doc_id") +:
        scores.map { case (lang, c) => c.as(s"s_$lang") } :+
        TextFunctions.langPredict(scores).as("predicted"): _*)
  }

  /** t02 — quality scoring: length / word / punctuation / stopword
    * signals combined into one [0,1] score. */
  private[graft] def t02(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("double")
    val nWords = regexp_count(t, lit("\\S+")).cast("double")
    val nPunct = regexp_count(t, lit("[^A-Za-z0-9\\s]")).cast("double")
    val nStop = regexp_count(lower(t),
      lit(TextFunctions.langMarkers.toMap.apply("en"))).cast("double")
    // nullif guards: an empty/whitespace-only doc has nChars/nWords = 0,
    // where unguarded Spark (non-ANSI) emits NULL but DuckDB emits
    // inf/nan — both engines must agree on NULL for the hash to match
    val punctRatio = nPunct / nullif(nChars, lit(0.0))
    val stopRatio = nStop / nullif(nWords, lit(0.0))
    Tables.documents(s, d).select(
      col("doc_id"),
      nChars.cast("long").as("n_chars_m"),
      nWords.cast("long").as("n_words"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stop_ratio"),
      round(nChars / nullif(nWords, lit(0.0)), 4).as("chars_per_word"),
      round(least(lit(1.0), nWords / 50.0) * (lit(1.0) - punctRatio)
        * least(lit(1.0), lit(0.5) + stopRatio), 4).as("quality"))
  }

  /** t03 — token counting: whitespace tokens + BPE-ish pre-tokenizer
    * count (letter runs / digits / marks). */
  private[graft] def t03(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("ws_tokens"),
      TextFunctions.bpeishTokenCount(col("text")).as("bpe_tokens"),
      round(length(col("text")).cast("double") /
        TextFunctions.bpeishTokenCount(col("text")).cast("double"), 4)
        .as("chars_per_token"))

  /** t04 — document fingerprint: md5 over normalized text (case/punct/
    * whitespace-invariant exact-dup key). */
  private[graft] def t04(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))

  /** t07 — vocabulary builder: token frequency + document frequency,
    * top 50 by tf with a total tie-break. The classic first pass of
    * tokenizer training / stopword discovery; one explode + one hash
    * aggregation, partial-combined map-side. */
  private[graft] def t07(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("tok").asc)
      .limit(50)

  /** t08 — deterministic hash-ranked stratified sampling: per source,
    * the 5 docs with the smallest md5(doc_id) — the reproducible
    * sampling primitive a training pipeline needs (no RNG state: stable
    * across retries, engines and partitionings, mirrorable in SQL).
    * row_number + rank filter plans as WindowGroupLimit, so only ~5
    * candidates per stratum survive each partial. */
  private[graft] def t08(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("source"), col("rn").cast("long").as("rn"))
  }

  /** t09 — PII-style redaction: emails / IPv4s / phone-like digit runs
    * scrubbed to typed tags, with per-doc match counts. Behavior on
    * planted PII lives in TextFunctionsSpec; the oracle pins
    * cross-engine regex parity on the real corpus. */
  private[graft] def t09(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      TextFunctions.redact(col("text")).as("redacted"),
      regexp_count(col("text"), lit(TextFunctions.emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(TextFunctions.ipRe)).cast("long").as("n_ips"),
      regexp_count(col("text"), lit(TextFunctions.phoneRe)).cast("long").as("n_phones"))

  /** t10 — TF-IDF keywords: top-3 tokens per document. The RANKING key
    * is integer-only (tf desc, df asc, tok) — ordering by the float
    * tfidf would let a last-ulp ln() difference between engines swap
    * near-ties across the top-3 cutoff; the tfidf VALUE itself is
    * emitted (4 dp) where a boundary landing is measure-zero. */
  private[graft] def t10(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    tf.join(dfTab, "tok").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** t11 — repetition signals (Gopher-style quality filters): word
    * counts, distinct ratio, and the share of the doc taken by its most
    * frequent token. Integer ratios only — no transcendental functions
    * in anything the oracle hashes order-sensitively. */
  private[graft] def t11(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("tok"))
    val perTok = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val agg = perTok.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_words"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_tf"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).cast("long").as("n_words"),
        coalesce(col("n_distinct"), lit(0L)).cast("long").as("n_distinct"),
        coalesce(col("top_tf"), lit(0L)).cast("long").as("top_tf"),
        round(col("top_tf").cast("double") /
          nullif(col("n_words"), lit(0L)), 4).as("rep_ratio"),
        round(col("n_distinct").cast("double") /
          nullif(col("n_words"), lit(0L)), 4).as("distinct_ratio"))
  }

  /** t12 — Misra–Gries heavy hitters over a deterministic Zipfian token
    * stream. The stream is md5 arithmetic BOTH engines reproduce
    * (rank = floor(1e6/(m+1)), m = first-6-hex(md5("id:slot")) % 1e6 —
    * rank r lands with probability ~1/r², so a genuine heavy head
    * exists and the 20000-rank vocabulary forces real MG evictions).
    * MG estimates are merge-order-dependent, so the emitted rows are
    * the DETERMINISTIC exact heavy hitters (true·(k+1) > N, integer
    * arithmetic) with booleans asserting the sketch's guarantees:
    * every heavy token is present, and its estimate sits within
    * [true − N/(k+1), true] — checked as (true−est)·(k+1) ≤ N, exact. */
  /** The deterministic Zipfian token stream shared by t12 and q67:
    * 30 slots per doc, rank = floor(1e6/(m+1)) with m = first-6-hex of
    * md5("id:slot") % 1e6 — md5 arithmetic both engines reproduce, and
    * rank r lands with probability ~1/r² so a genuine heavy head exists. */
  private[graft] def zipfTokens: Column =
    transform(sequence(lit(1), lit(30)), i => {
      val h = md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string")))
      val m = pmod(conv(substring(h, 1, 6), 16, 10).cast("long"),
        lit(1000000L))
      concat(lit("zipf"), least(
        floor(lit(1000000.0) / (m + 1).cast("double")), lit(20000.0))
        .cast("long").cast("string"))
    })

  private[graft] def t12(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val toks = Tables.documents(s, d).select(explode(zipfTokens).as("token"))
    val totals = toks.agg(count(lit(1)).as("n_stream"))
    val sketch = toks.agg(graft.functions.FrequentTokens
      .frequentTokens(col("token"), k).as("sk"))
    val est = coalesce(element_at(col("sk"), col("token")), lit(0L))
    toks.groupBy("token").agg(count(lit(1)).as("n_true"))
      .crossJoin(totals).crossJoin(sketch)
      .filter(col("n_true") * (k + 1) > col("n_stream"))
      .select(col("token"), col("n_true"),
        element_at(col("sk"), col("token")).isNotNull.as("in_sketch"),
        (est <= col("n_true") &&
          (col("n_true") - est) * (k + 1) <= col("n_stream")).as("est_ok"))
  }

  /** t26 — built-in approx_top_k heavy hitters (Spark 4's DataSketches
    * frequent-items aggregate) over t12's deterministic Zipfian
    * stream — the NATIVE-sketch twin of t12's hand-built Misra–Gries,
    * registered so both the custom and the built-in paths stay gated.
    * Sketch estimates are merge-order-dependent, so the emitted rows
    * are the exact truth counts for the frequent head (n_true·17 >
    * n_stream, t12's criterion) plus contract booleans: membership in
    * the sketch and the estimate inside the documented ±3.5·N/M
    * frequent-items band (M = 64 tracked items; measured estimates
    * are EXACT at both SFs — head items never evict — so the margin
    * is the whole band). */
  private[graft] def t26(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val toks = Tables.documents(s, d).select(explode(zipfTokens).as("token"))
    val totals = toks.agg(count(lit(1)).as("n_stream"))
    val sketch = toks.agg(
      expr(s"map_from_entries(approx_top_k(token, $k, 64))").as("sk"))
    val est = coalesce(element_at(col("sk"), col("token")), lit(0L))
    toks.groupBy("token").agg(count(lit(1)).as("n_true"))
      .crossJoin(totals).crossJoin(sketch)
      .filter(col("n_true") * (k + 1) > col("n_stream"))
      .select(col("token"), col("n_true"),
        element_at(col("sk"), col("token")).isNotNull.as("in_sketch"),
        (est >= col("n_true") - expr("(7 * n_stream) div 128") &&
          est <= col("n_true") + expr("(7 * n_stream) div 128"))
          .as("est_ok"))
  }

  /** t27 — BPE merge statistics, VOCABULARY-WEIGHTED form: the same
    * pair-frequency statistic as t20, re-planned the way real BPE
    * trainers run it — on the DISTINCT-WORD frame weighted by word
    * frequency, never on the raw occurrence stream. t20's pair
    * expansion costs Σ word lengths over the CORPUS (every occurrence
    * re-derives its pairs before the map-side combine); here the
    * corpus contributes ONE word-count aggregate and pair expansion
    * runs over Σ word lengths of the VOCABULARY — the form that
    * survives when the corpus is 10⁶× its vocabulary (the gated
    * alternate-plan pair discipline of q02/q02b). Top-50 under the
    * (count desc, pair asc) total order is a TakeOrderedAndProject —
    * no window anywhere. Integer exact. */
  private[graft] def t27(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    words.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("c"))
      .orderBy(col("c").desc, col("pair").asc)
      .limit(50)
  }

  /** t28 — frozen quality-classifier inference (LINEAR SCORE CONTRACT,
    * LinearScoreExpression.scaladoc): the model-based quality-filter
    * stage of an LLM data pipeline — a hashed-feature (unigram +
    * adjacent-bigram) linear scorer applied per document, keep
    * decision at score >= 0. The 4096-weight "model" ships inside the
    * codegen expression (addReferenceObj — never a literal tree, never
    * a join), so the whole query is a shuffle-free projection: the
    * shape that scans 100 TB at IO speed. n_feat = 2n-1 features for
    * n >= 1 tokens (unigrams + bigrams, with multiplicity). The oracle
    * re-derives every index from the md5 HEX STRING via substr/ascii
    * arithmetic — an independent route to the same 12 bits as the
    * expression's byte-nibble extraction. Integer-exact end to end. */
  private[graft] def t28(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
          .as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) * 2 - 1, lit(0)).cast("long")
          .as("n_feat"),
        graft.plans.LinearScore.linearScore(col("toks")).as("score"))
      .withColumn("keep", col("score") >= 0)

  /** t31 — classifier CALIBRATION for t28's frozen quality scorer: the
    * threshold sweep a pipeline runs before picking the keep cutoff —
    * confusion counts (tp/fp/fn/tn) plus exact integer precision/recall
    * (×10⁴) at 5 candidate thresholds, against a rule-derived reference
    * label (n_toks ∈ [25, 60] — the kind of heuristic label quality
    * classifiers are bootstrapped from, cf. CCNet/Gopher rules). Scale
    * shape: one corpus scan scores every doc (shuffle-free projection,
    * t28's plan), the explode is 5 counter rows per doc consumed by a
    * map-side-combined agg — output is 5 rows however big the corpus.
    * Integer-exact (the score itself is integer by the LINEAR SCORE
    * CONTRACT); zero-able denominators nullif'd BOTH sides. */
  private[graft] def t31(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(size(col("toks")).cast("long").as("n_toks"),
        graft.plans.LinearScore.linearScore(col("toks")).as("score"))
      .withColumn("truth", col("n_toks") >= 25 && col("n_toks") <= 60)
    scored.select(col("score"), col("truth"),
        explode(array(Seq(-40L, -20L, 0L, 20L, 40L).map(lit): _*)).as("thr"))
      .groupBy(col("thr"))
      .agg(
        count(when(col("score") >= col("thr") && col("truth"), 1)).as("tp"),
        count(when(col("score") >= col("thr") && !col("truth"), 1)).as("fp"),
        count(when(col("score") < col("thr") && col("truth"), 1)).as("fn"),
        count(when(col("score") < col("thr") && !col("truth"), 1)).as("tn"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("tp * 10000 div nullif(tp + fp, 0)").as("prec_x10k"),
        expr("tp * 10000 div nullif(tp + fn, 0)").as("rec_x10k"))
  }

  /** t32 — padding-waste profiler: the batching-efficiency question a
    * training/inference scheduler asks — how many pad tokens does a
    * fixed batch-of-32 layout burn under ARRIVAL order (docs batched
    * by salted md5 — i.i.d. shuffle) vs LENGTH-SORTED order (the
    * bucketed-batching fix)? Per batch: padding = max_len·n_docs −
    * Σ len. Both global orders rank WITHOUT an unpartitioned window:
    * arrival via the shared two-level `Curate.md5RankByStratum`
    * (constant stratum), sorted via per-LENGTH partitioned row_number
    * + broadcast `Ranks.exclusivePrefixTotals` over the (bounded-
    * domain) length histogram — the same decomposition, bucketed by
    * the value itself. Integer-exact. */
  private[graft] def t32(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(toks).cast("long").as("len"))
    // arrival order: salted-md5 rank (two-level inside)
    val arrival = graft.operators.Curate.md5RankByStratum(
        docs.withColumn("all", lit("all")), "doc_id", "all", "pad")
      .select(col("doc_id"), col("len"), col("rn"))
    // sorted order: rank under (len, md5, doc_id) = broadcast prefix
    // counts over the length histogram + a len-partitioned local rank
    val lenCounts = docs.groupBy(col("len")).agg(count(lit(1)).as("c"))
    val bases = graft.operators.Ranks.exclusivePrefixTotals(
      lenCounts, "len", "c")
    val wLen = Window.partitionBy(col("len")).orderBy(
      md5(concat(col("doc_id").cast("string"), lit(":pads"))).asc,
      col("doc_id").asc)
    val sorted = docs
      .withColumn("lrn", row_number().over(wLen).cast("long"))
      .join(broadcast(bases), "len")
      .select(col("doc_id"), col("len"), (col("base") + col("lrn")).as("rn"))
    def batches(ranked: DataFrame, strategy: String): DataFrame =
      ranked.groupBy(expr("(rn - 1) div 32").as("batch_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
          sum(col("len")).as("tok_sum"))
        .select(lit(strategy).as("strategy"), col("batch_id"),
          col("n_docs"), col("max_len"), col("tok_sum"),
          (col("max_len") * col("n_docs") - col("tok_sum")).as("padding"))
    batches(arrival, "arrival").unionAll(batches(sorted, "sorted"))
  }

  /** t29 — the BPE TRAINER LOOP itself: 3 full merge rounds, each =
    * count pairs → pick argmax → APPLY the merge to every word —
    * where t20/t27 measure one round's statistics, this runs the
    * actual iteration a tokenizer trainer runs. Per round: pair
    * counting on the distinct-word frame weighted by word frequency
    * (t27's vocabulary-bounded re-plan — the corpus contributes ONE
    * word-count aggregate, ever), argmax as a 1-row
    * TakeOrderedAndProject under the (count desc, l, r) total order,
    * and the merge applied by [[graft.plans.MergePair]] (greedy
    * left-to-right non-overlapping — codegen, no lambda fold). The
    * driver holds exactly one (l, r) pair per round — the same O(1)
    * trainer state every production BPE implementation keeps; rounds
    * are sequential by nature. Output: (round, l, r, c). The oracle
    * replays all 3 rounds on a DIFFERENT representation — words as
    * double-space-joined token strings, merges as string replace()
    * (the separator doubling is what makes replace()'s non-overlapping
    * scan equal the token-wise greedy scan on chained pairs like
    * "a a a"). Integer-exact. */
  private[graft] def t29(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d, rounds = 3)._1.toDF("round", "l", "r", "c")
  }

  /** Shared BPE trainer loop (t29 documents the algorithm): returns
    * the merge table AND the final (w, toks, wc) word frame — the
    * trained segmentation t30 applies corpus-wide. Driver state is the
    * O(1) merge list, the word frame stays distributed. */
  private[graft] def bpeTrain(s: SparkSession, d: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var cur = Tables.documents(s, d)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), split(col("w"), "").as("toks"), col("wc"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (round <- 1 to rounds) {
      val win = cur.filter(size(col("toks")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("l"),
            element_at(col("toks"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      require(win.nonEmpty, "corpus exhausted before merge rounds done")
      val (l, r, c) =
        (win(0).getString(0), win(0).getString(1), win(0).getLong(2))
      merges += ((round, l, r, c))
      cur = cur.withColumn("toks",
          graft.plans.MergePairFunctions.mergePair(col("toks"), l, r))
        .localCheckpoint(true)
    }
    (merges.toSeq, cur)
  }

  /** t30 — BPE ENCODE: apply the t29-trained merges corpus-wide and
    * measure per-document compression — the tokenizer-application
    * step between training (t29) and packing (t18/t24). The encode
    * rides the trainer's final word frame: segmentation is a function
    * of the WORD, so the corpus-sized doc frame joins the vocabulary-
    * sized (w -> n_units) map instead of re-running merges per
    * occurrence — at 100 TB the merge loop touches the distinct-word
    * frame only, and the per-doc reduction is one broadcast-joined
    * aggregation. Docs with zero [a-z0-9]+ tokens stay in the output
    * with zero counts (left join + coalesce, matching t03's universe).
    * Integer-exact. Oracle: the full t29 replay on the double-space
    * string representation, extended one step — the final per-word
    * string's split length IS n_units — then the same per-doc join. */
  private[graft] def t30(s: SparkSession, d: String): DataFrame = {
    val (_, words) = bpeTrain(s, d, rounds = 3)
    val wn = words.select(col("w"),
      length(col("w")).cast("long").as("n_chars"),
      size(col("toks")).cast("long").as("n_units"))
    val dw = Tables.documents(s, d).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("w"))
    val agg = dw.join(wn, "w").groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("n_char_units"),
        sum(col("n_units")).as("n_bpe_units"))
    Tables.documents(s, d).select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_char_units"), lit(0L)).as("n_char_units"),
        coalesce(col("n_bpe_units"), lit(0L)).as("n_bpe_units"))
  }

  /** q77 — approx_top_k sketch LIFECYCLE (accumulate → combine →
    * estimate): per-source partial sketches merged into one corpus
    * estimate — the incremental composition q52 proves for HLL, here
    * for the frequent-items family: a new source's data never
    * re-reads history, per-source states persist and union in KBs.
    * Same contract shape as t26 (exact head truth + membership +
    * band booleans). */
  private[graft] def q77(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(zipfTokens).as("token"))
    val perSrc = toks.groupBy(col("source"))
      .agg(expr("approx_top_k_accumulate(token, 64)").as("st"))
    val combined = perSrc.agg(expr(
      s"map_from_entries(approx_top_k_estimate(" +
        s"approx_top_k_combine(st, 64), $k))").as("sk"))
    val totals = toks.agg(count(lit(1)).as("n_stream"))
    val est = coalesce(element_at(col("sk"), col("token")), lit(0L))
    toks.groupBy("token").agg(count(lit(1)).as("n_true"))
      .crossJoin(totals).crossJoin(broadcast(combined))
      .filter(col("n_true") * (k + 1) > col("n_stream"))
      .select(col("token"), col("n_true"),
        element_at(col("sk"), col("token")).isNotNull.as("in_estimate"),
        (est >= col("n_true") - expr("(7 * n_stream) div 128") &&
          est <= col("n_true") + expr("(7 * n_stream) div 128"))
          .as("est_ok"))
  }

  /** t13 — unigram language-model score (the CCNet-style quality
    * signal): fit a unigram LM on the corpus (token → count, one
    * vocabulary-sized aggregate), then score each document by its
    * negative log-likelihood −Σ ln(c_tok/total) over its tokens WITH
    * multiplicity. High nll/token ⇒ rare-vocabulary text (gibberish,
    * boilerplate-free); low ⇒ stopword-heavy. Emits round(sum,4) +
    * token count — never a rounded average (CLAUDE.md float rule); the
    * consumer divides. The logprob table is vocabulary-sized, so AQE
    * broadcasts its join against the token stream; docs with zero
    * tokens carry no LM evidence and drop (inner-join semantics, same
    * both sides). Σ of ~10²–10³ ln terms rounds stably at 4dp (per-term
    * cross-engine ULP drift ~1e-16 relative, t10 precedent). */
  private[graft] def t13(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
        lit(0))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).cast("double").as("n_total"))
    toks.join(counts, Seq("tok"))
      .crossJoin(total)
      .groupBy(col("doc_id"))
      .agg(round(sum(log(col("n_total")) - log(col("c").cast("double"))), 4)
        .as("nll"),
        count(lit(1)).as("n_toks"))
  }

  /** c04 — CCNet-style perplexity bucketing: score every doc with the
    * t13 unigram LM, order by nll-per-token, split into head/middle/
    * tail terciles (ntile(3)) — the classic language-model quality
    * gate keeps middle (head = boilerplate/stopword-heavy, tail =
    * gibberish). Ordering uses the 4dp-ROUNDED nll (the value the t13
    * gate already proves bit-equal cross-engine) ÷ exact token count,
    * with doc_id tie-break — so the tercile assignment is deterministic
    * on both engines.
    *
    * NO global single-partition window: a bare ntile(3) over every doc
    * funnels the whole corpus through one task. Instead the exact
    * global rank is computed two-level (t18/t24's pattern): range-
    * bucket on floor(score*16) — monotone in the sort key, so buckets
    * ARE contiguous rank ranges — rank locally per bucket under a
    * hash-partitioned window, broadcast the tiny per-bucket prefix
    * sums, and derive the tercile arithmetically from the standard
    * ntile identity tile(r) = (r-1)*k div N + 1 (first N mod k tiles
    * get the extra row — SQL ntile semantics, both engines). */
  private[graft] def c04(s: SparkSession, d: String): DataFrame = {
    val scored = t13(s, d)
      .withColumn("score", col("nll") / col("n_toks"))
      .withColumn("rb", floor(col("score") * 16).cast("long"))
    val localW = Window.partitionBy(col("rb"))
      .orderBy(col("score").asc, col("doc_id").asc)
    val local = scored
      .withColumn("lr", row_number().over(localW).cast("long"))
    // bucket counts derive from the RANKED rows, not from scored: the
    // groupBy(rb) is already distributed by rb, so it rides the window
    // exchange (reused) instead of re-scoring the corpus per branch
    val bcounts = local.groupBy(col("rb")).agg(count(lit(1)).as("bc"))
    val baseW = Window.orderBy(col("rb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = bcounts.select(col("rb"),
      coalesce(sum(col("bc")).over(baseW), lit(0L)).as("base"))
    val total = bcounts.agg(sum(col("bc")).as("n_total"))
    local.join(broadcast(bases), "rb")
      .crossJoin(broadcast(total))
      .withColumn("r", col("base") + col("lr"))
      .withColumn("bucket",
        (expr("((r - 1) * 3) div n_total") + 1).cast("long"))
      .select(col("doc_id"), col("nll"), col("n_toks"), col("bucket"))
  }

  /** m01 — multimodal feature extraction: real BMP/WAV/GVF container
    * payloads → per-asset parsed dimensions + features via the
    * mapPartitions batch decode. The engine PARSES width/height/
    * sample_rate from the payload header bytes; the oracle predicts them
    * independently from the documented ASSET CONTRACT (Multimodal.scala
    * scaladoc) — encoder and decoder share only the public format spec,
    * so a byte-offset/endianness bug on either side fails this gate.
    * Checksum/feature VALUES (body hash internals) stay covered by
    * MultimodalSpec. */
  private[graft] def m01(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.multimodal.Multimodal.extractFeatures(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d))
      .toDF().select(col("asset_id"), col("kind"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sample_rate").cast("long").as("sample_rate"),
        size(col("features")).cast("long").as("dim"))
  }

  /** m05 — image perceptual fingerprint + exact-dup groups: dHash per
    * decoded image (DHASH CONTRACT, Multimodal.scaladoc — integer-only
    * 9×8 gradient bits over the parsed pixel array) and the count of
    * images sharing each hash (d01's exact-dedup shape lifted to the
    * image modality). The oracle recomputes every hash independently
    * from the asset contract's text-as-pixel-array derivation — a
    * stride, offset, or bit-packing bug on either side fails the
    * gate. */
  private[graft] def m05(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val hashes = graft.multimodal.Multimodal.imageDHash(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d)).toDF()
    val groups = hashes.groupBy(col("dhash"))
      .agg(count(lit(1)).as("n_same_hash"))
    hashes.join(groups, "dhash")
      .select(col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("dhash"), col("n_same_hash"))
  }

  /** m06 — audio energy fingerprint + exact-dup groups: 7 gradient
    * bits over the 8-window |PCM16| energy envelope (AUDIO FINGERPRINT
    * CONTRACT, Multimodal.scaladoc) — the audio-modality dedup
    * primitive next to m05's image dHash. Integer-only, so the oracle
    * recomputes every fingerprint from the asset contract's
    * text-as-PCM16 derivation. */
  private[graft] def m06(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val fps = graft.multimodal.Multimodal.audioFingerprint(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d)).toDF()
    val groups = fps.groupBy(col("afp"))
      .agg(count(lit(1)).as("n_same_fp"))
    fps.join(groups, "afp")
      .select(col("asset_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("afp"), col("n_same_fp"))
  }

  /** m07 — video perceptual fingerprint + exact-dup groups (VIDEO
    * FINGERPRINT CONTRACT, Multimodal.scaladoc): 7 energy-gradient
    * bits over the first 8 sampled frames — the video-modality dedup
    * primitive completing m05 (image) / m06 (audio). width/height come
    * from the PARSED GVF header while the oracle predicts them from
    * the asset contract, so a header-offset bug fails the gate.
    * Integer-only throughout. */
  private[graft] def m07(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val fps = graft.multimodal.Multimodal.videoFingerprint(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d)).toDF()
    val groups = fps.groupBy(col("vfp"))
      .agg(count(lit(1)).as("n_same_fp"))
    fps.join(groups, "vfp")
      .select(col("asset_id"), col("width"), col("height"),
        col("n_frames"), col("vfp"), col("n_same_fp"))
  }

  /** m08 — perceptual image NEAR-dup pairs: m05's dHashes through the
    * shared banded Hamming index ([[graft.operators.TextDedup
    * .hammingPairs]] — the d03 SimHash machinery applied to the image
    * modality), Hamming <= 2. Candidate generation is pigeonhole-
    * LOSSLESS at this cutoff (<= 2 flipped bits can touch at most 2 of
    * the four 16-bit chunks), so the banded plan's output is exactly
    * the O(N²) scan's — the oracle recomputes every dHash from the
    * asset contract and runs the quadratic join directly. On this
    * fixture text-byte "images" cluster tightly (most pairs land
    * within Hamming 6 — same density artifact as d06's 31-word vocab),
    * so the cutoff 2 keeps the verified set meaningful; on real images
    * the same index prunes candidates to near-linear. */
  private[graft] def m08(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val hashes = graft.multimodal.Multimodal.imageDHash(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d)).toDF()
    graft.operators.TextDedup
      .hammingPairs(hashes, "asset_id", "dhash", maxHamming = 2)
      .select(col("id_a").as("asset_a"), col("id_b").as("asset_b"),
        col("hamming").cast("long").as("hamming"))
  }

  /** m09 — CROSS-MODAL dedup audit ("same image, different caption"):
    * m08's perceptual image near-dup pairs joined against the TEXT
    * modality's token-Jaccard — a pair whose images collide (Hamming
    * <= 2) but whose captions disagree (J < 0.5) is the
    * `caption_conflict` a multimodal training pipeline must surface
    * before deduplicating: dropping one side silently discards a
    * distinct caption for a shared image (the alt-text diversity that
    * image-text training needs), while keeping both without the flag
    * double-weights the image. Composes m05/m08 (image fingerprints,
    * banded Hamming index) with d04's token-set convention
    * ([[graft.functions.TextFunctions.tokenSet]]). Scale shape: the
    * pair frame is candidate-bounded by the banded index; token sets
    * join only the pair-touching docs (two hash joins), intersect/
    * union are per-pair array kernels — the corpus is never
    * all-paired on text. Integer-exact oracle: dHashes, Hamming, and
    * the token set sizes are all re-derived in SQL. */
  private[graft] def m09(s: SparkSession, d: String): DataFrame = {
    val pairs = m08(s, d)
    val toks = Tables.documents(s, d).filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokenSet(col("text")).as("toks"))
    pairs
      .join(toks.select(col("doc_id").as("asset_a"), col("toks").as("ta")),
        Seq("asset_a"))
      .join(toks.select(col("doc_id").as("asset_b"), col("toks").as("tb")),
        Seq("asset_b"))
      .select(col("asset_a"), col("asset_b"), col("hamming"),
        size(array_intersect(col("ta"), col("tb"))).cast("long")
          .as("n_inter"),
        size(array_union(col("ta"), col("tb"))).cast("long")
          .as("n_union"))
      .withColumn("caption_conflict", col("n_inter") * 2 < col("n_union"))
  }

  /** m02 — video frame sampling: one row per 64-byte frame window.
    * Frame counts are pure arithmetic over payload sizes → oracle-able. */
  private[graft] def m02(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.multimodal.Multimodal.sampleFrames(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d), stride = 64)
      .groupBy(col("asset_id")).agg(count(lit(1)).as("n_frames"))
  }

  /** m03 — image resize: real nearest-neighbor BMP downscale to fit
    * 64×64 (RESIZE CONTRACT in Multimodal.scaladoc). out_* dims/bytes
    * are integer arithmetic the oracle re-derives in SQL from the asset
    * contract; roundtrip_ok is the in-Spark contract check (output BMP
    * re-decoded + pixels compared via arithmetic-inverted indexing). */
  private[graft] def m03(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.multimodal.Multimodal.resizeImages(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d), maxDim = 64)
      .toDF().select(col("asset_id"),
        col("in_width").cast("long").as("in_width"),
        col("in_height").cast("long").as("in_height"),
        col("out_width").cast("long").as("out_width"),
        col("out_height").cast("long").as("out_height"),
        col("out_bytes"), col("roundtrip_ok"))
  }

  /** m04 — audio stats over real WAV payloads: header facts + exact
    * integer arithmetic the oracle re-derives from the asset contract;
    * amp_ok is the dual-route PCM16 parse check (Multimodal.scaladoc). */
  private[graft] def m04(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    graft.multimodal.Multimodal.audioStats(
      graft.multimodal.Multimodal.assetsFromDocuments(s, d)).toDF()
  }

  /** t14 — BM25 retrieval: score every document holding any of a fixed
    * query-term set, return the top 20. One explode → two small aggs
    * (per-doc length, per-(doc,term) tf); df and the corpus stats are
    * vocabulary-/constant-sized and broadcast, so the only full-data
    * shuffle is the tf groupBy. Top-k plans as TakeOrderedAndProject
    * (no global sort); rank is computed over the surviving 20 rows.
    * Scoring is log-bearing (idf), so the oracle mirrors the formula
    * term-for-term and both sides round the 1–3-term sum at 4dp (t13
    * precedent); ranking uses the ROUNDED score with doc_id tie-break
    * so rank is deterministic across engines. */
  private[graft] def t14(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("vector", "stream", "window")
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
        lit(0))).as("tok"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // k1 = 1.2, b = 0.75; idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the
    // non-negative Robertson form. Written with the SAME association as
    // the oracle so both engines produce bit-identical doubles.
    val scored = tf.join(broadcast(dfT), "tok").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
    val agg = scored.groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 4).as("bm25"),
        count(lit(1)).as("n_terms"))
    agg.orderBy(col("bm25").desc, col("doc_id").asc).limit(20)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("bm25").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("rnk"), col("doc_id"), col("bm25"), col("n_terms"))
  }

  /** q41 — higher-order array-function battery over the token list:
    * transform / aggregate / filter / zip_with / sort / slice / reverse
    * / distinct, all on INTEGER payloads (token lengths) so every value
    * the oracle hashes is exact — no float folds over engine-ordered
    * lists. Everything runs inside one codegen'd projection; no
    * explode, no shuffle. */
  private[graft] def q41(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        transform(col("toks"), x => length(x).cast("long")).as("lens"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
        array_contains(col("toks"), "vector").as("has_vector"),
        aggregate(col("lens"), lit(0L), (a, x) => a + x).as("sum_len"),
        array_max(col("lens")).as("max_len"),
        array_min(col("lens")).as("min_len"),
        size(filter(col("lens"), x => x > 4)).cast("long").as("n_long"),
        concat_ws(",", slice(reverse(array_sort(col("lens"))), 1, 3)
          .cast("array<string>")).as("top3_lens"),
        aggregate(zip_with(col("lens"), reverse(col("lens")),
          (a, b) => a * b), lit(0L), (a, x) => a + x).as("dot_rev"))
  }

  /** q42 — salted shuffle join ([[graft.operators.Salt.saltedJoin]]):
    * the skew-safe join form — hot l_orderkey rows spread over `factor`
    * reducers, orders replicated factor×. Semantically a plain inner
    * join, which is exactly what the oracle runs; the post-join agg is
    * the usual single-level two-phase sum (4dp, q27 precedent). */
  private[graft] def q42(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.Salt.saltedJoin(li, ord, "l_orderkey", factor = 4)
      .groupBy(col("o_orderpriority"))
      // 2dp, not 4: the salt reassociates the sum one extra level (the
      // q26 convention) — 4dp was bit-exact at sf0.01 but drifted ULPs
      // at sf0.1
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** d08 — benchmark decontamination: drop/flag training docs sharing
    * any 3-token shingle with a held-out eval set (here the synthetic
    * doc_id % 97 == 0 slice — eval sets are externally supplied in a
    * real pipeline). The Spark side joins on xxhash64(shingle) so the
    * shuffle/broadcast key is 8 bytes, not the shingle string — at
    * 100 TB the eval side stays a few MB of hashes and broadcasts; the
    * training side never shuffles its text. The oracle joins the
    * shingle STRINGS — hash-join and string-join agree unless xxhash64
    * collides (~2⁻⁶⁴ per pair, and a collision would fail the gate
    * deterministically, not flake). */
  private[graft] def d08(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val evalSet = sh.filter(col("doc_id") % 97 === 0).select("h").distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSet), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** c03 — deterministic corpus mixing: sample each language stratum at
    * a per-stratum rate (en 80%, others 50% — the up/down-weighting
    * step of a training-data mix) by md5-rank within the stratum.
    * Membership is integer arithmetic (10·rn ≤ w10·n) — no float
    * fraction to drift — and the md5 rank makes the sample stable
    * across retries, partitionings, and engines (t08 precedent). Emits
    * the kept rows themselves, not just counts, so the gate pins the
    * exact sample. One shuffle (the per-lang window). */
  private[graft] def c03(s: SparkSession, d: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    val w = byLang.orderBy(
      md5(concat(col("doc_id").cast("string"), lit(":mix"))).asc,
      col("doc_id").asc)
    val w10 = when(col("lang") === "en", lit(8L)).otherwise(lit(5L))
    Tables.documents(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_lang", count(lit(1)).over(byLang))
      .filter(col("rn") * 10 <= w10 * col("n_lang"))
      .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
  }

  /** q43 — time-based RANGE window frame: per-customer trailing-30-day
    * order count + revenue. RANGE frames are tie-SAFE by construction
    * (membership is value-based — all orders on the same date are
    * peers), unlike ROWS frames which need a total order (q22 lesson);
    * only the float sum's association varies, handled by the usual 4dp
    * round. Both engines order by integer days-since-epoch with a
    * -30..0 frame so the frame arithmetic is identical. One hash
    * shuffle on o_custkey. */
  private[graft] def q43(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("days"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"),
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long").as("days"))
      .select(col("o_custkey"), col("o_orderdate"),
        count(lit(1)).over(w).as("n_orders_30d"),
        round(sum(col("o_totalprice")).over(w), 4).as("rev_30d"))
  }

  /** t16 — containment (quote/excerpt) detection:
    * [[TextDedup.tokenContainmentPairs]] blocked by source at 0.9.
    * Directional — the near-subset doc is id_sub; symmetric Jaccard
    * (d04) misses a paragraph quoted inside a much larger doc. (Pair
    * counts on THIS fixture are dense — the ~100-word synthetic
    * vocabulary makes short docs near-subsets of everything, the same
    * artifact documented at d04's Zipf note; real-corpus containment
    * hits are rare.) */
  private[graft] def t16(s: SparkSession, d: String): DataFrame =
    TextDedup.tokenContainmentPairs(Tables.documents(s, d),
      "doc_id", "text", "source", threshold = 0.9)

  /** t17 — Unicode normalization (NFC composition + accent folding) via
    * the native codegen expressions ([[graft.plans.UnicodeFunctions]]).
    * The fixture corpus is ASCII, where both transforms are the
    * identity — so the oracle pins CROSS-ENGINE PARITY of the
    * normalization semantics on real data (nfc_normalize/strip_accents
    * are DuckDB built-ins), and the planted-unicode behavior (é
    * composed≡decomposed, folding, codegen≡interpreted) lives in
    * UnicodeSpec. Same split as t09's regex-parity oracle. */
  private[graft] def t17(s: SparkSession, d: String): DataFrame = {
    import graft.plans.UnicodeFunctions
    Tables.documents(s, d).select(
      col("doc_id"),
      UnicodeFunctions.nfcCol(col("text")).as("nfc_text"),
      UnicodeFunctions.stripAccentsCol(col("text")).as("folded_text"),
      (length(UnicodeFunctions.nfcCol(col("text"))) === length(col("text")))
        .as("nfc_ascii_identity"))
  }

}
