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

/** Query registry bodies, part C (graph/curation/window families) — a pure
  * mechanical move out of SparkEntry (r13 verdict #6: registry
  * hygiene); every def is byte-identical to its pre-split form
  * and is re-exported through [[SparkEntry.queries]]. */
private[graft] object EntryDefsC {
  /** t18 — sequence packing: lay documents head-to-tail in a
    * deterministic (md5-rank) order and cut fixed 2048-token training
    * bins from the running offset — the standard pre-training packing
    * step (bin = floor(offset/2048); a doc straddles bins when its span
    * crosses a boundary, counted in n_bins). The global running sum is
    * computed TWO-LEVEL so no single-partition window ever holds the
    * per-doc rows: the md5 sort key's own 2-hex-char prefix is an
    * order-preserving, deterministic bucketing (global order by (sk,
    * doc_id) ≡ order by (bucket, sk, doc_id) because the bucket is a
    * prefix of sk, and md5 uniformity balances the 256 buckets), so
    * (1) a hash-partitioned window per bucket computes local running
    * sums in parallel, (2) a 256-row per-bucket total → exclusive
    * prefix forms the bucket base offsets (the only tiny single-
    * partition step), (3) a broadcast join adds base + local. Scales to
    * any doc count — the old global `Window.orderBy` bottleneck is
    * gone; output is byte-identical to the one-window form. Integer
    * arithmetic only — exact oracle. */
  private[graft] def t18(s: SparkSession, d: String): DataFrame = {
    val binSize = 2048L
    val toks = Tables.documents(s, d).select(col("doc_id"),
      size(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .cast("long").as("n_tok"))
      .withColumn("sk",
        md5(concat(col("doc_id").cast("string"), lit(":pack"))))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val localW = Window.partitionBy(col("bucket"))
      .orderBy(col("sk").asc, col("doc_id").asc)
    val local = toks.withColumn("local_off", sum(col("n_tok")).over(localW))
    // 256 rows max: the only unpartitioned window, over bucket totals
    val baseW = Window.orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = toks.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("p_tot"))
      .select(col("bucket"),
        coalesce(sum(col("p_tot")).over(baseW), lit(0L)).as("base"))
    local.join(broadcast(bases), "bucket")
      .withColumn("end_off", col("base") + col("local_off"))
      .select(col("doc_id"), col("n_tok"),
        floor((col("end_off") - col("n_tok")) / lit(2048.0))
          .cast("long").as("bin"),
        ((col("end_off") - col("n_tok")) % binSize).as("bin_off"),
        (floor((col("end_off") - 1) / lit(2048.0)) -
          floor((col("end_off") - col("n_tok")) / lit(2048.0)) + 1)
          .cast("long").as("n_bins"))
  }

  /** t24 — materialized sequence packing: the step AFTER t18's bin
    * arithmetic — emit the actual fixed-2048-token training batches as
    * id arrays. Tokens get global vocab ids (rank by count desc, token
    * asc — t07's canonical order; computed fully two-level by
    * [[graft.operators.Ranks.rankByCountDesc]] — a 10⁸-token web-corpus
    * vocabulary never funnels into one window partition, and the plan
    * carries ZERO SinglePartition exchanges, pinned in PlanShapeSpec),
    * every token gets its global offset =
    * doc start offset (t18's two-level prefix sum via
    * [[graft.operators.Curate.md5RankByStratum]]-style buckets) + its
    * in-doc position, and bins collect ids under the total (off) order
    * — a doc straddling a bin boundary is genuinely split, exactly as
    * a training loader would. One explode + one shuffle by bin; arrays
    * bounded at 2048 ids. Integer-exact end to end. */
  private[graft] def t24(s: SparkSession, d: String): DataFrame = {
    val binSize = 2048L
    val docs = Tables.documents(s, d).select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        .as("toks"))
    val tf = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val vocab = graft.operators.Ranks
      .rankByCountDesc(tf, "c", "tok", "vid")
      .select(col("tok"), col("vid"))
    // doc start offsets: t18's two-level md5-bucket prefix sum
    val sized = docs
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("sk",
        md5(concat(col("doc_id").cast("string"), lit(":pack"))))
      .withColumn("bucket", substring(col("sk"), 1, 2))
    val localW = Window.partitionBy(col("bucket"))
      .orderBy(col("sk").asc, col("doc_id").asc)
    val local = sized.withColumn("local_off", sum(col("n_tok")).over(localW))
    // ≤256-row bucket totals → exclusive prefix via broadcast self-join
    // (no unpartitioned window anywhere in t24's plan)
    val bases = graft.operators.Ranks.exclusivePrefixTotals(
      sized.groupBy(col("bucket")).agg(sum(col("n_tok")).as("p_tot")),
      "bucket", "p_tot")
    val offs = local.join(broadcast(bases), "bucket")
      .withColumn("start_off",
        col("base") + col("local_off") - col("n_tok"))
      .select(col("doc_id"), col("toks"), col("start_off"))
    offs.select(col("doc_id"), col("start_off"),
        posexplode(col("toks")))
      .join(vocab, col("col") === col("tok"))
      .withColumn("off", col("start_off") + col("pos"))
      .withColumn("bin", expr(s"off div $binSize"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_tok"),
        // emitted as a space-joined string, not array<bigint>: the
        // oracle harness sorts/hashes output columns and arrays are
        // unhashable there — the canonical string is gate-stable
        array_join(transform(
          sort_array(collect_list(struct(col("off"), col("vid")))),
          x => x.getField("vid").cast("string")), " ").as("ids"))
  }

  /** t25 — vocabulary coverage under truncation: per-doc token counts
    * inside/outside the top-64 corpus vocabulary (count desc, token
    * asc — t07's canonical order). THE sizing metric for tokenizer
    * vocab truncation: OOV mass by doc. The vocab is a TakeOrdered
    * top-64 that broadcasts; tokens never shuffle for the membership
    * test — only the per-doc rollup exchanges. Integer exact. */
  private[graft] def t25(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+"), lit(0))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(64)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab"), 1L).otherwise(0L)).as("n_in_vocab"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
  }

  /** q46 — null-safe equality join (`<=>` / IS NOT DISTINCT FROM):
    * NULL keys MATCH each other, unlike plain equi-join where they
    * match nothing. Exercised on a derived nullable key both sides.
    * Plans as a regular hash join on the null-safe comparator. */
  private[graft] def q46(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(
      when(col("l_linenumber") > 4, col("l_linenumber").cast("long"))
        .as("k"),
      col("l_quantity"))
    val dim = Tables.lineitem(s, d)
      .select(when(col("l_linenumber") > 4, col("l_linenumber").cast("long"))
        .as("k"))
      .distinct()
      .withColumn("tag", coalesce(col("k").cast("string"), lit("null-key")))
    li.alias("a").join(dim.alias("b"), col("a.k") <=> col("b.k"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
  }

  /** q44 — date-spine gap fill (time-series resample): materialize a
    * contiguous daily spine per customer (sequence+explode — generated,
    * not shuffled), left-join the sparse daily order revenue onto it,
    * and forward-fill gaps with `last(_, ignoreNulls)` over an
    * unbounded-preceding ROWS frame. The spine join is an equi-join on
    * (custkey, day) and the fill is one window pass — no as-of join
    * machinery needed when the grid is regular. Spine bounded to a
    * fixed 61-day window × 100 customers so row count is constant per
    * SF. Leading days before a customer's first order stay NULL (same
    * both engines). */
  private[graft] def q44(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1995-01-01").cast("date")
    val hi = lit("1995-03-02").cast("date")
    val spine = Tables.customer(s, d)
      .filter(col("c_custkey") < 100)
      .select(col("c_custkey"),
        explode(sequence(lo, hi, expr("interval 1 day"))).as("day"))
    val daily = Tables.orders(s, d)
      .filter(col("o_orderdate").between(lo, hi) && col("o_custkey") < 100)
      .groupBy(col("o_custkey").as("c_custkey"),
        col("o_orderdate").as("day"))
      .agg(round(sum(col("o_totalprice")), 4).as("rev"))
    val w = Window.partitionBy(col("c_custkey")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("c_custkey", "day"), "left")
      .select(col("c_custkey"), col("day"), col("rev"),
        last(col("rev"), ignoreNulls = true).over(w).as("rev_filled"))
  }

  /** q45 — ordered funnel analysis (view → click → purchase per user):
    * each stage is min(ts) of its event type STRICTLY AFTER the prior
    * stage's time — three conditional-min aggregations, each one hash
    * shuffle on user_id with the prior stage's (user-unique) timestamp
    * riding in the grouping key; no window, no collect_list of event
    * sequences (a hot user's history never materializes as one row).
    * min over event-time is deterministic under ts ties (same min);
    * raw timestamps compare exactly cross-engine (q16 precedent). */
  private[graft] def q45(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(col("ts")).as("t_purchase"))
    v.join(c.select("user_id", "t_click"), Seq("user_id"), "left")
      .join(p.select("user_id", "t_purchase"), Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_purchase").isNotNull, 1).otherwise(0))
          .cast("long").as("stage"))
  }

  /** t15 — bigram LM score (the conditional-probability upgrade of
    * t13's unigram): fit c(w1 w2) and context totals c(w1·) on the
    * corpus, score each doc by Σ ln(c_ctx) − ln(c_bigram) over its
    * bigram OCCURRENCES. Bigrams come straight off the token array in
    * the projection (no lag window — no extra shuffle); the count
    * tables are vocabulary²-bounded and the probability join runs
    * broadcast at this corpus, hash at 100 TB where AQE decides.
    * Docs with <2 tokens carry no bigram evidence and drop (inner-join
    * semantics, same both sides). Σ-of-lns rounds at 4dp (t13). */
  private[graft] def t15(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val bigrams = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ", col("toks")(i), col("toks")(i + 1))))
          .otherwise(array().cast("array<string>"))).as("bg"))
    val cBg = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("ctx", split(col("bg"), " ").getItem(0))
    val cCtx = cBg.groupBy(col("ctx")).agg(sum(col("c_bg")).as("c_ctx"))
    bigrams.join(cBg, Seq("bg")).join(cCtx, Seq("ctx"))
      .groupBy(col("doc_id"))
      .agg(round(sum(log(col("c_ctx").cast("double")) -
        log(col("c_bg").cast("double"))), 4).as("nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** q47 — Z-order clustering key (graft.plans.ZOrder2): the layout
    * primitive behind [[graft.sources.Bucketing.zorderWrite]], emitted
    * per-row so the oracle can re-derive the full bit contract in SQL
    * (DuckDB recomputes the interleave with shift/mask arithmetic over
    * generate_series — no shared code, independent semantics). Pure
    * integer bit logic: bit-reproducible across engines, and the
    * expression stays inside whole-stage codegen (PlanShapeSpec). */
  private[graft] def q47(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      graft.plans.ZOrder2.zorder2(col("l_suppkey"), col("l_partkey"))
        .as("zkey"))

  /** q48 — SCD Type-2 history build: collapse each customer's order
    * stream into status runs with validity ranges — the standard
    * warehouse "snapshot stream → dimension history" derivation. Change
    * points via lag, version ids via running sum over a TOTAL order
    * ((o_orderdate, o_orderkey) — orderkey is unique, so ties in date
    * can't reorder; q22 lesson), run boundaries via groupBy + lead.
    * One window shuffle on o_custkey, reused by both window passes and
    * the final aggregation (same partitioning key — Catalyst plans one
    * Exchange). valid_to is NULL on the open (current) run. */
  private[graft] def q48(s: SparkSession, d: String): DataFrame =
    scd2Build(Tables.orders(s, d))

  /** q48's SCD2 derivation over an arbitrary orders frame (q86 reuses
    * it on the history/delta partitions). All-window formulation:
    * change rows ARE the runs. Every window below partitions by
    * o_custkey, so the whole derivation — lag change detection,
    * running version, per-customer total, and the lead lookups among
    * run starts — shares ONE hash exchange (PlanShapeSpec pins exactly
    * one); a groupBy(custkey, version) would re-shuffle on the widened
    * key for nothing. */
  private[graft] def scd2Build(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val marked = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_orderstatus"))
      .withColumn("chg",
        when(lag(col("o_orderstatus"), 1).over(w).isNull ||
          lag(col("o_orderstatus"), 1).over(w) =!= col("o_orderstatus"), 1)
          .otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_total", count(lit(1)).over(
        Window.partitionBy(col("o_custkey"))))
    val ws = Window.partitionBy(col("o_custkey"))
      .orderBy(col("rn"))
    marked.filter(col("chg") === 1)
      .select(col("o_custkey").as("custkey"), col("version"),
        col("o_orderstatus").as("status"),
        Cleaning.dateToString(col("o_orderdate")).as("valid_from"),
        Cleaning.dateToString(lead(col("o_orderdate"), 1).over(ws))
          .as("valid_to"),
        (coalesce(lead(col("rn"), 1).over(ws), col("n_total") + 1)
          - col("rn")).cast("long").as("n_orders"))
  }

  /** q86 — INCREMENTAL SCD2 merge (the warehouse MERGE-INTO for
    * type-2 dimensions): history rows built once (orders ≤ 1996-12-31
    * — ~70% of the fixture), then the delta batch merged WITHOUT
    * rebuilding — closed history rows are untouched (at scale: their
    * files never rewrite, the q51/st12 bucket discipline), each
    * customer's OPEN row either absorbs the delta's first run (same
    * status at the boundary: run extends, n_orders grows, valid_to
    * moves) or closes at it (status changed: valid_to = first delta
    * run's start), and the remaining delta runs append with shifted
    * versions. Cost ∝ delta + open rows, never history. The boundary
    * is clean because the split predicate is a prefix of the run
    * window's (o_orderdate, o_orderkey) order.
    *
    * Oracle: the FULL REBUILD over all orders (q48's independent
    * min/groupBy-runs SQL, verbatim) — the merge is correct iff it is
    * indistinguishable from rebuilding from scratch, which is the
    * strongest available statement of MERGE semantics and shares no
    * structure with the incremental plan. */
  private[graft] def q86(s: SparkSession, d: String): DataFrame = {
    val cut = "1996-12-31"
    val all = Tables.orders(s, d)
    val hist = scd2Build(all.filter(col("o_orderdate") <= lit(cut)))
    val delta = scd2Build(all.filter(col("o_orderdate") > lit(cut)))
    val closed = hist.filter(col("valid_to").isNotNull)
    val open = hist.filter(col("valid_to").isNull)
    val firstD = delta.filter(col("version") === 1)
      .select(col("custkey"), col("status").as("d_status"),
        col("valid_from").as("d_from"), col("valid_to").as("d_to"),
        col("n_orders").as("d_n"))
    // open rows: absorb (same status) / close (changed) / keep (no delta)
    val openMerged = open.join(firstD, Seq("custkey"), "left")
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"),
        when(col("d_status").isNull, lit(null).cast("string"))
          .when(col("status") === col("d_status"), col("d_to"))
          .otherwise(col("d_from")).as("valid_to"),
        (col("n_orders") + when(col("status") === col("d_status"),
          coalesce(col("d_n"), lit(0L))).otherwise(lit(0L)))
          .as("n_orders"))
    // delta runs: drop the absorbed first run, shift versions past the
    // open row's; customers with no history keep their numbering
    val bridge = open
      .select(col("custkey"), col("version").as("base_v"),
        col("status").as("open_status"))
      .join(firstD.select(col("custkey"), col("d_status")), "custkey")
      .select(col("custkey"), col("base_v"),
        (col("open_status") === col("d_status")).as("same"))
    val deltaKept = delta.join(bridge, Seq("custkey"), "left")
      .filter(col("base_v").isNull || !col("same") || col("version") >= 2)
      .select(col("custkey"),
        when(col("base_v").isNull, col("version"))
          .when(col("same"), col("base_v") + col("version") - 1)
          .otherwise(col("base_v") + col("version")).as("version"),
        col("status"), col("valid_from"), col("valid_to"),
        col("n_orders"))
    closed.unionAll(openMerged).unionAll(deltaKept)
  }

  /** q87 — self-join size profiler: the CANDIDATE-EXPLOSION estimator
    * a pipeline consults before running any key-blocked self-join
    * (d04's prefix filter, d02's bands, m08's chunks — all of them
    * blow up as Σ c_k² over block-key counts). One map-side-combined
    * per-key count, then three scalar aggregates: the predicted
    * self-join row count Σ c², the row count, and the hottest key —
    * plus amp_x100 = Σc²·100 div n_rows, the read-amplification the
    * blocking key implies (100 ⇔ each row meets one partner on
    * average). Everything the q83 salt advisor is to the shuffle, this
    * is to the blocked join. Integer-exact; counters only — the fact
    * table never shuffles rows. */
  private[graft] def q87(s: SparkSession, d: String): DataFrame = {
    val cnts = Tables.lineitem(s, d).groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
    cnts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        sum(col("c") * col("c")).as("self_join_rows"),
        max(struct(col("c"), col("l_partkey"))).as("top"))
      .select(col("n_keys"), col("n_rows"), col("self_join_rows"),
        col("top.l_partkey").as("top_key"), col("top.c").as("top_c"),
        expr("self_join_rows * 100 div n_rows").as("amp_x100"))
  }

  /** q88 — incremental view maintenance for an aggregate (the
    * materialized-view twin of q86's row-level SCD2 merge): the view is
    * SUM/COUNT per (returnflag, linestatus, ship month), its stored
    * state the (n, qty, price_cents) partials. A CDC delta arrives as
    * inserts (shipdate > cut) and retractions (a deterministic
    * suppkey%13 slice of the base, standing in for a delete feed), and
    * the view is maintained ALGEBRAICALLY: delta partials aggregate
    * map-side, unionAll with the stored state frame, one re-combine
    * groupBy, HAVING n > 0 so fully-retracted keys vanish — the
    * classic counting/Z-relation IVM subtlety. Cost ∝ delta + view
    * size; the base facts are never re-read (at 100 TB the state frame
    * is key-count-sized and the only thing that moves). Integer-exact
    * (cents, unit quantities).
    *
    * Oracle: the FULL RECOMPUTE over (base ∖ deletes) ∪ inserts —
    * maintenance is correct iff indistinguishable from rebuilding,
    * sharing no structure with the incremental plan. */
  private[graft] def q88(s: SparkSession, d: String): DataFrame = {
    val cut = "1995-12-31"
    val li = Tables.lineitem(s, d).select(
      col("l_returnflag").as("flag"), col("l_linestatus").as("status"),
      date_format(col("l_shipdate"), "yyyy-MM").as("month"),
      col("l_shipdate"), col("l_suppkey"),
      round(col("l_quantity"), 0).cast("long").as("qty1"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("cents1"))
    def partials(df: DataFrame, w: Int): DataFrame =
      df.groupBy(col("flag"), col("status"), col("month"))
        .agg((count(lit(1)) * w).as("n"), (sum(col("qty1")) * w).as("qty"),
          (sum(col("cents1")) * w).as("price_cents"))
    val base = li.filter(col("l_shipdate") <= lit(cut))
    val state = partials(base, 1)                  // the stored view
    val ins = partials(li.filter(col("l_shipdate") > lit(cut)), 1)
    val del = partials(base.filter(col("l_suppkey") % 13 === 0), -1)
    state.unionAll(ins).unionAll(del)
      .groupBy(col("flag"), col("status"), col("month"))
      .agg(sum(col("n")).as("n"), sum(col("qty")).as("qty"),
        sum(col("price_cents")).as("price_cents"))
      .filter(col("n") > 0)
  }

  /** q89 — one-pass pipeline health metrics via `Dataset.observe`
    * (the Observation API): rows-in / rows-kept / null-prop /
    * filtered-revenue counters ride the SAME scan as accumulator-style
    * observed metrics — no second pass over the facts, the way a 100 TB
    * ingest audits itself without doubling its read. The scan is driven
    * once by a noop-format write; the output IS the metrics row
    * (driver-side O(1), like the PQ codebook fit). Integer-exact. */
  private[graft] def q89(s: SparkSession, d: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation("q89")
    val kept = col("l_quantity") >= 25
    Tables.lineitem(s, d)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .observe(obs,
        count(lit(1)).as("rows_in"),
        count(when(kept, 1)).as("rows_kept"),
        count(when(col("l_discount") === 0, 1)).as("zero_discount"),
        sum(when(kept, round(col("l_extendedprice") * 100, 0).cast("long"))
          .otherwise(0L)).as("kept_cents"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val s2 = s
    import s2.implicits._
    Seq((m("rows_in").asInstanceOf[Long], m("rows_kept").asInstanceOf[Long],
      m("zero_discount").asInstanceOf[Long], m("kept_cents").asInstanceOf[Long]))
      .toDF("rows_in", "rows_kept", "zero_discount", "kept_cents")
  }

  /** q90 — data-quality ASSERTION SUITE (the Deequ-style constraint
    * battery, public literature: Schelter et al. 2018, "Automating
    * Large-Scale Data Quality Verification"): one report row per
    * declared constraint — row-count floor, completeness, key
    * uniqueness, value range, accepted value set, referential
    * integrity — each with its measured metric and a pass boolean.
    * This is the gate a 100 TB ingest runs BEFORE publishing a
    * snapshot: assertions over aggregates, never row-by-row rules.
    * Scale shape: the five single-table constraints ride ONE
    * aggregation pass over orders (conditional counts fuse into the
    * same partial agg); referential integrity is one left-anti count
    * against the customer dim (broadcast — dim-sized by star-schema
    * construction). The report is 6 fixed rows; nothing data-sized
    * reaches the driver. Integer-exact end to end. */
  private[graft] def q90(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val base = o.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
        .as("n_null_cust"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("n_dup_key"),
      sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1L)
        .otherwise(0L)).as("n_bad_price"),
      sum(when(col("o_orderstatus").isNull ||
          !col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("n_bad_status"))
    val orphans = o.join(
        Tables.customer(s, d).select(col("c_custkey").as("o_custkey")),
        Seq("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    base.crossJoin(orphans).select(expr(
      """stack(6,
        |  'row_count_min',          n_rows,       n_rows >= 1000,
        |  'complete_o_custkey',     n_null_cust,  n_null_cust = 0,
        |  'unique_o_orderkey',      n_dup_key,    n_dup_key = 0,
        |  'range_o_totalprice_pos', n_bad_price,  n_bad_price = 0,
        |  'values_o_orderstatus',   n_bad_status, n_bad_status = 0,
        |  'ref_orders_customer',    n_orphan,     n_orphan = 0
        |) AS (check_name, metric, pass)""".stripMargin))
  }

  /** q91 — deterministic POISSON BOOTSTRAP (the distributed bootstrap
    * for massive data — Chamandy, Muralidharan, Najmi & Naidu 2012,
    * "Estimating Uncertainty for Massive Data Streams", public
    * literature): error bars for a pipeline metric without resampling
    * passes. The classic bootstrap draws n-of-n with replacement —
    * impossible distributed (a row can't know the other draws); the
    * Poisson approximation gives every (row, replicate) an independent
    * Poisson(1) weight, so 32 resample aggregates ride ONE scan as 32
    * weighted counters. Weights here are a pure function of content:
    * u = 52-bit md5(o_orderkey:bs<b>) prefix, inverse-CDF'd through
    * PRE-COMPUTED INTEGER thresholds floor(F_Poisson(1)(k)·2^52) — no
    * float CDF arithmetic anywhere, so both engines draw bit-identical
    * weights and the whole query is integer-exact. Replicate b=0 is
    * the unweighted point estimate. Output: 33 (b, n_eff, sum_cents)
    * rows — the replicate spread IS the uncertainty; downstream
    * derives CI bounds from these integer sums. Scale shape: a 33×
    * row-explode into map-side-combined counters; 33 rows out at any
    * corpus size, nothing data-sized at the driver. */
  private[graft] def q91(s: SparkSession, d: String): DataFrame = {
    // floor(F_Poisson(1)(k) * 2^52) for k = 0..5; weight 6 past the tail
    val ts = Seq(1656781714176974L, 3313563428353948L, 4141954285442435L,
      4418084571138597L, 4487117142562638L, 4500923656847446L)
    // the 52-bit draw lands in its OWN projection: referenced by all
    // six CDF branches, and conditional branches don't share
    // subexpressions in codegen — inlined, the md5 would run up to 6×
    // per row (measured 9.5 s vs 3.0 s at sf0.1)
    // fused 52-bit draw — bit-identical to the former
    // conv(substring(md5(…),1,13),16,10) chain (Md5Draw52 scaladoc;
    // measured 4.3 s of this query's 5.8 s at sf0.1 was hex-string
    // materialization + radix parse); the oracle's hex route unchanged
    val k = graft.plans.Md5DrawKey52.md5DrawKey52(
      col("o_orderkey"), lit(":bs"), col("b"))
    val w = when(col("b") === 0, lit(1L)).otherwise(
      ts.zipWithIndex.foldRight(lit(6L): Column) { case ((t, i), rest) =>
        when(col("k") < t, i.toLong).otherwise(rest)
      })
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .withColumn("b", explode(sequence(lit(0), lit(32))))
      .select(col("b").cast("long").as("b"), col("cents"), k.as("k"))
      .select(col("b"), w.as("w"), col("cents"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("cents")).as("sum_cents"))
  }

  /** q49 — matched-model Laspeyres price index over lineitem: per
    * (month, item) representative price = min observed (min, not avg —
    * deterministic under duplicates and engine-order-independent), base
    * basket = items priced in the earliest month, index(month) =
    * Σ p_month / Σ p_base over items present in BOTH (matched-model so
    * numerator and denominator cover the same basket). This is the
    * reference domain's own headline analytic (OpenDOSM pricecatcher is
    * a CPI input). Shape at scale: one (month, item) partial agg over
    * the fact, a broadcast of the base basket (items dimension — small
    * by star-schema construction), one final agg by month. The ratio
    * divides two 4dp-rounded sums (identical doubles both engines), so
    * 6dp on the quotient is safe (never a rounded avg). */
  private[graft] def q49(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: mp feeds THREE subtrees (base-month probe, base
    // basket, the index agg) whose differing column pruning defeats
    // exchange reuse — without it the plan scans the FACT table three
    // times (measured: 3 parquet scans in explain). The checkpoint
    // materializes the (month × item)-sized aggregate once — exactly
    // the "reuse the partial" move that matters when the fact is 100 TB
    // and the aggregate is MBs (c02 precedent).
    val mp = Tables.lineitem(s, d)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_partkey"), col("l_extendedprice"))
      .groupBy(col("month"), col("l_partkey"))
      .agg(min(col("l_extendedprice")).as("p"))
      .localCheckpoint()
    val baseMonth = mp.agg(min(col("month")).as("base_month"))
    val base = mp.join(broadcast(baseMonth),
        col("month") === col("base_month"))
      .select(col("l_partkey"), col("p").as("p_base"))
    mp.join(broadcast(base), Seq("l_partkey"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("p")), 4).as("sum_cur"),
        round(sum(col("p_base")), 4).as("sum_base"))
      .select(col("month"), col("n_items"), col("sum_cur"), col("sum_base"),
        round(col("sum_cur") / nullif(col("sum_base"), lit(0.0)), 6)
          .as("price_index"))
  }

  /** q50 — cohort retention over events (day granularity — the fixture
    * spans one month): cohort = a user's first active day, then distinct
    * active users per (cohort, day offset). Two hash shuffles (user_id,
    * then (cohort, offset)); the per-user first-day table re-joins the
    * distinct activity pairs on user_id — both sides already reduced to
    * one/few rows per user, so the join input is the DISTINCT pairs, not
    * the raw event stream. */
  private[graft] def q50(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstDay = act.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"))
    act.join(firstDay, Seq("user_id"))
      .groupBy(Cleaning.dateToString(col("cohort")).as("cohort"),
        datediff(col("day"), col("cohort")).as("offset_days"))
      .agg(count(lit(1)).as("users"))
  }

  /** t19 — positional inverted index (the retrieval-side structure BM25
    * t14 scores against): per (token, doc) posting with term frequency
    * and 0-based positions — phrase-query-capable. DOC-partitioned
    * postings (one row per token×doc, positions bounded by one doc's
    * length), NOT one global concatenated list per token: the global
    * form is a collect-the-corpus anti-pattern at 100 TB while this
    * shape partitions on (token, doc) and builds each posting from one
    * doc's rows. df rides in from a token-level count-distinct agg
    * (broadcast — vocabulary-bounded). */
  private[graft] def t19(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as(Seq("pos", "token")))
    val dfTab = toks.groupBy(col("token"))
      .agg(count_distinct(col("doc_id")).as("df"))
    toks.groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        array_join(array_sort(collect_list(col("pos")))
          .cast("array<string>"), ",").as("positions"))
      .join(broadcast(dfTab), Seq("token"))
      .select(col("token"), col("df"), col("doc_id"), col("tf"),
        col("positions"))
  }

  /** q51 — CDC changeset apply ([[graft.operators.Cdc]]): a
    * deterministic changeset derived from each customer's latest order
    * (op from its status: F→update acctbal, O→insert a new +1,000,000
    * key, others→delete) applied to the customer snapshot. The
    * changeset build reuses the A1 dedup-latest operator (total order
    * (o_orderdate, o_orderkey)); the apply is ONE broadcast join on
    * c_custkey + a partition-wise union of inserts. The new balance is
    * the RAW o_totalprice double (no re-rounding of a raw value — both
    * engines read the identical parquet bits). */
  private[graft] def q51(s: SparkSession, d: String): DataFrame = {
    val latest = Dedup.latestPerGroupAgg(
      Tables.orders(s, d),
      keys = Seq("o_custkey"),
      orderKey = struct(col("o_orderdate"), col("o_orderkey")),
      payload = Seq("o_orderstatus", "o_totalprice"))
    val changes = latest.select(
      col("o_custkey").as("c_custkey"),
      when(col("o_orderstatus") === "F", "U")
        .when(col("o_orderstatus") === "O", "I")
        .otherwise("D").as("op"),
      col("o_totalprice").as("new_bal"))
    graft.operators.Cdc.applyChanges(
      Tables.customer(s, d), changes, "c_custkey", "op",
      updates = Map("c_acctbal" -> col("new_bal")),
      insertSelect = ins => ins.select(
        (col("c_custkey") + 1000000L).as("c_custkey"),
        lit("NEW").as("c_name"),
        lit(0).cast("int").as("c_nationkey"),
        col("new_bal").as("c_acctbal"),
        lit("NEW").as("c_mktsegment")))
  }

  /** q52 — mergeable HLL sketch lifecycle (build → store → union →
    * estimate): per-day user sketches over events, then ONE union-merge
    * for the month total — the only distinct-count shape that composes
    * incrementally at 100 TB (per-partition sketches persist; a new
    * day's data never re-reads history, unlike count_distinct which
    * re-shuffles everything). Contract oracle (q17 discipline): exact
    * counts are DuckDB-recomputable; the booleans assert the Datasketches
    * HLL estimate (lgConfigK=12, rel err ~1.6%) landed within 5%
    * (RecallMarginSpec holds the measured margins; Bench measures the
    * sketch path alone via benchOverrides). */
  private[graft] def q52(s: SparkSession, d: String): DataFrame = {
    val days = Tables.events(s, d)
      .select(Cleaning.dateToString(col("ts")).as("day"), col("user_id"))
    val perDay = days.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
        countDistinct(col("user_id")).as("n_exact"))
    val total = perDay.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .crossJoin(broadcast(
        days.agg(countDistinct(col("user_id")).as("n_exact"))))
      .select(lit("TOTAL").as("day"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("within_5pct"))
    perDay.select(col("day"), col("n_exact"),
        (abs(hll_sketch_estimate(col("sk")) - col("n_exact"))
          <= col("n_exact") * 0.05).as("within_5pct"))
      .unionByName(total)
  }

  /** q53 — event-transition matrix (first-order Markov counts): per
    * user, adjacent event-type pairs under the TOTAL order (ts,
    * event_id) — event_id breaks timestamp ties so lag is
    * engine-order-independent (q22 lesson) — counted into a (from, to)
    * matrix with each row's share of its from-state total. One window
    * shuffle on user_id, one count shuffle on the (from, to) pairs
    * (|event types|² rows at most). share = ratio of exact counts at
    * 6dp: both engines divide identical integers. */
  private[graft] def q53(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    trans.select(col("from_type"), col("to_type"), col("n"),
      round(col("n").cast("double") / sum(col("n")).over(wf), 6)
        .as("share"))
  }

  /** q54 — dataset profiling (the lake-ops "describe" every ingest
    * runs): one pass over customer computes per-column null counts,
    * exact distincts, and numeric min/max, then unpivots to one row per
    * column via stack. ONE aggregation job for the whole profile —
    * never a per-column scan loop (the 100 TB difference between
    * profiling and re-reading the table N_cols times); min/max/count
    * only — no avg, no float sums (CLAUDE.md float discipline moot by
    * construction). */
  private[graft] def q54(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val agg = c.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("c_name").isNull, 1).otherwise(0)).as("nn_name"),
      countDistinct(col("c_name")).as("nd_name"),
      sum(when(col("c_mktsegment").isNull, 1).otherwise(0)).as("nn_seg"),
      countDistinct(col("c_mktsegment")).as("nd_seg"),
      sum(when(col("c_acctbal").isNull, 1).otherwise(0)).as("nn_bal"),
      countDistinct(col("c_acctbal")).as("nd_bal"),
      min(col("c_acctbal")).as("min_bal"), max(col("c_acctbal")).as("max_bal"),
      sum(when(col("c_nationkey").isNull, 1).otherwise(0)).as("nn_nat"),
      countDistinct(col("c_nationkey")).as("nd_nat"),
      min(col("c_nationkey").cast("double")).as("min_nat"),
      max(col("c_nationkey").cast("double")).as("max_nat"))
    agg.select(col("n_rows"), expr(
      """stack(4,
        |  'c_name', nn_name, nd_name, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'c_mktsegment', nn_seg, nd_seg, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'c_acctbal', nn_bal, nd_bal, min_bal, max_bal,
        |  'c_nationkey', nn_nat, nd_nat, min_nat, max_nat)
        |  AS (col_name, n_null, n_distinct, min_val, max_val)""".stripMargin))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_val"), col("max_val"))
  }

  /** d10 — exact repeated-span detection (the substring-dedup shape of
    * Lee et al.'s "Deduplicating Training Data", public literature):
    * every 20-token window of every document, grouped across the
    * corpus; spans occurring in ≥2 distinct documents are boilerplate /
    * template / contamination candidates. Top 100 by occurrence count
    * with a total (n_occ, n_docs, span) tie-break. The span STRING is
    * the grouping key here because the oracle must re-derive it
    * engine-independently; at 100 TB the shuffle key would be
    * xxhash64(span) with the string re-attached for the survivors only
    * (same id-only-shuffle discipline as the pair ops) — the window
    * explode itself is linear in corpus tokens either way, and the
    * top-k is TakeOrderedAndProject after a partial-combined count. */
  private[graft] def d10(s: SparkSession, d: String): DataFrame = {
    val span = 20
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= span)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - span),
          i => array_join(slice(col("toks"), i + 1, lit(span)), " ")))
          .as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("n_docs").desc, col("span"))
      .limit(100)
  }

  /** q55 — per-group top-N (each customer's 3 most expensive orders):
    * THE retrieval plan shape whose scalability lives or dies on rank-
    * limit pushdown — row_number ≤ N must plan as WindowGroupLimit
    * (per-partition partial top-N before the shuffle, so ~N·groups rows
    * move, not the fact table; PlanShapeSpec pins it). Total order
    * (o_totalprice desc, o_orderkey) — orderkey breaks price ties. */
  private[graft] def q55(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** q56 — snapshot diff / reconciliation: classify every key across
    * two snapshot versions as added / removed / changed, emitting both
    * payloads. The inverse of [[graft.operators.Cdc.applyChanges]] —
    * diffing q51's applied snapshot against the original recovers
    * exactly the effective changeset (asserted in CdcSpec), which is
    * how a lake audits what an ingest actually did. ONE full-outer
    * hash join on the key; unchanged rows are dropped BEFORE any
    * further processing, so downstream cost ∝ churn, not table size.
    * Payload equality on doubles is exact bit equality — both engines
    * compare the same parquet-read values, no arithmetic. */
  private[graft] def q56(s: SparkSession, d: String): DataFrame = {
    val before = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal").as("bal_before"))
    val after = q51(s, d)
      .select(col("c_custkey"), col("c_acctbal").as("bal_after"))
    before.join(after, Seq("c_custkey"), "full_outer")
      .withColumn("change_kind",
        when(col("bal_before").isNull, "added")
          .when(col("bal_after").isNull, "removed")
          .when(col("bal_before") =!= col("bal_after"), "changed")
          .otherwise("unchanged"))
      .filter(col("change_kind") =!= "unchanged")
      .select(col("c_custkey"), col("change_kind"),
        col("bal_before"), col("bal_after"))
  }

  /** q57 — blocked fuzzy string join (approximate entity matching):
    * customer-name pairs at Levenshtein distance ≤ 1, candidates
    * generated by a 16-char-prefix equi-join block — NEVER an all-pairs
    * cross product. The block is the standard record-linkage trade:
    * pairs whose single edit falls INSIDE the block key land in
    * different blocks and are missed by design (recall loss for
    * Σ block² candidate cost, block sizes bounded by key choice —
    * d04's discipline). The oracle blocks identically, so the gate
    * checks the blocked operator, not an all-pairs ideal. The standard
    * recall remedy — multi-pass blocking under complementary keys whose
    * union covers every edit position — needs keys that are each
    * selective alone; this fixture's zero-padded id space makes any
    * leading-digit key one giant block, so the single-pass form is the
    * honest shippable here. */
  private[graft] def q57(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        substring(col("c_name"), 1, 16).as("blk"))
    c.alias("a").join(c.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      // THRESHOLDED edit distance (Spark 3.5+): the banded DP verifies
      // dist <= 1 in O(len) per pair instead of the full O(len²) matrix
      // — the verify stage is the whole cost of a blocked fuzzy join,
      // so the bound is the lever (returns -1 past the threshold;
      // kept-row values are identical to the unbounded form)
      .withColumn("dist", levenshtein(col("a.name"), col("b.name"), 1))
      .filter(col("dist") >= 0 && col("dist") <= 1)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("dist").cast("int").as("dist"))
  }

  /** q80 — entity resolution END TO END (record linkage composed from
    * this engine's own operators): q57's blocked fuzzy-match pairs
    * (prefix block + Levenshtein ≤ 1 verify, never all-pairs) unioned
    * into entities via [[graft.operators.Graph.dupClusters]]'s
    * alternating-star connected components — every customer labeled
    * with its entity's minimum id and the entity size, singletons
    * included. The d07 story lifted from near-dup documents to master
    * data. Oracle re-derives the closure INDEPENDENTLY of the star
    * algorithm: recursive-CTE min-label propagation over the same
    * pair SQL. */
  private[graft] def q80(s: SparkSession, d: String): DataFrame = {
    val ids = Tables.customer(s, d).select(col("c_custkey").as("id"))
    graft.operators.Graph.dupClusters(
        ids, q57(s, d).select(col("id_a"), col("id_b")))
      .select(col("node").as("id"), col("component").as("entity_id"),
        col("cluster_size").as("entity_size"))
  }

  /** g04 — triangle counting over the co-purchase graph
    * ([[graft.operators.Graph.triangleCount]]): parts bought together
    * in an order are edges (one deterministic part family, l_partkey %
    * 4 = 0, keeps the fixture graph bounded — the operator itself is
    * general); triangles measure clustering/community structure, the
    * classic graph-shape signal. The scale story is the DEGREE-ORDERED
    * orientation: the wedge join is capped at O(m^1.5) regardless of
    * hub degree (Graph.triangleCount scaladoc). The oracle counts the
    * same triangles via the id-ordered 3-way self-join — a completely
    * different formulation whose count must agree exactly. */
  private[graft] def g04(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    graft.operators.Graph.triangleCount(edges)
  }

  /** g05 — k-core peeling over the sparse co-purchase graph
    * ([[graft.operators.Graph.kCore]]): the graph-density filter (who
    * survives when every member must have >= 5 surviving neighbors) —
    * community cores / bot-ring detection. The l_partkey % 16 family
    * keeps the fixture graph sparse enough to ACTUALLY peel (measured
    * depth 7 at sf0.01, 6 at sf0.1 — the % 4 graph of g04 is already a
    * 3-core); rounds = 9 carries two rounds of margin and the emitted
    * `converged` flag proves the budget reached the fixpoint (both
    * engines replay the same 9 rounds either way, so the gate is exact
    * regardless). Oracle: the identical peeling unrolled as generated
    * SQL CTE rounds; the from-first-principles while-loop reference
    * lives in GraphSpec. */
  private[graft] def g05(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 16 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    graft.operators.Graph.kCore(edges, k = 5, rounds = 9)
  }

  /** g06 — deterministic label-propagation community detection over
    * the co-purchase graph ([[graft.operators.Graph.labelPropagation]]):
    * 4 synchronous rounds of "adopt the most frequent neighbor label"
    * under the (count desc, label asc) total order, with a `converged`
    * flag honest about the fixed budget. The % 8 graph sits between
    * g04's dense % 4 and g05's sparse % 16. Oracle: the identical 4
    * rounds unrolled as generated CTE SQL, argmax INDEPENDENTLY
    * formulated as a row_number window (vs the engine's
    * min(struct(-c, lab)) aggregate); the from-first-principles
    * sequential reference lives in GraphSpec. */
  private[graft] def g06(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 8 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    graft.operators.Graph.labelPropagation(edges, rounds = 4)
  }

  /** g07 — two-hop reach per node over the sparse co-purchase graph:
    * deg (direct neighbors) and n_reach2 (distinct nodes within 2
    * hops, self excluded) — the local-density / influence-radius
    * metric next to g04's triangles. One self-join of the symmetric
    * adjacency frame on the middle node, union with the 1-hop frame,
    * distinct, count. The wedge join is the Σ deg² step; at a 100 TB
    * graph the exact distinct swaps for a per-node HLL
    * (approx_count_distinct over the same wedge frame — mergeable,
    * counter-sized shuffle) — the exact form is registered because it
    * is oracle-able and the fixture graph is wedge-bounded by g05's
    * % 16 sparsity. Integer-exact. */
  private[graft] def g07(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 16 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val e = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val nbr = e.select(col("u").as("node"), col("v").as("nb"))
      .unionAll(e.select(col("v").as("node"), col("u").as("nb")))
    val two = nbr.as("x").join(
        nbr.select(col("node").as("nb"), col("nb").as("nb2")).as("y"), "nb")
      .select(col("node"), col("nb2"))
      .filter(col("node") =!= col("nb2"))
    val reach = nbr.select(col("node"), col("nb").as("r"))
      .unionAll(two.select(col("node"), col("nb2").as("r")))
      .distinct()
      .groupBy(col("node")).agg(count(lit(1)).as("n_reach2"))
    nbr.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .join(reach, "node")
  }

  /** g08 — multi-source BFS hop distances over the co-purchase graph
    * ([[graft.operators.Graph.bfsDistances]]): distance from the
    * nearest seed (nodes ≡ 0 mod 64), 4 hop budget — the
    * proximity-to-trusted-set metric in its exact-hop form (g03's
    * personalized PageRank is the same question as a mass diffusion).
    * Frontier-only propagation against the pre-partitioned adjacency
    * frame; integer-exact.
    *
    * Oracle: structurally DIFFERENT formulation — re-propagates the
    * FULL distance frame every round (d_r = min(d_{r-1}, nbr+1))
    * instead of the frontier delta, so the classic BFS frontier
    * invariant itself is what the gate cross-checks. */
  private[graft] def g08(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 16 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val e = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val nodes = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node"))).distinct()
    graft.operators.Graph.bfsDistances(
      e, nodes.filter(col("node") % 64 === 0), rounds = 4)
  }

  /** d13 — cross-source contamination matrix: for every source pair,
    * the number of distinct 3-token shingles they share plus an exact
    * integer Jaccard (×10⁴) — d08's train-vs-eval decontamination
    * generalized to ALL corpus-source pairs, the "which crawl slice
    * copies which" audit that decides source-level dedup priorities.
    * Scale shape: the self-join key is the 8-byte xxhash64 shingle
    * (d08's discipline — text never shuffles) over the DISTINCT
    * (source, shingle) frame, so per-shingle fanout is bounded by the
    * source count, output by source-pairs — counters end to end. The
    * oracle joins shingle STRINGS (hash-collision divergence would
    * fail deterministically). */
  private[graft] def d13(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val sh = Tables.documents(s, d)
      .select(col("source"), toks.as("toks"))
      .select(col("source"),
        explode(when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("sh"))
      .select(col("source"), xxhash64(col("sh")).as("h"))
      .distinct()
      // consumed three times (both join sides + the per-source counts):
      // materialize once so the corpus scan+shingle explode runs once
      .localCheckpoint(true)
    val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(counts.select(col("source").as("src_a"),
        col("n").as("n_a"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"),
        col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("n_shared * 10000 div (n_a + n_b - n_shared)")
          .as("jaccard_x10k"))
  }

  /** g09 — INCREMENTAL connected components
    * ([[graft.operators.Graph.incrementalComponents]]): the standing
    * co-purchase graph's CC labeling folded forward by a delta edge
    * batch (orders ≡ 0 mod 7 arriving after the base build) — the
    * per-ingest form of d07's clustering, cost ∝ delta + touched
    * components, the base edges never re-read. Oracle: the FULL
    * REBUILD over base ∪ delta as an independent recursive-CTE
    * min-label closure — the merge must be indistinguishable from
    * rebuilding (q86/q88 discipline). */
  private[graft] def g09(s: SparkSession, d: String): DataFrame = {
    def edges(f: Column): DataFrame = {
      val op = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 16 === 0 && f)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      op.as("a").join(op.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    }
    val base = graft.operators.Graph.connectedComponents(
      edges(col("l_orderkey") % 7 =!= 0))
    graft.operators.Graph.incrementalComponents(
      base, edges(col("l_orderkey") % 7 === 0))
  }

  /** g10 — common-neighbor LINK PREDICTION over the sparse co-purchase
    * graph ([[graft.operators.Graph.linkPrediction]]): the top-100
    * NON-adjacent pairs ranked by shared-neighbor count, with both
    * degrees — the entity-resolution candidate generator (surface the
    * pairs a pairwise matcher never compared) and the classic
    * missing-edge signal. Same %16 edge family as g05. Oracle: the
    * identical wedge/anti-join/top-k formulated as independent SQL
    * CTEs — integer-exact, and the (n_common desc, u, v) cutoff is a
    * total order so the top-100 set is engine-agnostic; a
    * from-first-principles reference on handcrafted graphs lives in
    * GraphSpec. The wedge join runs with the hub cap IN THE PLAN
    * (maxWedgeDeg = 64 — the 100× skew bound, r9 verdict item 1),
    * chosen lossless here: the fixture graph's max degree is 15 at
    * sf0.01 / 18 at sf0.1 (measured), so the capped plan returns the
    * exact answer and the unchanged full oracle keeps gating it. */
  private[graft] def g10(s: SparkSession, d: String): DataFrame = {
    val op = Tables.lineitem(s, d)
      .filter(col("l_partkey") % 16 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = op.as("a").join(op.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    graft.operators.Graph.linkPrediction(edges, topK = 100,
      maxWedgeDeg = 64)
  }

  /** q81 — keyed-snapshot maintenance from the event stream, the batch
    * twin of st12 ([[graft.streaming.SnapshotCdc.applyUserBatch]]):
    * events split into two deterministic "ingest batches" (day ≤ 15 /
    * rest), each batch's per-user LATEST event normalized into a
    * strict I/U/D changeset against the state the previous batch left
    * and applied through the q51 [[graft.operators.Cdc]] kernel —
    * upsert (purchase), guarded insert (signup), alive-only update
    * (click), tombstone (error). Balance is the raw event value
    * (byte-exact parquet pass-through, q51's no-rearithmetic
    * discipline). The oracle re-derives the two-step state machine
    * independently as a FULL OUTER join CASE table. */
  private[graft] def q81(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val empty = ev.select(col("user_id"), col("value").as("balance"))
      .limit(0).withColumn("alive", lit(true))
    graft.streaming.SnapshotCdc.applyUserBatch(
      graft.streaming.SnapshotCdc.applyUserBatch(
        empty, ev.filter(dayofmonth(col("ts")) <= 15)),
      ev.filter(dayofmonth(col("ts")) > 15))
  }

  /** q82 — per-user ingestion quota, the batch twin of st14
    * ([[graft.streaming.Quota]]): per user, the first 3 events in
    * (ts, event_id) order are accepted; every event keeps a verdict
    * with n_before = accepted count before it (capped at the quota).
    * The window form is per-user partitioned (scale = sessionization's)
    * and equals the streaming transformWithState result whenever
    * batches respect per-key event-time order — the equivalence
    * StreamingSpec drives both ways. */
  private[graft] def q82(s: SparkSession, d: String): DataFrame = {
    val quota = 3
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .select(col("user_id"), col("event_id"),
        least(col("rn") - 1, lit(quota)).cast("long").as("n_before"),
        (col("rn") <= quota).as("accepted"))
  }

  /** q83 — key-skew profiler: the diagnostic that DECIDES when q26's
    * salted aggregation / q42's salted join are worth their extra
    * shuffle stage. Per-key counts (one map-side-combined aggregation
    * — the full table contributes counters, never rows), then the
    * top-5 hot keys with exact integer skew metrics: share_bp =
    * cnt·10⁴ div total (basis points of all rows on this key),
    * skew_x100 = cnt·n_keys·100 div total (100 ⇔ perfectly uniform;
    * a key at 3200 holds 32× its fair share), and salt = the
    * suggested per-key salt fan-out max(1, cnt·n_keys div total) —
    * exactly the factor that would re-level the hot reducer. The
    * events fixture is near-uniform (skew ≈ 130), which the profiler
    * must REPORT, not assume: the honest "don't salt" verdict is the
    * common case. Integer-exact end to end; the only window is over
    * the 5-row top-k. */
  private[graft] def q83(s: SparkSession, d: String): DataFrame = {
    val cnts = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"))
    cnts.orderBy(col("cnt").desc, col("user_id").asc).limit(5)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("cnt").desc, col("user_id").asc))
        .cast("long"))
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("user_id"), col("cnt"),
        expr("cnt * 10000 div total").as("share_bp"),
        expr("cnt * n_keys * 100 div total").as("skew_x100"),
        greatest(lit(1L), expr("cnt * n_keys div total")).as("salt"))
  }

  /** q84 — batch twin of st15 ([[graft.streaming.EventStreams
    * .clickErrorJoinLeftOuter]]): the LEFT OUTER interval join run as
    * a batch plan — the SAME code path the st15 drive runs as a
    * watermarked stream-stream join (the st05/q39 discipline: one
    * implementation, oracle-gated here, benched there). Unmatched
    * errors survive with NULL click columns — the rows the inner st04
    * shape silently drops, and exactly the ones an alerting consumer
    * wants. */
  private[graft] def q84(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams
      .clickErrorJoinLeftOuter(Tables.events(s, d))
      .select(col("user_id"), col("error_id"), col("click_id"),
        col("matched"))

  /** q85 — batch twin of st16 ([[graft.streaming.EventStreams
    * .dedupedTumblingAgg]]): exact dedup on event_id feeding the q15
    * tumbling aggregation — the chained-stateful-operator semantics
    * as one batch plan. The batch dedup picks a DETERMINISTIC
    * representative (min over the (ts, event_type, value) struct — a
    * total order over the payload, so duplicate ids resolve
    * identically on any engine/partitioning; the streaming form's
    * first-arrival-wins is gated separately in StreamingSpec where
    * arrival order is controlled). On the fixture event_id is unique,
    * so q85 ≡ q15 row-for-row — the dedup stage must be a no-op, which
    * IS the assertion. */
  private[graft] def q85(s: SparkSession, d: String): DataFrame = {
    val dedup = Tables.events(s, d)
      .groupBy(col("event_id"))
      .agg(min(struct(col("ts"), col("event_type"), col("value"))).as("e"))
      .select(col("e.ts").as("ts"), col("e.event_type").as("event_type"),
        col("e.value").as("value"))
    dedup
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** t20 — BPE merge-pair statistics (the inner loop of byte-pair-
    * encoding tokenizer training): count adjacent CHARACTER pairs
    * within corpus words, emit the top 20 merge candidates under a
    * total (count desc, pair) order. Pairs come straight off the char
    * split in the projection (t15's bigram idiom one level down); one
    * partial-combined count shuffle over a ≤ |alphabet|² key space.
    * Pair expansion here runs per word OCCURRENCE — see t27 for the
    * vocabulary-weighted re-plan whose expansion cost is bounded by
    * the vocabulary instead of the corpus. */
  private[graft] def t20(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)))
        .as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(transform(sequence(lit(0), length(col("w")) - 2),
        i => col("w").substr(i + 1, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** c05 — the COMPLETE pre-training data pipeline, composed end to end
    * from this engine's own operators: quality gate → exact dedup →
    * near-dup prune ([[graft.operators.Curate.kept]], the c01 stages) →
    * benchmark decontamination (drop any training doc sharing a trigram
    * with the held-out eval slice — d08's probe, applied as a filter) →
    * per-language mixing (c03's integer-arithmetic md5-rank sampling) →
    * sequence packing totals (t18's bin arithmetic). One registered
    * statement proving the stages COMPOSE — a user's whole curation run
    * is this query with their thresholds. All-integer output row, and
    * every stage keeps its scale shape: nothing here collects, every
    * join is the semi/anti/broadcast form its component query pinned.
    * The oracle re-derives the entire funnel in one SQL chain built
    * from the per-stage oracles — no shared code with this side.
    * (Fixture note: the ~31-word synthetic vocabulary makes trigram
    * collisions with the eval slice near-universal, so decontamination
    * drops most docs here — 4756→295 at sf0.1. That is the fixture's
    * density artifact, the same one documented at d04's Zipf note, not
    * an operator property.) */
  /** q59 — unpivot (wide → long, the inverse of q19's pivot): q19's
    * nation × segment revenue matrix melted back to long form via
    * stack, null cells (segment absent for a nation) dropped. Pivot
    * and unpivot round-trip through the same 4dp-rounded sums, so the
    * oracle can restate the result as the DIRECT long-form aggregation
    * — proving the wide detour loses nothing. */
  private[graft] def q59(s: SparkSession, d: String): DataFrame =
    q19(s, d).select(col("n_name"), expr(
      """stack(5,
        |  'AUTOMOBILE', AUTOMOBILE, 'BUILDING', BUILDING,
        |  'FURNITURE', FURNITURE, 'HOUSEHOLD', HOUSEHOLD,
        |  'MACHINERY', MACHINERY) AS (segment, revenue)""".stripMargin))
      .filter(col("revenue").isNotNull)

  /** q60 — rank-function battery (rank / dense_rank / percent_rank /
    * cume_dist) per order priority over the TIE-BEARING o_orderdate
    * order — the point: rank functions depend only on ORDER-KEY values,
    * so ties produce identical ranks deterministically (no total-order
    * requirement, unlike row_number — the q22 distinction in the other
    * direction). percent_rank/cume_dist are ratios of rank integers:
    * identical doubles both engines, 6dp safe. */
  private[graft] def q60(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate"))
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      round(percent_rank().over(w), 6).as("pr"),
      round(cume_dist().over(w), 6).as("cd"))
  }

  /** q63 — struct-type battery: named_struct construction, field
    * access, and lexicographic array_sort of structs (the ordering the
    * engine's canonical-order machinery leans on internally — here
    * pinned as an observable contract). Per order-priority: sort the
    * (totalprice, orderkey) structs, emit the extremes' fields. Output
    * flattened to scalars (q61 discipline); sorting structs of
    * (double, long) is lexicographic on exact parquet doubles — no
    * arithmetic, so cross-engine deterministic. */
  private[graft] def q63(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(sort_array(collect_list(
        struct(col("o_totalprice"), col("o_orderkey")))).as("sorted"))
      .select(col("o_orderpriority"),
        size(col("sorted")).as("n"),
        col("sorted").getItem(0).getField("o_totalprice").as("min_price"),
        col("sorted").getItem(0).getField("o_orderkey").as("min_key"),
        element_at(col("sorted"), -1).getField("o_totalprice").as("max_price"),
        element_at(col("sorted"), -1).getField("o_orderkey").as("max_key"))

  /** q64 — conditional-aggregate battery: count_if / every / any /
    * sum-FILTER semantics (Spark's count_if, every, any against
    * DuckDB's FILTER clause and bool_and/bool_or) — the idiom family
    * behind every selective metric in the t-series, pinned directly.
    * All counts/booleans — integer-exact gate. */
  private[graft] def q64(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        expr("every(l_quantity > 0)").as("all_positive"),
        expr("any(l_discount > 0.09)").as("has_deep_discount"),
        count(when(col("l_tax") > 0.05, 1)).as("n_taxed"))

  /** q62 — subquery-form battery over the spark.sql entry path:
    * IN / EXISTS / NOT EXISTS / NOT IN, with the NOT-IN-vs-NULL trap
    * pinned on purpose — the probe list contains a NULL (planted via a
    * CASE over linenumber), so `NOT IN` is three-valued-logic-empty
    * while `NOT EXISTS` returns the real complement. Both engines
    * implement ANSI semantics; the gate proves this engine does NOT
    * paper over the divergence. One row of counts. */
  private[graft] def q62(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("li_q62")
    Tables.orders(s, d).createOrReplaceTempView("o_q62")
    s.sql(
      """WITH probe AS (
        |  SELECT CASE WHEN l_linenumber = 7 THEN CAST(NULL AS BIGINT)
        |              ELSE l_orderkey END AS k
        |  FROM li_q62 WHERE l_linenumber >= 6)
        |SELECT
        |  (SELECT count(*) FROM o_q62
        |   WHERE o_orderkey IN (SELECT k FROM probe)) AS n_in,
        |  (SELECT count(*) FROM o_q62 o
        |   WHERE EXISTS (SELECT 1 FROM probe p
        |                 WHERE p.k = o.o_orderkey)) AS n_exists,
        |  (SELECT count(*) FROM o_q62 o
        |   WHERE NOT EXISTS (SELECT 1 FROM probe p
        |                     WHERE p.k = o.o_orderkey)) AS n_not_exists,
        |  (SELECT count(*) FROM o_q62
        |   WHERE o_orderkey NOT IN (SELECT k FROM probe)) AS n_not_in
        |""".stripMargin)
  }

  /** q61 — map-type battery: construct (map), merge (map_concat),
    * enumerate (map_keys, sorted), look up (element_at), and parse
    * (from_json into map<string,bigint>) — the map surface no other
    * query exercises. Output is FLATTENED to scalars so the oracle can
    * re-derive every value from first principles without map types
    * (the maps are Spark-side plumbing; only their observable content
    * is gated). Bucket values stringify via integer casts only — never
    * stringify a double (engine formatting differs). */
  private[graft] def q61(s: SparkSession, d: String): DataFrame = {
    val bucket = floor(col("value") / 100).cast("long").cast("string")
    val m = map(lit("type"), col("event_type"), lit("bucket"), bucket)
    val m2 = map_concat(m,
      map(lit("day"), Cleaning.dateToString(col("ts"))))
    val parsed = from_json(col("props"), lit("map<string,bigint>"))
    Tables.events(s, d).select(
      col("event_id"),
      size(m2).as("n_entries"),
      element_at(m2, "type").as("type_val"),
      element_at(m2, "bucket").as("bucket_val"),
      element_at(m2, "day").as("day_val"),
      array_join(array_sort(map_keys(m2)), ",").as("keys"),
      element_at(parsed, "k").as("k_val"))
  }

  /** t21 — readability scoring (Flesch reading-ease form): sentence,
    * word, and syllable-proxy counts per doc plus the standard linear
    * score 206.835 − 1.015·(W/S) − 84.6·(Syl/W) — the classic quality
    * signal beyond t02's length/punct ratios. Syllables proxied by
    * vowel-group runs (the usual heuristic; exact same regex both
    * engines, Java∩RE2 dialect). Pure projection + codegen regexp
    * counts, no shuffle at all. Zero-able denominators nullif'd BOTH
    * sides (no sentence punctuation ⇒ NULL score); the score divides
    * and linearly combines identical integers, so 4dp is safe. */
  private[graft] def t21(s: SparkSession, d: String): DataFrame = {
    val words = regexp_count(col("text"), lit("\\S+")).cast("long")
    val sents = regexp_count(col("text"), lit("[.!?]+")).cast("long")
    val sylls = regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long")
    Tables.documents(s, d).select(
      col("doc_id"),
      words.as("n_words"), sents.as("n_sentences"), sylls.as("n_syllables"),
      round(lit(206.835)
        - lit(1.015) * (words.cast("double") /
            nullif(sents.cast("double"), lit(0.0)))
        - lit(84.6) * (sylls.cast("double") /
            nullif(words.cast("double"), lit(0.0))), 4).as("flesch"))
  }

  /** q58 — grouped exact percentiles (median/p90 per order priority):
    * the per-segment distribution summary q25 does globally. Exact
    * percentile is a sort-based aggregate — per GROUP that means each
    * group's values collect to one reducer (fine: group count is tiny,
    * values per group ≪ executor memory at any SF; for billion-row
    * groups the q40 sketch is the scale form, documented there). Same
    * quantile_cont interpolation pairing as q25. */
  private[graft] def q58(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        round(expr("percentile(o_totalprice, 0.5D)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9D)"), 4).as("p90"))

  /** s06 — exact MIPS top-10 ([[Similarity.mipsTopK]]): dot-product
    * ranking, the retrieval score embedding models train on. Fully
    * deterministic oracle (index-order summation, no sqrt/division). */
  private[graft] def s06(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.mipsTopK(emb, emb.filter(col("vec_id") < 10), k = 10)
  }

  /** s07 — Johnson–Lindenstrauss embedding compression (64 → 32 dims,
    * seeded Gaussian planes through the codegen'd
    * [[graft.plans.ProjectVector]] — 2× narrower vectors for every
    * downstream scan/shuffle). Contract oracle on what JL actually
    * guarantees: DISTANCE preservation. Over the deterministic disjoint
    * pairing (2i, 2i+1), mean |cos_proj − cos_exact| ≤ 0.2 and ≥80% of
    * pairs within 0.3 — measured 0.137/0.889 at sf0.01 and 0.141/0.916
    * at sf0.1 (RecallProbe), real margin on both bounds. Compressed
    * top-k RANKING on these near-random fixture embeddings is
    * near-chance (structureless data has no low-dim structure to keep),
    * so the rank-claim is deliberately NOT the contract: a compressed
    * ranking only earns its keep as a shortlist an exact rerank
    * reorders ([[graft.operators.Similarity.jlDistortionPairs]] is the
    * measured operator). The oracle re-derives n_pairs
    * structurally (even⋈odd id join) and asserts the booleans TRUE. */
  private[graft] def s07(s: SparkSession, d: String): DataFrame = {
    val pairs = Similarity.jlDistortionPairs(Tables.embeddings(s, d))
    pairs.agg(count(lit(1)).as("n_pairs"),
        avg(abs(col("cos_proj") - col("cos_exact"))).as("mae"),
        avg((abs(col("cos_proj") - col("cos_exact")) <= 0.3)
          .cast("int")).as("frac"))
      .select(col("n_pairs"),
        (col("mae") <= 0.2).as("mae_ok"),
        (col("frac") >= 0.8).as("frac_ok"))
  }

  private[graft] def c05(s: SparkSession, d: String): DataFrame =
    c05Funnel(s, d, exactPairs = true)

  private[graft] def c05Funnel(s: SparkSession, d: String,
                        exactPairs: Boolean): DataFrame = {
    val docs = Tables.documents(s, d)
    val kept = graft.operators.Curate.kept(docs, "doc_id", "text",
      exactPairs = exactPairs)
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val sh = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
          .otherwise(array().cast("array<string>"))).as("sh3"))
    val evalSet = sh.filter(col("doc_id") % 97 === 0)
      .select("sh3").distinct()
    val contaminated = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalSet), Seq("sh3")).select("doc_id").distinct()
    val clean = kept.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val wMix = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(col("doc_id").cast("string"), lit(":mix"))),
        col("doc_id"))
    val mixed = clean
      .withColumn("rn", row_number().over(wMix))
      .withColumn("n_lang", count(lit(1)).over(
        Window.partitionBy(col("lang"))))
      .filter(col("rn") * 10 <=
        when(col("lang") === "en", 8).otherwise(5) * col("n_lang"))
    val totals = mixed.select(size(toks).cast("long").as("n_tok"))
      .agg(count(lit(1)).as("n_mixed"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
      .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
      .crossJoin(totals)
      .select(col("n_input"), col("n_kept"), col("n_clean"),
        col("n_mixed"), col("n_tokens"),
        expr("(n_tokens + 2047) DIV 2048").as("n_bins"))
  }

  /** q65 — exponentially-weighted moving average (trend smoothing, the
    * time-series class the suite lacked) per supplier over the TOTAL
    * order (shipdate, orderkey, linenumber, extendedprice — the q22
    * lesson: every emitted value must be order-pinned under ties). The
    * textbook EWMA recursion is not declarative, so this is the
    * closed-form bounded-lookback variant: 8 lag terms with weights
    * (1/2)^j renormalized over the terms that exist. α = 1/2 makes every
    * weight an exact binary fraction, so x·2⁻ʲ is EXACT double
    * arithmetic; the only inexact steps (the left-associated 8-term sums
    * and one division) are written in the same order in both engines and
    * land bit-identical. Scale: one window shuffle on l_suppkey; the
    * frame is 8 rows of running state per row — no second pass, no skew
    * beyond the supplier partitioning itself. */
  private[graft] def q65(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
    val terms = (0 to 7).map { j =>
      val x = if (j == 0) col("l_extendedprice")
              else lag(col("l_extendedprice"), j).over(w)
      val wt = lit(math.pow(0.5, j))
      (when(x.isNull, lit(0.0)).otherwise(x * wt),
        when(x.isNull, lit(0.0)).otherwise(wt))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    Tables.lineitem(s, d)
      .withColumn("ewma", round(num / den, 4))
      .select(col("l_suppkey").as("premise_code"),
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("l_extendedprice").as("price"),
        col("ewma"))
  }

  /** q66 — robust outlier fences (Tukey IQR anomaly detection — the
    * data-quality screen every ingest pipeline runs) per part brand.
    * Everything compared is EXACT: prices ride as integer cents, exact
    * quartiles of integers interpolate to quarter fractions (binary-
    * exact), IQR·1.5 is a multiple of 1/8 (binary-exact), and the fences
    * are emitted ×4 / ×8 as integers so no decimal rounding exists
    * anywhere in the result. Plan: ONE broadcast dim join (part), one
    * grouped sort-agg for the 25-row fence table, fences broadcast back
    * onto the fact — the fact shuffles once, on p_brand. At 100 TB the
    * exact per-group percentile is the only sort-bearing step; its
    * group-local sort is the price of exactness (q40's GK sketch is the
    * sketch form when even that is too much). */
  private[graft] def q66(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
    val fences = li.groupBy(col("p_brand")).agg(
        expr("percentile(cents, 0.25D)").as("q1"),
        expr("percentile(cents, 0.75D)").as("q3"),
        count(lit(1)).as("n_rows"))
      .select(col("p_brand"), col("n_rows"), col("q1"), col("q3"),
        (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
        (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
    li.join(broadcast(fences.select("p_brand", "lo", "hi")), Seq("p_brand"))
      .groupBy(col("p_brand"))
      .agg(sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_above"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_below"))
      .join(broadcast(fences), Seq("p_brand"))
      .select(col("p_brand"), col("n_rows"),
        (col("q1") * 4).cast("long").as("q1_x4"),
        (col("q3") * 4).cast("long").as("q3_x4"),
        (col("lo") * 8).cast("long").as("lo_x8"),
        (col("hi") * 8).cast("long").as("hi_x8"),
        col("n_above"), col("n_below"))
  }

  /** q67 — count-min sketch frequency estimation over the shared t12
    * Zipfian token stream, completing the mergeable-sketch family (Bloom
    * q38, HLL q52, GK quantiles q40, Misra–Gries t12, CMS here). The
    * sketch is a depth×width counter grid (eps=0.001 → width 2000,
    * conf=0.99 → depth 7); merge is cell-wise sum — commutative, so the
    * estimate is partition-order invariant — and a point estimate is the
    * min over depth rows: never below the true count, over it by at most
    * eps·N w.h.p. Contract oracle (t12 discipline): emitted rows are the
    * DETERMINISTIC exact 1%-heavy tokens; the booleans assert both CMS
    * guarantees in exact integer arithmetic ((est−true)·1000 ≤ N ⇔
    * est−true ≤ eps·N). The probe itself runs through the native
    * [[graft.plans.CmsEstimate]] expression on the broadcast one-row
    * sketch — never a driver round-trip. At 100 TB the sketch build is
    * the only fact-path work (codegen'd partial agg, 56 KB of state per
    * partition); the exact heavy counts here are the verification
    * harness, not the operator. */
  private[graft] def q67(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(explode(zipfTokens).as("token"))
    val totals = toks.agg(count(lit(1)).as("n_stream"))
    val sk = toks.agg(count_min_sketch(col("token"),
      lit(0.001d), lit(0.99d), lit(42)).as("sk"))
    val est = graft.plans.CmsFunctions.cmsEstimate(col("sk"), col("token"))
    toks.groupBy(col("token")).agg(count(lit(1)).as("n_true"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(sk))
      .filter(col("n_true") * 100 >= col("n_stream"))
      .select(col("token"), col("n_true"),
        (est >= col("n_true")).as("lower_ok"),
        ((est - col("n_true")) * 1000 <= col("n_stream")).as("upper_ok"))
  }

  /** q68 — time-weighted average price (TWAP): each (supplier, part)
    * price is in effect from its ship date until the next one; weight
    * by that exact integer day span. The time-series sibling of q65's
    * EWMA (event-weighted vs duration-weighted). Emits exact integer
    * sums — Σ(cents·days) and Σdays — never the ratio: both engines
    * divide identically-exact integers into a float only at the
    * consumer, so nothing can drift. One window shuffle on the
    * (suppkey) key for lead(), one grouped agg on the same key — AQE
    * coalesces them into a single exchange. */
  private[graft] def q68(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
    Tables.lineitem(s, d)
      .withColumn("next_ts", lead(col("l_shipdate"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        datediff(col("next_ts").cast("date"),
          col("l_shipdate").cast("date")).cast("long").as("days"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("cents") * col("days")).as("sum_cents_days"),
        sum(col("days")).as("sum_days"))
  }

  /** q69 — OHLC bars (open/high/low/close per supplier per month): the
    * financial-bars shape. Open/close are the first/last price under
    * the TOTAL (shipdate, orderkey, linenumber, price) order — the q22
    * tie lesson again, since lineitem plants equal-key rows with
    * different prices; high/low are plain extremes. Two window passes
    * (asc row_number for open, desc for close) and the bar agg all
    * share ONE (suppkey, month) partitioning. Prices ride as exact
    * cents. */
  private[graft] def q69(s: SparkSession, d: String): DataFrame = {
    // bar_month is materialized as a COLUMN before the windows so both
    // window passes and the bar agg key on the same (suppkey, bar_month)
    // pair — Catalyst then plans exactly one hash exchange for all three
    // (pinned in PlanShapeSpec); keying the agg on a fresh
    // date_trunc expression instead would buy a second shuffle
    val asc = Window.partitionBy(col("l_suppkey"), col("bar_month"))
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc,
        col("l_linenumber").asc, col("l_extendedprice").asc)
    val desc = Window.partitionBy(col("l_suppkey"), col("bar_month"))
      .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
        col("l_linenumber").desc, col("l_extendedprice").desc)
    Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        Cleaning.dateToString(date_trunc("month", col("l_shipdate")))
          .as("bar_month"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy(col("l_suppkey"), col("bar_month"))
      .agg(count(lit(1)).as("n_trades"),
        max(when(col("rn_a") === 1, col("cents"))).as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(when(col("rn_d") === 1, col("cents"))).as("close_cents"))
  }

  /** q72 — trailing moving MEDIAN (7-row frame) per supplier: the
    * robust sibling of q22's moving average (one planted outlier drags
    * a mean for 7 rows; the median shrugs it off). Exact percentile as
    * a WINDOW aggregate over integer cents — ≤7 values per frame, so
    * the median is an element or a .5 midpoint; emitted ×2 as an
    * integer so nothing is ever decimal-rounded. Same single
    * (suppkey) exchange as q65/q68. */
  private[graft] def q72(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      .rowsBetween(-6, Window.currentRow)
    Tables.lineitem(s, d)
      .withColumn("cents",
        round(col("l_extendedprice") * 100, 0).cast("long"))
      .withColumn("med2",
        (expr("percentile(cents, 0.5D)").over(w) * 2).cast("long"))
      .select(col("l_suppkey").as("premise_code"),
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_no"),
        col("cents"), col("med2"))
  }

  /** q73 — ABC / Pareto classification: parts ranked by revenue, class
    * A = parts within the leading 80% of cumulative revenue, B to 95%,
    * C the tail (the inventory-analytics standard). The global
    * cumulative ranking runs over the PER-PART aggregate (dim-sized —
    * |parts| rows, never the fact), which is the only way this op
    * exists at 100 TB: aggregate first, rank the reduction. Integer
    * cents end-to-end; class boundaries compare cum·100 ≤ 80·total in
    * exact int64. Tie order (revenue DESC, partkey) is total. */
  private[graft] def q73(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum", sum(col("rev")).over(w))
      .crossJoin(broadcast(rev.agg(sum(col("rev")).as("total"))))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("total") * 80, "A")
          .when(col("cum") * 100 <= col("total") * 95, "B")
          .otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("sum_rev"))
  }

  /** q70 — LATERAL join battery: the correlated-subquery-as-a-TABLE
    * surface (SQL:1999 lateral derived tables, supported by Spark 4's
    * planner via subquery decorrelation). Two forms no other query
    * exercises: (a) LATERAL with ORDER BY … LIMIT — "top-2 line items
    * per order", which Catalyst decorrelates into a windowed
    * rank-limit instead of running a per-row subquery (the same
    * WindowGroupLimit shape q55 pins directly); (b) LATERAL aggregate —
    * per-order scalar stats joined positionally. Both engines evaluate
    * the same ANSI text modulo view names. Exact columns only: prices
    * ride as stored doubles, counts as bigints, and the top-2 ORDER BY
    * is total (price DESC, linenumber) within an order. */
  private[graft] def q70(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("o_q70")
    Tables.lineitem(s, d).createOrReplaceTempView("li_q70")
    s.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice,
        |       a.n_lines, a.max_price
        |FROM o_q70 o,
        |LATERAL (
        |  SELECT l_linenumber, l_extendedprice FROM li_q70
        |  WHERE l_orderkey = o.o_orderkey
        |  ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t,
        |LATERAL (
        |  SELECT count(*) AS n_lines, max(l_extendedprice) AS max_price
        |  FROM li_q70 WHERE l_orderkey = o.o_orderkey) a
        |WHERE o.o_orderstatus = 'O'
        |""".stripMargin)
  }

  /** q71 — last-touch marketing attribution: each purchase is credited
    * to the user's most recent click/view within a 3-day lookback, else
    * "none". The single-exchange shape (q48/AsOfJoin discipline): union
    * touches+purchases, ONE (user_id) window pass carries the latest
    * touch forward under the TOTAL (ts, event_id) order — no per-user
    * event-history array, no touches⨯purchases join. The lookback is
    * checked AFTER the carry-forward: the newest touch overall is the
    * newest within the window whenever one exists, so the filter is
    * equivalent to windowed argmax (the oracle re-derives it as the
    * joined QUALIFY form to prove exactly that). At 100 TB this is the
    * attribution shape that survives: state per user is one struct, not
    * a history. */
  private[graft] def q71(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val touchT = "struct<t_ts:timestamp,t_id:bigint,t_type:string>"
    val u = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"),
        struct(col("ts").as("t_ts"), col("event_id").as("t_id"),
          col("event_type").as("t_type")).as("touch"),
        lit(null).cast("double").as("value"), lit(false).as("is_p"))
      .unionByName(ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast(touchT).as("touch"),
          col("value"), lit(true).as("is_p")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("last_touch", last(col("touch"), ignoreNulls = true).over(w))
      .filter(col("is_p"))
      .select(col("value"),
        when(col("last_touch").isNotNull &&
            col("last_touch.t_ts") >= col("ts") - expr("INTERVAL 3 DAYS"),
          col("last_touch.t_type")).otherwise(lit("none")).as("attr_type"))
      .groupBy(col("attr_type"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  /** q74 — recursive CTE (SQL:1999 WITH RECURSIVE, new in Spark 4):
    * transitive closure over a synthetic binary-halving hierarchy on
    * part keys (parent(k) = k div 2 — every chain ends at 1, depth
    * ~log₂ k). Seeds are the p_size=50 parts; the walk enumerates each
    * seed's ancestor chain and aggregates exact integer facts per seed.
    * Each recursion step is a self-union iteration the engine drives to
    * fixpoint — the SQL-surface form of the iterative-join loop
    * `operators.Graph` hand-rolls for connected components. All-integer
    * output; DuckDB runs the same construct natively (its `//` is
    * Spark's `DIV`). */
  private[graft] def q74(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d).createOrReplaceTempView("p_q74")
    s.sql(
      """WITH RECURSIVE anc(seed, cur, depth) AS (
        |  SELECT p_partkey, p_partkey, 0 FROM p_q74 WHERE p_size = 50
        |  UNION ALL
        |  SELECT seed, cur DIV 2, depth + 1 FROM anc WHERE cur > 1)
        |SELECT seed, max(depth) AS max_depth, count(*) AS n_nodes,
        |  sum(cur) AS sum_keys
        |FROM anc GROUP BY seed""".stripMargin)
  }

  /** s08 — hybrid retrieval: BM25 lexical ranks fused with dense cosine
    * ranks by reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09):
    * score(d) = Σ_lists 1/(60 + rank_d). The fixture's vec_id indexes
    * the same corpus as doc_id, so the two rankers disagree exactly the
    * way real lexical/dense retrievers do and the fusion is observable.
    * Cross-engine rank discipline: both branches rank over the ROUNDED
    * (4dp) score with an id tie-break — a total order on emitted values
    * — and the RRF sum is two fixed-order terms over small integers, so
    * the doubles are bit-identical. Scale: each branch ends in a
    * top-20 (TakeOrdered on the reduction); the fusion is a full-outer
    * join of two 20-row frames — nothing fact-sized moves. */
  private[graft] def s08(s: SparkSession, d: String): DataFrame = {
    val lex = t14(s, d).select(col("doc_id"), col("rnk").as("lex_rank"))
    val emb = Tables.embeddings(s, d)
    val q0 = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))
    val sims = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .select(col("vec_id").as("doc_id"),
        round(graft.plans.VectorFunctions.cosine(col("embedding"),
          col("qv")), 4).as("sim"))
    val vec = sims.orderBy(col("sim").desc, col("doc_id").asc).limit(20)
      .withColumn("vec_rank", row_number()
        .over(Window.orderBy(col("sim").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("vec_rank"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)), 6)
          .as("rrf"))
  }

  /** q75 — window idiom battery: the standard tricks for per-partition
    * facts no direct window function computes. (a) exact DISTINCT COUNT
    * over a partition = max(dense_rank) — count_distinct is not a
    * window function in either engine; (b) per-partition MEDIAN as a
    * windowed exact percentile on integer cents (×2 integer); (c) share
    * of partition total (ratio-to-report) from two exact integers,
    * rounded at 6dp — one division, identical operands both engines.
    * All three ride ONE (returnflag, linestatus) partitioning; the
    * dense_rank pass adds a second sort, not a second exchange. */
  private[graft] def q75(s: SparkSession, d: String): DataFrame = {
    val part = Seq(col("l_returnflag"), col("l_linestatus"))
    val byPart = Window.partitionBy(part: _*)
    val bySupp = Window.partitionBy(part: _*).orderBy(col("l_suppkey"))
    Tables.lineitem(s, d)
      .withColumn("cents",
        round(col("l_extendedprice") * 100, 0).cast("long"))
      .withColumn("dr", dense_rank().over(bySupp))
      .withColumn("n_supp", max(col("dr")).over(byPart).cast("long"))
      .withColumn("med2",
        (expr("percentile(cents, 0.5D)").over(byPart) * 2).cast("long"))
      .withColumn("share",
        round(col("cents").cast("double") /
          sum(col("cents")).over(byPart).cast("double"), 6))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_orderkey"), col("l_linenumber"), col("cents"),
        col("n_supp"), col("med2"), col("share"))
  }

  /** t22 — duplicated-passage removal with document reassembly: the
    * RefinedWeb/CCNet "line dedup" curation step, at 10-token chunk
    * granularity (the synthetic corpus carries no newlines). Chunk
    * every doc into non-overlapping passages, count DISTINCT docs per
    * passage, drop passages appearing in >= 2 docs, reassemble the
    * survivors in position order. The cross-doc frequency pass groups
    * on xxhash64(chunk) so the shuffle key is 8 bytes, never passage
    * text (d08 lemma: hash ≡ string modulo a 2⁻⁶⁴ collision that would
    * fail the gate deterministically, not flake). Reassembly is
    * sort_array(collect_list(struct(pos, chunk))) — order restored
    * from the data, never from arrival order, so the result is
    * partition-invariant. Oracle runs the passage STRINGS with
    * string_agg(... ORDER BY pos). */
  private[graft] def t22(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val len = 10
    val nChunks =
      greatest(ceil(size(toks) / lit(len.toDouble)), lit(1)).cast("int")
    val chunks = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * len + 1, lit(len))))))
      .select(col("doc_id"), col("pos").cast("int").as("pos"),
        col("col").as("chunk"))
      .filter(col("chunk") =!= "")
      .withColumn("h", xxhash64(col("chunk")))
    // join ONLY the duplicated-hash set (df >= 2): the df==1 majority
    // never enters the build side, so the join input is the duplicated-
    // passage dictionary, not the corpus — AQE broadcasts it when small
    val dupTab = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("doc_df"))
      .filter(col("doc_df") >= 2)
    chunks.join(dupTab, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("doc_df").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(when(col("doc_df").isNull,
            struct(col("pos"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("clean_text"))
  }

  /** t33 — CONTENT-DEFINED chunking (the LBFS/FastCDC family): chunk
    * boundaries cut where a rolling 3-token window's hash satisfies a
    * modulus rule — cut AFTER token p iff md5(t[p-2] t[p-1] t[p])
    * starts with '0' (expected chunk ≈ 16 tokens) — so boundaries are
    * a function of LOCAL content: an insertion re-chunks only its
    * neighborhood, where t05/t22's fixed-size grid shifts every
    * downstream chunk. That stability is why CDC is the storage-dedup
    * standard; the emitted n_shared_chunks (chunks also present in
    * ANOTHER doc) is the dedup potential it exposes. The md5-prefix
    * rule (not xxhash64) keeps the boundary CONTRACT recomputable by
    * the oracle. Scale shape: per-token rows ride ONE per-doc exchange
    * (the lag and running-sum windows share it, q48 discipline); the
    * chunk-df probe joins only the duplicated-hash dictionary (t22's
    * df>=2 prune). Integer-exact. */
  private[graft] def t33(s: SparkSession, d: String): DataFrame = {
    val toksC = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val rows = Tables.documents(s, d)
      .select(col("doc_id"), toksC.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val flagged = rows.withColumn("flag",
      when(col("pos") >= 2 && substring(md5(concat_ws(" ",
        lag(col("tok"), 2).over(wd), lag(col("tok"), 1).over(wd),
        col("tok"))), 1, 1) === "0", 1L).otherwise(0L))
    val withChunk = flagged.withColumn("chunk_id",
      coalesce(sum(col("flag")).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = withChunk.groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("clen"),
        md5(array_join(transform(sort_array(collect_list(
          struct(col("pos"), col("tok")))), x => x.getField("tok")), " "))
          .as("ch"))
    val dup = chunks.select(col("doc_id"), col("ch")).distinct()
      .groupBy(col("ch")).agg(count(lit(1)).as("ddf"))
      .filter(col("ddf") >= 2)
    chunks.join(dup, Seq("ch"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), max(col("clen")).as("max_chunk"),
        sum(col("clen")).as("n_toks"),
        count(when(col("ddf").isNotNull, 1)).as("n_shared_chunks"))
  }

  /** t23 — shingle novelty: per doc, how many of its DISTINCT 3-token
    * shingles first appear in THIS doc (first = smallest owning
    * doc_id) — the standard contribution metric for incremental corpus
    * growth (a doc whose shingles all exist elsewhere adds nothing).
    * Exact integer counts. First-owner is a min over a window keyed on
    * the 8-byte shingle hash — one shuffle — and the per-doc rollup is
    * the second; text never shuffles. */
  private[graft] def t23(s: SparkSession, d: String): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
    val sh3 = when(size(col("toks")) < 3,
        array(concat_ws(" ", col("toks"))))
      .otherwise(transform(sequence(lit(0), size(col("toks")) - 3),
        i => concat_ws(" ", slice(col("toks"), i + 1, lit(3)))))
    val se = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(array_distinct(sh3)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val w = Window.partitionBy(col("h"))
    se.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
  }

  /** d11 — near-dup cluster canonicalization: the step AFTER d07's
    * connected components — pick one representative per cluster (max
    * n_chars, tie smallest doc_id: keep the richest copy) and report
    * what the dedup drops. Completes the near-dedup story: pairs (d04)
    * → clusters (d07) → keep/drop decision (here). The per-cluster
    * argmax is a WindowGroupLimit-shaped top-1, partitioned by
    * component — cluster sizes are bounded by the dup structure, never
    * by corpus size. Oracle: independent recursive-CTE closure (d07's)
    * + the same top-1 under a total order. */
  private[graft] def d11(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = TextDedup.tokenJaccardPairs(docs, "doc_id", "text",
      blockCol = "source", threshold = 0.5)
    val clusters = graft.operators.Graph.dupClusters(
        docs.select(col("doc_id")), pairs.select(col("id_a"), col("id_b")))
      .select(col("node").as("doc_id"), col("component"), col("cluster_size"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_id"),
        col("cluster_size"), (col("cluster_size") - 1).as("n_dropped"))
  }

  /** c06 — UniMax-style budget waterfilling across language strata +
    * exact stratified sampling: give every stratum its full doc count
    * while the budget allows (ascending waterfill), split the
    * remainder uniformly over the capped strata (floor share +
    * deterministic distribution of the modulo to the smallest capped
    * strata), then take exactly `alloc` docs per stratum by md5 rank.
    * The waterfill is CLOSED-FORM over per-stratum counts (funded_i ⇔
    * prefix_i + (S-i)·n_i ≤ T — no sequential recurrence), all integer
    * arithmetic. The per-stratum rank reuses t18's two-level trick:
    * the md5 key's 2-hex-char prefix hash-partitions the rank windows,
    * a tiny (stratum × 256)-row exclusive prefix forms base offsets,
    * and bases + allocations broadcast — no per-stratum single-
    * partition window, so a language holding 40% of a 100 TB corpus
    * still ranks in parallel. */
  private[graft] def c06(s: SparkSession, d: String): DataFrame = {
    // strata = lang (the skewed axis: en dominates) so the fixture
    // exercises all three branches: fully-funded small langs, floor
    // share for capped ones, modulo distribution (75% budget)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val alloc = graft.operators.Curate.unimaxAlloc(n, "lang", 3L, 4L)
    graft.operators.Curate.md5RankByStratum(docs, "doc_id", "lang", "unimax")
      .join(broadcast(alloc), "lang")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("lang"), col("rn"), col("alloc"))
  }

  /** c07 — balance-to-largest upsampling: the complement of c06's
    * budgeted DOWN-sampling — every language stratum is oversampled to
    * the largest stratum's count via integer repeat factors
    * (epoch-style corpus weighting): base = N_max div n_s repeats for
    * every doc, plus one extra epoch for the first (N_max mod n_s)
    * docs by md5 rank, so Σ n_repeats = N_max exactly per stratum.
    * Rank via the shared two-level [[Curate.md5RankByStratum]];
    * integer arithmetic → exact oracle. */
  private[graft] def c07(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val alloc = n.crossJoin(broadcast(n.agg(max(col("n")).as("nmax"))))
      .select(col("lang"), expr("nmax div n").as("base_rep"),
        expr("nmax % n").as("extra"))
    graft.operators.Curate.md5RankByStratum(docs, "doc_id", "lang", "balance")
      .join(broadcast(alloc), "lang")
      .select(col("doc_id"), col("lang"), col("rn"),
        (col("base_rep") +
          when(col("rn") <= col("extra"), 1L).otherwise(0L)).as("n_repeats"))
  }

  /** c08 — DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by how much more likely its tokens are under a TARGET unigram LM
    * (the English stratum) than under the RAW corpus LM —
    * w(doc) = Σ_tok [ ln p̂_T(tok) − ln p̂_R(tok) ], add-1 smoothed
    * over the shared vocabulary. High weight ⇒ target-like text worth
    * upweighting. t13's exact float discipline: both engines evaluate
    * the identical ln-of-ratio terms (ULP drift ~1e-16/term), the sum
    * rounds stably at 4dp, and the exact token count rides along so
    * consumers can per-token normalize without a rounded avg. Scale
    * shape: one vocabulary-sized aggregate carrying BOTH corpus counts
    * (single pass; the lang predicate rides the count), AQE-broadcast
    * against the token stream, then a map-side-combined per-doc sum —
    * the corpus text itself never shuffles. */
  private[graft] def c08(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
        lit(0))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(
      sum(col("cr")).cast("double").as("nr"),
      sum(col("ct")).cast("double").as("nt"),
      count(lit(1)).cast("double").as("v"))
    val lam = counts.crossJoin(broadcast(totals)).select(col("tok"),
      (log((col("ct") + 1).cast("double") / (col("nt") + col("v"))) -
        log((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
        .as("lam"))
    toks.join(lam, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("lam")), 4).as("dsir_weight"),
        count(lit(1)).as("n_toks"))
  }

  /** c09 — temperature-based mixture allocation (the multilingual-LM
    * α-sampling scheme, α = 1/2: sampling weights ∝ n^α renormalized,
    * upweighting small language strata relative to their natural
    * share) via [[graft.operators.Curate.temperatureAlloc]]'s
    * largest-remainder integer apportionment (Σalloc = T exactly;
    * property-tested vs a sequential BigInt Hamilton reference in
    * CurateSpec). Selection reuses the two-level
    * [[graft.operators.Curate.md5RankByStratum]], so no stratum ranks
    * on one partition; the S-row allocation table broadcasts. */
  private[graft] def c09(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
    val n = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val alloc = graft.operators.Curate.temperatureAlloc(n, "lang")
    graft.operators.Curate.md5RankByStratum(docs, "doc_id", "lang", "temper")
      .join(broadcast(alloc), "lang")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("lang"), col("rn"), col("alloc"))
  }

  /** c10 — DSIR-select + temperature-mix, composed: the modern
    * data-selection pipeline in one statement. Keep documents whose
    * 4dp-rounded DSIR weight (c08's signal) is POSITIVE — i.e. more
    * target-like than the raw corpus; a thresholdless, rank-free gate
    * both engines decide identically on the rounded value — then
    * allocate the survivors across languages with
    * [[graft.operators.Curate.temperatureAlloc]] (c09's α-sampling)
    * and select by the shared two-level md5 rank. Proves c08's weight,
    * the Hamilton allocation, and the stratified rank COMPOSE with
    * every stage keeping its scale shape (vocab-sized broadcast,
    * S-row allocation, no data-sized global window). The oracle
    * re-derives the full chain independently. */
  private[graft] def c10(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"),
        lit(0))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(
      count(lit(1)).as("cr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val totals = counts.agg(
      sum(col("cr")).cast("double").as("nr"),
      sum(col("ct")).cast("double").as("nt"),
      count(lit(1)).cast("double").as("v"))
    val lam = counts.crossJoin(broadcast(totals)).select(col("tok"),
      (log((col("ct") + 1).cast("double") / (col("nt") + col("v"))) -
        log((col("cr") + 1).cast("double") / (col("nr") + col("v"))))
        .as("lam"))
    val kept = toks.join(lam, Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(round(sum(col("lam")), 4).as("dw"))
      .filter(col("dw") > 0)
    val n = kept.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val alloc = graft.operators.Curate.temperatureAlloc(n, "lang")
    graft.operators.Curate.md5RankByStratum(kept, "doc_id", "lang", "dsirmix")
      .join(broadcast(alloc), "lang")
      .filter(col("rn") <= col("alloc"))
      .select(col("doc_id"), col("lang"), col("dw"), col("rn"),
        col("alloc"))
  }

  /** g01 — integer PageRank centrality over the customer–supplier
    * trade graph ([[graft.operators.Graph.pageRankInt]]): nodes are
    * customers (2k) and suppliers (2k+1), one undirected edge per
    * DISTINCT trading pair from orders ⋈ lineitem, encoded as both
    * directions so every node owns an outdegree. 3 fixed iterations of
    * the exact millionths-scaled floor-division recurrence — bit-equal
    * on any engine, so the oracle replays the identical unrolled
    * arithmetic. The edge derivation is the scale story: the fact-fact
    * join shuffles on orderkey once, pairs dedup with a map-side
    * partial distinct, and each PR round is one node-sized join
    * against the checkpointed edge frame. */
  private[graft] def g01(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .select(col("o_orderkey").as("ok"), (col("o_custkey") * 2).as("c"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), (col("l_suppkey") * 2 + 1).as("sp")),
        "ok")
      .select(col("c"), col("sp")).distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
    graft.operators.Graph.pageRankInt(edges, iters = 3)
  }

  /** g02 — WEIGHTED integer PageRank: g01's exact recurrence with mass
    * flowing proportionally to integer edge weights (trade intensity —
    * the distinct-order count each customer–supplier pair shares),
    * floor((pr·w) div Σw_out) per edge. Same bit-deterministic
    * arithmetic, same per-round node-sized join; the weight aggregation
    * replaces g01's pair-distinct with one partial-combined groupBy, so
    * the edge build costs the same single orderkey shuffle. */
  private[graft] def g02(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .select(col("o_orderkey").as("ok"), (col("o_custkey") * 2).as("c"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), (col("l_suppkey") * 2 + 1).as("sp")),
        "ok")
      .groupBy(col("c"), col("sp"))
      .agg(countDistinct(col("ok")).as("w"))
    val edges = pairs
      .select(col("c").as("src"), col("sp").as("dst"), col("w"))
      .unionByName(pairs
        .select(col("sp").as("src"), col("c").as("dst"), col("w")))
    graft.operators.Graph.pageRankInt(edges, iters = 3)
  }

  /** g03 — PERSONALIZED integer PageRank
    * ([[graft.operators.Graph.pageRankIntPersonalized]]): g01's graph
    * and exact recurrence, but teleport mass restricted to a seed set
    * (nation-1 customers) — proximity-to-trusted-seeds ranking, the
    * curation form of topic-sensitive PageRank. Non-seed nodes hold
    * rank only through trade paths from the seeds; the per-node floor
    * rides the pinned node-universe frame, so the oracle's unrolled
    * replay must LEFT-join the same universe (zero-in-degree handling
    * is part of the contract, cross-checked by GraphSpec's directed
    * first-principles references). */
  private[graft] def g03(s: SparkSession, d: String): DataFrame = {
    val pairs = Tables.orders(s, d)
      .select(col("o_orderkey").as("ok"), (col("o_custkey") * 2).as("c"))
      .join(Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), (col("l_suppkey") * 2 + 1).as("sp")),
        "ok")
      .select(col("c"), col("sp")).distinct()
    val edges = pairs.select(col("c").as("src"), col("sp").as("dst"))
      .unionByName(pairs.select(col("sp").as("src"), col("c").as("dst")))
    val seeds = Tables.customer(s, d)
      .filter(col("c_nationkey") === 1)
      .select((col("c_custkey") * 2).as("node"))
    graft.operators.Graph.pageRankIntPersonalized(edges, seeds, iters = 3)
  }

}
