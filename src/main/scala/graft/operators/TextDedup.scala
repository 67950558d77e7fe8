package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.SortedIntersectFunctions.sortedIntersectCount

/** Near-duplicate detection over a document corpus — the dedup family a
  * training-data pipeline needs (exact, MinHash+LSH, SimHash, token
  * Jaccard). All operators take/return DataFrames and are built from
  * shuffle-conscious primitives:
  *
  *  - Nothing here ever compares all pairs. Candidate generation is
  *    always an equi-join on a bucket key (LSH band, SimHash chunk,
  *    shared token), which Spark executes as a hash-partitioned shuffle
  *    join — the only all-pairs-free shape that survives 100 TB.
  *  - Signatures (minhash arrays, simhash longs) are tiny relative to
  *    the documents, so candidate joins ship signatures, not text.
  *  - Exact verification (Jaccard / Hamming) runs only on candidate
  *    pairs, post-join.
  */
object TextDedup {

  /** The exact-dedup key of a text: its SHA-256 digest as 32 raw bytes
    * (`unhex(sha2(text, 256))`), half the size of the 64-char hex
    * string `sha2` renders. Every exact probe and exact group-by keys
    * on this one form — [[exact]], [[Curate.incremental]] and the
    * stored `h` of [[graft.streaming.DocStreams]]' probe index. */
  def digest(text: Column): Column = unhex(sha2(text, 256))

  /** Exact dedup: canonical representative (min id) + multiplicity per
    * distinct text. Grouping key is the 32-byte [[digest]] of the raw
    * text, so the shuffle carries 32-byte keys instead of documents. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(digest(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("canonical_id", "n_copies")

  /** MinHash signature: k independent min-hashes over the shingle set,
    * via the codegen'd [[graft.plans.MinHashSignature]] expression (the
    * higher-order-function formulation pays k×|shingles| interpreted
    * lambda calls per row; the custom expression is one primitive loop). */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.plans.MinHashFunctions.minhashSignature(shingleCol, k)

  /** MinHash + LSH banding: docs whose estimated Jaccard is high land in
    * the same band bucket with high probability. Returns verified
    * candidate pairs with exact token-set Jaccard >= `threshold`.
    *
    * Pipeline: shingle → k minhashes → split into `bands` bands →
    * explode (doc, band, bucket=hash(band slice)) → self-join on
    * (band, bucket) → distinct pairs → exact Jaccard verify.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                   threshold: Double = 0.6): DataFrame = {
    val rowsPerBand = k / bands
    // fused shingle+minhash kernel: no shingle strings materialize, and
    // the whole signature stage stays inside whole-stage codegen
    // (byte-identical to shingles()+minhashSignature — TextDedupSpec)
    val withSig = docs.select(
      col(idCol).as("doc_id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .withColumn("sig", graft.plans.MinHashShingleFunctions
        .minhashShingleSignature(col("toks"), shingleN, k))

    // band join + distinct on bare id pairs (token arrays re-attached
    // after dedup — candidate shuffles carry 16-byte rows, not documents)
    val banded = withSig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
          .cast("string")))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    // verify reads a pre-SORTED copy of the token sets (set ops only —
    // the signature above still derives from appearance order) so the
    // exact-Jaccard check is the allocation-free merge-intersect count
    val toks = withSig.select(col("doc_id"), sort_array(col("toks")).as("toks"))
    banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(toks.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(toks.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("jaccard", sortedJaccard(col("toks_a"), col("toks_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact shingle-set Jaccard pairs via the shingle inverted index —
    * the deterministic ground truth for MinHash recall checks: a pair
    * belongs to the truth set iff BOTH its shingle-set Jaccard (what the
    * minhash signature estimates) and its token-set Jaccard (what
    * [[minhashPairs]]' verify stage filters on) clear `threshold`.
    * Shingles are far more discriminative than tokens, so the inverted
    * self-join stays near-linear where a token index would be Σdf²-
    * quadratic. Fully SQL-expressible → DuckDB-oracle-checkable. */
  def shingleJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, threshold: Double = 0.6)
      : DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .withColumn("sh", TextFunctions.shingles(col("toks"), shingleN))
    // shingles over a DISTINCT token sequence cannot repeat, so
    // size(sh) is the set cardinality — the prefix lemma (see
    // tokenJaccardPairs) therefore applies to shingle SETS verbatim,
    // and candidate generation is prefix⋈prefix instead of the full
    // Σ df² inverted-index self-join (same lossless AllPairs rewrite
    // that took d04 off the quadratic head; output set identical, so
    // the d06 oracle and every truth-set consumer stay byte-stable).
    // One global block: the lemma needs any single total order.
    // Fixture caveat, measured: on the synthetic ~31-word vocabulary
    // (identical token sets ⇒ identical shingle arrays ⇒ df ~ N) the
    // prefix is still dense and the canonical sort + distinct cost ~1s
    // over the naive join at sf0.1 — the rewrite buys the BOUND, which
    // is what survives boilerplate-heavy real corpora where naive Σ df²
    // detonates.
    // the carried token copy is pre-sorted: the final token filter only
    // does SET ops on it, and sorted arrays let the verify stage use
    // the merge-intersect count (shingle content still derives from the
    // appearance-ordered `toks` in `base`, untouched)
    val universe = base.select(col("doc_id"), lit("all").as("blk"),
      explode(col("sh")).as("tok"), sort_array(col("toks")).as("toks"))
    val dfTab = universe.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val (docArr, prefix) =
      prefixIndex(universe, dfTab, threshold, extraDocCols = Seq("toks"))
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk")
          && col("a.doc_id") < col("b.doc_id")
          && candidateFilter(threshold))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(docArr.select(col("doc_id").as("id_a"), col("ltoks").as("sh_a"),
        col("n").as("ns_a"), col("toks").as("toks_a")), "id_a")
      .join(docArr.select(col("doc_id").as("id_b"), col("ltoks").as("sh_b"),
        col("n").as("ns_b"), col("toks").as("toks_b")), "id_b")
      .withColumn("si", sortedIntersectCount(col("sh_a"), col("sh_b")))
      .filter(col("si").cast("double") /
        (col("ns_a") + col("ns_b") - col("si")).cast("double") >= threshold)
      // require a shared token (mirrors the oracle's inner joins) so a
      // pair of empty docs ("" shingle, union-0 jaccard=1 convention)
      // cannot enter through the degenerate branch; `ti > 0` excludes
      // the degenerate pair exactly like size(array_intersect) > 0 did,
      // and past it the union is positive so the ratio IS the jaccard
      .withColumn("ti", sortedIntersectCount(col("toks_a"), col("toks_b")))
      .filter(col("ti") > 0 && col("ti").cast("double") /
        (size(col("toks_a")) + size(col("toks_b")) - col("ti"))
          .cast("double") >= threshold)
      .select("id_a", "id_b")
  }

  /** Broder's MinHash Jaccard ESTIMATOR, measured (public literature:
    * Broder 1997, "On the resemblance and containment of documents"):
    * over the exact truth pairs ([[shingleJaccardPairs]] — the
    * SQL-recomputable set), the fraction of agreeing signature
    * components est = |{i : sig_a[i] = sig_b[i]}| / k estimates the
    * shingle-set Jaccard the signature was built from (each component
    * agrees with probability exactly J). d02 gates the LSH pipeline's
    * RECALL; this gates the ESTIMATE's accuracy — the quantity a
    * dedup pipeline thresholds on when it skips exact verification at
    * scale and trusts signatures alone (k is the precision dial:
    * stderr = √(J(1−J)/k) ≤ 0.0625 at k=64).
    *
    * Scale shape: signatures are k longs per doc computed in one
    * codegen pass; the estimate join touches only the truth/candidate
    * pairs, with per-pair cost k — no shingle strings move.
    *
    * @param bound   |est − J| tolerance the `est_ok` boolean asserts
    *                (RecallProbe prints the measured max behind it)
    * @param emitEst include the rounded estimate column (diagnostics;
    *                the oracle-gated form omits it — DuckDB cannot
    *                recompute hash-family internals) */
  def minhashEstimateCheck(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 64, shingleN: Int = 3,
                           threshold: Double = 0.6, bound: Double = 0.25,
                           emitEst: Boolean = false): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
      .withColumn("sh", TextFunctions.shingles(col("toks"), shingleN))
      .withColumn("sig", graft.plans.MinHashShingleFunctions
        .minhashShingleSignature(col("toks"), shingleN, k))
    val sides = base.select(col("doc_id"), col("sh"), col("sig"))
    val paired = shingleJaccardPairs(docs, idCol, textCol, shingleN, threshold)
      .join(sides.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(sides.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "id_b")
      .withColumn("si",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jac", col("si") /
        (size(col("sh_a")) + size(col("sh_b")).cast("double") - col("si")))
      .withColumn("est",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble))
    paired.select(Seq(col("id_a"), col("id_b"),
      round(col("jac"), 4).as("jaccard"),
      (abs(col("est") - col("jac")) <= bound).as("est_ok")) ++
      (if (emitEst) Seq(round(col("est"), 4).as("est")) else Nil): _*)
  }

  /** Operator form of the MinHash estimate: signature computation plus
    * the k-component agreement join over an ALREADY-MATERIALIZED pair
    * frame (id_a, id_b) — what a pipeline that trusts signatures
    * actually executes per run (the candidate/truth pairs come from a
    * persisted upstream stage, computed once). [[minhashEstimateCheck]]
    * wraps this in a from-scratch exact shingle-Jaccard derivation so
    * the ORACLE can assert the error bound; Bench measures THIS form
    * (the benchOverrides rule — the verification harness is not the
    * operator). */
  def minhashEstimateOverPairs(docs: DataFrame, pairs: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 64, shingleN: Int = 3): DataFrame = {
    val sides = docs.select(col(idCol).as("doc_id"),
      graft.plans.MinHashShingleFunctions.minhashShingleSignature(
        TextFunctions.tokenSet(col(textCol)), shingleN, k).as("sig"))
    pairs
      .join(sides.select(col("doc_id").as("id_a"), col("sig").as("sig_a")),
        "id_a")
      .join(sides.select(col("doc_id").as("id_b"), col("sig").as("sig_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / lit(k.toDouble), 4)
          .as("est"))
  }

  /** Exact token-set Jaccard as a Column expression. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** [[jaccard]] over arrays known to be sorted ascending + distinct
    * (same union-0 ⇒ 1.0 convention), via the merge-intersect count. */
  private def sortedJaccard(a: Column, b: Column): Column = {
    val inter = sortedIntersectCount(a, b).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0.0, lit(1.0)).otherwise(inter / union)
  }

  /** All-pairs token Jaccard >= threshold inside a blocking column
    * (e.g. source), with LOSSLESS prefix-filtering candidate generation
    * (AllPairs/PPJoin, Bayardo et al. WWW'07 / Xiao et al. WWW'08 —
    * public literature):
    *
    * Order each block's vocabulary by (df asc, token asc) — a global
    * total order putting the rarest tokens first. For a doc with n
    * tokens, index only its PREFIX: the first n - ceil(t*n) + 1 tokens
    * in that order. Lemma: if J(A,B) >= t, the smallest-ordered token w
    * of A∩B lies in both prefixes — every token of A before w is outside
    * the intersection, and there are at most |A| - |A∩B| <= n_a -
    * ceil(t*n_a) of those (|A∩B| >= t*|A∪B| >= t*|A|), so w sits within
    * A's prefix; symmetrically for B. Joining prefix-index to
    * prefix-index therefore finds EVERY qualifying pair, while candidate
    * volume collapses from Σ_token df² (the naive inverted index — a
    * token in half the block generates (N/2)² join rows) to
    * Σ_{prefix tokens} df_prefix²: stopword-like tokens sort LAST and
    * never enter a prefix unless a doc is nearly all stopwords. This is
    * what makes exact Jaccard survive 100 TB with unchanged semantics —
    * the verify stage recomputes true Jaccard per candidate from the
    * full token arrays, so output is identical to the naive plan and the
    * DuckDB oracle stays byte-for-byte the same.
    *
    * @param maxDfRatio optional additional scale dial: tokens present in
    *   more than this fraction of their block are dropped from the token
    *   universe FIRST (both intersections AND set sizes — a
    *   self-consistent Jaccard over the discriminative-token universe).
    *   1.0 = off (exact classic Jaccard, the d04 contract); 0.8 is the
    *   d04b contract, mirrored in its oracle. Lossy by documented
    *   design (a pair whose overlap is ONLY ubiquitous tokens is no
    *   near-dup); prefix filtering then runs on the capped universe. */
  def tokenJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, threshold: Double,
                        maxDfRatio: Double = 1.0): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
      TextFunctions.tokenSet(col(textCol)).as("toks"))
    val inverted = toks.select(col("doc_id"), col("blk"),
      explode(col("toks")).as("tok"))

    // canonical token order key = (df asc, token asc) per block. The df
    // table is vocabulary-sized; no forced broadcast on its fact-side
    // join — AQE picks a broadcast join when the vocab is small and a
    // co-partitioned shuffle join when it isn't (a real corpus
    // vocabulary can be GBs). Computed ONCE: capping drops whole tokens
    // (never individual occurrences), so the kept tokens' df values are
    // unchanged and the capped universe's df table is just the filtered
    // df table — no second aggregation over the joined universe.
    val dfAll = inverted.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))

    val (universe, dfTab) =
      if (maxDfRatio < 1.0) {
        // blocks and the (block, token) vocabulary are both tiny relative
        // to the corpus — the kept-token table broadcasts, so capping adds
        // one small aggregation, no extra fact-side shuffle
        val blockSizes = docs.groupBy(col(blockCol).as("blk"))
          .agg(count(lit(1)).as("bn"))
        val kept = dfAll
          .join(broadcast(blockSizes), "blk")
          .filter(col("df") <= col("bn") * maxDfRatio)
          .select("blk", "tok", "df")
        (inverted.join(broadcast(kept.select("blk", "tok")),
          Seq("blk", "tok")), kept)
      } else (inverted, dfAll)

    val (docArr, prefix) = prefixIndex(universe, dfTab, threshold)

    // candidates: prefix-to-prefix equi-join, distinct on bare id pairs
    // (token arrays re-attached after — the dedup shuffle carries 16-byte
    // rows, not documents)
    val cand = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk")
          && col("a.doc_id") < col("b.doc_id")
          && candidateFilter(threshold))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()

    verifyJaccard(cand, docArr, threshold)
  }

  /** Cross-set token Jaccard with the SAME lossless prefix filter as
    * [[tokenJaccardPairs]]: every `probe` doc paired with every `index`
    * doc in its block at Jaccard >= threshold. This is the INCREMENTAL
    * shape — at 100 TB you never re-dedup the curated corpus against
    * itself per ingest; you join the new batch's prefixes against the
    * (precomputable, reusable) corpus prefix index, so cost scales with
    * the delta, not the corpus. The candidate join is probe-prefix ⋈
    * index-prefix only: within-probe and within-index pairs never form.
    *
    * Correctness of the shared canonical order: the prefix lemma needs
    * ONE global total order over tokens, common to both sides — so df is
    * computed over the UNION of both sides' inverted indexes. (For a
    * long-lived corpus index, corpus-only df works too: any fixed total
    * order preserves the lemma; df-ordering only tunes selectivity.)
    *
    * Requires probe and index ids to be disjoint (one `doc_id` column
    * keys the shared index). */
  def tokenJaccardAgainst(probe: DataFrame, index: DataFrame,
                          idCol: String, textCol: String, blockCol: String,
                          threshold: Double): DataFrame = {
    def tag(df: DataFrame, side: Int) =
      df.select(col(idCol).as("doc_id"), col(blockCol).as("blk"),
        TextFunctions.tokenSet(col(textCol)).as("toks"),
        lit(side).as("side"))
    val inverted = tag(probe, 0).unionByName(tag(index, 1))
      .select(col("doc_id"), col("blk"), col("side"),
        explode(col("toks")).as("tok"))
    val dfTab = inverted.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val (docArr, prefix) =
      prefixIndex(inverted, dfTab, threshold, extraDocCols = Seq("side"))
    val cand = prefix.filter(col("side") === 0).alias("a")
      .join(prefix.filter(col("side") === 1).alias("b"),
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk")
          && candidateFilter(threshold))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyJaccard(cand, docArr, threshold)
      .select(col("id_a").as("probe_id"), col("id_b").as("index_id"),
        col("jaccard"))
  }

  /** Cross-set token Jaccard against a PRE-TOKENIZED index side — the
    * per-ingest form whose index-side cost is ONE scan of stored
    * (doc_id, blk, stoks) rows: no per-batch re-tokenize, no df table
    * over the corpus, no per-corpus-doc sort/aggregate (guide §2.3 /
    * §8: decide with small rows — the corpus contributes exploded
    * token rows to a hash join probe and its stored arrays to the
    * verify re-attach, nothing else, and neither ever shuffles: the
    * probe side broadcasts both times).
    *
    * Candidate pruning is the PROBE-side prefix under the probe
    * batch's own (df, tok) order — lossless with only the probe
    * ordered, because the index side indexes ALL its tokens (the
    * asymmetric argument of [[tokenContainmentPairs]]): a qualifying
    * pair's probe-canonically-smallest shared token sits in the
    * probe's prefix (lemma) and somewhere in the index side's full
    * rows, so one join row always survives; the LENGTH filter is
    * order-free, and the probe-side positional bound
    * `(1 + n_a − i)·(1+t) ≥ t·(n_a+n_b)` holds for that token since
    * every other intersection member follows it on the probe side.
    * The verify stage recomputes exact Jaccard, so the OUTPUT is
    * identical to [[tokenJaccardAgainst]] on the same logical inputs
    * (StreamingSpec + TextDedupSpec pin it). Probe-local df ordering
    * keeps stopwords out of probe prefixes (a delta batch samples the
    * same token distribution as the corpus), so the Σ df_index·
    * df_probe_prefix candidate head stays linear-ish in the delta.
    *
    * @param probe (doc_id, blk, stoks) — stoks sorted-ascending distinct
    * @param index (doc_id, blk, stoks) — the stored form; ids disjoint
    *              from the probe's */
  def tokenJaccardAgainstIndexed(probe: DataFrame, index: DataFrame,
                                 threshold: Double): DataFrame = {
    val pInv = probe.select(col("doc_id"), col("blk"),
      explode(col("stoks")).as("tok"))
    val dfTab = pInv.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val (docArr, prefix) = prefixIndex(pInv, dfTab, threshold)
    val iTok = index.select(col("doc_id").as("id_b"), col("blk"),
      size(col("stoks")).as("n_b"), explode(col("stoks")).as("tok"))
      .alias("b")
    val na = col("a.n"); val nb = col("b.n_b")
    val cand = prefix.alias("a")
      .join(iTok,
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk")
          && least(na, nb).cast("double") >=
            lit(threshold) * greatest(na, nb).cast("double") - lit(1e-9)
          && (lit(1) + (na - col("a.pos"))).cast("double") *
            lit(1.0 + threshold) >=
            lit(threshold) * (na + nb).cast("double") - lit(1e-9))
      .select(col("a.doc_id").as("id_a"), col("b.id_b").as("id_b"))
      .distinct()
    cand
      .join(docArr.select(col("doc_id").as("id_a"),
        col("ltoks").as("toks_a"), col("n").as("n_a")), "id_a")
      .join(index.select(col("doc_id").as("id_b"),
        col("stoks").as("toks_b"), size(col("stoks")).as("n_bv")), "id_b")
      .withColumn("inter",
        sortedIntersectCount(col("toks_a"), col("toks_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_bv") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("probe_id"), col("id_b").as("index_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** Canonical-order doc arrays + prefix index, shared by the within-set
    * and cross-set prefix-filter joins. `universe` = (doc_id, blk, tok
    * [, extras…]) occurrence rows over the kept token universe; `dfTab` =
    * (blk, tok, df) in the SAME universe. `extraDocCols` are constant per
    * doc (e.g. a side tag) and are carried onto the prefix rows. */
  /** Directional token-set CONTAINMENT pairs within a block: every
    * (sub, sup) with |tok(sub) ∩ tok(sup)| / |tok(sub)| ≥ threshold,
    * sub ≠ sup — the quote/excerpt detector symmetric Jaccard misses
    * (a paragraph quoted inside a much larger doc has tiny Jaccard but
    * containment ≈ 1). Asymmetric prefix filtering: the SUB side keeps
    * the [[prefixIndex]] prefix — C(A→B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉,
    * so the canonically-smallest shared token sits within A's first
    * |A| − ⌈t·|A|⌉ + 1 tokens, same lemma as Jaccard — but the SUP side
    * must index ALL its tokens (the shared token can sit anywhere in
    * B's order). Candidate volume is Σ_tok df_full·df_prefix: a
    * stopword only enters a prefix when a doc is nearly all stopwords,
    * so the quadratic head never forms. Verify recomputes exact
    * containment from the full arrays — output identical to the naive
    * inverted-index plan, oracle unchanged. Containment itself is an
    * exact rational (i / n_sub) — full oracle, no contract needed. */
  def tokenContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                            blockCol: String, threshold: Double)
      : DataFrame = {
    val inverted = docs.select(col(idCol).as("doc_id"),
      col(blockCol).as("blk"),
      explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
    val dfTab = inverted.groupBy(col("blk"), col("tok"))
      .agg(count(lit(1)).as("df"))
    val (docArr, prefix) = prefixIndex(inverted, dfTab, threshold)
    val full = docArr.select(col("blk"), col("doc_id"), col("n"),
      posexplode(col("otoks")))
      .select(col("blk"), col("doc_id"), col("n"),
        (col("pos") + 1).as("pos"), col("col").as("tok"))
    // asymmetric PPJoin filters (lossless, same argument as
    // [[candidateFilter]] with the bound taken against t·n_sub):
    // C(A→B) >= t forces |A∩B| >= t·n_a, and |A∩B| <= n_b and
    // <= 1 + min(n_a−i, n_b−j) for the canonically-smallest shared
    // token — which the prefix lemma puts in A's prefix and which sits
    // SOMEWHERE in B's full index, so one row per qualifying pair
    // always survives. Verify recomputes exact containment regardless.
    val tNa = lit(threshold) * col("a.n").cast("double") - lit(1e-9)
    val cand = prefix.alias("a")
      .join(full.alias("b"),
        col("a.tok") === col("b.tok") && col("a.blk") === col("b.blk")
          && col("a.doc_id") =!= col("b.doc_id")
          && col("b.n").cast("double") >= tNa
          && (lit(1) + least(col("a.n") - col("a.pos"),
               col("b.n") - col("b.pos"))).cast("double") >= tNa)
      .select(col("a.doc_id").as("id_sub"), col("b.doc_id").as("id_sup"))
      .distinct()
    cand
      .join(docArr.select(col("doc_id").as("id_sub"),
        col("ltoks").as("toks_a"), col("n").as("n_sub")), "id_sub")
      .join(docArr.select(col("doc_id").as("id_sup"),
        col("ltoks").as("toks_b")), "id_sup")
      .withColumn("inter",
        sortedIntersectCount(col("toks_a"), col("toks_b")))
      .withColumn("containment",
        col("inter").cast("double") / col("n_sub").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_sub"), col("id_sup"),
        round(col("containment"), 4).as("containment"))
  }

  private def prefixIndex(universe: DataFrame, dfTab: DataFrame,
                          threshold: Double,
                          extraDocCols: Seq[String] = Nil)
      : (DataFrame, DataFrame) = {
    // one row per doc: tokens sorted by the canonical order (struct sort
    // is lexicographic on (df, tok) — a total order since tok is unique
    // within a doc, so collect_list's arrival order cannot leak through)
    val extras = extraDocCols.map(c => first(col(c)).as(c))
    // otoks = canonical (df, tok) order — what prefixes/positions slice;
    // ltoks = the SAME set sorted plain-ascending, the order the verify
    // stage's merge-intersect count needs (one extra per-doc sort here,
    // map-side after the agg; consumers prune whichever they don't read)
    val docArr = universe.join(dfTab, Seq("blk", "tok"))
      .groupBy(col("blk"), col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("ord"),
        extras: _*)
      .select(col("blk") +: col("doc_id") +:
        transform(col("ord"), x => x.getField("tok")).as("otoks") +:
        sort_array(transform(col("ord"), x => x.getField("tok"))).as("ltoks") +:
        size(col("ord")).as("n") +: extraDocCols.map(col): _*)

    // prefix index: the first n - ceil(t*n) + 1 canonical tokens, each
    // carrying its 1-based canonical position and the doc's set size so
    // candidate joins can apply the PPJoin length + positional filters
    // (see [[candidateFilter]]) before the distinct exchange
    val prefLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    val prefix = docArr.select(Seq(col("blk"), col("doc_id"), col("n"),
      posexplode(slice(col("otoks"), lit(1), prefLen))) ++
      extraDocCols.map(col): _*)
      .select(Seq(col("blk"), col("doc_id"), col("n"),
        (col("pos") + 1).as("pos"), col("col").as("tok")) ++
        extraDocCols.map(col): _*)
    (docArr, prefix)
  }

  /** PPJoin candidate filters (Xiao et al. WWW'08, public literature) —
    * LOSSLESS extra predicates on the prefix⋈prefix join, evaluated
    * during the hash-join probe so pruned rows never reach the distinct
    * exchange (guide §2.3 "shuffle fewer bytes"):
    *
    *  - LENGTH: J(A,B) >= t forces |A∩B| <= min(n_a,n_b) and
    *    |A∪B| >= max(n_a,n_b), so min >= t·max.
    *  - POSITIONAL: for a shared token at 1-based canonical positions
    *    (i, j), the intersection beyond it lives in both suffixes, so
    *    |A∩B| <= 1 + min(n_a−i, n_b−j); J >= t needs
    *    |A∩B| >= t/(1+t)·(n_a+n_b), i.e. (1+t)·bound >= t·(n_a+n_b).
    *
    * Losslessness: the prefix lemma already guarantees the canonically
    * SMALLEST common token of any qualifying pair sits in both prefixes;
    * for THAT token both inequalities hold (every other intersection
    * member is after it on both sides), so at least one join row per
    * qualifying pair always survives — the distinct'd pair set is
    * unchanged, and the verify stage recomputes exact Jaccard regardless.
    * The 1e-9 slack only ever ADMITS boundary rows (double rounding of
    * t·n must never prune an exact-rational equality case).
    *
    * Measured at sf0.1 (31-token adversarial vocabulary, t=0.5): the
    * d04 prefix join's output into distinct drops 5.50M → 2.91M rows
    * (−47%) and the distinct pair set entering verify 621k → 536k
    * (−14%), at zero output change. */
  private def candidateFilter(threshold: Double): Column = {
    val (na, nb) = (col("a.n"), col("b.n"))
    val bound = lit(1) + least(na - col("a.pos"), nb - col("b.pos"))
    least(na, nb).cast("double") >=
      lit(threshold) * greatest(na, nb).cast("double") - lit(1e-9) &&
    bound.cast("double") * lit(1.0 + threshold) >=
      lit(threshold) * (na + nb).cast("double") - lit(1e-9)
  }

  /** Exact verify: true Jaccard over the full (universe) token arrays,
    * recomputed per candidate — output is identical to the naive
    * inverted-index plan, which is what keeps the DuckDB oracles
    * byte-for-byte unchanged under prefix filtering. The intersection
    * count is the sorted-merge expression over the plain-ascending
    * copies (no hash set, no materialized intersection array per
    * candidate — the verify stage is the family's measured bottleneck,
    * OPTIMIZATION_r15.md). */
  private def verifyJaccard(cand: DataFrame, docArr: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(docArr.select(col("doc_id").as("id_a"),
        col("ltoks").as("toks_a"), col("n").as("n_a")), "id_a")
      .join(docArr.select(col("doc_id").as("id_b"),
        col("ltoks").as("toks_b"), col("n").as("n_b")), "id_b")
      .withColumn("inter",
        sortedIntersectCount(col("toks_a"), col("toks_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** 64-bit SimHash per document, computed the scalable way: explode to
    * (doc, token-hash), then 64 codegen'd conditional-count aggregates
    * (one per bit) with map-side partial aggregation — no interpreted
    * higher-order lambdas in the hot path, and the shuffle carries 64
    * longs per doc-partition, not tokens. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokHashes = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val agg = tokHashes.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** Generic banded Hamming-ball self-join over 64-bit signatures —
    * the multi-index blocking shared by SimHash text dedup (d03) and
    * perceptual image-hash dedup (m08): block on the four 16-bit
    * chunks (pigeonhole: any pair within Hamming distance 3 shares at
    * least one intact chunk, so candidate generation is LOSSLESS for
    * maxHamming <= 3), then verify exact Hamming via bit_count(xor) on
    * candidates only. The corpus never self-joins unblocked; shuffle
    * keys are 2-byte chunks, candidates are distinct'd before the
    * popcount so a pair sharing k chunks verifies once.
    *
    * @param sigs   (id, signature) frame, signature a packed int64
    * @param maxHamming inclusive distance cutoff, must be <= 3 for the
    *               4-chunk index to be lossless (asserted)
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming long */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      "4-chunk pigeonhole index is lossless only for maxHamming <= 3")
    val chunked = sigs.select(col(idCol).as("doc_id"),
      col(sigCol).as("sig"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col(sigCol), j * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")

    val l = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_a"), col("sig").as("sim_a"))
    val r = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_b"), col("sig").as("sim_b"))

    l.join(r, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs: [[simhash]] signatures through the shared
    * [[hammingPairs]] banded index. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol), "doc_id", "simhash",
      maxHamming)
}
