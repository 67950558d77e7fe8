package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The composed training-data curation pipeline — the end-to-end flow a
  * corpus owner actually runs, built entirely from this repo's
  * operators:
  *
  *   1. quality gate   — word-count floor + punctuation-ratio ceiling
  *                       (t02's signals as a filter)
  *   2. exact dedup    — keep the min-id doc per normalized fingerprint
  *                       (t04's md5 key)
  *   3. near-dup prune — two semantics, both shipped:
  *                       [[kept]] drops the larger id of every verified
  *                       near-dup pair (pairwise prune — keeps every
  *                       LOCAL-minimum doc, so a cluster {1–3, 2–3}
  *                       keeps both 1 and 2);
  *                       [[keptClustered]] unions the pairs into
  *                       connected components ([[Graph]]) and keeps ONE
  *                       canonical doc per cluster — the semantics a
  *                       corpus owner usually wants. `exactPairs = true`
  *                       uses the SQL-expressible shingle+token-Jaccard
  *                       truth set (oracle-checkable), `false` the
  *                       MinHash+LSH candidate path (the 100 TB route —
  *                       measured 100% recall of the truth set on the
  *                       fixture)
  *   4. chunking       — t05's overlapping token windows
  *
  * Every stage is a declarative transform on the same DataFrame, so
  * Catalyst fuses the projections and the only shuffles are the ones
  * the semantics demand (fingerprint group, pair join, chunk explode).
  * The quality/unique stages are FACTORED helpers shared by every
  * entry point, so funnel counts and kept sets can never silently
  * diverge when a threshold changes.
  */
object Curate {

  /** Stage 1: the quality gate. */
  private def qualityDocs(docs: DataFrame, textCol: String,
                          minWords: Int, maxPunctRatio: Double): DataFrame = {
    val t = col(textCol)
    val nWords = regexp_count(t, lit("\\S+")).cast("double")
    val nChars = length(t).cast("double")
    val nPunct = regexp_count(t, lit("[^A-Za-z0-9\\s]")).cast("double")
    // NULL ratio (empty doc) fails the predicate in both engines
    docs.filter(nWords >= minWords &&
      nPunct / nullif(nChars, lit(0.0)) <= maxPunctRatio)
  }

  /** Stage 2: exact dedup — min-id doc per normalized fingerprint. */
  private def uniqueDocs(quality: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val wFp = Window.partitionBy(TextFunctions.fingerprint(col(textCol)))
    quality
      .withColumn("__canon", min(col(idCol)).over(wFp))
      .filter(col(idCol) === col("__canon")).drop("__canon")
  }

  /** Stage 3's edge set: verified near-dup pairs over the unique docs. */
  private def nearDupPairs(unique: DataFrame, idCol: String,
                           textCol: String, nearThreshold: Double,
                           exactPairs: Boolean): DataFrame =
    if (exactPairs)
      TextDedup.shingleJaccardPairs(unique, idCol, textCol,
        threshold = nearThreshold).select("id_a", "id_b")
    else
      TextDedup.minhashPairs(unique, idCol, textCol,
        threshold = nearThreshold).select("id_a", "id_b")

  /** Documents surviving quality gate + exact dedup + PAIRWISE near-dup
    * prune (every doc that is the larger side of any pair drops). */
  def kept(docs: DataFrame, idCol: String, textCol: String,
           minWords: Int = 5, maxPunctRatio: Double = 0.3,
           nearThreshold: Double = 0.6, exactPairs: Boolean = true)
      : DataFrame = {
    val unique = uniqueDocs(
      qualityDocs(docs, textCol, minWords, maxPunctRatio), idCol, textCol)
    val pairs = nearDupPairs(unique, idCol, textCol, nearThreshold, exactPairs)
    unique.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Documents surviving quality gate + exact dedup + CLUSTER-canonical
    * near-dup dedup: pairs union into connected components
    * ([[Graph.dupClusters]], large-star/small-star — O(log²n) rounds at
    * any cluster diameter) and only each component's minimum id
    * survives. Subset of [[kept]]'s result: pairwise pruning keeps every
    * local minimum, this keeps the global one per cluster. */
  def keptClustered(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 5, maxPunctRatio: Double = 0.3,
                    nearThreshold: Double = 0.6, exactPairs: Boolean = true)
      : DataFrame = {
    val unique = uniqueDocs(
      qualityDocs(docs, textCol, minWords, maxPunctRatio), idCol, textCol)
    val pairs = nearDupPairs(unique, idCol, textCol, nearThreshold, exactPairs)
    val canon = Graph.dupClusters(unique.select(col(idCol)), pairs)
      .filter(col("node") === col("component"))
      .select(col("node").as(idCol))
    unique.join(canon, Seq(idCol), "left_semi")
  }

  /** Overlapping token-window chunks of the kept documents. */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
             chunkLen: Int = 30, stride: Int = 20): DataFrame = {
    val toks = regexp_extract_all(lower(col(textCol)), lit("[a-z0-9]+"), lit(0))
    val nChunks = ceil(greatest(size(toks) - chunkLen, lit(0)) /
      lit(stride.toDouble)).cast("int") + 1
    docs.select(col(idCol), posexplode(transform(
      sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunkLen))))))
      .select(col(idCol), col("pos").cast("int").as("chunk_idx"),
        col("col").as("chunk"))
  }

  /** Incremental curation: admit a DELTA batch against an existing
    * (already-curated) CORPUS without touching the corpus itself — the
    * shape every production ingest actually runs at 100 TB (you never
    * re-dedup the curated store per batch; you test the new docs against
    * it). Per delta doc this emits
    *
    *   - `exact_dup`  — a corpus doc with identical text exists
    *                    (keyed on [[TextDedup.digest]] so the probe
    *                    shuffle carries 32-byte keys, not documents),
    *   - `near_dup`   — some same-block corpus doc has token Jaccard >=
    *                    `threshold`, found via the cross-set lossless
    *                    prefix-filter join ([[TextDedup.tokenJaccardAgainst]])
    *                    whose candidate cost scales with the delta, not
    *                    the corpus,
    *   - `kept`       — neither.
    *
    * Both probes are semi-join shaped: nothing about the corpus is ever
    * materialized per delta row beyond its (reusable) hash set and
    * prefix index. Requires delta and corpus ids disjoint. */
  def incremental(delta: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String, blockCol: String,
                  threshold: Double = 0.5): DataFrame = {
    val dh = delta.select(col(idCol).as("doc_id"),
      TextDedup.digest(col(textCol)).as("h"))
    val ch = corpus.select(TextDedup.digest(col(textCol)).as("h")).distinct()
    val exactDup = dh.join(ch, Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("__exact", lit(true))
    val nearDup = TextDedup.tokenJaccardAgainst(delta, corpus,
        idCol, textCol, blockCol, threshold)
      .select(col("probe_id").as("doc_id")).distinct()
      .withColumn("__near", lit(true))
    delta.select(col(idCol).as("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__exact"), lit(false)).as("exact_dup"),
        coalesce(col("__near"), lit(false)).as("near_dup"))
      .withColumn("kept", !col("exact_dup") && !col("near_dup"))
  }

  /** [[incremental]] against a PRE-INDEXED corpus: `index` carries one
    * row per corpus doc — (doc_id, blk, h, stoks), computed ONCE at
    * that doc's own ingest ([[graft.streaming.DocStreams]] maintains
    * the store) — so the per-batch probe never re-reads corpus text:
    * the exact probe semi-joins stored 32-byte hashes, the near probe
    * runs the asymmetric prefix-filter join against stored sorted
    * token arrays ([[TextDedup.tokenJaccardAgainstIndexed]]). Verdicts
    * are IDENTICAL to [[incremental]] over the same logical corpus
    * (both probes verify exactly; StreamingSpec pins equality).
    * `deltaPrep` carries the same (doc_id, blk, h, stoks) shape for
    * the delta, computed once by the caller and reused for the index
    * append. */
  def incrementalIndexed(deltaPrep: DataFrame, index: DataFrame,
                         threshold: Double = 0.5): DataFrame = {
    val exactDup = deltaPrep.select(col("doc_id"), col("h"))
      .join(index.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct().withColumn("__exact", lit(true))
    val nearDup = TextDedup.tokenJaccardAgainstIndexed(
        deltaPrep.select(col("doc_id"), col("blk"), col("stoks")),
        index.select(col("doc_id"), col("blk"), col("stoks")), threshold)
      .select(col("probe_id").as("doc_id")).distinct()
      .withColumn("__near", lit(true))
    deltaPrep.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__exact"), lit(false)).as("exact_dup"),
        coalesce(col("__near"), lit(false)).as("near_dup"))
      .withColumn("kept", !col("exact_dup") && !col("near_dup"))
  }

  /** One-row funnel summary over the whole pipeline (the oracle form).
    * Takes the SAME thresholds as [[kept]] and threads them through the
    * SHARED stage helpers, so the per-stage numbers and the final
    * funnels can never silently diverge. Emits BOTH prune semantics —
    * n_kept (pairwise) and n_kept_clustered (cluster-canonical) — so
    * the difference between them is a measured quantity. */
  def stats(docs: DataFrame, idCol: String, textCol: String,
            minWords: Int = 5, maxPunctRatio: Double = 0.3,
            nearThreshold: Double = 0.6, exactPairs: Boolean = true)
      : DataFrame = {
    val quality = qualityDocs(docs, textCol, minWords, maxPunctRatio)
    val unique = uniqueDocs(quality, idCol, textCol)
    val keptDocs = kept(docs, idCol, textCol,
      minWords, maxPunctRatio, nearThreshold, exactPairs)
    val clusteredDocs = keptClustered(docs, idCol, textCol,
      minWords, maxPunctRatio, nearThreshold, exactPairs)
    docs.agg(count(lit(1)).as("n_input"))
      .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
      .crossJoin(unique.agg(count(lit(1)).as("n_unique")))
      .crossJoin(keptDocs.agg(count(lit(1)).as("n_kept")))
      .crossJoin(clusteredDocs.agg(count(lit(1)).as("n_kept_clustered")))
      .crossJoin(chunks(keptDocs, idCol, textCol)
        .agg(count(lit(1)).as("n_chunks")))
  }

  /** UniMax-style budget waterfilling over per-stratum counts
    * (`counts`: one row per stratum with a long `n` column): every
    * stratum keeps its full count while the budget T =
    * N·budgetNum/budgetDen allows, processed in ascending (n, key)
    * order; the remainder splits uniformly over the capped strata —
    * floor share plus one extra doc for the first (R mod k) of them.
    *
    * The waterfill is CLOSED-FORM, not a sequential recurrence: stratum
    * i (ascending) is fully funded iff prefixᵢ + (S−i)·nᵢ ≤ T, because
    * F(L) = Σ min(nⱼ, L) is nondecreasing, so the funded set is always
    * an ascending prefix. All integer arithmetic → engine-exact. The
    * windows here touch only the S-row counts frame; sampling docs
    * against the returned allocations is the caller's job (see c06 —
    * two-level md5 rank, never a per-stratum single-partition window).
    *
    * Invariants (property-tested in CurateSpec against a sequential
    * reference): allocᵢ ≤ nᵢ, Σ alloc = min(T, N), and every funded
    * stratum is no larger than every capped one. */
  /** Deterministic per-stratum md5 rank, computed TWO-LEVEL (the t18
    * pattern): the md5 key's 2-hex-char prefix hash-partitions the
    * row_number windows, per-(stratum, bucket) counts form exclusive
    * base offsets (≤ strata × 256 rows), and bases broadcast back — a
    * stratum holding 40% of a 100 TB corpus still ranks in parallel.
    * Appends `rn` (1-based within stratum, ordered by (md5(id:salt),
    * id) — total, so partition-invariant). */
  def md5RankByStratum(docs: DataFrame, idCol: String, stratumCol: String,
                       salt: String): DataFrame = {
    val keyed = docs
      .withColumn("__mk",
        md5(concat(col(idCol).cast("string"), lit(s":$salt"))))
      .withColumn("__bucket", substring(col("__mk"), 1, 2))
    val localW = Window.partitionBy(col(stratumCol), col("__bucket"))
      .orderBy(col("__mk").asc, col(idCol).asc)
    val local = keyed.withColumn("__lrn",
      row_number().over(localW).cast("long"))
    val baseW = Window.partitionBy(col(stratumCol))
      .orderBy(col("__bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy(col(stratumCol), col("__bucket"))
      .agg(count(lit(1)).as("__bc"))
      .select(col(stratumCol), col("__bucket"),
        coalesce(sum(col("__bc")).over(baseW), lit(0L)).as("__base"))
    local.join(broadcast(bases), Seq(stratumCol, "__bucket"))
      .withColumn("rn", col("__base") + col("__lrn"))
      .drop("__mk", "__bucket", "__lrn", "__base")
  }

  def unimaxAlloc(counts: DataFrame, keyCol: String,
                  budgetNum: Long, budgetDen: Long): DataFrame = {
    val tot = counts.agg(sum(col("n")).as("nn"), count(lit(1)).as("sS"))
      .select(expr(s"(nn * $budgetNum) div $budgetDen").as("t"), col("sS"))
    val ordW = Window.orderBy(col("n").asc, col(keyCol).asc)
    val idx = counts.crossJoin(broadcast(tot))
      .withColumn("i", row_number().over(ordW).cast("long"))
      .withColumn("pre", sum(col("n")).over(
        ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("funded",
        col("pre") + (col("sS") - col("i")) * col("n") <= col("t"))
    val fAgg = idx.agg(
      sum(when(col("funded"), col("n")).otherwise(0L)).as("fsum"),
      sum(when(col("funded"), 0L).otherwise(1L)).as("k"),
      sum(when(col("funded"), 1L).otherwise(0L)).as("nf"))
    idx.crossJoin(broadcast(fAgg))
      .withColumn("alloc",
        when(col("funded"), col("n")).otherwise(
          expr("(t - fsum) div k") +
            when(col("i") - col("nf") <= expr("(t - fsum) % k"), 1L)
              .otherwise(0L)))
      .select(col(keyCol), col("alloc"))
  }

  /** Temperature-based (α = 1/2) mixture allocation with LARGEST-
    * REMAINDER (Hamilton) integer apportionment: weights wᵢ =
    * floor(√nᵢ·10⁶), budget T = (Σn·budgetNum) div budgetDen, base
    * seats (T·wᵢ) div Σw, and the T − Σbase leftovers go to the
    * largest integer remainders (T·wᵢ) mod Σw (key tie-break) —
    * Σalloc = T EXACTLY (CurateSpec property-tests this against a
    * sequential BigInt reference) and every step after the
    * IEEE-exact √ is integer, so the allocation is engine- and
    * partitioning-agnostic. The S-row table broadcasts. (At corpus
    * sizes where T·wᵢ nears 2⁶³, drop the 10⁶ weight scale — the
    * apportionment only needs w's RATIOS.)
    *
    * @param counts (keyCol, n) stratum sizes
    * @return (keyCol, alloc)
    */
  def temperatureAlloc(counts: DataFrame, keyCol: String,
                       budgetNum: Long = 1L, budgetDen: Long = 4L)
      : DataFrame = {
    val w = counts.withColumn("w",
      floor(sqrt(col("n").cast("double")) * 1e6).cast("long"))
    val tot = w.agg(sum(col("w")).as("bw"),
      expr(s"(sum(n) * $budgetNum) div $budgetDen").as("t"))
    val a0 = w.crossJoin(broadcast(tot))
      .withColumn("base", expr("(t * w) div bw"))
      .withColumn("rem", expr("(t * w) % bw"))
    val short = a0.agg((max(col("t")) - sum(col("base"))).as("r"))
    // S-row frame: the global remainder-rank window is stratum-sized,
    // not data-sized (the unimaxAlloc allocation-table class)
    val rw = Window.orderBy(col("rem").desc, col(keyCol).asc)
    a0.withColumn("ri", row_number().over(rw).cast("long"))
      .crossJoin(broadcast(short))
      .withColumn("alloc",
        col("base") + when(col("ri") <= col("r"), 1L).otherwise(0L))
      .select(col(keyCol), col("alloc"))
  }
}
