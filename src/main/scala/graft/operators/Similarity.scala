package graft.operators

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.VectorFunctions

/** Similarity search over an `array<float>` embedding column
  * (SURVEY.md §7.5): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane LSH variant as the scale path.
  *
  * Scale design:
  *  - The query set is always the broadcast side; the corpus is never
  *    shuffled for brute force — each corpus partition scores its rows
  *    against the broadcast queries and only (query, candidate, score)
  *    triples move, then a per-query top-k window runs on #queries
  *    partitions.
  *  - The cosine kernel is the codegen'd [[graft.plans.CosineSimilarity]]
  *    expression, not interpreted higher-order lambdas.
  *  - The LSH path buckets corpus and queries by sign-pattern bands of
  *    random hyperplane projections; only same-bucket pairs are scored.
  *    Bands OR-amplify recall; [[tuneSignLsh]] sizes tables × planes
  *    from the corpus, trading recall for candidate volume.
  *  - The family shares one definition of each repeated step: per-key
  *    top-k ([[topK]]), nearest-cells probe ([[nearestCells]]),
  *    candidate→vector re-attach ([[withVectors]]), exact shortlist
  *    rerank, PQ encode ([[pqEncode]]) and LSH sizing
  *    ([[nearDupTables]]).
  */
object Similarity {

  /** `df`'s id and vector columns as `<side>_id` / `<side>_vec`
    * (side = cand, query, anchor), followed by `extra`. */
  private def keyed(df: DataFrame, side: String, idCol: String,
                    vecCol: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(s"${side}_id"),
      col(vecCol).as(s"${side}_vec")) ++ extra: _*)

  /** A query never returns itself. */
  private val notSelf: Column = col("cand_id") =!= col("query_id")

  /** THE per-key top-k of the ANN family: `rank` = row_number over
    * `by` ordered by `order` (a score, then the id that breaks its
    * ties — a total order, so the cut is reproducible), kept while
    * <= k. The rank filter plans as a map-side WindowGroupLimit. */
  private def topK(df: DataFrame, by: String, k: Int,
                   rank: String = "rnk")(order: Column*): DataFrame =
    df.withColumn(rank,
        row_number().over(Window.partitionBy(col(by)).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Exact cosine top-k over (query_id, query_vec, cand_id, cand_vec)
    * candidate rows: ranked by (sim desc, cand_id asc), sim at 4dp. */
  private def cosineTopK(cands: DataFrame, k: Int): DataFrame =
    topK(cands.withColumn("sim",
        VectorFunctions.cosine(col("cand_vec"), col("query_vec"))),
        "query_id", k)(col("sim").desc, col("cand_id").asc)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("sim"), 4).as("sim"))

  /** THE candidate→vector re-attach: vectors rejoin bare (query_id,
    * cand_id) pairs by id — the corpus side on its own key
    * (co-partitioned at scale), the query side broadcast. */
  private def withVectors(pairs: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String,
                          vecCol: String): DataFrame =
    pairs.join(keyed(corpus, "cand", idCol, vecCol), Seq("cand_id"))
      .join(broadcast(keyed(queries, "query", idCol, vecCol)),
        Seq("query_id"))

  /** Exact rerank of an ANN shortlist of (query_id, cand_id): cosine
    * 9dp-rounded at source (the s09 discipline), top-k by (rsim desc,
    * cand_id asc), rnk as long. */
  private def rerankShortlist(shortlist: DataFrame, corpus: DataFrame,
                              queries: DataFrame, k: Int, idCol: String,
                              vecCol: String): DataFrame =
    topK(withVectors(shortlist, corpus, queries, idCol, vecCol)
        .withColumn("rsim", round(VectorFunctions.cosine(col("cand_vec"),
          col("query_vec")), 9)),
        "query_id", k)(col("rsim").desc, col("cand_id").asc)
      .select(col("query_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), round(col("rsim"), 4).as("sim"))

  /** THE nearest-cells probe: each `<side>` vector crossed with the
    * broadcast centroids keeps its `n` nearest cells by (csim desc,
    * cell asc); every input column rides along for the caller's
    * select. */
  private def nearestCells(vecs: DataFrame, centroids: DataFrame,
                           side: String, n: Int, rank: String): DataFrame =
    topK(vecs.crossJoin(broadcast(centroids))
        .withColumn("csim", VectorFunctions.cosine(col(s"${side}_vec"),
          col("centroid"))),
        s"${side}_id", n, rank)(col("csim").desc, col("cell").asc)

  /** Brute-force exact top-k neighbors for each query vector. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    cosineTopK(keyed(corpus, "cand", idCol, vecCol)
      .crossJoin(broadcast(keyed(queries, "query", idCol, vecCol)))
      .filter(notSelf), k)

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversity re-rank: greedily pick k results balancing relevance to
    * the query against similarity to the already-selected set —
    * score = λ·rel − (1−λ)·max(sim to selected), λ = 1/2.
    *
    * Scale design: the candidate pool is the exact cosine top-`pool`
    * per query in [[bruteForceTopK]]'s shape (queries broadcast,
    * corpus never shuffled, WindowGroupLimit prunes map-side), so the
    * greedy phase only ever touches pool-bounded frames — pool² pair
    * sims per query, k unrolled selection rounds, per-round
    * localCheckpoint to keep lineage linear (the
    * [[Graph.connectedComponents]] discipline). Both cosine inputs
    * (rel, pairwise s) are rounded at 9dp AT SOURCE on both engines —
    * a 1-ULP cross-engine divergence then lands on the same 9dp value
    * (or becomes an exact tie broken by cand_id), so the pool cut, the
    * greedy argmax, and therefore the whole selection sequence are a
    * total order both engines agree on (s08's rounded-score+id
    * discipline; λ = 1/2 keeps the score arithmetic exact over those
    * 9dp values) and the DuckDB recursive-CTE oracle hash-matches. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                pool: Int = 20, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val top = topK(keyed(corpus, "cand", idCol, vecCol)
        .crossJoin(broadcast(keyed(queries, "query", idCol, vecCol)))
        .filter(notSelf)
        .withColumn("rel",
          round(VectorFunctions.cosine(col("cand_vec"), col("query_vec")), 9)),
        "query_id", pool)(col("rel").desc, col("cand_id").asc)
      .select(col("query_id"), col("cand_id"), col("cand_vec"), col("rel"))
      .localCheckpoint(true)
    val cand = top.select(col("query_id"), col("cand_id"), col("rel"))
    val pair = top
      .select(col("query_id"), col("cand_id").as("ia"), col("cand_vec").as("va"))
      .join(top.select(col("query_id"), col("cand_id").as("ib"),
        col("cand_vec").as("vb")), Seq("query_id"))
      .filter(col("ia") =!= col("ib"))
      .select(col("query_id"), col("ia"), col("ib"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 9).as("s"))
      .localCheckpoint(true)
    // each greedy round keeps the per-query best (score, cand_id)
    def pick(scored: DataFrame, step: Int): DataFrame =
      topK(scored, "query_id", 1, "r")(col("score").desc, col("cand_id").asc)
        .select(col("query_id"), lit(step).as("step"), col("cand_id"),
          col("score"))
    var acc = pick(cand.withColumn("score", col("rel")), 1)
      .localCheckpoint(true)
    for (step <- 2 to k) {
      val selSet = acc.select(col("query_id"), col("cand_id"))
      val remaining = cand.join(selSet, Seq("query_id", "cand_id"), "left_anti")
      val simToSel = pair
        .join(selSet.withColumnRenamed("cand_id", "ib"), Seq("query_id", "ib"))
        .groupBy(col("query_id"), col("ia"))
        .agg(max(col("s")).as("maxsim"))
        .withColumnRenamed("ia", "cand_id")
      val next = pick(remaining.join(simToSel, Seq("query_id", "cand_id"))
        .select(col("query_id"), col("cand_id"),
          (lit(0.5) * col("rel") - lit(0.5) * col("maxsim")).as("score")),
        step)
      acc = acc.unionByName(next).localCheckpoint(true)
    }
    acc.select(col("query_id"), col("step"), col("cand_id"),
      round(col("score"), 4).as("mmr"))
  }

  /** Brute-force MIPS (maximum inner product search): rank by raw dot
    * product instead of cosine — the score embedding models are trained
    * on (a high-norm "hub" vector legitimately outranks a same-angle
    * low-norm one; cosine hides that). Same scale shape as
    * [[bruteForceTopK]]: queries broadcast, corpus never shuffles,
    * codegen scoring, per-query WindowGroupLimit. Deterministic oracle:
    * both engines sum products in index order over identical floats, so
    * the doubles are bit-identical (no sqrt/division, unlike cosine).
    * For sub-linear MIPS at 100 TB, the norm-augmentation reduction
    * (Shrivastava & Li, public literature) maps it onto the existing
    * cosine LSH path: augment corpus vectors with sqrt(M²−‖x‖²); the
    * brute form here is the exact baseline that reduction is judged
    * against. */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    topK(keyed(corpus, "cand", idCol, vecCol)
        .crossJoin(broadcast(keyed(queries, "query", idCol, vecCol)))
        .filter(notSelf)
        .withColumn("score",
          VectorFunctions.dot(col("cand_vec"), col("query_vec"))),
        "query_id", k)(col("score").desc, col("cand_id").asc)
      .select(col("query_id"), col("rnk"), col("cand_id"),
        round(col("score"), 4).as("score"))

  /** Cosine distortion of the Johnson–Lindenstrauss projection
    * (corpus vectors through one seeded Gaussian plane matrix,
    * [[graft.plans.ProjectVector]], dim → nDims), measured on the
    * deterministic disjoint pairing (2i, 2i+1): one row per pair with
    * the exact (full-dim) and projected cosine. The JL lemma's claim is
    * DISTANCE preservation, not rank preservation — on structureless
    * near-random embeddings (this fixture) compressed top-k is
    * near-chance while pairwise cosine error stays bounded by ~1/√nDims,
    * so the distortion contract is the honest one (s07 asserts it; a
    * compressed ranking is only useful as a shortlist that an exact
    * rerank reorders). Self-join on the pair id only — at 100 TB the
    * pairing key is derived from the id, both sides partition the same
    * way, and nothing but (id, vec) ever shuffles. */
  def jlDistortionPairs(corpus: DataFrame, nDims: Int = 32, seed: Long = 7L,
                        stats: Option[(Long, Int)] = None,
                        idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val dim = stats.map(_._2).getOrElse(vecDim(corpus, vecCol))
    val planes = hyperplanes(nDims, dim, seed)
    def proj(c: Column): Column =
      graft.plans.ProjectVectorFunctions.projectVector(c, planes)
    val a = corpus.filter(col(idCol) % 2 === 0)
      .select((col(idCol) / 2).cast("long").as("pair_id"),
        col(vecCol).as("va"))
    val b = corpus.filter(col(idCol) % 2 === 1)
      .select(((col(idCol) - 1) / 2).cast("long").as("pair_id"),
        col(vecCol).as("vb"))
    a.join(b, Seq("pair_id"))
      .select(col("pair_id"),
        VectorFunctions.cosine(col("va"), col("vb")).as("cos_exact"),
        VectorFunctions.cosine(proj(col("va")), proj(col("vb"))).as("cos_proj"))
  }

  /** Deterministic random hyperplanes: `n` planes of dimension `dim`,
    * seeded — identical across driver restarts and executors. */
  private[graft] def hyperplanes(n: Int, dim: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Corpus row count + embedding dimensionality in ONE tiny job
    * (parquet count is near-metadata-only; max(size) avoids hardcoding
    * a dim — DotProduct folds over min length, so a wrong dim silently
    * truncates or wastes plane components).
    *
    * Public so callers composing several similarity ops over the SAME
    * corpus probe it once and pass the result through each op's `stats`
    * parameter — at 100 TB one stats pass per composition, not one per
    * operator call. */
  def corpusStats(corpus: DataFrame, vecCol: String = "embedding"): (Long, Int) = {
    val r = corpus.agg(count(lit(1)), max(size(col(vecCol)))).head()
    // max() is NULL on an empty corpus — degrade to dim 0 (plans stay
    // valid and return empty) instead of an NPE at the driver
    (r.getLong(0), if (r.isNullAt(1)) 0 else r.getInt(1))
  }

  /** Dimensionality alone, as a ONE-ROW probe (CollectLimit pushes the
    * limit into the scan) — for the call sites that threw corpusStats'
    * row count away, which at 100 TB means a full corpus pass computed
    * and discarded per operator call (guide §1.2: don't compute things
    * you throw away). Relies on the operators' existing fixed-dim
    * corpus contract (every vector the same length — the same
    * assumption unitNorm/DotProduct folds already make); corpora
    * needing the defensive max-over-all-rows probe keep corpusStats.
    * NULL vectors are skipped (size(NULL) = -1 under non-ANSI, NULL
    * row under ANSI — either would poison the dim), matching the
    * null-skipping max() this probe replaced. */
  def vecDim(corpus: DataFrame, vecCol: String = "embedding"): Int = {
    val r = corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).head(1)
    if (r.isEmpty) 0 else r(0).getInt(0)
  }

  /** Probability a random hyperplane puts a pair at cosine `sim` on the
    * same side: 1 - θ/π. */
  private def signAgreeProb(sim: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, sim))) / math.Pi

  /** THE sign-LSH selectivity dial, sized from the corpus instead of
    * fixed constants (a fixed bucket count makes candidate volume
    * Θ(N²/buckets) for self-joins — quadratic death at 100 TB):
    *
    *  - `planes = ceil(log2(n / targetBucket))` so expected bucket
    *    occupancy stays ~targetBucket as N grows (buckets = 2^planes).
    *  - `tables = ceil(ln(1-targetRecall) / ln(1-p^planes))` with
    *    p = 1-θ/π at `simFloor`, so a pair at the floor similarity is
    *    still caught with targetRecall after OR-amplification.
    *
    * The tension is explicit: raising planes (selectivity) decays
    * p^planes geometrically, so tables must grow to hold recall — the
    * table cap below is the honest cost ceiling; past it, either the
    * similarity floor rises (true near-dups survive: p(0.9)=0.86 keeps
    * tables bounded at any N) or recall degrades. Both clamps are logged
    * in the return value rather than hidden. */
  private[graft] def tuneSignLsh(n: Long, simFloor: Double,
                                 targetRecall: Double, targetBucket: Int)
      : (Int, Int) = {
    val planes = math.max(2, math.min(20,
      math.ceil(math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))
    val pBand = math.pow(signAgreeProb(simFloor), planes)
    val tables = math.max(8, math.min(48,
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand)).toInt))
    (tables, planes)
  }

  /** (table, bucket) rows for every LSH table in one generator pass:
    * the codegen'd [[graft.plans.SignBuckets]] expression computes all
    * table buckets per row (planes ride along as a referenced object,
    * NOT as tables×planes×dim literals — plan size stays O(1) in the
    * LSH budget), then posexplode yields one row per table. */
  private def allBuckets(df: DataFrame, idCol: String, outId: String,
                         vecCol: String,
                         tables: Seq[Array[Array[Float]]]): DataFrame =
    df.select(col(idCol).as(outId),
      posexplode(graft.plans.SignBucketsFunctions.signBuckets(col(vecCol), tables)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")

  /** LSH-bucketed approximate top-k: sign-LSH tables sized by
    * [[nearDupTables]] at `simFloor`; candidates = corpus rows sharing
    * any table bucket with the query; exact cosine re-rank of
    * candidates. Recall for neighbors at angle θ is
    * 1-(1-(1-θ/π)^planes)^tables. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              seed: Long = 42L,
              simFloor: Double = 0.25, targetRecall: Double = 0.9,
              targetBucket: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding",
              stats: Option[(Long, Int)] = None)
      : DataFrame = {
    val (n, dim) = stats.getOrElse(corpusStats(corpus, vecCol))
    val tables = nearDupTables(n, dim, simFloor, seed, targetRecall,
      targetBucket)
    lshSearch(allBuckets(corpus, idCol, "cand_id", vecCol, tables),
      corpus, queries, k, tables, idCol, vecCol)
  }

  /** LSH search over corpus band rows (cand_id, table, bucket, in any
    * column order): candidates are the (query, cand) pairs sharing a
    * table bucket, deduplicated as bare ids — the distinct() never
    * shuffles 64-float vectors — then vectors re-attached and exactly
    * ranked. */
  private def lshSearch(candBands: DataFrame, corpus: DataFrame,
                        queries: DataFrame, k: Int,
                        tables: Seq[Array[Array[Float]]], idCol: String,
                        vecCol: String): DataFrame = {
    val candidates = candBands
      .join(broadcast(allBuckets(queries, idCol, "query_id", vecCol, tables)),
        Seq("table", "bucket"))
      .filter(notSelf)
      .select("query_id", "cand_id").distinct()
    cosineTopK(withVectors(candidates, corpus, queries, idCol, vecCol), k)
  }

  /** IVF (inverted-file) approximate top-k: k-means partitions the
    * corpus into nLists cells; each query probes only its nProbe nearest
    * cells and exact-reranks the candidates.
    *
    * Scale shape: training samples the corpus (k-means on a bounded
    * sample), assignment is one codegen'd argmin pass over the corpus,
    * and the probe join touches nProbe/nLists of the data — the
    * classic recall/cost dial. Centroids are tiny and broadcast.
    * Uses Spark MLlib KMeans (cosine distance) — public API. */
  /** Deterministic bounded-cost k-means partition of the corpus — the
    * shared front half of [[ivfTopK]] and [[semDedup]].
    *
    * Trains on a bounded deterministic sample: KMeans.fit runs maxIter
    * full passes + a per-iteration driver sync, so fitting the whole
    * corpus makes TRAINING cost O(corpus) × 5 — at 100 TB the centroids
    * must come from O(trainCap) rows; only the single assignment pass
    * touches everything. Hash-ranked top-trainCap instead of
    * count()+sample(fraction): no extra counting job (sort+limit plans
    * as TakeOrderedAndProject — per-partition heaps of trainCap rows,
    * one pass), the hash order is pseudo-random w.r.t. content, and the
    * selected set + its order are total-order-determined by ids alone —
    * identical across partitionings/core counts, unlike sample(), whose
    * Bernoulli draw follows partition boundaries. The single-partition
    * GlobalLimit output also makes seeded KMeans init order-stable.
    *
    * @return (assigned (cand_id, cand_vec, cell),
    *          centroids (cell, centroid float array — broadcast-sized))
    */
  private[graft] def clusterAssign(corpus: DataFrame, nLists: Int,
                                   seed: Long, trainCap: Int,
                                   idCol: String, vecCol: String,
                                   carryCols: Seq[String] = Nil)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val featurized = corpus.select(col(idCol).as("cand_id") +:
      col(vecCol).as("cand_vec") +:
      array_to_vector(col(vecCol).cast("array<double>")).as("features") +:
      carryCols.map(col): _*)
    val trainSet = featurized
      .sort(xxhash64(col("cand_id")), col("cand_id"))
      .limit(trainCap)
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setDistanceMeasure("cosine").setMaxIter(5)
      .fit(trainSet)

    val assigned = model.transform(featurized)
      .select(col("cand_id") +: col("cand_vec") +:
        col("prediction").as("cell") +: carryCols.map(col): _*)

    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.map(_.toFloat))
    }.toSeq.toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** SemDeDup-style semantic dedup (public literature: cluster the
    * embedding space, prune near-duplicates WITHIN each cluster): a
    * vector drops iff some lower-id vector in its cluster has cosine ≥
    * `threshold` with it; each near-group keeps its min-id
    * representative. Within-cluster pairing is a cell equi-self-join —
    * candidate volume is Σ_cell occupancy², and nLists is the dial that
    * holds occupancy (n/nLists) constant as n grows, so per-cell cost
    * never balloons the way a global all-pairs would. Approximate by
    * design: a near-dup pair split across two clusters is missed —
    * recall vs the exact all-pairs truth is the d09 contract.
    *
    * @return (vec_id, cell, dropped) — one row per corpus vector
    */
  def semDedup(corpus: DataFrame, threshold: Double, nLists: Int = 16,
               nAssign: Int = 3, seed: Long = 42L, trainCap: Int = 4096,
               idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val (assigned, centroids) =
      clusterAssign(corpus, nLists, seed, trainCap, idCol, vecCol)
    // multi-assignment (the IVF multi-probe trick, applied to dedup): a
    // near-dup pair sitting astride a cluster boundary is missed by
    // top-1 assignment; joining each vector into its nAssign closest
    // cells catches any pair that shares at least one of them. Cost is
    // the same dial as before — occupancy rises to nAssign·n/nLists, so
    // grow nLists with nAssign to hold per-cell volume.
    val multi = nearestCells(keyed(corpus, "cand", idCol, vecCol),
        centroids, "cand", nAssign, "r")
      .select(col("cell"), col("cand_id"), col("cand_vec"))
    val a = multi.select(col("cell"), col("cand_id").as("id_a"),
      col("cand_vec").as("vec_a"))
    val b = multi.select(col("cell"), col("cand_id").as("id_b"),
      col("cand_vec").as("vec_b"))
    val droppedIds = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(VectorFunctions.cosine(col("vec_a"), col("vec_b"))
        >= threshold)
      .select(col("id_b").as("cand_id")).distinct()
    assigned.join(droppedIds.withColumn("dropped", lit(true)),
        Seq("cand_id"), "left")
      .select(col("cand_id").as(idCol), col("cell"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 6, seed: Long = 42L,
              trainCap: Int = 4096,
              idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val (assigned, centroids) =
      clusterAssign(corpus, nLists, seed, trainCap, idCol, vecCol)
    // each query ranks cells by cosine-to-centroid, keeps nProbe
    val probes = nearestCells(keyed(queries, "query", idCol, vecCol),
        centroids, "query", nProbe, "prnk")
      .select("query_id", "query_vec", "cell")
    cosineTopK(assigned.join(broadcast(probes), Seq("cell"))
      .filter(notSelf), k)
  }

  /** Exact FILTERED top-k: for each query, the k nearest corpus vectors
    * SHARING the query's `labelCol` value (metadata-constrained vector
    * search — "similar docs in MY language/domain"). The predicate is
    * an equi-join key, not a post-filter: non-matching candidates never
    * reach the cosine kernel, and the corpus partitions by label only
    * logically (broadcast queries ride the scan exactly like
    * [[bruteForceTopK]]). The exact ground truth for
    * [[ivfTopKFiltered]]'s recall contract. */
  def bruteForceTopKFiltered(corpus: DataFrame, queries: DataFrame,
                             k: Int, idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             labelCol: String = "label"): DataFrame =
    cosineTopK(keyed(corpus, "cand", idCol, vecCol, col(labelCol).as("lbl"))
      .join(broadcast(keyed(queries, "query", idCol, vecCol,
        col(labelCol).as("lbl"))), Seq("lbl"))
      .filter(notSelf), k)

  /** Filtered IVF ANN — the known-hard regime of approximate vector
    * search (every production vector store's "metadata filtering"
    * problem): a selective predicate thins each probed cell, so at a
    * fixed nProbe the candidate pool shrinks by the filter's
    * selectivity and recall collapses unless the probe width grows.
    * The filter composes BEFORE scoring: candidate labels ride
    * [[clusterAssign]]'s carry columns and the probe join's key is
    * (cell, label) — a non-matching candidate is never scored, never
    * shuffled past its cell. Default nProbe is wider than [[ivfTopK]]'s
    * for exactly this reason (the s12 contract measures the recall that
    * buys). */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
                      nLists: Int = 16, nProbe: Int = 10, seed: Long = 42L,
                      trainCap: Int = 4096, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      labelCol: String = "label"): DataFrame = {
    val labeled = corpus.withColumn("lbl", col(labelCol))
    val (assigned, centroids) =
      clusterAssign(labeled, nLists, seed, trainCap, idCol, vecCol,
        carryCols = Seq("lbl"))
    val probes = nearestCells(keyed(queries, "query", idCol, vecCol,
        col(labelCol).as("lbl")), centroids, "query", nProbe, "prnk")
      .select("query_id", "query_vec", "cell", "lbl")
    cosineTopK(assigned.join(broadcast(probes), Seq("cell", "lbl"))
      .filter(notSelf), k)
  }

  /** Embedding near-duplicate pairs: all corpus pairs with cosine >=
    * threshold, found via the same sign-LSH tables (both sides bucketed,
    * self-join per table/bucket) then exact cosine verify. The tables
    * are [[nearDupTables]] for `stats` (default: one corpus pass). */
  def nearDupPairs(corpus: DataFrame, threshold: Double, seed: Long = 42L,
                   targetRecall: Double = 0.95, targetBucket: Int = 64,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   stats: Option[(Long, Int)] = None)
      : DataFrame = {
    val (n, dim) = stats.getOrElse(corpusStats(corpus, vecCol))
    // simFloor = the verify threshold: recall is promised exactly for
    // pairs the operator would keep
    val tables = nearDupTables(n, dim, threshold, seed, targetRecall,
      targetBucket)
    val bucketed = allBuckets(corpus, idCol, "id", vecCol, tables)

    val l = bucketed.select(col("table"), col("bucket"), col("id").as("id_a"))
    val r = bucketed.select(col("table"), col("bucket"), col("id").as("id_b"))

    // distinct over bare id pairs, vectors re-attached afterwards — the
    // dedup shuffle carries 16 bytes/row instead of 2×64 floats
    l.join(r, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(corpus.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), "id_a")
      .join(corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), "id_b")
      .withColumn("sim", VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Per-dimension int8 quantization scales (max |v_d| over the
    * corpus) — ONE aggregation pass through the typed
    * [[graft.functions.MaxAbsVector]] Aggregator (map-side combined;
    * explode+max would 64× the shuffle). Driver-side result is
    * dim-sized. Exact and partitioning-independent (abs/max do no
    * arithmetic), so everything quantized with it is bit-reproducible.
    * Public for the same reason as [[corpusStats]]: compute once, pass
    * to every quantized op over the same corpus. */
  def quantScales(corpus: DataFrame, vecCol: String = "embedding")
      : Array[Double] = {
    val r = corpus.agg(
      graft.functions.MaxAbsVector.maxAbsVector(col(vecCol))).head()
    if (r.isNullAt(0)) Array.emptyDoubleArray else r.getSeq[Double](0).toArray
  }

  /** Int8-quantized brute-force top-k (QUANTIZATION CONTRACT in
    * QuantizeExpressions.scaladoc): the 100 TB memory/shuffle form of
    * [[bruteForceTopK]] — 4× fewer bytes per vector moving through the
    * scan, and the scoring loop is exact int64 arithmetic, so ranking
    * (score desc, cand_id) is a TOTAL order with no float tie
    * ambiguity: the s05 oracle recomputes identical integer scores in
    * SQL and hash-matches, no recall contract needed. Same plan shape
    * as brute force: queries broadcast, corpus never shuffled, one
    * top-k window. Compose with [[bruteForceTopK]] over the shortlist
    * for an exact-rerank pipeline. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    scales: Option[Array[Double]] = None): DataFrame = {
    import graft.plans.QuantizeFunctions
    val sc = scales.getOrElse(quantScales(corpus, vecCol))
    val c = corpus.select(col(idCol).as("cand_id"),
      QuantizeFunctions.quantize(col(vecCol), sc).as("cand_q"))
    val q = queries.select(col(idCol).as("query_id"),
      QuantizeFunctions.quantize(col(vecCol), sc).as("query_q"))
    topK(c.crossJoin(broadcast(q))
        .filter(notSelf)
        .withColumn("iscore",
          QuantizeFunctions.intDot(col("cand_q"), col("query_q"))),
        "query_id", k)(col("iscore").desc, col("cand_id").asc)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("iscore"))
  }

  /** Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search", public literature):
    * split each dim-D vector into `m` subvectors, fit a `codeK`-
    * centroid sub-quantizer per subspace (driver-side deterministic
    * Lloyd over the bounded hash-ranked training sample — at 100 TB
    * the codebook must come from O(trainCap) rows anyway, and a
    * bounded sample is exactly what a driver may hold), store every
    * corpus vector as m small codes, and
    * score queries with the ADC (asymmetric distance computation)
    * table: the query's dot product with all m·codeK sub-centroids is
    * computed ONCE per query, and each candidate's approximate cosine
    * is m table lookups over its codes —
    *   cos(q, ĉ) ∝ Σⱼ dot(qⱼ, cen[j,codeⱼ]) / √(Σⱼ |cen[j,codeⱼ]|²)
    * (ĉ = the reconstruction; |q| is per-query constant and drops out
    * of the ranking). Exact cosine re-ranks the top-`rerank` ADC
    * shortlist; recall vs brute force is the s10 contract.
    *
    * Scale shape: the corpus is touched by exactly two passes — the
    * encode (join against the broadcast m·codeK codebook, argmin as a
    * partial-combining min-struct aggregation: no window, no neighbor
    * lists) and the LUT-join scoring whose shuffle rows are (query,
    * cand, partials), 4+8 bytes of code payload instead of the 256-
    * byte float vector — the PQ memory story. Training reads only
    * `trainCap` rows. Rankings order by 9dp-rounded keys + id
    * (the s09 discipline) so shortlist membership is reproducible.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, codeK: Int = 16, rerank: Int = 250,
             seed: Long = 42L, trainCap: Int = 4096,
             idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val dim = vecDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val codebook = trainPqCodebook(corpus, m, sub, codeK, trainCap,
      idCol, vecCol)
    val codes = pqEncode(corpus, idCol, vecCol, codebook, m, sub)
    val lut = sliceFrame(queries, "query_id", m, sub, idCol, vecCol)
      .join(broadcast(codebook), Seq("j"))
      .select(col("query_id"), col("j"), col("code"),
        VectorFunctions.dot(col("sv"), col("cen")).as("dq"),
        col("cnorm2"))
    val shortlist = topK(codes.join(broadcast(lut), Seq("j", "code"))
        .filter(notSelf)
        .groupBy(col("query_id"), col("cand_id"))
        .agg(sum(col("dq")).as("sdot"), sum(col("cnorm2")).as("sn2"))
        .withColumn("adck", round(col("sdot") / sqrt(col("sn2")), 9)),
        "query_id", rerank, "arnk")(col("adck").desc, col("cand_id").asc)
      .select(col("query_id"), col("cand_id"))
    rerankShortlist(shortlist, corpus, queries, k, idCol, vecCol)
  }

  /** Explode `df`'s `vecCol` into its m contiguous `sub`-dim
    * subvectors: one row per (id, j, sv), plus `carryCols` repeated on
    * every row — the shared slicing step of the PQ family. */
  private def sliceFrame(df: DataFrame, outId: String, m: Int, sub: Int,
                         idCol: String, vecCol: String,
                         carryCols: Seq[String] = Nil): DataFrame =
    df.select(col(idCol).as(outId) +: carryCols.map(col) :+
        posexplode(transform(
          sequence(lit(0), lit(m - 1)),
          j => slice(col(vecCol), j * lit(sub) + 1, lit(sub)))): _*)
      .select(col(outId) +: carryCols.map(col) :+
        col("pos").cast("int").as("j") :+ col("col").as("sv"): _*)

  /** Per-subspace sub-quantizer codebooks — DRIVER-SIDE Lloyd over the
    * bounded hash-ranked sample (trainCap·m subvectors of D/m floats —
    * KBs): one collect, zero per-fit job overhead, and full
    * determinism — the sample set is total-order-selected, the
    * per-subspace pool is lex-sorted before the evenly-spaced init,
    * assignment ties break to the lowest code, and empty cells keep
    * their centroid, so the codebook is a pure function of the input
    * content. Shared by [[pqTopK]] (raw vectors) and [[ivfAdcTopK]]
    * (coarse-cell residuals).
    * @return (j, code, cen: array<float>, cnorm2: double) */
  private[graft] def trainPqCodebook(vecs: DataFrame, m: Int, sub: Int,
                                     codeK: Int, trainCap: Int,
                                     idCol: String, vecCol: String)
      : DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val train = vecs
      .sort(xxhash64(col(idCol)), col(idCol)).limit(trainCap)
      .select(col(idCol), col(vecCol))
    val sampleRows = sliceFrame(train, "tid", m, sub, idCol, vecCol)
      .select(col("j"), col("sv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val ordD = math.Ordering.Double.TotalOrdering
    (0 until m).flatMap { j =>
      val pool = sampleRows.iterator.filter(_._1 == j).map(_._2).toArray
      // element comparison via Double.compare (a TOTAL order): an
      // `x != y` guard would treat -0.0 and 0.0 as equal and fall
      // back to nondeterministic collect() order for such pairs
      scala.util.Sorting.stableSort(pool,
        (a: Array[Double], b: Array[Double]) =>
          a.lazyZip(b).collectFirst {
            case (x, y) if ordD.compare(x, y) != 0 => ordD.lt(x, y)
          }.getOrElse(false))
      val k = math.min(codeK, math.max(1, pool.length))
      var cen = Array.tabulate(k)(i =>
        pool(((i.toLong * pool.length) / k).toInt).clone())
      for (_ <- 1 to 5) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val cnt = new Array[Long](k)
        pool.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            var d2 = 0.0; var i = 0
            while (i < sub) { val t = p(i) - cen(c)(i); d2 += t * t; i += 1 }
            if (d2 < bd) { bd = d2; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          cnt(best) += 1
        }
        cen = Array.tabulate(k)(c =>
          if (cnt(c) == 0) cen(c)
          else Array.tabulate(sub)(i => sums(c)(i) / cnt(c)))
      }
      cen.zipWithIndex.map { case (cv, code) =>
        val arr = cv.map(_.toFloat)
        (j, code, arr, arr.map(x => x.toDouble * x).sum)
      }
    }.toSeq.toDF("j", "code", "cen", "cnorm2")
  }

  /** The persisted form of the IVFADC index: three lake-writable
    * frames — `centroids` (cell, centroid), `codebook` (j, code, cen,
    * cnorm2), `codes` (cand_id, cell, j, code). A production store
    * builds these once per corpus version ([[buildIvfAdcIndex]]),
    * persists them next to the vectors, and every retrieval batch
    * probes them ([[ivfAdcSearch]]) — retraining the quantizers per
    * query batch is the thing this exists to stop (the d14/s15
    * discipline on the IVFADC modality). */
  case class IvfAdcIndex(centroids: DataFrame, codebook: DataFrame,
                         codes: DataFrame)

  /** Unit-normalize the vector column (shared by the IVFADC build and
    * search paths so the ADC's L2 ordering IS the cosine ordering).
    * An all-zero vector has no direction: dividing by its 0 norm would
    * emit NaN components that silently poison cell assignment and the
    * residual PQ (r9 advice), so the zero vector is KEPT AS ZEROS —
    * cosine against it is 0 everywhere, i.e. it ranks last under every
    * query, the same treatment [[VectorFunctions.cosine]]-based exact
    * paths give it. */
  private def unitNorm(df: DataFrame, idCol: String,
                       vecCol: String): DataFrame = {
    val n2 = VectorFunctions.dot(col(vecCol), col(vecCol))
    val nrm = when(n2 === 0d, lit(1.0)).otherwise(sqrt(n2))
    df.select(col(idCol),
      transform(col(vecCol), x => (x / nrm).cast("float")).as(vecCol))
  }

  /** Build the IVFADC index frames: coarse quantizer (seeded k-means),
    * residual PQ codebook, and every corpus vector's m byte-codes.
    * Deterministic for a fixed (corpus, seed): persisted-then-searched
    * results are computed-equal to an in-memory rebuild (the s18
    * contract). */
  def buildIvfAdcIndex(corpus: DataFrame, nLists: Int = 16, m: Int = 8,
                       codeK: Int = 16, seed: Long = 42L,
                       trainCap: Int = 4096, idCol: String = "vec_id",
                       vecCol: String = "embedding"): IvfAdcIndex = {
    val dim = vecDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val uCorpus = unitNorm(corpus, idCol, vecCol)
    val (assigned, centroids) =
      clusterAssign(uCorpus, nLists, seed, trainCap, idCol, vecCol)
    val resid = assigned.join(broadcast(centroids), Seq("cell"))
      .select(col("cand_id"), col("cell"),
        zip_with(col("cand_vec"), col("centroid"),
          (a, b) => a - b).as("rvec"))
    val codebook =
      trainPqCodebook(resid, m, sub, codeK, trainCap, "cand_id", "rvec")
    IvfAdcIndex(centroids, codebook,
      pqEncode(resid, "cand_id", "rvec", codebook, m, sub, Seq("cell")))
  }

  /** THE PQ encode of both PQ paths: argmin_code |svⱼ−cen|² =
    * cnorm2 − 2·dot + |svⱼ|² per (id, j), as a partial-combining
    * min-struct aggregation against the broadcast codebook; |svⱼ|² is
    * constant within the group, so the 9dp-rounded key + code
    * tie-break make the min deterministic. `carry` columns ride the
    * group key — the IVFADC residual encode carries `cell` so its
    * scoring join needs no second corpus-sized join. Per-row
    * independent, so batch-at-once and micro-batch-at-a-time encodes
    * are computed-equal by construction — the property st21's
    * streaming codes maintenance is gated on.
    * @return (cand_id, carry…, j, code) */
  private def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
                       codebook: DataFrame, m: Int, sub: Int,
                       carry: Seq[String] = Nil): DataFrame = {
    val keys = ("cand_id" +: carry :+ "j").map(col)
    sliceFrame(vecs, "cand_id", m, sub, idCol, vecCol, carry)
      .join(broadcast(codebook), Seq("j"))
      .groupBy(keys: _*)
      .agg(min(struct(
        round(col("cnorm2") -
          lit(2.0) * VectorFunctions.dot(col("sv"), col("cen")), 9)
          .as("dk"),
        col("code").as("code"))).as("best"))
      .select(keys :+ col("best.code").as("code"): _*)
  }

  /** Encode NEW vectors against a FROZEN index — the ingest half of a
    * production vector store's lifecycle: the coarse centroids and PQ
    * codebook were trained once at index-build time
    * ([[buildIvfAdcIndex]]) and every arriving delta is only ASSIGNED
    * and ENCODED (one broadcast-centroid argmin + one broadcast-
    * codebook argmin per vector — cost ∝ delta, the index is never
    * retrained). The faiss `IndexIVFPQ.add` shape; st21 runs this per
    * micro-batch with the code rows landing as versioned-lake append
    * commits. Cell assignment is the index's own reduction: unit-
    * normalize, argmax cosine against the stored float centroids
    * (9dp-rounded, ties to the lowest cell — partitioning- and
    * engine-reproducible). Per-row independent ⇒ encoding a delta in
    * any batching is computed-equal to encoding it at once — the
    * rebuild-equality contract s20 gates at both SFs.
    * @return (cand_id, cell, j, code) — m rows per input vector */
  def encodeIvfAdc(vectors: DataFrame, index: IvfAdcIndex,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    // one probe job over the m·codeK-row codebook for BOTH shape
    // params (was two separate head() jobs per encode call; st21/s20
    // pay this per micro-batch). max(size) == every row's size — one
    // codebook has one subvector width.
    val shape = index.codebook
      .agg(max(col("j")), max(size(col("cen")))).head()
    val mIdx = shape.getInt(0) + 1
    val sub = shape.getInt(1)
    val u = unitNorm(vectors, idCol, vecCol)
    // argmin over the broadcast centroids as a partial-combining
    // min-struct aggregation; the vector itself rides in the struct
    // (fields after the (d, cell) total-order key never affect the
    // min) so no re-join against the delta is needed
    val resid = u.crossJoin(broadcast(index.centroids))
      .withColumn("d", round(lit(-1.0) *
        VectorFunctions.cosine(col(vecCol), col("centroid")), 9))
      .groupBy(col(idCol))
      .agg(min(struct(col("d"), col("cell"), col("centroid"),
        col(vecCol).as("vec"))).as("b"))
      .select(col(idCol).as("cand_id"), col("b.cell").as("cell"),
        zip_with(col("b.vec"), col("b.centroid"),
          (a, b) => a - b).as("rvec"))
    pqEncode(resid, "cand_id", "rvec", index.codebook, mIdx, sub,
      Seq("cell"))
  }

  /** Search a (possibly lake-loaded) IVFADC index: per-(query, cell)
    * ADC lookup tables over the stored codebook, the (cell, j, code)
    * equi-join as the probe filter, exact rerank from the corpus
    * vectors.
    *
    * The subspace count is a BUILD-time property, so it is DERIVED
    * from the stored codebook (max(j) + 1 — one aggregate over the
    * m·codeK-row broadcastable frame) rather than trusted from the
    * caller: a mismatched `m` used to slip past the divisibility check
    * and silently sum a subset of subspaces in the ADC join, degrading
    * recall with no error (r9 advice). A caller-supplied `m` now
    * must MATCH the index or the search fails loudly; pass the
    * default -1 to just use the index's own. */
  def ivfAdcSearch(corpus: DataFrame, index: IvfAdcIndex,
                   queries: DataFrame, k: Int, nProbe: Int = 7,
                   m: Int = -1, rerank: Int = 250,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val mIdx = index.codebook.agg(max(col("j"))).head().getInt(0) + 1
    require(m == -1 || m == mIdx,
      s"search m=$m does not match the index's $mIdx subspaces")
    require(dim % mIdx == 0,
      s"dim $dim not divisible into $mIdx subspaces")
    val sub = dim / mIdx
    val uCorpus = unitNorm(corpus, idCol, vecCol)
    val uQueries = unitNorm(queries, idCol, vecCol)
    val qres = nearestCells(keyed(uQueries, "query", idCol, vecCol),
        index.centroids, "query", nProbe, "prnk")
      .select(col("query_id"), col("cell"),
        zip_with(col("query_vec"), col("centroid"),
          (a, b) => a - b).as("qrv"))
    val lut = sliceFrame(qres, "query_id", mIdx, sub, "query_id", "qrv",
        carryCols = Seq("cell"))
      .join(broadcast(index.codebook), Seq("j"))
      .select(col("query_id"), col("cell"), col("j"), col("code"),
        VectorFunctions.dot(col("sv"), col("cen")).as("dq"),
        col("cnorm2"),
        VectorFunctions.dot(col("sv"), col("sv")).as("qc2"))
    // a candidate's m code rows match exactly its own cell's LUT rows,
    // so the equi-join IS the probe filter; each (query, cand) group
    // sums m lookups
    val shortlist = topK(index.codes
        .join(broadcast(lut), Seq("cell", "j", "code"))
        .filter(notSelf)
        .groupBy(col("query_id"), col("cand_id"))
        .agg(sum(col("qc2")).as("sq2"), sum(col("dq")).as("sdot"),
          sum(col("cnorm2")).as("sn2"))
        .withColumn("adist",
          round(col("sq2") - lit(2.0) * col("sdot") + col("sn2"), 9)),
        "query_id", rerank, "arnk")(col("adist").asc, col("cand_id").asc)
      .select(col("query_id"), col("cand_id"))
    rerankShortlist(shortlist, uCorpus, uQueries, k, idCol, vecCol)
  }

  /** IVFADC — the composed production ANN index (Jégou, Douze &
    * Schmid 2011 §IV: inverted file + asymmetric distance computation):
    * [[ivfTopK]]'s coarse quantizer routes each vector to a cell, PQ
    * codes ([[trainPqCodebook]]) quantize the RESIDUAL vector − its
    * cell centroid (residuals concentrate near 0, so the same code
    * budget spends its resolution where the data actually is — the
    * reason the composite beats flat PQ), and each query scans only
    * its nProbe closest cells with per-(query, cell) ADC lookup
    * tables over the residual codebook:
    *   ‖q − (c + r̂)‖² = ‖(q−c) − r̂‖² = Σⱼ |（q−c)ⱼ|² − 2·dot((q−c)ⱼ,
    *   cen[j,codeⱼ]) + |cen[j,codeⱼ]|²
    * — m table lookups per candidate. Exact cosine re-ranks the
    * top-`rerank` shortlist; recall vs brute force is the s16
    * contract. Vectors are unit-normalized up front so the ADC's L2
    * ordering IS the cosine ordering (the standard cosine-on-IVFADC
    * reduction). The one-shot composition of [[buildIvfAdcIndex]] and
    * [[ivfAdcSearch]]; s18 runs the same two halves with the index
    * persisted to — and re-read from — the lake in between.
    *
    * Scale shape: corpus passes are the assignment (broadcast
    * centroids), the residual encode (broadcast m·codeK codebook,
    * argmin as a partial-combining min-struct aggregation), and the
    * LUT-join scan in which a candidate row carries m (4+8)-byte
    * codes instead of the float vector; the probe filter is the
    * (cell, j, code) equi-join itself — un-probed cells never leave
    * the scan. Queries, centroids, codebooks, and LUTs broadcast;
    * the corpus never shuffles on anything but its own aggregations.
    * Rankings order by 9dp-rounded keys + id so shortlist membership
    * is engine- and partitioning-reproducible. */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 nLists: Int = 16, nProbe: Int = 7, m: Int = 8,
                 codeK: Int = 16, rerank: Int = 250, seed: Long = 42L,
                 trainCap: Int = 4096, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame =
    ivfAdcSearch(corpus,
      buildIvfAdcIndex(corpus, nLists, m, codeK, seed, trainCap,
        idCol, vecCol),
      queries, k, nProbe, m, rerank, idCol, vecCol)

  /** Hard-negative mining (the triplet/contrastive-loss batch-builder
    * from the metric-learning literature — FaceNet, Sentence-BERT):
    * for each anchor, the k most SIMILAR candidates carrying a
    * DIFFERENT label — the negatives that actually move a contrastive
    * loss (random negatives are trivially separated and teach
    * nothing). Same scale shape as [[bruteForceTopK]]: anchors
    * broadcast, corpus never shuffles, WindowGroupLimit prunes
    * map-side; the label anti-filter composes with any shortlist
    * scorer (swap in [[lshTopK]]/[[ivfTopK]]/[[pqTopK]] when the
    * anchor set is corpus-sized). Ranking keys are 9dp-rounded + id
    * (s09 discipline) so the cutoff is engine-agnostic. */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    topK(keyed(corpus, "cand", idCol, vecCol, col(labelCol).as("cand_label"))
        .crossJoin(broadcast(keyed(anchors, "anchor", idCol, vecCol,
          col(labelCol).as("anchor_label"))))
        .filter(col("cand_id") =!= col("anchor_id") &&
          col("cand_label") =!= col("anchor_label"))
        .withColumn("simk", round(VectorFunctions.cosine(col("cand_vec"),
          col("anchor_vec")), 9)),
        "anchor_id", k)(col("simk").desc, col("cand_id").asc)
      .select(col("anchor_id"), col("rnk").cast("long").as("rnk"),
        col("cand_id"), col("cand_label"), round(col("simk"), 4).as("sim"))

  /** Exact all-pairs cosine >= threshold — the O(N²) ground truth the
    * LSH recall checks compare against. Deliberately quadratic: this is
    * the verification oracle for [[nearDupPairs]], not a scale path
    * (one side is broadcast; never run it on an unbounded corpus). */
  def bruteForcePairs(corpus: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val l = corpus.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val r = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    l.join(broadcast(r), col("id_a") < col("id_b"))
      .withColumn("sim", VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  // ---- persisted-LSH incremental embedding dedup (d14 / st18) ----

  /** THE sign-LSH sizing: the seeded table set [[tuneSignLsh]] sizes
    * for a corpus of `n` rows at similarity floor `threshold` — the
    * only source of LSH tables, for [[nearDupPairs]], [[lshTopK]] and
    * every persisted index, so an INCREMENTAL index holds exactly the
    * geometry a full rebuild uses.
    * Equivalence by construction: band rows computed against these
    * tables last month collide with band rows computed this month
    * exactly as one all-at-once bucketing would (hyperplanes are pure
    * functions of (seed, dim)). */
  def nearDupTables(n: Long, dim: Int, threshold: Double, seed: Long = 42L,
                    targetRecall: Double = 0.95, targetBucket: Int = 64)
      : Seq[Array[Array[Float]]] = {
    val (nT, nP) = tuneSignLsh(n, threshold, targetRecall, targetBucket)
    (0 until nT).map(t => hyperplanes(nP, dim, seed + t))
  }

  /** One (id, table, bucket) row per LSH table per vector — the BAND
    * TABLE a continuous embedding-dedup pipeline stores in the lake so
    * each ingest probes only its delta instead of re-bucketing the
    * corpus ([[nearDupPairs]] rebuilds this frame from scratch per
    * run; the incremental form writes it once per vector, ever).
    * Lake-layout note: partition/bucket the persisted copy on
    * (table, bucket) so a delta probe co-locates with its collision
    * candidates and prunes untouched buckets. */
  def bandTable(corpus: DataFrame, tables: Seq[Array[Array[Float]]],
                idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    allBuckets(corpus, idCol, "id", vecCol, tables)

  /** Approximate top-k for `queries` against an ALREADY-INDEXED corpus:
    * [[lshTopK]] without re-bucketing the corpus — the search-side
    * counterpart of [[probeNearDupDelta]] over the same persisted
    * [[bandTable]]. Identical seeded tables ⇒ identical bucket
    * collisions ⇒ results EQUAL lshTopK's (s15 computes that equality
    * as an oracle boolean); the corpus-side cost per query batch drops
    * from a full re-bucketing scan to one equi-join against the stored
    * band rows plus the candidate vector fetch. */
  def lshTopKOverIndex(corpusVecs: DataFrame, bands: DataFrame,
                       queries: DataFrame, k: Int,
                       tables: Seq[Array[Array[Float]]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    lshSearch(bands.select(col("table"), col("bucket"),
        col("id").as("cand_id")),
      corpusVecs, queries, k, tables, idCol, vecCol)

  /** Probe a DELTA batch against a PERSISTED band table: candidates =
    * delta band rows colliding with stored-or-intra-delta band rows in
    * any table, then exact cosine verify against the vectors. Returns
    * exactly `nearDupPairs(base ∪ delta)` RESTRICTED to pairs touching
    * the delta (same tables ⇒ same collisions ⇒ same verified pairs) —
    * at a cost ∝ delta bands × bucket occupancy, never corpus².
    *
    * @param baseBands persisted (id, table, bucket) rows for the
    *                  already-indexed corpus ([[bandTable]] output)
    * @param baseVecs  (idCol, vecCol) for the indexed corpus — only
    *                  candidate ids' vectors are fetched via equi-join
    */
  def probeNearDupDelta(delta: DataFrame, baseBands: DataFrame,
                        baseVecs: DataFrame, threshold: Double,
                        tables: Seq[Array[Array[Float]]],
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val dBands = allBuckets(delta, idCol, "id", vecCol, tables)
    val allBands = baseBands.select(col("id"), col("table"), col("bucket"))
      .unionByName(dBands)
    // candidate dedup over bare id pairs (the nearDupPairs discipline —
    // no vectors move until after distinct)
    val cand = dBands.select(col("table"), col("bucket"), col("id").as("id_p"))
      .join(allBands.select(col("table"), col("bucket"), col("id").as("id_q")),
        Seq("table", "bucket"))
      .filter(col("id_p") =!= col("id_q"))
      .select(least(col("id_p"), col("id_q")).as("id_a"),
        greatest(col("id_p"), col("id_q")).as("id_b"))
      .distinct()
    val vecs = baseVecs.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .unionByName(delta.select(col(idCol).as("id"), col(vecCol).as("vec")))
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), "id_b")
      .withColumn("sim", VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }
}
