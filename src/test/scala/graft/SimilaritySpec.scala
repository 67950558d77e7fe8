package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** ANN: brute force is exact top-k; LSH finds a planted duplicate
  * vector and achieves decent recall of the true top-10. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  test("brute force returns exactly k ranked neighbors per query") {
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3), k = 5)
    val byQ = out.groupBy($"query_id").agg(count(lit(1)).as("n"),
      max($"rnk").as("maxr")).collect()
    assert(byQ.length == 3)
    byQ.foreach(r => assert(r.getLong(1) == 5L && r.getInt(2) == 5))
    // scores are non-increasing in rank
    val q0 = out.filter($"query_id" === 0).orderBy($"rnk")
      .select($"sim").as[Double].collect()
    assert(q0.zip(q0.tail).forall { case (a, b) => a >= b })
  }

  test("filtered search: every neighbor shares the query's label, and " +
      "the exact filtered truth equals brute force over the label slice") {
    val q = emb.filter($"vec_id" < 5)
    val labels = emb.select($"vec_id".as("query_id"),
      $"label".as("qlbl"))
    // IVF-filtered results never cross a label boundary
    val ivf = Similarity.ivfTopKFiltered(emb, q, k = 5)
      .join(labels, "query_id")
      .join(emb.select($"vec_id".as("cand_id"), $"label".as("clbl")),
        "cand_id")
    assert(ivf.count() > 0)
    assert(ivf.filter($"qlbl" =!= $"clbl").count() == 0)
    // the exact filtered truth for one query == plain brute force run
    // over only that query's label slice
    val q0 = emb.filter($"vec_id" === 0L)
    val lbl0 = q0.select($"label").as[Int].head()
    val viaFiltered = Similarity.bruteForceTopKFiltered(emb, q0, k = 5)
      .select($"query_id", $"rnk", $"cand_id", $"sim")
      .collect().toSet
    val viaSlice = Similarity.bruteForceTopK(
        emb.filter($"label" === lbl0), q0, k = 5)
      .collect().toSet
    assert(viaFiltered == viaSlice)
  }

  test("exact score ties rank the lower cand_id first") {
    // twins 3 and 5 carry one vector, so every scorer ties them
    // exactly; the higher id comes first in the input so input order
    // can't decide the cut
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),    // the query / anchor
      (5L, Array(0.8f, 0.6f, 0.0f), 1),
      (3L, Array(0.8f, 0.6f, 0.0f), 1),
      (7L, Array(0.0f, 1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label").repartition(3)
    val q = rows.filter($"vec_id" === 0L)
    def top2(out: org.apache.spark.sql.DataFrame, by: String = "query_id") =
      out.filter(col(by) === 0L).orderBy($"rnk").select($"cand_id")
        .as[Long].collect().take(2).toSeq
    assert(top2(Similarity.bruteForceTopK(rows, q, k = 3)) == Seq(3L, 5L))
    assert(top2(Similarity.mipsTopK(rows, q, k = 3)) == Seq(3L, 5L))
    assert(top2(Similarity.quantizedTopK(rows, q, k = 3)) == Seq(3L, 5L))
    assert(top2(Similarity.hardNegatives(rows, q, k = 3), "anchor_id")
      == Seq(3L, 5L))
  }

  test("MMR demotes a redundant near-duplicate below a diverse result") {
    // query q points at A; B is nearly identical to A (redundant);
    // C is less relevant but diverse. Pure relevance ranks A, B, C;
    // MMR must rank A, C, B (B's sim-to-selected-A penalty bites).
    // A and C sit symmetrically (±0.1) around the query, so they are
    // equally relevant but mutually diverse; B hugs A (near-dup)
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),       // the query itself
      (1L, Array(1.0f, 0.1f, 0.0f)),       // A: top (wins rel tie on id)
      (2L, Array(1.0f, 0.11f, 0.0f)),      // B: near-dup of A
      (3L, Array(1.0f, -0.1f, 0.0f)))      // C: as relevant, diverse
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(rows, rows.filter($"vec_id" === 0L),
      k = 3, pool = 3)
    val order = out.orderBy($"step").select($"cand_id").as[Long].collect()
    assert(order.toSeq == Seq(1L, 3L, 2L), order.toSeq)
    // step-1 score is pure relevance, later steps are penalized
    val scores = out.orderBy($"step").select($"mmr").as[Double].collect()
    assert(scores.head > scores(1) && scores.head > scores(2))
  }

  test("LSH finds a planted exact-duplicate vector as top neighbor") {
    val planted = emb.filter($"vec_id" === 7)
      .select(lit(99999L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(planted)
    val out = Similarity.lshTopK(corpus, corpus.filter($"vec_id" === 99999L), k = 3)
    val top = out.filter($"rnk" === 1).select($"cand_id", $"sim").collect().head
    assert(top.getLong(0) == 7L)
    assert(top.getDouble(1) > 0.9999)
  }

  test("IVF finds a planted duplicate and has reasonable recall") {
    val planted = emb.filter($"vec_id" === 7)
      .select(lit(88888L).as("vec_id"), $"embedding", $"label")
    val corpus = emb.unionByName(planted)
    val out = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" === 88888L),
      k = 3, nLists = 8, nProbe = 2)
    val top = out.filter($"rnk" === 1).select($"cand_id", $"sim").collect().head
    assert(top.getLong(0) == 7L && top.getDouble(1) > 0.9999)

    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, queries, k = 10,
      nLists = 8, nProbe = 4)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.3, s"ivf recall=$recall")
  }

  test("LSH recall vs brute force is reasonable on random vectors") {
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, k = 10)
      .select($"query_id", $"cand_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random 64-dim vectors are a worst case for LSH; just require signal
    assert(recall > 0.2, s"recall=$recall")
  }

  test("tuneSignLsh dial: buckets grow with N, tables grow to hold recall") {
    val (t1, p1) = Similarity.tuneSignLsh(500, 0.4, 0.95, 64)
    val (t2, p2) = Similarity.tuneSignLsh(2000, 0.4, 0.95, 64)
    val (t3, p3) = Similarity.tuneSignLsh(2000000, 0.4, 0.95, 64)
    // planes (log2 of bucket count) track corpus size
    assert(p1 < p2 && p2 < p3)
    assert(p2 == 5)                      // ceil(log2(2000/64))
    // more planes decay per-table collision odds -> more tables needed
    assert(t1 <= t2)
    // the cost ceiling clamps runaway table counts (documented tradeoff)
    assert(t3 <= 48)
    // a genuinely-near floor keeps tables bounded at ANY corpus size:
    // p(0.9) = 0.856/plane, so even 20 planes need few tables
    val (tNear, _) = Similarity.tuneSignLsh(2000000000L, 0.9, 0.95, 64)
    assert(tNear <= 48)
  }

  test("vecDim: one-row probe skips NULL vectors (as defensive as the " +
      "max() pass it replaced) and returns 0 on an empty corpus") {
    val withNull = Seq(
      (1L, Option.empty[Seq[Float]]),
      (2L, Some(Seq(1f, 2f, 3f, 4f)))
    ).toDF("vec_id", "embedding")
    assert(Similarity.vecDim(withNull) == 4)
    assert(Similarity.vecDim(withNull.filter($"vec_id" < 0)) == 0)
    assert(Similarity.vecDim(emb) == 64) // fixture dim
  }
}
