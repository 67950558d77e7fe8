package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextDedup}
import graft.sources.Tables

/** Diagnostics: raw recall numbers behind the d02/d05/s02/s03 oracle
  * booleans, at any SF — run this when tuning LSH/IVF dials so the
  * `recall_ok` bounds in SparkEntry keep a visible margin.
  * Usage: runMain graft.RecallProbe [sfDir] */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 10)

    def pairRecall(name: String,
                   truth: org.apache.spark.sql.DataFrame,
                   found: org.apache.spark.sql.DataFrame): Unit = {
      val t = truth.count()
      val h = truth.join(found, Seq("id_a", "id_b"), "left_semi").count()
      val f = found.count()
      println(f"RECALL $name%-14s n_true=$t%6d n_hit=$h%6d n_found=$f%6d " +
        f"recall=${if (t == 0) 1.0 else h.toDouble / t}%.4f")
    }

    pairRecall("d02_minhash",
      TextDedup.shingleJaccardPairs(docs, "doc_id", "text"),
      TextDedup.minhashPairs(docs, "doc_id", "text").select("id_a", "id_b"))
    pairRecall("d05_neardup",
      Similarity.bruteForcePairs(emb, 0.4),
      Similarity.nearDupPairs(emb, 0.4).select("id_a", "id_b"))

    // d14: incremental-probe recall vs the exact DELTA-TOUCHING truth,
    // plus the incremental==rebuild equivalence the oracle boolean pins
    {
      val (n, dim) = Similarity.corpusStats(emb)
      val tables = Similarity.nearDupTables(n, dim, 0.4)
      val base = emb.filter(col("vec_id") % 4 =!= 3)
      val delta = emb.filter(col("vec_id") % 4 === 3)
      val inc = Similarity.probeNearDupDelta(delta,
        Similarity.bandTable(base, tables), base, 0.4, tables)
        .select("id_a", "id_b")
      pairRecall("d14_incr_lsh",
        Similarity.bruteForcePairs(emb, 0.4)
          .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3),
        inc)
      val reb = Similarity.nearDupPairs(emb, 0.4, stats = Some((n, dim)))
        .filter(col("id_a") % 4 === 3 || col("id_b") % 4 === 3)
        .select("id_a", "id_b")
      println(s"EQ d14 inc==rebuild: " +
        s"${inc.unionByName(reb).distinct().count() == inc.count() &&
          inc.count() == reb.count()}")
    }

    val exact = Similarity.bruteForceTopK(emb, q, 10)
      .select(col("query_id"), col("cand_id"))
    def annRecall(name: String, approx: org.apache.spark.sql.DataFrame): Unit = {
      val hits = exact.join(approx.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
        .orderBy(col("query_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perQ = (0L until 10L).map(i => hits.getOrElse(i, 0L))
      println(s"RECALL $name per-query hits@10 = ${perQ.mkString(",")} " +
        f"min=${perQ.min} mean=${perQ.sum / 10.0}%.1f")
    }
    // d09: semdedup drop recall vs the ideal drop set (vectors having a
    // LOWER-id global near-dup — the drops an exact all-pairs pass makes)
    {
      val ideal = Similarity.bruteForcePairs(emb, 0.4)
        .select(col("id_b").as("vec_id")).distinct()
      val dropped = Similarity.semDedup(emb, 0.4)
        .filter(col("dropped")).select("vec_id")
      val t = ideal.count()
      val h = ideal.join(dropped, Seq("vec_id"), "left_semi").count()
      val extra = dropped.join(ideal, Seq("vec_id"), "left_anti").count()
      println(f"RECALL d09_semdedup  n_ideal=$t%6d n_hit=$h%6d " +
        f"n_unjustified=$extra%d recall=${if (t == 0) 1.0 else h.toDouble / t}%.4f")
    }

    // d12: measured MinHash estimator error behind the est_ok bound
    {
      val chk = TextDedup.minhashEstimateCheck(docs, "doc_id", "text",
        bound = 1.0, emitEst = true)
      val r = chk.agg(count(lit(1)).as("n"),
        max(abs(col("est") - col("jaccard"))).as("maxerr"),
        avg(abs(col("est") - col("jaccard"))).as("mae")).collect().head
      println(f"EST d12_minhash n_pairs=${r.getLong(0)} " +
        f"max|est-J|=${r.getDouble(1)}%.4f (bound 0.25) " +
        f"mae=${r.getDouble(2)}%.4f")
    }

    annRecall("s02_lsh", Similarity.lshTopK(emb, q, 10))

    // s07: JL distortion stats behind the mae/frac contract booleans
    {
      val r = Similarity.jlDistortionPairs(emb)
        .agg(count(lit(1)).as("n"),
          avg(abs(col("cos_proj") - col("cos_exact"))).as("mae"),
          expr("percentile(abs(cos_proj - cos_exact), 0.9)").as("p90"),
          avg((abs(col("cos_proj") - col("cos_exact")) <= 0.3)
            .cast("int")).as("frac"))
        .collect().head
      println(f"JL s07 n_pairs=${r.getLong(0)} mae=${r.getDouble(1)}%.4f " +
        f"(bound 0.2) p90=${r.getDouble(2)}%.4f " +
        f"frac|err|<=0.3=${r.getDouble(3)}%.4f (bound 0.8)")
    }
    // nProbe=7 matches the REGISTERED s03 contract (SparkEntry) — the
    // operator default is 6, which under-reports the shipped margin
    annRecall("s03_ivf", Similarity.ivfTopK(emb, q, 10, nProbe = 7))
    annRecall("s10_pq", Similarity.pqTopK(emb, q, 10))
    // m=16/rerank=500 match the REGISTERED s16 contract: measured min
    // hits 5 at both SFs — the coarse quantizer's cell-residency
    // ceiling (s03's row), i.e. the residual-PQ stage loses nothing
    annRecall("s16_ivfadc",
      Similarity.ivfAdcTopK(emb, q, 10, m = 16, rerank = 500))

    // s19: cross-modal (text query -> image corpus) recall through the
    // IVFADC index; the truth is the exact cross-modal brute force, so
    // this needs its own per-query hit table (text ids are +100000).
    // nProbe=9 is the REGISTERED dial (min 6 at both SFs, contract 5);
    // the 7/11 rows show the dial's slope for future tuning
    {
      val tq = EntryDefsB.crossModalQueries(spark, sfDir)
      val exactX = Similarity.bruteForceTopK(emb, tq, 10)
        .select(col("query_id"), col("cand_id")).localCheckpoint(true)
      val idx = Similarity.buildIvfAdcIndex(emb, m = 16)
      for (np <- Seq(7, 9, 11)) {
        val approx = Similarity.ivfAdcSearch(emb, idx, tq, 10,
          nProbe = np, rerank = 500)
        val hits = exactX
          .join(approx.select(col("query_id"), col("cand_id")),
            Seq("query_id", "cand_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
          .orderBy(col("query_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val perQ = (100000L until 100010L).map(i => hits.getOrElse(i, 0L))
        println(s"RECALL s19_crossmodal nProbe=$np per-query hits@10 = " +
          s"${perQ.mkString(",")} min=${perQ.min} " +
          f"mean=${perQ.sum / 10.0}%.1f")
      }
    }

    // s12: filtered ANN recall is vs the LABEL-FILTERED exact truth
    {
      val exactF = Similarity.bruteForceTopKFiltered(emb, q, 10)
        .select(col("query_id"), col("cand_id"))
      val approx = Similarity.ivfTopKFiltered(emb, q, 10, nProbe = 10)
      val hits = exactF
        .join(approx.select(col("query_id"), col("cand_id")),
          Seq("query_id", "cand_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
        .orderBy(col("query_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val perQ = (0L until 10L).map(i => hits.getOrElse(i, 0L))
      println(s"RECALL s12_filtered per-query hits@10 = " +
        s"${perQ.mkString(",")} min=${perQ.min} " +
        f"mean=${perQ.sum / 10.0}%.1f")
    }

    // q40: actual rank error of each approx quantile vs the contract's
    // 0.01*n allowance (sketch guarantee is n/1000 — want >= 10x slack)
    val ord = Tables.orders(spark, sfDir).select(col("o_totalprice").as("val"))
    val n = ord.count()
    val aps = ord.agg(expr("approx_percentile(val, " +
        "array(0.25D, 0.5D, 0.75D, 0.99D), 1000)").as("ap"))
      .collect().head.getSeq[Double](0)
    Seq(0.25, 0.5, 0.75, 0.99).zip(aps).foreach { case (quant, v) =>
      val rank = ord.filter(col("val") <= v).count()
      val err = math.abs(rank - quant * n)
      println(f"QUANTILE q40 q=$quant%.2f rank_err=$err%.1f " +
        f"allowance=${0.01 * n}%.1f margin=${0.01 * n - err}%.1f")
    }

    // q67: CMS max overestimate across the heavy tokens vs eps*N
    {
      val toks = docs.select(explode(EntryDefsB.zipfTokens).as("token"))
      val nStream = toks.count()
      val sk = toks.agg(count_min_sketch(col("token"),
        lit(0.001d), lit(0.99d), lit(42)).as("sk"))
      val over = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("n_true"))
        .filter(col("n_true") * 100 >= nStream)
        .crossJoin(broadcast(sk))
        .select((graft.plans.CmsFunctions
          .cmsEstimate(col("sk"), col("token")) - col("n_true")).as("over"))
        .agg(max(col("over"))).collect().head.getLong(0)
      println(f"CMS q67 max_overestimate=$over%d " +
        f"allowance=${0.001 * nStream}%.1f margin=${0.001 * nStream - over}%.1f")
    }
    spark.stop()
  }
}
