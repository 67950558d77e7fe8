package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.operators.Salt

/** Scale utilities: bucketed joins plan without shuffles; salted
  * aggregation matches the plain aggregation; AQE splits a skewed
  * join partition at runtime. */
class ScaleUtilsSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join plans with no shuffle exchange") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice")
    val o = spark.read.parquet(s"${sf()}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // clear any stale managed-table locations from a previous test JVM
    // (the in-memory catalog forgets the table, the directory survives)
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    Seq(li -> "li_b", o -> "o_b").foreach { case (df, t) =>
      df.write.mode("overwrite").format("parquet")
        .bucketBy(4, "l_orderkey").saveAsTable(t)
    }

    // force SMJ so the assertion is about bucketing, not broadcast; AQE
    // off so collect() actually traverses the join plan (AQE's wrapper
    // node is a leaf and would hide any Exchange from the assertion)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty, s"expected no shuffles, got ${shuffles.size}")
      // sanity: the same assertion CAN fail — a non-bucketed join shows
      // exchanges under the same confs
      val unbucketed = li.join(o, "l_orderkey")
      val unbucketedShuffles = unbucketed.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(unbucketedShuffles.nonEmpty, "assertion harness is blind")
      // and it still computes the right thing
      val expect = li.join(o, "l_orderkey").count()
      assert(joined.count() == expect)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("AQE splits an unknown hot key's join partition at runtime") {
    // the OTHER half of the skew story next to the explicit salt
    // (q26/q42 — use the salt when the hot key is known at authoring
    // time; AQE catches the ones you didn't know about). One synthetic
    // hot key carrying most fact rows joins a small dim; with AQE
    // skew-join on, the oversized shuffle partition is split into
    // mapper-subset reads, marked isSkewJoin in the final plan.
    val aqe = spark.newSession()
    Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8KB")
      .foreach { case (k, v) => aqe.conf.set(k, v) }
    // a skewed REDUCE partition is split into subsets of MAP outputs,
    // so the fact must genuinely SPAN mappers: range() parallelizes
    // into 4 real map tasks that each hold hot-key rows. (A
    // single-row-group parquet fixture puts every row in ONE mapper no
    // matter how many byte-range splits exist — measured per-mapper
    // sizes [0, 8MB, 0, 0] → unsplittable, the sf0.01 analog of a real
    // cluster's thousands of map tasks.)
    def join(s: SparkSession) =
      s.range(0, 1200000, 1, 4)
        .selectExpr("CASE WHEN id % 5 > 0 THEN 0L ELSE id % 100 END AS k",
          "CAST(id AS DOUBLE) AS v")
        .join(s.read.parquet(s"${sf()}/supplier.parquet")
          .selectExpr("CAST(s_suppkey AS LONG) AS k", "s_acctbal"), "k")
    val skewed = join(aqe)
    // drive THIS DataFrame's QueryExecution (a .count() would build its
    // own and leave this adaptive plan unfinalized)
    val n = skewed.queryExecution.toRdd.count()
    val plan = skewed.queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan)
    // the final plan's root is a query stage: walk through the stages
    val smjs = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case j: SortMergeJoinExec => j
    }
    assert(smjs.exists(_.isSkewJoin), plan)
    val plain = spark.newSession()
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    plain.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(n > 0 && n == join(plain).count(),
      "the split join returns the unsplit join's rows")
  }

  test("salted aggregation equals plain aggregation") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val salted = Salt.saltedAgg(li, Seq("l_returnflag"),
      Seq("total" -> ("l_extendedprice", "sum"),
          "n" -> ("l_extendedprice", "count"),
          "mn" -> ("l_quantity", "min"),
          "mx" -> ("l_quantity", "max"),
          "avg_p" -> ("l_extendedprice", "avg")), factor = 8)
      .withColumn("total", round($"total", 2))
      .withColumn("avg_p", round($"avg_p", 2))
    val plain = li.groupBy($"l_returnflag").agg(
      round(sum($"l_extendedprice"), 2).as("total"),
      count($"l_extendedprice").as("n"),
      min($"l_quantity").as("mn"),
      max($"l_quantity").as("mx"),
      round(avg($"l_extendedprice"), 2).as("avg_p"))
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }
}
