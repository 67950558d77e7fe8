package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._

import graft.plans.Md5Draw52

/** The fused 52-bit md5 draw must be BIT-IDENTICAL to the built-in
  * conv(substring(md5(s),1,13),16,10) chain it replaced (q91/c14) —
  * the oracles still recompute the draw through the hex route. */
class Md5DrawSpec extends SparkSpec {
  import spark.implicits._

  private def chain(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  test("md5_draw52 == conv(substring(md5,1,13),16,10) on fixture keys") {
    // the exact q91 shape: orderkey:bs:b over the real orders fixture
    val orders = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
      .withColumn("b", explode(sequence(lit(0), lit(32))))
    val key = concat($"o_orderkey".cast("string"), lit(":bs"),
      $"b".cast("string"))
    val diff = orders.select(chain(key).as("a"),
        Md5Draw52.md5Draw52(key).as("b"))
      .filter(!($"a" <=> $"b"))
    assert(diff.count() == 0)
  }

  test("md5_draw52 edge inputs: empty, unicode, null") {
    val df = Seq(Some(""), Some("héllo wörld ✓"), Some("0"), None)
      .toDF("s")
    val rows = df.select(chain($"s").as("a"),
      Md5Draw52.md5Draw52($"s").as("b")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    assert(rows.count(_.isNullAt(1)) == 1)
  }

  test("interpreted eval matches codegen") {
    // force the interpreted path via direct expression eval
    val e = graft.plans.Md5Draw52(
      org.apache.spark.sql.catalyst.expressions.Literal("probe:42"))
    val interpreted = e.eval(null).asInstanceOf[Long]
    val viaSql = spark.range(1)
      .select(chain(lit("probe:42")).as("v")).head().getLong(0)
    assert(interpreted == viaSql)
  }

  test("md5_draw52_key == md5_draw52(concat(casts)) on the q91/c14 " +
      "key streams") {
    import graft.plans.Md5DrawKey52.md5DrawKey52
    // q91 shape: (long, ':bs', int)
    val orders = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
      .withColumn("b", explode(sequence(lit(0), lit(32))))
    val d1 = orders.select(
        chain(concat($"o_orderkey".cast("string"), lit(":bs"),
          $"b".cast("string"))).as("a"),
        md5DrawKey52($"o_orderkey", lit(":bs"), $"b").as("b2"))
      .filter(!($"a" <=> $"b2"))
    assert(d1.count() == 0)
    // c14 shape: (long, ':ws42')
    val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")
    val d2 = docs.select(
        chain(concat($"doc_id".cast("string"), lit(":ws42"))).as("a"),
        md5DrawKey52($"doc_id", lit(":ws42")).as("b2"))
      .filter(!($"a" <=> $"b2"))
    assert(d2.count() == 0)
  }

  test("md5_draw52_key edges: negatives, zero, Long.MinValue, null") {
    import graft.plans.Md5DrawKey52.md5DrawKey52
    val df = Seq(Some(0L), Some(-1L), Some(7L), Some(Long.MinValue),
      Some(Long.MaxValue), None).toDF("v")
    val rows = df.select(
      chain(concat($"v".cast("string"), lit(":x"))).as("a"),
      md5DrawKey52($"v", lit(":x")).as("b")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
    assert(rows.count(_.isNullAt(1)) == 1)
    // interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.plans.Md5DrawKey52(Seq(
      Literal(-42L), Literal(":x"), Literal(7)))
    val viaSql = spark.range(1)
      .select(chain(concat(lit(-42L).cast("string"), lit(":x"),
        lit(7).cast("string"))).as("v")).head().getLong(0)
    assert(e.eval(null) == viaSql)
  }

  test("md5_draw52 and md5_draw52_key compile inside a whole-stage " +
      "aggregate") {
    import graft.plans.Md5DrawKey52.md5DrawKey52
    // with fallback off, generated Java that does not compile fails the
    // query instead of running the stage interpreted
    val fallback = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try {
      val rendered = concat($"id".cast("string"), lit(":bs"))
      val got = spark.range(0, 2000).groupBy(($"id" % 7).as("g"))
        .agg(sum(Md5Draw52.md5Draw52(rendered)).as("a"),
          sum(md5DrawKey52($"id", lit(":bs"))).as("b"),
          sum(chain(rendered)).as("c"))
      val rows = got.collect()
      assert(rows.length == 7)
      rows.foreach(r => assert(r.getLong(1) == r.getLong(3) &&
        r.getLong(2) == r.getLong(3), r.toString))
      val fused = new AdaptiveSparkPlanHelper {}
        .collect(got.queryExecution.executedPlan) {
          case w: WholeStageCodegenExec
              if w.child.exists(_.isInstanceOf[HashAggregateExec]) => w }
      assert(fused.nonEmpty, got.queryExecution.executedPlan.toString)
    } finally before match {
      case Some(v) => spark.conf.set(fallback, v)
      case None => spark.conf.unset(fallback)
    }
  }
}
