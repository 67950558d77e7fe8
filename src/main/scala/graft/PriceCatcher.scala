package graft

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.operators.{Cleaning, Dedup, Enrich}
import graft.sources.Tables

/** The flagship pipeline: the reference's entire data path —
  * load → clean/coerce → dedup-latest → enrichment join
  * (reference: src/main.rs:247-278 plus the implied consumer join,
  * README.md:6) — re-expressed as one declarative Spark plan.
  *
  * The driver test data is TPC-H-shaped, so the PriceCatcher star is
  * derived via the structural mapping of FIXTURES.md §B: lineitem ≈
  * prices (l_shipdate→date, l_suppkey→premise_code, l_partkey→item_code,
  * l_extendedprice→price), part ≈ items, supplier(+nation+region) ≈
  * premises.
  *
  * Plan shape at scale: one vectorized parquet scan of the fact table
  * with column pruning (only 6 of 11 lineitem columns are read), a single
  * hash shuffle on (premise_code, item_code) for the window dedup, then
  * two broadcast joins — no further shuffle. A 1000-executor run touches
  * the fact data exactly once.
  *
  * Casts name their types (`LongType`, not `"long"`): a type given as a
  * string goes through Catalyst's ANTLR SQL parser, and loading that
  * grammar costs the cold daily job about 0.2 s and 1.2 MB of classes
  * that no other step of it needs.
  */
object PriceCatcher {

  /** lineitem → prices (fact). Cleaning = P1 date truncation + P2 casts. */
  def prices(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir).select(
      Cleaning.truncToDate(col("l_shipdate")).as("date"),
      col("l_suppkey").cast(LongType).as("premise_code"),
      col("l_partkey").cast(LongType).as("item_code"),
      col("l_extendedprice").cast(DoubleType).as("price"),
      // unique tie-breakers: the reference's survivor on date ties is
      // nondeterministic (SQLite bare-column GROUP BY, src/main.rs:254-257);
      // we carry a total order instead.
      col("l_orderkey").as("__tb1"), col("l_linenumber").as("__tb2"))

  /** Months (yyyy-MM) that hold fact rows, ascending. A distinct
    * aggregate on the integer key `year * 100 + month`, without a global
    * sort: the few keys (12 a year) are sorted and formatted on the
    * driver, so no row is formatted as a string. */
  def months(spark: SparkSession, sfDir: String): Array[String] =
    prices(spark, sfDir)
      .select((year(col("date")) * 100 + month(col("date"))).as("m"))
      .distinct().collect().map(_.getInt(0)).sorted
      .map(m => f"${m / 100}%04d-${m % 100}%02d")

  /** Fact rows dated in `month` (yyyy-MM): a range on `date` from the
    * month's first day up to the next month's first day — two date
    * compares per row instead of formatting each row's date. */
  def inMonth(month: String): Column = {
    val first = LocalDate.parse(s"$month-01")
    col("date") >= lit(first) && col("date") < lit(first.plusMonths(1))
  }

  /** part → items (dimension), with P3 string cleaning. */
  def items(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).select(
      col("p_partkey").cast(LongType).as("item_code"),
      Cleaning.cleanString(col("p_name")).as("item"),
      Cleaning.cleanString(col("p_brand")).as("unit"),
      Cleaning.cleanString(col("p_type")).as("item_group"),
      col("p_size").cast(StringType).as("item_category"))

  /** supplier ⋈ nation ⋈ region → premises (dimension). The snowflake is
    * collapsed into the flat premise dimension the reference stores
    * (state≈nation, district≈region); dims are tiny → broadcast joins. */
  def premises(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    s.join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(
        col("s_suppkey").cast(LongType).as("premise_code"),
        Cleaning.cleanString(col("s_name")).as("premise"),
        Cleaning.cleanString(concat_ws(" ", col("s_name"), col("n_name"))).as("address"),
        lit("supplier").as("premise_type"),
        Cleaning.cleanString(col("n_name")).as("state"),
        Cleaning.cleanString(col("r_name")).as("district"))
  }

  /** Latest price per premise×item (A1, src/main.rs:252-278) of a
    * [[prices]] frame, whole or filtered, with a deterministic
    * tie-break; the tie-break columns are dropped. */
  def latestPrices(prices: DataFrame): DataFrame =
    Dedup.latestPerGroup(
      prices,
      keys = Seq("premise_code", "item_code"),
      order = Seq(col("date").desc, col("__tb1").asc, col("__tb2").asc))
      .drop("__tb1", "__tb2")

  /** Full flagship result: latest prices enriched with both dimensions. */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    Enrich.enrich(latestPrices(prices(spark, sfDir)),
                  items(spark, sfDir), premises(spark, sfDir))
}
