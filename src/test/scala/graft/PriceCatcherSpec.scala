package graft

import org.apache.spark.sql.functions._

/** Month discovery and selection for the daily job: a distinct aggregate
  * sorted on the driver must list exactly what a globally sorted
  * distinct lists, and the month's date range must keep exactly the rows
  * whose formatted date names the month. */
class PriceCatcherSpec extends SparkSpec {

  test("months equals the globally sorted distinct and is strictly ascending") {
    val d = sf("sf0.01")
    val months = PriceCatcher.months(spark, d).toSeq
    val sortedDistinct = PriceCatcher.prices(spark, d)
      .select(date_format(col("date"), "yyyy-MM").as("m"))
      .distinct().orderBy("m").collect().map(_.getString(0)).toSeq
    assert(months.nonEmpty)
    assert(months == sortedDistinct)
    assert(months.zip(months.tail).forall { case (a, b) => a < b },
      s"not strictly ascending: $months")
  }

  test("inMonth keeps exactly the rows date_format selects, every month") {
    val d = sf("sf0.01")
    val prices = PriceCatcher.prices(spark, d)
    val byFormat = prices
      .groupBy(date_format(col("date"), "yyyy-MM").as("m"))
      .agg(count(lit(1)), sum(col("__tb1")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val months = PriceCatcher.months(spark, d)
    assert(months.toSet == byFormat.keySet)
    months.foreach { m =>
      val r = prices.filter(PriceCatcher.inMonth(m))
        .agg(count(lit(1)), sum(col("__tb1"))).head()
      assert((r.getLong(0), r.getLong(1)) == byFormat(m), m)
    }
  }
}
