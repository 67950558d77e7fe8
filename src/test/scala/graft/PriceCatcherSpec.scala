package graft

import org.apache.spark.sql.functions._

/** Month discovery for the daily job: a distinct aggregate sorted on the
  * driver must list exactly what a globally sorted distinct lists. */
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
}
