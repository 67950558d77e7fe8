package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Month discovery and selection for the daily job: a distinct aggregate
  * sorted on the driver must list exactly what a globally sorted
  * distinct lists, and the month's date range must keep exactly the rows
  * whose formatted date names the month. The app's select phase aborts
  * in ASCII, so its message survives an ASCII-locale stderr. */
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

  test("selectMonth aborts in ASCII on no months and on an unknown month") {
    // an sf dir whose lineitem.parquet is one file holding no rows
    val empty = Files.createTempDirectory("pricecatcher_empty")
    val staged = empty.resolve("staged").toString
    spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet").limit(0)
      .coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, empty.resolve("lineitem.parquet"))
    try {
      val none = intercept[PriceCatcherApp.Abort] {
        PriceCatcherApp.selectMonth(spark, empty.toString, "latest")
      }
      assert(none.msg.startsWith("No fact months found under"), none.msg)
      val unknown = intercept[PriceCatcherApp.Abort] {
        PriceCatcherApp.selectMonth(spark, sf("sf0.01"), "1900-01")
      }
      assert(unknown.msg.startsWith("Unknown month '1900-01'; available: "),
        unknown.msg)
      Seq(none.msg, unknown.msg).foreach { m =>
        assert(m.forall(_ < 0x80), s"non-ASCII abort message: $m")
      }
    } finally Scratch.wipe(empty.toString)
  }
}
