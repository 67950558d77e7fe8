package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.{PriceCatcher, PriceCatcherApp}
import graft.operators.{Dedup, Quality}
import graft.sources.{SqliteFile, SqlitePacker}

/** The reference's daily job: `PriceCatcherApp.main` run cold, and the
  * same steps replayed one layer call at a time for the traced run. */
object DailyPack {

  /** The app, untouched: the timed region is the call itself. */
  def app(sf: String, out: String, month: String, spans: Spans): SpanRec =
    spans("app") {
      PriceCatcherApp.main(Array(sf, out, "--month", month))
      Map.empty
    }

  /** The nine indexes of the reference schema, as the artifact stores
    * them; run.py checks them against the app's `sqlite_master`. */
  val indexDefs: Map[String, Seq[SqliteFile.IndexDef]] = Map(
    "prices" -> Seq(
      ix("idx_prices_premise_code", "INDEX", "prices", "premise_code", 1),
      ix("idx_prices_item_code", "INDEX", "prices", "item_code", 2)),
    "premises" -> Seq(
      ix("idx_premises_premise_code", "UNIQUE INDEX", "premises", "premise_code", 0),
      ix("idx_premises_premise_type", "INDEX", "premises", "premise_type", 3),
      ix("idx_premises_state", "INDEX", "premises", "state", 4),
      ix("idx_premises_district", "INDEX", "premises", "district", 5)),
    "items" -> Seq(
      ix("idx_items_item_code", "UNIQUE INDEX", "items", "item_code", 0),
      ix("idx_items_item_group", "INDEX", "items", "item_group", 3),
      ix("idx_items_item_category", "INDEX", "items", "item_category", 4)))

  private def ix(name: String, kind: String, table: String, column: String,
                 pos: Int): SqliteFile.IndexDef =
    SqliteFile.IndexDef(name, s"CREATE $kind $name ON $table ($column)",
      Seq(pos))

  val tableSql: Map[String, String] = Map(
    "prices" -> ("CREATE TABLE prices (date VARCHAR(255), premise_code " +
      "INTEGER, item_code INTEGER, price FLOAT)"),
    "premises" -> ("CREATE TABLE premises (premise_code INTEGER, premise " +
      "VARCHAR(255), address VARCHAR(255), premise_type VARCHAR(255), " +
      "state VARCHAR(255), district VARCHAR(255))"),
    "items" -> ("CREATE TABLE items (item_code INTEGER, item VARCHAR(255), " +
      "unit VARCHAR(255), item_group VARCHAR(255), item_category " +
      "VARCHAR(255))"))

  /** Rows as the artifact stores them: dates as yyyy-MM-dd text and
    * integers widened to 64 bits (SQLite storage classes). */
  private def storedRows(df: DataFrame): Vector[Seq[Any]] = {
    val strDates = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == DateType)
        d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
      else d
    }
    strDates.collect().toVector.map(_.toSeq.map {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case v @ (null | _: Long | _: Double | _: String) => v
      case other => other.toString
    })
  }

  /** The app's steps as separate spans, then `SqliteFile.write` alone
    * on the same three tables. Returns the extra counters. */
  def traced(spark: SparkSession, sf: String, out: String, month: String,
             spans: Spans): Map[String, Any] = {
    spans("discover") {
      val months = PriceCatcher.prices(spark, sf)
        .select(date_format(col("date"), "yyyy-MM").as("m"))
        .distinct().orderBy("m").collect()
      Map("months" -> months.length)
    }
    val prices = PriceCatcher.prices(spark, sf)
      .filter(date_format(col("date"), "yyyy-MM") === month)
    val premises = PriceCatcher.premises(spark, sf)
    val items = PriceCatcher.items(spark, sf)
    spans("validate") {
      Quality.assertUnique(premises, "premise_code")
      Quality.assertUnique(items, "item_code")
      Map.empty
    }
    val latest = Dedup.latestPerGroup(prices, Seq("premise_code", "item_code"),
      Seq(col("date").desc, col("__tb1").asc, col("__tb2").asc))
      .drop("__tb1", "__tb2")
    spans("dedup") { Map("latest_rows" -> latest.count()) }
    val exportDir = Paths.get(out, "export")
    spans("export") {
      val zip = SqlitePacker.pack(exportDir.toString, latest, premises, items)
      Map("zip_bytes" -> Files.size(zip))
    }
    // the app's steps end here: count their fact-table reads before
    // the collect below adds one of its own
    val factScanRows = spans.scanRows("lineitem")
    // rows collected outside the span: it times the b-tree writer alone
    val tables = Seq("prices" -> latest, "premises" -> premises,
      "items" -> items).map { case (n, df) => (n, storedRows(df)) }
    val dbPath = Paths.get(out, "sqlitefile.db")
    spans("sqlitefile") {
      val pages = SqliteFile.write(dbPath, tables.map { case (n, rows) =>
        SqliteFile.TableDef(n, tableSql(n), rows.iterator, indexDefs(n))
      })
      Map("pages" -> pages, "index_entries" -> tables.map { case (n, rows) =>
        rows.size.toLong * indexDefs(n).size }.sum)
    }
    Map("export_db" -> exportDir.resolve("pricecatcher.db").toString,
      "sqlitefile_db" -> dbPath.toString,
      "fact_scan_rows" -> factScanRows,
      "rows" -> tables.map { case (n, rows) => n -> rows.size }.toMap)
  }

  def indexDefsJson: Seq[Map[String, Any]] =
    indexDefs.toSeq.flatMap { case (t, ds) => ds.map(d =>
      Map("table" -> t, "name" -> d.name, "sql" -> d.createSql)) } ++
      tableSql.toSeq.map { case (t, s) =>
        Map("table" -> t, "name" -> t, "sql" -> s) }
}
