package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Artifact sink with SQLite parity (SURVEY.md §2.1 S6–S10).
  *
  * The reference's deliverable is one indexed, compressed SQLite file
  * (reference: src/main.rs:191-208 DDL, main.rs:289-311 backup,
  * main.rs:312-325 zip). No sqlite library (JDBC or native) ships in
  * this environment, so `pricecatcher.db` is written directly from the
  * public file format by [[SqliteFile]]: three table b-trees and the
  * reference's nine indexes as native index b-trees, with the
  * reference's DDL (minus `IF NOT EXISTS`, as SQLite itself stores it)
  * in `sqlite_master`. Rows arrive through `toLocalIterator`, but the
  * writer holds one whole table plus one index's sorted entries on the
  * driver at a time, so driver memory grows with the largest table —
  * single-writer by design, like the reference: this is the *served*
  * artifact, small relative to the lake; the 100 TB data stays in
  * parquet. Rowids follow the iterator's order, so the frames handed in
  * must keep a stable row order. The writer leaves no free pages, so
  * the file is already what the reference's VACUUM would produce.
  *
  * The file is zipped alone with deflate like the reference
  * (main.rs:312-325).
  */
object SqlitePacker {

  /** The reference's nine indexes (main.rs:192-207), as native index
    * b-trees in the .db artifact. keyCols are positions in the table's
    * column order. */
  private val indexDefs: Map[String, Seq[SqliteFile.IndexDef]] = Map(
    "prices" -> Seq(
      SqliteFile.IndexDef("idx_prices_premise_code",
        "CREATE INDEX idx_prices_premise_code ON prices (premise_code)", Seq(1)),
      SqliteFile.IndexDef("idx_prices_item_code",
        "CREATE INDEX idx_prices_item_code ON prices (item_code)", Seq(2))),
    "premises" -> Seq(
      SqliteFile.IndexDef("idx_premises_premise_code",
        "CREATE UNIQUE INDEX idx_premises_premise_code ON premises (premise_code)", Seq(0)),
      SqliteFile.IndexDef("idx_premises_premise_type",
        "CREATE INDEX idx_premises_premise_type ON premises (premise_type)", Seq(3)),
      SqliteFile.IndexDef("idx_premises_state",
        "CREATE INDEX idx_premises_state ON premises (state)", Seq(4)),
      SqliteFile.IndexDef("idx_premises_district",
        "CREATE INDEX idx_premises_district ON premises (district)", Seq(5))),
    "items" -> Seq(
      SqliteFile.IndexDef("idx_items_item_code",
        "CREATE UNIQUE INDEX idx_items_item_code ON items (item_code)", Seq(0)),
      SqliteFile.IndexDef("idx_items_item_group",
        "CREATE INDEX idx_items_item_group ON items (item_group)", Seq(3)),
      SqliteFile.IndexDef("idx_items_item_category",
        "CREATE INDEX idx_items_item_category ON items (item_category)", Seq(4))))

  /** Per-table CREATE statements stored in sqlite_master. */
  private val createTableSql = Map(
    "prices" -> ("CREATE TABLE prices (date VARCHAR(255), premise_code " +
      "INTEGER, item_code INTEGER, price FLOAT)"),
    "premises" -> ("CREATE TABLE premises (premise_code INTEGER, premise " +
      "VARCHAR(255), address VARCHAR(255), premise_type VARCHAR(255), " +
      "state VARCHAR(255), district VARCHAR(255))"),
    "items" -> ("CREATE TABLE items (item_code INTEGER, item VARCHAR(255), " +
      "unit VARCHAR(255), item_group VARCHAR(255), item_category " +
      "VARCHAR(255))"))

  /** Row → SQLite storage classes (INTEGER/REAL/TEXT/NULL). */
  private def sqlValues(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq.map {
      case null => null
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case v @ (_: Long | _: Double | _: String) => v
      case other => other.toString
    }

  /** Stringify engine types to the reference's storage forms (dates as
    * 10-char strings, main.rs:23). */
  private def stringified(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.DateType =>
          d.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd"))
        case _ => d
      }
    }

  /** Write `pricecatcher.db` and its zip into `outDir`; returns the zip
    * path. The price rows are counted as they stream into the writer and
    * printed once it is done, so the caller need not run `prices` twice.
    * A duplicate premise or item code fails the UNIQUE index write, and
    * neither the db nor the zip is written. */
  def pack(outDir: String, prices: DataFrame, premises: DataFrame,
           items: DataFrame): Path = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val tables = Seq("prices" -> prices, "premises" -> premises,
      "items" -> items)

    val dbPath = dir.resolve("pricecatcher.db")
    var priceRows = 0L
    SqliteFile.write(dbPath, tables.map { case (name, df) =>
      SqliteFile.TableDef(name, createTableSql(name),
        stringified(df).toLocalIterator().asScala.map { r =>
          if (name == "prices") priceRows += 1
          sqlValues(r)
        },
        indexDefs.getOrElse(name, Nil))
    })
    println(s"Latest price rows: $priceRows")

    // zip with deflate, matching the reference's packaging (main.rs:312-325)
    val zipPath = dir.resolve("pricecatcher.zip")
    val zos = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(zipPath.toFile)))
    try {
      zos.setLevel(9)
      zos.putNextEntry(new ZipEntry("pricecatcher.db"))
      Files.copy(dbPath, zos)
      zos.closeEntry()
    } finally zos.close()
    zipPath
  }
}
