package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterGlue

import graft.Scratch

/** Source layer: parquet scans over the driver test tables.
  *
  * All reads go through `spark.read.parquet`, i.e. Spark's vectorized
  * columnar reader with predicate pushdown, column pruning and row-group
  * skipping — deliberately the opposite of the reference's
  * row-at-a-time, no-projection scan (`get_row_iter(None)`,
  * reference: src/main.rs:60-66). At 100 TB the scan IS the query cost:
  * downstream operators must keep filters/projections as Column
  * expressions so Catalyst can push them into these scans.
  *
  * Every table is a single parquet file, so its schema is read from
  * that file's footer on the driver (`GraftFooterGlue`, Spark's own
  * footer reader and converter) and handed to the reader: no schema
  * inference job runs per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Relation memo — the library-local analog of a catalog/metastore
    * entry. `spark.read.parquet` pays a driver-side file listing +
    * footer schema read per call; repeated query invocations over the
    * same path (every Verify/Bench run, any composed pipeline) should
    * pay it once. DataFrames are immutable logical plans, so sharing is
    * safe; keyed per session (a plan is bound to its session). Bounded:
    * one entry per (session, path) actually read. */
  private val relCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  private def sessionKey(spark: SparkSession): Int =
    System.identityHashCode(spark)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // events is NOT memoized here: its relation is only valid when
    // created under the nanosAsLong conf, so `events` caches its
    // CONVERTED frame below instead (a raw cache entry made without the
    // conf would poison every later events read)
    if (name == "events") read(spark, path)
    else relCache.getOrElseUpdate((sessionKey(spark), path), read(spark, path))
  }

  /** A single-file parquet table with its schema read from the footer on
    * the driver — the schema inference would give (TablesSpec pins the
    * equality), without the inference job `spark.read.parquet` runs. */
  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftFooterGlue.schema(spark, path)).parquet(path)

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  /** The events fixture has shipped `ts` in two physical forms across
    * driver regenerations, and this accessor normalizes BOTH to
    * session-zoned TimestampType — the engine-wide contract every
    * consumer (window queries, `withWatermark`, `unix_micros`) relies
    * on:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read
    *    nanos as raw int64 (legacy conf) and truncate to microseconds
    *    with integer `div` — a true `/` would round-trip through double
    *    and lose precision above 2^53 ns.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
    *    TIMESTAMP_NTZ, which `withWatermark`/`unix_micros` reject; cast
    *    to TimestampType. Under the UTC session timezone this is
    *    value-preserving (same instants as the nanos-era fixtures). */
  def events(spark: SparkSession, d: String): DataFrame =
    relCache.getOrElseUpdate((sessionKey(spark), s"$d/events.parquet#conv"),
      eventsUncached(spark, d))

  private def eventsUncached(spark: SparkSession, d: String): DataFrame = {
    // set/restore around the read: leaving nanosAsLong set would silently
    // change every later parquet read in the session (a read must not
    // have session-wide side effects). The DataFrame stays valid after
    // restore — the scan's hadoop conf is captured at relation creation,
    // which .schema below forces (asserted by TablesSpec). The footer
    // schema is read inside the window too, so a TIMESTAMP(NANOS) `ts`
    // converts to a long, as inference under the conf converts it.
    Scratch.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      normalizeTs(load(spark, d, "events"))
    }
  }
  /** Normalize an events frame's `ts` to session-zoned TimestampType,
    * whatever physical form the fixture shipped it in (see `events`
    * scaladoc). Exposed so any re-read of an events-shaped file — e.g.
    * the bench's staged streaming source — applies the SAME conversion
    * instead of re-implementing it. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // value-preserving under the UTC session timezone: NTZ micros
        // reinterpret as the same UTC instant the nanos-era fixture held
        raw.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")

  /** Register every table as a temp view so `spark.sql` queries and the
    * SQLite-artifact parity layer can address them by name. `events`
    * goes through its dedicated accessor (NANOS handling) so the view
    * exposes the same TimestampType every other consumer sees. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
