package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.SqlitePacker

/** CLI pipeline driver with the reference's control contract
  * (SURVEY.md §2.11): month discovery, `--month latest|yyyy-MM`
  * selection (C1; the reference's interactive off-by-one C3 is
  * deliberately NOT replicated), up-to-date short-circuit with exit
  * code 1 (C4, reference src/main.rs:241-244), phase logging (C5), and
  * the clean→dedup→pack data path. Like the reference, the artifact
  * stores the three tables unjoined; nothing is enriched here. A build
  * that cannot finish (no months, unknown month, a UNIQUE index
  * violation) exits 2, never 1.
  *
  * Offline re-scope of S1–S4: discovery enumerates fact months from the
  * input data instead of scraping a catalogue; the freshness probe
  * compares input mtimes against the packed artifact.
  *
  * Phase order: the freshness check; then `premises` and `items` start
  * building and collecting on their own threads
  * ([[SqlitePacker.withDimensions]]) while this thread discovers months
  * and selects one ([[selectMonth]]); then the latest-price plan for
  * that month ([[latestFor]]) streams into the writer
  * ([[SqlitePacker.pack]]), which takes the dimension rows when it
  * reaches them; then the zip. `prices` always waits for the month selection,
  * for `--month latest` and an explicit month alike. Every exit-2 path
  * waits for the dimension threads to end before the session stops.
  *
  * Usage: PriceCatcherApp <sfDir> <outDir> [--month latest|yyyy-MM]
  */
object PriceCatcherApp {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/pricecatcher_out")
    val monthArg = args.sliding(2).collectFirst {
      case Array("--month", m) => m }.getOrElse("latest")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // -- freshness short-circuit (C4): artifact newer than inputs → exit 1
    val zip = Paths.get(outDir, "pricecatcher.zip")
    val inputMtime = {
      val stream = Files.list(Paths.get(sfDir))
      try {
        val it = stream.iterator()
        var m = 0L
        while (it.hasNext) {
          val t = Files.getLastModifiedTime(it.next()).toMillis
          if (t > m) m = t
        }
        m
      } finally stream.close()
    }
    if (Files.exists(zip) &&
        Files.getLastModifiedTime(zip).toMillis >= inputMtime) {
      println("Data is up to date; nothing to do.")
      spark.stop()
      sys.exit(1)
    }

    val failure =
      try {
        SqlitePacker.withDimensions(PriceCatcher.premises(spark, sfDir),
          PriceCatcher.items(spark, sfDir)) { dims =>
          val month = selectMonth(spark, sfDir, monthArg)
          val latest = latestFor(spark, sfDir, month)
          // A2: the UNIQUE indexes on premise_code and item_code abort the
          // write on a duplicate key, as they abort the reference's load
          // (main.rs:198,204); pack prints the latest-price row count
          println("Export artifact...")
          val path = SqlitePacker.pack(outDir, latest, dims)
          println(s"Packed: $path (${Files.size(path)} bytes)")
          println("Wrote pricecatcher.db (native SQLite file)")
        }
        None
      } catch {
        case Abort(msg) => Some(msg)
        // exit 1 means "up to date" (C4): a failed build must not read so
        case NonFatal(e) => Some(s"Build failed: $e")
      }
    spark.stop()
    failure.foreach { msg => System.err.println(msg); sys.exit(2) }
  }

  /** A build that stops on its own terms: the message goes to stderr and
    * the app exits 2. Messages are ASCII, so they read the same on a
    * stderr whose charset is ASCII. */
  final case class Abort(msg: String) extends Exception(msg)

  /** Phase 1, discover and select (C1/C2, offline re-scope of S1): the
    * fact months under `sfDir`, and the one `monthArg` names (`latest`
    * or `yyyy-MM`). Throws [[Abort]] when there are no months or
    * `monthArg` names none of them. */
  def selectMonth(spark: SparkSession, sfDir: String,
                  monthArg: String): String = {
    println("Discover available months...")
    val months = PriceCatcher.months(spark, sfDir)
    if (months.isEmpty)
      throw Abort(s"No fact months found under '$sfDir'; nothing to build.")
    println(s"Found ${months.length} months: ${months.head}..${months.last}")
    val month = monthArg match {
      case "latest" => months.last
      case m if months.contains(m) => m
      case m => throw Abort(
        s"Unknown month '$m'; available: ${months.mkString(", ")}")
    }
    println(s"Selected month: $month")
    month
  }

  /** Phase 2, plan latest (C5 phase logging mirrors main.rs:246-282): the
    * latest price per premise and item among `month`'s fact rows. Only a
    * plan; [[SqlitePacker.pack]] runs it. */
  def latestFor(spark: SparkSession, sfDir: String, month: String): DataFrame = {
    println("Build database...")
    val prices = PriceCatcher.prices(spark, sfDir)
      .filter(PriceCatcher.inMonth(month))
    println("Filter latest prices...")
    PriceCatcher.latestPrices(prices)
  }
}
