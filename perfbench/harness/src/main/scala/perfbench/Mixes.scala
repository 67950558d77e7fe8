package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.GraftGlue
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.sources.{Tables, VersionedLake}
import graft.streaming.{DocStreams, EventStreams}

object Fs {
  def wipe(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
}

/** The batch query mix. Registry rows are resolved and run as
  * `graft.Bench` runs them (operator-form overrides first, the `noop`
  * sink pulls every column); the lake rows are the benchmark's own
  * `VersionedLake` sequences, kept under the work dir. */
object BatchMix {
  /** span name -> registry name */
  val registry: Seq[(String, String)] = Seq(
    "q03" -> "q03_enrich_join",
    "g05" -> "g05_kcore",
    "s16" -> "s16_ann_ivfadc")

  /** Keys of inserted rows are shifted past any key the fixture holds. */
  val KeyOffset = 1000000000L

  /** lineitem 1997-Q1, one row per (l_orderkey, l_linenumber). */
  def quarter(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .filter(col("month").between("1997-01", "1997-03"))
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"),
        min(col("month")).as("month"))

  /** Version 1 = the quarter; version 2 = a MERGE of February lines
    * <= 2 (quantity + 5) and offset-key copies of line 7 (quantity + 3). */
  def lakeWrite(s: SparkSession, sf: String, lake: String): Map[String, Any] = {
    VersionedLake.reset(s, lake)
    val q = quarter(s, sf)
    val v1 = VersionedLake.commitOverwrite(q, "month", lake)
    val feb = q.filter(col("month") === "1997-02")
    val delta = feb.filter(col("l_linenumber") <= 2)
      .withColumn("l_quantity", col("l_quantity") + 5)
      .unionByName(feb.filter(col("l_linenumber") === 7)
        .withColumn("l_orderkey", col("l_orderkey") + KeyOffset)
        .withColumn("l_quantity", col("l_quantity") + 3))
    val v2 = VersionedLake.commitMerge(delta,
      Seq("l_orderkey", "l_linenumber"), "month", lake)
    Map("versions" -> Seq(v1, v2))
  }

  /** The lake's history, then every version read back in full. */
  def lakeRead(s: SparkSession, lake: String): Map[String, Any] = {
    val versions = VersionedLake.history(s, lake).collect().map(_.getInt(0))
    Map("versions" -> versions.toSeq.map { v =>
      val r = VersionedLake.readVersion(s, lake, v)
        .agg(count(lit(1)), sum(col("l_quantity"))).head()
      Map("version" -> v, "rows" -> r.getLong(0), "sum_qty" -> r.getDouble(1))
    })
  }

  /** One timed pass over the batch rows. */
  def pass(s: SparkSession, sf: String, work: Path, spans: Spans,
           quiesce: () => Unit): Unit = {
    registry.foreach { case (span, name) =>
      quiesce()
      spans(span) {
        SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))(
          s, sf).write.format("noop").mode("overwrite").save()
        Map.empty
      }
    }
    val lake = work.resolve("lake").toString
    quiesce()
    spans("lake_write")(lakeWrite(s, sf, lake))
    quiesce()
    spans("lake_read")(lakeRead(s, lake))
  }

  /** Each registry row's registered result (the oracle-checked form)
    * as parquet under `dir/<name>`, for the DuckDB oracle. */
  def oracleOutputs(s: SparkSession, sf: String, dir: Path,
                    spans: Spans): Unit =
    registry.foreach { case (span, name) =>
      spans(span) {
        SparkEntry.queries(name)(s, sf).write.mode("overwrite")
          .parquet(dir.resolve(name).toString)
        Map.empty
      }
    }

  def oracleSql: Map[String, String] =
    registry.map(_._2).map(n => n -> SparkEntry.oracleSql(n)).toMap
}

/** The streaming mix: event-time state (sessions, interval join) over
  * the events fixture, and lake-backed ingest of documents. Each drive
  * is `Trigger.AvailableNow` over the sources run.py staged (`events/`
  * holds the fixture file; `docs/` four doc_id-range files, oldest
  * first, one micro-batch each), on a fresh checkpoint. */
object StreamMix {
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Micro-batch counters from the query's own progress reports, read
    * after it has terminated. */
  private def progress(q: StreamingQuery): Map[String, Any] = {
    val ps = q.recentProgress.toSeq
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L))
        .sum / 1e3
    Map(
      "batches" -> ps.count(_.numInputRows > 0),
      // per source: a self-joined stream reads its source twice
      "source_input_rows" -> ps.flatMap(_.sources.zipWithIndex)
        .groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (_, xs) => xs.map(_._1.numInputRows).sum },
      "sink_output_rows" -> ps.map(_.sink.numOutputRows).filter(_ > 0).sum,
      "planning_s" -> dur("queryPlanning"),
      "add_batch_s" -> dur("addBatch"),
      "log_commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "state_commit_s" -> ps.flatMap(_.stateOperators.map(_.commitTimeMs))
        .sum / 1e3,
      "state_rows" -> ps.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
  }

  private def run(s: SparkSession, ckpt: Path,
                  start: Path => StreamingQuery): Map[String, Any] = {
    Fs.wipe(ckpt)
    try {
      val q = start(ckpt)
      q.awaitTermination()
      progress(q)
    } finally {
      GraftGlue.unloadStateStores()
      Fs.wipe(ckpt)
    }
  }

  private def eventDrive(s: SparkSession, stageDir: Path, ckpt: Path,
                         f: DataFrame => DataFrame): Map[String, Any] = {
    val prev = s.conf.getOption(NanosKey)
    s.conf.set(NanosKey, "true")
    try {
      val path = stageDir.resolve("events").toString
      val src = Tables.normalizeTs(
        s.readStream.schema(s.read.parquet(path).schema).parquet(path))
      run(s, ckpt, c => f(src).writeStream.format("noop")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", c.toString).start())
    } finally prev match {
      case Some(v) => s.conf.set(NanosKey, v)
      case None => s.conf.unset(NanosKey)
    }
  }

  private def fileStream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(s.read.parquet(path).schema)
      .option("maxFilesPerTrigger", 1).parquet(path)

  def pass(s: SparkSession, sf: String, stageDir: Path, work: Path,
           spans: Spans, quiesce: () => Unit): Unit = {
    def ckpt(n: String) = work.resolve("ckpt").resolve(n)
    quiesce()
    spans("st02")(eventDrive(s, stageDir, ckpt("st02"),
      EventStreams.sessionWindowAgg(_)))
    quiesce()
    spans("st04")(eventDrive(s, stageDir, ckpt("st04"),
      EventStreams.clickErrorJoin(_)))

    val corpus = work.resolve("corpus")
    quiesce()
    spans("st11") {
      Fs.wipe(corpus)
      run(s, ckpt("st11"), c => DocStreams.incrementalDedupIngest(
          fileStream(s, stageDir.resolve("docs").toString), corpus.toString)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", c.toString).start())
    }
  }

  /** Documents st11 kept in its corpus (read outside spans). */
  def corpusRows(s: SparkSession, work: Path): Long =
    s.read.parquet(work.resolve("corpus").toString).count()
}
