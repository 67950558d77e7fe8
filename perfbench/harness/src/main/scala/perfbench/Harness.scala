package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark driver JVM, launched by perfbench/run.py:
  *
  * {{{
  * Harness --mode daily-pack|engine-mix --trace 0|1
  *   --work DIR --out FILE [--sf DIR] [--month yyyy-MM]
  *   [--stage DIR] [--small DIR]
  * }}}
  *
  * Writes raw measurements (span clocks, job intervals, task metrics,
  * streaming progress, result counters) as JSON to `--out`; run.py
  * reduces them to metrics and checks the outputs. */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val mode = opt("mode")
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)

    val spark = session(work)
    val setupS = (System.currentTimeMillis() - Meters.jvmStartMs) / 1e3
    Meters.Heap.install()

    val result: Map[String, Any] = mode match {
      case "daily-pack" => dailyPack(spark, opt, work, traced)
      case "engine-mix" => engineMix(spark, opt, work, traced)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(result ++ Map("mode" -> mode, "traced" -> traced,
          "setup_s" -> setupS)))
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  /** The session the app itself builds (same master and confs; its
    * `getOrCreate` reuses this one), with scratch space kept under the
    * work dir. */
  def session(work: Path): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Clocks of the timed region, and the heap retained in it: the max
    * at the collections between calls and at its end. */
  private def region(spans: Seq[SpanRec]): Map[String, Any] = {
    val t0 = spans.map(_.t0Ms).min
    val closed = Meters.Heap.collect()
    Map("wall_s" -> spans.map(_.wallS).sum, "cpu_s" -> spans.map(_.cpuS).sum,
      "heap_retained_mb" -> Meters.Heap.retainedMb(t0, closed))
  }

  private def dailyPack(spark: SparkSession, opt: Map[String, String],
                        work: Path, traced: Boolean): Map[String, Any] = {
    val out = work.resolve("out")
    val spans = new Spans(spark, traced, watchQueries = true)
    if (!traced) {
      DailyPack.app(opt("sf"), out.toString, opt("month"), spans)
      Map("region" -> region(spans.recs.toSeq), "report" -> spans.report())
    } else {
      Files.createDirectories(out)
      val extra = DailyPack.traced(spark, opt("sf"), out.toString,
        opt("month"), spans)
      // the span that stands for the app's own export is the packer's;
      // the direct SqliteFile.write span is extra work, outside wall_s
      val appSteps = spans.recs.toSeq.filter(_.name != "sqlitefile")
      Map("region" -> region(appSteps), "report" -> spans.report(),
        "extra" -> extra, "schema" -> DailyPack.indexDefsJson,
        "heap_by_span" -> spans.recs.map(r =>
          r.name -> Meters.Heap.peakMb(r.t0Ms, r.t1Ms)).toMap)
    }
  }

  /** Batch rows then streaming drives, one pass in a fresh JVM (the
    * first call of each pays its JIT and codegen, as a fresh job does).
    * With `--small`, the registry rows' oracle outputs are written
    * afterwards at that scale, outside the timed region. */
  private def engineMix(spark: SparkSession, opt: Map[String, String],
                        work: Path, traced: Boolean): Map[String, Any] = {
    val quiesce = () => { Meters.Heap.collect(); () }
    val sf = opt("sf")
    val stage = Paths.get(opt("stage"))
    // the session's first scan and shuffle, outside the timed region, so
    // their one-time start-up is not billed to the first call
    spark.read.parquet(s"$sf/region.parquet").groupBy("r_name").count()
      .collect()
    val spans = new Spans(spark, traced)
    BatchMix.pass(spark, sf, work, spans, quiesce)
    StreamMix.pass(spark, sf, stage, work, spans, quiesce)
    val reg = region(spans.recs.toSeq)
    val report = spans.report()
    val corpusRows = StreamMix.corpusRows(spark, work)
    val oracle = new Spans(spark, traced = false)
    opt.get("small").foreach(small =>
      BatchMix.oracleOutputs(spark, small, work.resolve("oracle"), oracle))
    Map("region" -> reg, "report" -> report,
      "st11_corpus_rows" -> corpusRows,
      "oracle_runs" -> oracle.recs.map(_.toMap),
      "oracle_sql" -> (if (opt.contains("small")) BatchMix.oracleSql
                       else Map.empty),
      "oracle_dir" -> work.resolve("oracle").toString)
  }
}
