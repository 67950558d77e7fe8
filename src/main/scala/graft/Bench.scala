package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Full-tuple consumption: the `noop` sink pulls every column of every
    * row through the whole plan. A `.count()` lets Catalyst prune the
    * projections away, which flatters exactly the queries whose compute
    * IS the projection (q01/q10/q31/t0x). */
  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the driver contract says local[32]; SPARK_GRAFT_CPUS exists for
    // local skew/thread experiments only
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val measuredRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // operator-form substitutes for the contract-check queries (the
    // checks carry an O(N²) verification harness a user never runs),
    // plus bench-only extras (Zipfian-vocabulary jaccard pair)
    val bench = SparkEntry.queries ++ SparkEntry.benchOverrides ++
      SparkEntry.benchExtras
    // DETERMINISTIC order: batch queries name-sorted first, streaming
    // drives LAST — Map hash order made each round's interleaving
    // different, and running a batch query right after a streaming drive
    // (state-store caches, dirtied heap) measured 4x slower than the
    // same query in a quiet JVM (q02 7.9s vs 2.1s, q22 5.6s vs 0.8s)
    val runners0: Seq[(String, (SparkSession, String) => Unit)] =
      bench.toSeq.sortBy(_._1).map { case (n, f) =>
        n -> ((s: SparkSession, d: String) => consume(f(s, d)))
      } ++ (SparkEntry.streamingDrives ++
          SparkEntry.streamingDriveOverrides).toSeq.sortBy(_._1)
        .map { case (n, f) => n -> ((s: SparkSession, d: String) => f(s, d)) }
    // dev dial: SPARK_GRAFT_BENCH_ONLY=q02,st04 micro-benches a comma
    // list of name prefixes without paying the full ~6 min sweep
    val runners = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      case Some(pats) =>
        val ps = pats.split(",").map(_.trim).filter(_.nonEmpty)
        runners0.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => runners0
    }
    // per-query warmup IMMEDIATELY before its measured runs (a global
    // warmup pass would end on the streaming drives and hand the first
    // measured batch query a dirtied JVM — the same pollution the
    // ordering above avoids), then >= 2 measured runs reporting the MIN:
    // single-run timings vary >5x under machine load (BENCH_r02 recorded
    // a 1.8x phantom regression on byte-identical code), and min is the
    // noise-robust statistic for a deterministic workload
    // heap quiesce OUTSIDE the timed region: a neighbor's garbage
    // (r7 measured d04b 2x slower inside the suite than alone on
    // byte-identical code — GC debt from the preceding queries taxed
    // the measured runs) must not bill to this query
    def quiesce(): Unit = { System.gc(); System.gc() }
    // a failed run says why on stderr (outside the timed region) —
    // the JSON line only carries its -1
    def failed(name: String, e: Throwable): Unit =
      System.err.println(s"$name: ${e.getClass.getName}: ${e.getMessage}")
    val results = runners.map { case (name, fn) =>
      quiesce()
      // warmup
      try fn(spark, sfDir) catch { case e: Throwable => failed(name, e) }
      val times = (1 to measuredRuns).map { _ =>
        quiesce()
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir); None }
                  catch { case e: Throwable => Some(e) }
        val t1 = System.nanoTime()
        // a failed query reports -1, never a plausible-looking duration
        err match {
          case None => (t1 - t0) / 1e9
          case Some(e) => failed(name, e); -1.0
        }
      }
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // 3dp is ample for wall-clock seconds and keeps the line short: the
    // harness that collects this output only retains the LAST ~2000
    // characters of stdout, and at 80+ queries a full-precision line
    // blows past that window (rounds 1-4 all had their line head
    // truncated, round 4 lost even the headline total)
    def f(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // total over SUCCEEDED queries only: a -1 must not subtract from the
    // headline (r5's 7 broken streaming drives silently shaved 7s off);
    // failures are counted separately in n_failed
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val nFailed = results.count(_._2 < 0)
    // subtotals so rounds compare like-for-like: the headline total grew
    // across rounds mostly by ADDING queries (streaming drives, bench-only
    // extras), not by regressing the ones that existed
    def subtotal(pred: String => Boolean): Double =
      results.collect { case (k, v) if pred(k) && v >= 0 => v }.sum
    val streamingNames = SparkEntry.streamingDrives.keySet
    val extraNames = SparkEntry.benchExtras.keySet
    val tStream = subtotal(streamingNames.contains)
    val tExtras = subtotal(extraNames.contains)
    val tBatch = subtotal(k =>
      !streamingNames.contains(k) && !extraNames.contains(k))
    val full =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","value_batch":${f(tBatch)},"value_streaming":${f(tStream)},"value_extras":${f(tExtras)},"n_failed":$nFailed,"queries":$qs,"sf":"$sfDir"}"""
    println(full)
    // persist the complete per-query map where a tail window can't lose
    // it (cwd = repo root under sbt), then end stdout with a compact
    // line that ALWAYS fits in the retained tail: total + slowest 15
    try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (full + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    // the final line keeps the documented schema ("queries" map) so the
    // driver's parser works on it, but holds only the slowest 15 —
    // guaranteed to fit; the full map is the line above + BENCH_FULL.json
    val slow = results.sortBy(-_._2).take(15)
      .map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","value_batch":${f(tBatch)},"value_streaming":${f(tStream)},"value_extras":${f(tExtras)},"n_queries":${results.size},"n_failed":$nFailed,"queries":$slow,"queries_full":"BENCH_FULL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
