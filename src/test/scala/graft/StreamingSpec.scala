package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Rows.Event
import graft.streaming.EventStreams

/** Structured Streaming: tumbling agg and stateful sessionization driven
  * synchronously through MemoryStream + processAllAvailable. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, user: Long, typ: String = "click") =
    Event(id, Timestamp.valueOf(t), user, typ, 1.0, "{}")

  test("tumbling agg emits finalized windows after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingAgg(mem.toDF(), "5 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("tumble_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-01 00:02:00", 1),
        ev(3, "2024-01-01 00:06:00", 2))
      q.processAllAvailable()
      // advance watermark far past the first windows
      mem.addData(ev(4, "2024-01-01 01:00:00", 1))
      q.processAllAvailable()
      val rows = spark.table("tumble_out")
        .select($"window_start".cast("string"), $"n").as[(String, Long)]
        .collect().toMap
      assert(rows("2024-01-01 00:00:00") == 2L)
      assert(rows("2024-01-01 00:05:00") == 1L)
    } finally q.stop()
  }

  test("observed ingest metrics: per-batch counters sum to the direct " +
      "batch totals; no second scan") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.observedTumblingAgg(mem.toDF(), "5 minutes",
        "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("observed_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-01 00:02:00", 1),
        ev(3, "2024-01-01 00:06:00", 2, typ = "error"))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-01-01 01:00:00", 1))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest")))
      // batches with no data report no observed row; the ones that do
      // must sum to the directly-computed totals over all 4 events
      assert(metrics.nonEmpty)
      assert(metrics.map(_.getAs[Long]("rows_in")).sum == 4L)
      assert(metrics.map(_.getAs[Long]("clicks")).sum == 3L)
      assert(metrics.map(_.getAs[Long]("null_props")).sum == 0L)
      // every ev() carries value 1.0 => 100 cents each
      assert(metrics.map(_.getAs[Long]("value_cents")).sum == 400L)
    } finally q.stop()
  }

  test("windowed approx-distinct estimates per-window users within band") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingApproxDistinct(mem.toDF(), "5 minutes",
        "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("approx_out").start()
    try {
      // window 00:00: users 1..40 (some repeated); window 00:05: users 1..5
      val w1 = (1L to 40L).map(u =>
        ev(u, "2024-01-01 00:01:00", u)) ++ (41L to 60L).map(i =>
        ev(i, "2024-01-01 00:02:00", i % 40 + 1))
      val w2 = (61L to 65L).map(i => ev(i, "2024-01-01 00:06:00", i - 60))
      mem.addData(w1 ++ w2: _*)
      q.processAllAvailable()
      mem.addData(ev(99, "2024-01-01 01:00:00", 1))
      q.processAllAvailable()
      val rows = spark.table("approx_out")
        .select($"window_start".cast("string"), $"approx_users", $"n")
        .as[(String, Long, Long)].collect()
        .map { case (w, a, n) => w -> ((a, n)) }.toMap
      val (a1, n1) = rows("2024-01-01 00:00:00")
      val (a2, n2) = rows("2024-01-01 00:05:00")
      assert(n1 == 60L && n2 == 5L)
      // rsd 0.02 ⇒ generous ±20% acceptance band on 40/5 true users
      assert(a1 >= 32 && a1 <= 48, s"approx 40 users as $a1")
      assert(a2 >= 4 && a2 <= 6, s"approx 5 users as $a2")
    } finally q.stop()
  }

  test("watermark DROPS late rows once their window is finalized") {
    // the semantics the batch twins cannot express: a row arriving
    // behind the watermark is discarded, exactly once, silently — and
    // an on-time replay of the same window before finalization is NOT
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingAgg(mem.toDF(), "5 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: two rows in [00:00, 00:05); watermark still at 00:01
      mem.addData(
        ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-01 00:02:00", 1))
      q.processAllAvailable()
      // batch 2: a LATE-but-inside-watermark row for the same window
      // (00:03 >= watermark 00:01) must still count
      mem.addData(ev(3, "2024-01-01 00:03:00", 2))
      q.processAllAvailable()
      // batch 3: advance event time far ahead → watermark 00:50,
      // [00:00,00:05) finalizes and emits with n=3
      mem.addData(ev(4, "2024-01-01 00:51:00", 1))
      q.processAllAvailable()
      // batch 4: a row at 00:04 is now BEHIND the watermark — dropped;
      // a second advance proves no duplicate/corrected emission follows
      mem.addData(ev(5, "2024-01-01 00:04:00", 3))
      q.processAllAvailable()
      mem.addData(ev(6, "2024-01-01 02:00:00", 1))
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select($"window_start".cast("string"), $"n").as[(String, Long)]
        .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      // exactly ONE emission for the first window, counting 3 on-time
      // rows and NOT the late replay
      assert(rows("2024-01-01 00:00:00") == Seq(3L),
        s"late row leaked or window re-emitted: $rows")
      assert(!rows.contains("2024-01-01 00:50:00") ||
        rows("2024-01-01 00:50:00") == Seq(1L))
    } finally q.stop()
  }

  test("sliding agg lands one event in every overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.slidingAgg(mem.toDF(), "10 minutes", "5 minutes",
        "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("slide_out").start()
    try {
      // 00:06 falls in [00:00,00:10) and [00:05,00:15)
      mem.addData(ev(1, "2024-01-01 00:06:00", 1))
      q.processAllAvailable()
      mem.addData(ev(2, "2024-01-01 01:00:00", 1)) // advance watermark
      q.processAllAvailable()
      val starts = spark.table("slide_out")
        .select($"window_start".cast("string")).as[String].collect().sorted
      assert(starts.toSeq == Seq("2024-01-01 00:00:00", "2024-01-01 00:05:00"))
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap timeout") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(mem.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 5 min apart (one session), then 40 min gap
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1), ev(2, "2024-01-01 00:05:00", 1))
      q.processAllAvailable()
      mem.addData(ev(3, "2024-01-01 00:45:00", 1))
      q.processAllAvailable()
      // push watermark far ahead so the second session times out too
      mem.addData(ev(4, "2024-01-01 03:00:00", 2))
      q.processAllAvailable()
      mem.addData(ev(5, "2024-01-01 06:00:00", 2))
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .filter($"user_id" === 1L)
        .select($"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
        .as[(String, String, Long)].collect().sortBy(_._1)
      assert(sessions.length >= 1)
      assert(sessions.head == ("2024-01-01 00:00:00", "2024-01-01 00:05:00", 2L))
    } finally q.stop()
  }

  test("transformWithState quota: first-3-per-user across batches; " +
      "equals the q82 window twin") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = graft.streaming.Quota.enforce(mem.toDS(), quota = 3)
        .toDF().writeStream.outputMode("append")
        .format("memory").queryName("quota_out").start()
      try {
        // batch 1: user 1's events arrive OUT of ts order (the in-batch
        // sort must pin the verdicts), user 2 gets one
        mem.addData(
          ev(2, "2024-01-01 00:02:00", 1), ev(1, "2024-01-01 00:01:00", 1),
          ev(3, "2024-01-01 00:01:00", 2))
        q.processAllAvailable()
        // batch 2: user 1's count crosses the quota — state persisted
        mem.addData(
          ev(4, "2024-01-01 00:03:00", 1), ev(5, "2024-01-01 00:04:00", 1))
        q.processAllAvailable()
        val got = spark.table("quota_out")
          .as[graft.streaming.Quota.Verdict].collect()
        val byId = got.map(v => v.event_id -> ((v.n_before, v.accepted)))
          .toMap
        assert(byId(1L) == ((0L, true)) && byId(2L) == ((1L, true)))
        assert(byId(3L) == ((0L, true)))
        assert(byId(4L) == ((2L, true)))
        assert(byId(5L) == ((3L, false)), "4th event rejected")
        // batches respected per-key ts order -> equals the q82 window
        // form computed in batch over the same five events
        val all = Seq(ev(1, "2024-01-01 00:01:00", 1),
          ev(2, "2024-01-01 00:02:00", 1), ev(3, "2024-01-01 00:01:00", 2),
          ev(4, "2024-01-01 00:03:00", 1), ev(5, "2024-01-01 00:04:00", 1))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
        val twin = all.toDF()
          .withColumn("rn", row_number().over(w))
          .select($"event_id",
            least($"rn" - 1, lit(3)).cast("long").as("n_before"),
            ($"rn" <= 3).as("accepted"))
          .as[(Long, Long, Boolean)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        assert(byId == twin)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dedupWithinWatermark drops repeated event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupWithinWatermark(mem.toDF(), "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1), ev(1, "2024-01-01 00:00:30", 1),
        ev(2, "2024-01-01 00:01:00", 2))
      q.processAllAvailable()
      mem.addData(ev(1, "2024-01-01 00:02:00", 1)) // dup again, same window
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id")
        .as[Long].collect().sorted
      assert(ids.sameElements(Array(1L, 2L)))
    } finally q.stop()
  }

  test("stream-stream interval join pairs errors with preceding clicks") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.clickErrorJoin(mem.toDF(), "10 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("join_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1, "click"),
        ev(2, "2024-01-01 00:05:00", 1, "error"),   // pairs with click 1
        ev(3, "2024-01-01 00:20:00", 1, "error"),   // >10min after click 1
        ev(4, "2024-01-01 00:04:00", 2, "click"))   // other user
      q.processAllAvailable()
      mem.addData(ev(9, "2024-01-01 02:00:00", 3, "click")) // advance watermark
      q.processAllAvailable()
      val pairs = spark.table("join_out")
        .select($"error_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(pairs == Set((2L, 1L)))
    } finally q.stop()
  }

  test("left-outer interval join emits NULL rows for unmatched errors " +
      "once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams
      .clickErrorJoinLeftOuter(mem.toDF(), "10 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("ojoin_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 1, "click"),
        ev(2, "2024-01-01 00:05:00", 1, "error"),   // pairs with click 1
        ev(3, "2024-01-01 00:20:00", 1, "error"),   // >10min after click 1
        ev(4, "2024-01-01 00:04:00", 2, "click"))   // other user, no error
      q.processAllAvailable()
      // advance the watermark on BOTH sides (the global watermark is
      // the min over all event-time columns — a quiet errors side
      // would hold eviction back forever), then push one more batch:
      // the null-padded row emits in the batch AFTER the advance
      // commits (watermark is computed from the PREVIOUS batch's data)
      mem.addData(ev(9, "2024-01-01 02:00:00", 3, "click"),
        ev(20, "2024-01-01 02:10:00", 4, "error"))
      q.processAllAvailable()
      mem.addData(ev(10, "2024-01-01 03:00:00", 3, "click"),
        ev(21, "2024-01-01 03:10:00", 4, "error"))
      q.processAllAvailable()
      val rows = spark.table("ojoin_out")
        .filter($"error_id".isin(2L, 3L))
        .select($"error_id", $"click_id", $"matched")
        .as[(Long, Option[Long], Boolean)].collect().toSet
      assert(rows == Set((2L, Some(1L), true), (3L, None, false)))
    } finally q.stop()
  }

  test("chained stateful operators: dedup feeds the windowed agg, " +
      "duplicates count once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams
      .dedupedTumblingAgg(mem.toDF(), "5 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("ddt_out").start()
    try {
      // event 1 delivered 3x (at-least-once source), event 2 once —
      // the window must count 2 events, not 4
      mem.addData(
        ev(1, "2024-01-01 00:00:10", 1), ev(1, "2024-01-01 00:00:10", 1),
        ev(2, "2024-01-01 00:01:00", 2))
      q.processAllAvailable()
      mem.addData(ev(1, "2024-01-01 00:02:00", 1)) // replay, same id
      q.processAllAvailable()
      mem.addData(ev(9, "2024-01-01 02:00:00", 3)) // advance watermark
      q.processAllAvailable()
      mem.addData(ev(10, "2024-01-01 03:00:00", 3)) // finalize windows
      q.processAllAvailable()
      val n = spark.table("ddt_out")
        .filter($"window_start" === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        .select($"n").as[Long].collect()
      assert(n.sameElements(Array(2L)))
    } finally q.stop()
  }

  test("built-in session_window groups by gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionWindowAgg(mem.toDF(), "30 minutes", "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("sw_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:00:00", 7), ev(2, "2024-01-01 00:10:00", 7))
      q.processAllAvailable()
      mem.addData(ev(3, "2024-01-01 05:00:00", 8))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-01-01 09:00:00", 8))
      q.processAllAvailable()
      val out = spark.table("sw_out").filter($"user_id" === 7L)
        .select($"n_events").as[Long].collect()
      assert(out.sameElements(Array(2L)))
    } finally q.stop()
  }

  test("stream-static dim join enriches and windows; static side stateless") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Event]
    val q = EventStreams.enrichedTumblingAgg(mem.toDF(), dim,
        windowLen = "5 minutes", watermark = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("dim_out").start()
    try {
      mem.addData(
        ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-01 00:02:00", 1),
        ev(3, "2024-01-01 00:03:00", 2),
        ev(4, "2024-01-01 00:04:00", 99))  // no dim row: dropped by join
      q.processAllAvailable()
      mem.addData(ev(9, "2024-01-01 02:00:00", 1)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("dim_out")
        .select($"segment", $"n").as[(String, Long)].collect().toMap
      assert(rows == Map("BUILDING" -> 2L, "MACHINERY" -> 1L))
    } finally q.stop()
  }

  test("incremental dedup ingest: dups vs the ACCUMULATED corpus drop; " +
      "replay is idempotent") {
    import graft.model.Rows.Document
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val corpus = java.nio.file.Files
      .createTempDirectory("stream_dedup_corpus").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("stream_dedup_ck").toString
    val mem = MemoryStream[Document]
    val q = graft.streaming.DocStreams
      .incrementalDedupIngest(mem.toDF(), corpus)
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: empty corpus — everything is kept
      mem.addData(doc(1, "alpha beta gamma delta epsilon"),
        doc(2, "one two three four five six"))
      q.processAllAvailable()
      // batch 1: exact dup of doc 1, near dup of doc 2 (Jaccard 5/7),
      // and a novel doc — only the novel one survives, proving the
      // probe runs against the ACCUMULATED corpus, not this batch
      mem.addData(doc(3, "alpha beta gamma delta epsilon"),
        doc(4, "one two three four five seven"),
        doc(5, "totally novel content here now"))
      q.processAllAvailable()
      val store = spark.read.parquet(corpus)
      assert(store.select($"doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L))
      assert(store.select($"ingest_batch".cast("long")).distinct()
        .as[Long].collect().sorted.toSeq == Seq(0L, 1L))
      // replaying batch 1 (restart-from-checkpoint semantics) probes
      // only batches < 1, recomputes identical verdicts, and rewrites
      // exactly its own partition — corpus state unchanged
      graft.streaming.DocStreams.ingestBatch(
        Seq(doc(3, "alpha beta gamma delta epsilon"),
          doc(4, "one two three four five seven"),
          doc(5, "totally novel content here now")).toDS().toDF(),
        1L, corpus)
      val after = spark.read.parquet(corpus)
      assert(after.select($"doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L))
      // the probe index accumulated alongside the corpus: one row per
      // kept doc, same ingest_batch partitioning (replay rewrote its
      // own partition idempotently)
      val idx = spark.read.parquet(s"$corpus/_probe_index")
      assert(idx.select($"doc_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 5L))
    } finally q.stop()
  }

  test("state-partition dial: identical committed results at 3 vs 8 " +
      "shuffle partitions (state parallelism is a dial, not a rebuild), " +
      "and the session conf is restored") {
    implicit val sqlCtx = spark.sqlContext
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(parts: String, name: String): Seq[(String, Long)] =
      graft.EntryDrives.withStatePartitions(spark, Some(parts)) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
        val mem = MemoryStream[Event]
        val q = EventStreams.tumblingAgg(mem.toDF(), "5 minutes",
            "1 minute")
          .writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try {
          mem.addData(ev(1, "2024-01-01 00:01:00", 1),
            ev(2, "2024-01-01 00:02:00", 2),
            ev(3, "2024-01-01 00:06:00", 3))
          q.processAllAvailable()
          mem.addData(ev(4, "2024-01-01 01:00:00", 1))
          q.processAllAvailable()
          spark.table(name).select($"window_start".cast("string"), $"n")
            .as[(String, Long)].collect().toSeq.sorted
        } finally q.stop()
      }
    val a = run("3", "dial3")
    val b = run("8", "dial8")
    assert(a == b && a.nonEmpty, s"dial changed results: $a vs $b")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("incremental dedup ingest SELF-HEALS a corpus batch the probe " +
      "index misses (legacy store / torn write)") {
    import graft.model.Rows.Document
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val corpus = java.nio.file.Files
      .createTempDirectory("stream_dedup_heal").toString
    // batch 0 lands the LEGACY way: corpus partition only, no index
    graft.sources.PartitionedLake.upsertBatchKeyed(
      Seq(doc(1, "alpha beta gamma delta epsilon"),
        doc(2, "one two three four five six")).toDS().toDF(), 0L, corpus)
    assert(!new java.io.File(s"$corpus/_probe_index").isDirectory)
    // batch 1 must still probe batch 0 (healed from corpus text):
    // exact dup of 1 and near dup of 2 drop, the novel doc survives
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(3, "alpha beta gamma delta epsilon"),
        doc(4, "one two three four five seven"),
        doc(5, "totally novel content here now")).toDS().toDF(),
      1L, corpus)
    val store = spark.read.parquet(corpus)
    assert(store.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 5L))
  }

  test("probe index v2: the stored h is the 32-byte binary digest " +
      "unhex(sha2(text, 256)), and each partition carries the marker") {
    import graft.model.Rows.Document
    import org.apache.spark.sql.types.BinaryType
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val corpus = java.nio.file.Files
      .createTempDirectory("stream_dedup_v2").toString
    val docs = Seq(doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "one two three four five six")).toDS().toDF()
    graft.streaming.DocStreams.ingestBatch(docs, 0L, corpus)
    val idx = spark.read.parquet(s"$corpus/_probe_index")
    assert(idx.schema("h").dataType == BinaryType)
    val rows = idx.join(docs, Seq("doc_id"))
      .select(length($"h"), $"h" === unhex(sha2($"text", 256)))
      .as[(Int, Boolean)].collect()
    assert(rows.toSeq == Seq((32, true), (32, true)))
    assert(new java.io.File(s"$corpus/_probe_index/ingest_batch=0/" +
      graft.streaming.DocStreams.IndexMarker).isFile)
  }

  test("probe index v2: a torn index partition (crash between the " +
      "corpus write and the index write) has no marker and heals") {
    import graft.model.Rows.Document
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val corpus = java.nio.file.Files
      .createTempDirectory("stream_dedup_torn").toString
    val idxPath = s"$corpus/_probe_index"
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(1, "alpha beta gamma delta epsilon")).toDS().toDF(), 0L,
      corpus)
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(2, "one two three four five six"),
        doc(3, "totally novel content here now")).toDS().toDF(), 1L, corpus)
    // the crash: batch 1's index partition holds doc 2's row only, and
    // no marker (the rewrite replaces the partition directory whole)
    val survivor = spark.read.parquet(s"$idxPath/ingest_batch=1")
      .filter($"doc_id" === 2L)
    graft.sources.PartitionedLake.upsertBatchKeyed(
      spark.createDataFrame(survivor.collectAsList(), survivor.schema),
      1L, idxPath)
    assert(spark.read.parquet(s"$idxPath/ingest_batch=1").count() == 1)
    // batch 2 repeats doc 3, whose index row was lost: it must drop
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(4, "totally novel content here now"),
        doc(5, "a brand new text nobody wrote")).toDS().toDF(), 2L, corpus)
    val store = spark.read.parquet(corpus)
    assert(store.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 5L), "the repeat of doc 3 escaped the probe")
    assert(spark.read.parquet(s"$idxPath/ingest_batch=1")
      .select($"doc_id").as[Long].collect().sorted.toSeq == Seq(2L, 3L),
      "the heal writes the torn partition back whole")
  }

  test("probe index v2: a pre-v2 store (hex h, no markers) heals once " +
      "and is read back from the index afterwards") {
    import graft.model.Rows.Document
    import org.apache.spark.sql.types.BinaryType
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val root = java.nio.file.Files.createTempDirectory("stream_dedup_v1")
    val corpus = root.resolve("corpus").toString
    val idxPath = s"$corpus/_probe_index"
    // batch 0 as the v1 ingest left it: corpus partition plus an index
    // partition with the 64-char hex digest and no marker
    val batch0 = Seq(doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "one two three four five six")).toDS().toDF()
    graft.sources.PartitionedLake.upsertBatchKeyed(batch0, 0L, corpus)
    graft.sources.PartitionedLake.upsertBatchKeyed(batch0.select($"doc_id",
      $"source".as("blk"), sha2($"text", 256).as("h"),
      sort_array(graft.functions.TextFunctions.tokenSet($"text"))
        .as("stoks")), 0L, idxPath)
    val marker = new java.io.File(s"$idxPath/ingest_batch=0/" +
      graft.streaming.DocStreams.IndexMarker)
    assert(!marker.exists())
    // batch 1 heals partition 0 and writes it back in v2 form
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(3, "alpha beta gamma delta epsilon"),
        doc(4, "totally novel content here now")).toDS().toDF(), 1L, corpus)
    assert(marker.isFile, "the healed partition carries the marker")
    val healed = spark.read.parquet(s"$idxPath/ingest_batch=0")
    assert(healed.schema("h").dataType == BinaryType)
    assert(healed.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    // move batch 0's corpus partition away: a second heal could not
    // find its text, so a dropped repeat proves batch 2 read the index
    java.nio.file.Files.move(
      java.nio.file.Paths.get(corpus, "ingest_batch=0"),
      root.resolve("ingest_batch=0"))
    graft.streaming.DocStreams.ingestBatch(
      Seq(doc(5, "one two three four five six"),
        doc(6, "a brand new text nobody wrote")).toDS().toDF(), 2L, corpus)
    assert(spark.read.parquet(corpus).select($"doc_id").as[Long]
      .collect().sorted.toSeq == Seq(4L, 6L))
  }

  test("incremental dedup ingest on a file: URI corpus path still " +
      "probes the earlier batches") {
    import graft.model.Rows.Document
    def doc(id: Long, text: String) =
      Document(id, text, "en", "web", text.length.toLong)
    val corpus = java.nio.file.Files
      .createTempDirectory("stream_dedup_uri").toUri.toString
    assert(corpus.startsWith("file:"), corpus)
    val first = doc(1, "alpha beta gamma delta epsilon")
    graft.streaming.DocStreams.ingestBatch(
      Seq(first).toDS().toDF(), 0L, corpus)
    // batch 1 repeats batch 0's document next to a novel one: the
    // repeat must find batch 0 through the URI and drop
    graft.streaming.DocStreams.ingestBatch(
      Seq(first, doc(2, "totally novel content here now")).toDS().toDF(),
      1L, corpus)
    val store = spark.read.parquet(corpus)
    assert(store.filter($"ingest_batch" === 1 && $"doc_id" === 1L)
      .count() == 0, "the repeated document was admitted again")
    assert(store.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  /** A fresh temp dir spelled as a `file:` URI (no trailing slash). */
  private def uriDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toUri.toString
      .stripSuffix("/")
    assert(p.startsWith("file:"), p)
    p
  }

  test("embed ingest on a file: URI index path still probes the " +
      "earlier batches") {
    import graft.model.Rows.Embedding
    import graft.operators.Similarity
    val tables = Similarity.nearDupTables(8L, 4, 0.9)
    val idx = uriDir("embed_uri")
    graft.streaming.EmbedStreams.ingestBatch(
      Seq(Embedding(1, Array(1f, 0f, 0f, 0f), 0)).toDS().toDF(), 0L, idx,
      tables, threshold = 0.9)
    // batch 1's vector is a near-dup of batch 0's: it must find batch 0
    // through the URI
    graft.streaming.EmbedStreams.ingestBatch(
      Seq(Embedding(2, Array(1f, 0.01f, 0f, 0f), 0)).toDS().toDF(), 1L,
      idx, tables, threshold = 0.9)
    assert(spark.read.parquet(s"$idx/pairs").select($"id_a", $"id_b")
      .as[(Long, Long)].collect().toSet == Set((1L, 2L)))
  }

  test("index takedown on a file: URI index path purges every batch") {
    import graft.model.Rows.Embedding
    import graft.operators.Similarity
    val tables = Similarity.nearDupTables(8L, 4, 0.9)
    val idx = uriDir("embed_takedown_uri")
    graft.streaming.EmbedStreams.ingestBatch(
      Seq(Embedding(1, Array(1f, 0f, 0f, 0f), 0)).toDS().toDF(), 0L, idx,
      tables, threshold = 0.9)
    graft.streaming.EmbedStreams.ingestBatch(
      Seq(Embedding(2, Array(0f, 1f, 0f, 0f), 0),
        Embedding(3, Array(0f, 0f, 1f, 0f), 0)).toDS().toDF(), 1L, idx,
      tables, threshold = 0.9)
    // the takedown must see both ingested batches through the URI:
    // id 2 leaves batch 1, and id 1 empties batch 0's partition
    graft.streaming.EmbedStreams.retractIds(Seq(1L, 2L).toDF("vec_id"), idx)
    val vecs = spark.read.parquet(s"$idx/vecs")
    assert(vecs.select($"vec_id").as[Long].collect().toSeq == Seq(3L))
    assert(!new java.io.File(new java.net.URI(s"$idx/vecs/ingest_batch=0"))
      .exists(), "the emptied batch-0 partition must be removed")
  }

  test("snapshot CDC on a file: URI store path reads the earlier " +
      "batches") {
    def e(id: Long, t: String, user: Long, typ: String, v: Double) =
      Event(id, Timestamp.valueOf(t), user, typ, v, "{}")
    val store = uriDir("stream_snap_uri")
    graft.streaming.SnapshotCdc.applyBatchToStore(
      Seq(e(1, "2024-01-01 00:01:00", 1, "purchase", 10.0)).toDS().toDF(),
      store, nBuckets = 4)
    // batch 1's click updates user 1 — only if batch 0's store is seen
    // (a click on an unknown user inserts nothing)
    graft.streaming.SnapshotCdc.applyBatchToStore(
      Seq(e(2, "2024-01-02 00:01:00", 1, "click", 12.5)).toDS().toDF(),
      store, nBuckets = 4)
    assert(spark.read.parquet(store)
      .select($"user_id", $"balance", $"alive")
      .as[(Long, Double, Boolean)].collect().toSeq == Seq((1L, 12.5, true)))
  }

  test("embed ingest dedup: delta probes the ACCUMULATED lake index; " +
      "replay idempotent; accumulated pairs == full rebuild") {
    import graft.model.Rows.Embedding
    import graft.operators.Similarity
    implicit val sqlCtx = spark.sqlContext
    def v(id: Long, x: Float, y: Float, z: Float, w: Float) =
      Embedding(id, Array(x, y, z, w), 0)
    val tables = Similarity.nearDupTables(8L, 4, 0.9)
    val idx = java.nio.file.Files
      .createTempDirectory("stream_embed_idx").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("stream_embed_ck").toString
    val mem = MemoryStream[Embedding]
    val q = graft.streaming.EmbedStreams
      .incrementalEmbedDedup(mem.toDF(), idx, tables, threshold = 0.9)
      .option("checkpointLocation", ckpt).start()
    val b0 = Seq(v(1, 1f, 0f, 0f, 0f), v(3, 0f, 1f, 0f, 0f))
    val b1 = Seq(v(2, 1f, 0.01f, 0f, 0f), v(4, 0f, 1f, 0.01f, 0f),
      v(5, 0f, 0f, 1f, 0f))
    try {
      mem.addData(b0: _*) // batch 0: empty index — no pairs
      q.processAllAvailable()
      mem.addData(b1: _*) // batch 1: 2 near-dups of STORED vectors
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$idx/pairs")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L), (3L, 4L)),
        "batch-1 delta must collide with batch-0 index rows")
      assert(spark.read.parquet(s"$idx/vecs").count() == 5L)
      // replaying batch 1 probes only ingest_batch < 1 and rewrites
      // exactly its own partitions — stores unchanged
      graft.streaming.EmbedStreams.ingestBatch(
        b1.toDS().toDF(), 1L, idx, tables, threshold = 0.9)
      assert(spark.read.parquet(s"$idx/pairs")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet == pairs)
      assert(spark.read.parquet(s"$idx/vecs").count() == 5L)
      // every pair lands in the batch of its LATER member, so the
      // accumulated pairs equal one all-at-once rebuild (the d14
      // equivalence, streaming form)
      val rebuild = Similarity.nearDupPairs(
          (b0 ++ b1).toDS().toDF(), threshold = 0.9, stats = Some((8L, 4)))
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs == rebuild)
    } finally q.stop()
  }

  test("index takedown: retracted ids leave every store; pairs that " +
      "reference them go too; emptied partitions are removed") {
    import graft.model.Rows.Embedding
    import graft.operators.Similarity
    def v(id: Long, x: Float, y: Float, z: Float, w: Float) =
      Embedding(id, Array(x, y, z, w), 0)
    val tables = Similarity.nearDupTables(8L, 4, 0.9)
    val idx = java.nio.file.Files
      .createTempDirectory("embed_takedown").toString
    val b0 = Seq(v(1, 1f, 0f, 0f, 0f), v(3, 0f, 1f, 0f, 0f))
    val b1 = Seq(v(2, 1f, 0.01f, 0f, 0f), v(4, 0f, 1f, 0.01f, 0f),
      v(5, 0f, 0f, 1f, 0f))
    graft.streaming.EmbedStreams.ingestBatch(
      b0.toDS().toDF(), 0L, idx, tables, threshold = 0.9)
    graft.streaming.EmbedStreams.ingestBatch(
      b1.toDS().toDF(), 1L, idx, tables, threshold = 0.9)
    def pairSet = spark.read.parquet(s"$idx/pairs")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairSet == Set((1L, 2L), (3L, 4L)))

    graft.streaming.EmbedStreams.retractIds(Seq(2L).toDF("vec_id"), idx)
    assert(spark.read.parquet(s"$idx/vecs").select($"vec_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L, 5L))
    assert(spark.read.parquet(s"$idx/bands")
      .filter($"id" === 2L).count() == 0L)
    // the (1,2) pair references withdrawn content — it must be gone
    assert(pairSet == Set((3L, 4L)))

    // retracting 1 and 3 empties batch 0's vec/band partitions AND
    // batch 1's pairs partition — all three dirs physically removed
    graft.streaming.EmbedStreams.retractIds(
      Seq(1L, 3L).toDF("vec_id"), idx)
    assert(!new java.io.File(s"$idx/vecs/ingest_batch=0").exists())
    assert(!new java.io.File(s"$idx/bands/ingest_batch=0").exists())
    assert(!new java.io.File(s"$idx/pairs/ingest_batch=1").exists())
    assert(spark.read.parquet(s"$idx/vecs").select($"vec_id")
      .as[Long].collect().sorted.toSeq == Seq(4L, 5L))
  }

  test("windowed top-k emits the planted heavy hitter first") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = EventStreams.tumblingTopK(mem.toDF(), k = 3)
    val q = out.writeStream.format("memory").queryName("topk")
      .outputMode("append").start()
    try {
      // window [00:00, 00:05): user 42 five times, 7/8/9 once each;
      // a later event moves the watermark past the window to close it
      mem.addData(
        ev(1, "2024-01-01 00:00:10", 42), ev(2, "2024-01-01 00:00:20", 42),
        ev(3, "2024-01-01 00:00:30", 42), ev(4, "2024-01-01 00:00:40", 42),
        ev(5, "2024-01-01 00:01:00", 42), ev(6, "2024-01-01 00:02:00", 7),
        ev(7, "2024-01-01 00:03:00", 8), ev(8, "2024-01-01 00:04:00", 9))
      q.processAllAvailable()
      mem.addData(ev(9, "2024-01-01 00:30:00", 1))
      q.processAllAvailable()
      val rows = spark.table("topk")
        .select($"window_start".cast("string"), $"n", $"top_items")
        .as[(String, Long, String)].collect()
      val w0 = rows.filter(_._1.startsWith("2024-01-01 00:00"))
      assert(w0.length == 1)
      assert(w0.head._2 == 8L)
      // the heavy hitter leads the canonical (count desc, item asc)
      // rendering with its exact count (8 keys <= 64 sketch slots)
      assert(w0.head._3.startsWith("42:5"), w0.head._3)
    } finally q.stop()
  }

  test("snapshot CDC: upsert/guarded-insert/tombstone across batches; " +
      "only affected buckets rewrite; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files
      .createTempDirectory("stream_snap").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("stream_snap_ck").toString
    def e(id: Long, t: String, user: Long, typ: String, v: Double) =
      Event(id, Timestamp.valueOf(t), user, typ, v, "{}")
    val mem = MemoryStream[Event]
    val q = graft.streaming.SnapshotCdc
      .userSnapshotSink(mem.toDF(), store, nBuckets = 4)
      .option("checkpointLocation", ckpt).start()
    try {
      // batch 0: purchases create 1 and 2; click on unknown 3 ignored;
      // within-batch, user 1's LATER purchase supersedes the earlier
      mem.addData(
        e(1, "2024-01-01 00:01:00", 1, "purchase", 10.0),
        e(2, "2024-01-01 00:02:00", 1, "purchase", 11.0),
        e(3, "2024-01-01 00:03:00", 2, "purchase", 20.0),
        e(4, "2024-01-01 00:04:00", 3, "click", 99.0),
        e(8, "2024-01-01 00:05:00", 7, "purchase", 70.0))
      q.processAllAvailable()
      val s0 = spark.read.parquet(store)
      assert(s0.select($"user_id", $"balance", $"alive")
        .as[(Long, Double, Boolean)].collect().toSet ==
        Set((1L, 11.0, true), (2L, 20.0, true), (7L, 70.0, true)))
      def partFiles(bucket: Int): Set[String] = {
        val dir = new java.io.File(s"$store/bucket=$bucket")
        Option(dir.listFiles()).map(_.map(_.getName)
          .filter(_.startsWith("part-")).toSet).getOrElse(Set.empty)
      }
      val b3Before = partFiles(3)
      assert(b3Before.nonEmpty) // user 7 → bucket 3
      // batch 1: click updates 1; error tombstones 2; signup creates 5
      // (bucket 1); bucket 3 is untouched and must NOT rewrite
      mem.addData(
        e(5, "2024-01-02 00:01:00", 1, "click", 12.5),
        e(6, "2024-01-02 00:02:00", 2, "error", 0.0),
        e(7, "2024-01-02 00:03:00", 5, "signup", 50.0))
      q.processAllAvailable()
      val s1 = spark.read.parquet(store)
        .select($"user_id", $"balance", $"alive")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(s1 == Set((1L, 12.5, true), (2L, 20.0, false),
        (5L, 50.0, true), (7L, 70.0, true)))
      // partition-pruned write: the untouched bucket kept its exact
      // files (a rewrite would mint new part-* names)
      assert(partFiles(3) == b3Before)
      // replaying batch 1 (restart-from-checkpoint semantics) against
      // the post-batch store: absolute updates, guarded insert, stable
      // tombstone — byte-identical state
      graft.streaming.SnapshotCdc.applyBatchToStore(
        Seq(e(5, "2024-01-02 00:01:00", 1, "click", 12.5),
          e(6, "2024-01-02 00:02:00", 2, "error", 0.0),
          e(7, "2024-01-02 00:03:00", 5, "signup", 50.0))
          .toDS().toDF(), store, nBuckets = 4)
      val s2 = spark.read.parquet(store)
        .select($"user_id", $"balance", $"alive")
        .as[(Long, Double, Boolean)].collect().toSet
      assert(s2 == s1)
    } finally q.stop()
  }

  test("lake sink: batches sharing a month accumulate; replay is idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("stream_lake").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_lake_ck").toString
    val mem = MemoryStream[Event]
    val q = EventStreams.toLake(mem.toDF(), lake)
      .option("checkpointLocation", ckpt).start()
    try {
      // two micro-batches landing in the SAME month must both survive
      mem.addData(ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-01-02 00:02:00", 1))
      q.processAllAvailable()
      mem.addData(ev(3, "2024-01-03 00:03:00", 2), ev(4, "2024-02-01 00:04:00", 2))
      q.processAllAvailable()
      val lakeDf = spark.read.parquet(lake)
      assert(lakeDf.count() == 4)
      assert(lakeDf.select($"month").distinct().as[String].collect().toSet ==
        Set("2024-01", "2024-02"))
      // replaying a batch (restart-from-checkpoint semantics) rewrites
      // exactly its own (month, ingest_batch) files — state unchanged
      val replay = Seq(ev(3, "2024-01-03 00:03:00", 2),
        ev(4, "2024-02-01 00:04:00", 2)).toDS().toDF()
      graft.sources.PartitionedLake.upsertBatch(replay, "ts", 1L, lake)
      val after = spark.read.parquet(lake)
      assert(after.count() == 4)
      assert(after.select($"event_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("lake maintenance: compactAll retires ingest_batch dirs, " +
      "one file per month, content intact (the st19 drive's contract)") {
    implicit val sqlCtx = spark.sqlContext
    val lake = java.nio.file.Files.createTempDirectory("stream_lakec").toString
    val ckpt = java.nio.file.Files.createTempDirectory("stream_lakec_ck").toString
    val mem = MemoryStream[Event]
    val q = EventStreams.toLake(mem.toDF(), lake)
      .option("checkpointLocation", ckpt).start()
    try {
      // three micro-batches, two sharing a month -> 2024-01 holds TWO
      // ingest_batch dirs (the small-file debt the maintenance retires)
      mem.addData(ev(1, "2024-01-01 00:01:00", 1), ev(2, "2024-02-01 00:02:00", 1))
      q.processAllAvailable()
      mem.addData(ev(3, "2024-01-03 00:03:00", 2))
      q.processAllAvailable()
      mem.addData(ev(4, "2024-02-02 00:04:00", 3))
      q.processAllAvailable()
    } finally q.stop()
    val before = spark.read.parquet(lake)
      .select($"event_id", $"user_id", $"month", $"ingest_batch")
      .as[(Long, Long, String, Int)].collect().toSet
    assert(before.size == 4)
    assert(new java.io.File(s"$lake/month=2024-01").listFiles()
      .count(_.getName.startsWith("ingest_batch=")) == 2,
      "precondition: two ingest_batch dirs in the shared month")

    graft.sources.PartitionedLake.compactAll(spark, lake, "month")

    // every month is now exactly ONE file; ingest_batch survives as a
    // plain column (provenance kept), its partition level retired
    for (m <- Seq("2024-01", "2024-02")) {
      val files = new java.io.File(s"$lake/month=$m").listFiles()
      assert(files.count(_.getName.endsWith(".parquet")) == 1, m)
      assert(!files.exists(_.getName.startsWith("ingest_batch=")), m)
    }
    val after = spark.read.parquet(lake)
      .select($"event_id", $"user_id", $"month", $"ingest_batch")
      .as[(Long, Long, String, Int)].collect().toSet
    assert(after == before, "compaction is pure re-layout")
  }

  test("IVFADC codes ingest: frozen-index micro-batch encodes equal " +
      "the one-shot encode; replay never forks; search sees the delta") {
    import graft.operators.Similarity
    import graft.sources.VersionedLake
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val idx = Similarity.buildIvfAdcIndex(emb, m = 16)
    val delta = emb.filter($"vec_id" % 5 === 0)
      .withColumn("vec_id", $"vec_id" + 200000L)
    val lake = java.nio.file.Files
      .createTempDirectory("ivf_codes").toString
    VersionedLake.reset(spark, lake)
    // two micro-batches through the foreachBatch body (the drive runs
    // the same path under a real AvailableNow stream)
    (0 to 1).foreach { r =>
      VersionedLake.commitBatchAppend(
        Similarity.encodeIvfAdc(
          delta.filter(pmod($"vec_id", lit(2)) === r), idx),
        "cell", lake, txn = r.toLong)
    }
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    def codeSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"cand_id", $"cell", $"j", $"code")
      .as[(Long, Int, Int, Int)].collect().toSet
    val streamed = codeSet(VersionedLake.readLatest(spark, lake))
    val oneShot = codeSet(Similarity.encodeIvfAdc(delta, idx))
    assert(streamed == oneShot,
      "batched encode must equal the one-shot encode (frozen codebooks)")
    // checkpoint replay: same txn -> same version, same content
    assert(VersionedLake.commitBatchAppend(
      Similarity.encodeIvfAdc(delta.limit(1), idx), "cell", lake,
      txn = 1L) == 2)
    assert(codeSet(VersionedLake.readLatest(spark, lake)) == oneShot)
    // search-after-ingest: the grown index equals the rebuilt one from
    // the consumer's seat
    val corpus = emb.unionByName(delta)
    val q = emb.filter($"vec_id" < 5)
    def res(codes: org.apache.spark.sql.DataFrame) = Similarity
      .ivfAdcSearch(corpus,
        Similarity.IvfAdcIndex(idx.centroids, idx.codebook,
          idx.codes.unionByName(codes)),
        q, k = 5, rerank = 250)
      .select($"query_id", $"rnk", $"cand_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(res(VersionedLake.readLatest(spark, lake)) ==
      res(Similarity.encodeIvfAdc(delta, idx)))
  }

  test("change-feed IVM: the maintained view equals the full recompute " +
      "after every commit; a replayed batch advances nothing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.VersionedLake
    import graft.streaming.LakeIvm
    val lake = java.nio.file.Files.createTempDirectory("ivm_lake").toString
    val view = java.nio.file.Files.createTempDirectory("ivm_view").toString
    VersionedLake.reset(spark, lake)
    def state(rows: Seq[(Long, Long, String, Long)]) =
      rows.toDF("l_orderkey", "l_linenumber", "month", "qty_c")
    // drive two restatements through a REAL stream: LakeIvm.step
    // REQUIRES maintained == full recompute inside every batch, so a
    // divergence fails the query loudly
    val mem = MemoryStream[(Long, Long, String, Long)]
    val q = LakeIvm.maintainedView(
        mem.toDF().toDF("l_orderkey", "l_linenumber", "month", "qty_c"),
        lake, view)
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ivm_ck").toString)
      .start()
    try {
      mem.addData((1L, 1L, "m1", 100L), (2L, 1L, "m1", 200L),
        (3L, 1L, "m2", 300L))
      q.processAllAvailable()
      mem.addData( // A changed, B removed, D added; C carried
        (1L, 1L, "m1", 150L), (3L, 1L, "m2", 300L), (4L, 1L, "m2", 400L))
      q.processAllAvailable()
    } finally q.stop()
    def viewRows() = spark.read.parquet(view)
      .select($"month", $"n_rows", $"qty_cents")
      .as[(String, Long, Long)].collect().toSet
    assert(viewRows() == Set(("m1", 1L, 150L), ("m2", 2L, 700L)))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    // checkpoint replay of batch 1: the commit dedups on txn and the
    // view (already at the head version) must not advance
    LakeIvm.step(state(Seq((9L, 9L, "m9", 999L))), 1L, lake, view)
    assert(viewRows() == Set(("m1", 1L, 150L), ("m2", 2L, 700L)))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    // CRASH WINDOW: a commit lands but the process dies before the
    // view write — the replayed batch's commit is a txn no-op, yet the
    // view must CATCH UP (it tracks the version it reflects, not "the
    // previous batch"): without that, this exact window diverges the
    // view silently forever
    val b2 = state(Seq((1L, 1L, "m1", 175L), (4L, 1L, "m2", 400L)))
    VersionedLake.commitBatchUpsert(b2, "month", lake, txn = 2L)
    assert(viewRows() == Set(("m1", 1L, 150L), ("m2", 2L, 700L)),
      "precondition: view is behind the committed head")
    LakeIvm.step(b2, 2L, lake, view) // replay: commit no-op, view heals
    assert(viewRows() == Set(("m1", 1L, 175L), ("m2", 1L, 400L)))
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
  }

  test("Checkpoints.withLocal releases its blocks when the scope " +
      "ends — per-batch checkpoints cannot accumulate across a " +
      "long-running stream (r15 self-review)") {
    import graft.streaming.Checkpoints
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    var sawBlocks = false
    val n = Checkpoints.withLocal(Seq(1, 2, 3).toDF("x")) { m =>
      sawBlocks = (sc.getPersistentRDDs.keySet -- before).nonEmpty
      m.count()
    }
    assert(n == 3L)
    assert(sawBlocks, "the frame WAS materialized inside the scope")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "checkpoint blocks released at scope exit")
    // failure path releases too
    intercept[RuntimeException] {
      Checkpoints.withLocal(Seq(1).toDF("x")) { _ =>
        throw new RuntimeException("boom") }
    }
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }
}
