package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.TextFunctions
import graft.operators.{Cleaning, Dedup, Quality, Similarity, TextDedup}
import graft.sources.Tables

import graft.EntryDefsA._
import graft.EntryDefsB._
import graft.EntryDefsC._
import graft.EntryDrives._

/** Streaming drives, per-fixture caches and staging helpers —
  * mechanically moved out of SparkEntry (r13 verdict #6);
  * re-exported through [[SparkEntry.streamingDrives]]. */
private[graft] object EntryDrives {
  private[graft] val clustersCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** d06's exact shingle-Jaccard truth pairs computed once per sf dir
    * and persisted — the shared upstream for the d12 bench drive (the
    * cachedClusters discipline: a pipeline derives the truth/candidate
    * pair set once, then every signature-quality probe reuses it). */
  private[graft] val shinglePairsCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private[graft] def cachedShinglePairs(s: SparkSession, d: String): DataFrame =
    shinglePairsCache.getOrElseUpdate(d, {
      val p = TextDedup.shingleJaccardPairs(
        Tables.documents(s, d), "doc_id", "text").persist()
      p.count()
      p
    })

  /** d14's persisted base-corpus LSH index, built once per sf dir —
    * exactly what the lake holds in the continuous-ingest shape (st18);
    * the bench then measures only the delta probe. */
  private[graft] val lshIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Array[Array[Float]]], String)]
  private[graft] def cachedLshIndex(s: SparkSession, d: String)
      : (Seq[Array[Array[Float]]], String) =
    lshIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val (n, dim) = Similarity.corpusStats(emb)
      val tables = Similarity.nearDupTables(n, dim, 0.4)
      val idx = Scratch.path("lshidx_bench", d)
      Similarity.bandTable(emb.filter(col("vec_id") % 4 =!= 3), tables)
        .write.mode("overwrite").parquet(idx)
      (tables, idx)
    })

  /** d15's pristine two-batch index, built once per sf dir; each bench
    * run file-copies it and retracts against the copy. */
  private[graft] val takedownIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Array[Array[Float]]], String)]
  private[graft] def cachedTakedownIndex(s: SparkSession, d: String)
      : (Seq[Array[Array[Float]]], String) =
    takedownIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val (n, dim) = Similarity.corpusStats(emb)
      val tables = Similarity.nearDupTables(n, dim, 0.4)
      val idx = Scratch.path("takedown_bench", d)
      Scratch.wipe(idx)
      graft.streaming.EmbedStreams.ingestBatch(
        emb.filter(col("vec_id") % 4 =!= 3), 0L, idx, tables, 0.4)
      graft.streaming.EmbedStreams.ingestBatch(
        emb.filter(col("vec_id") % 4 === 3), 1L, idx, tables, 0.4)
      (tables, idx)
    })

  /** s15's full-corpus SEARCH index (s02 tuning), built once per sf
    * dir — distinct from d14's dedup index (different simFloor/recall
    * dials and a base-only corpus). */
  private[graft] val lshSearchIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, (Seq[Array[Array[Float]]], String)]
  private[graft] def cachedLshSearchIndex(s: SparkSession, d: String)
      : (Seq[Array[Array[Float]]], String) =
    lshSearchIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val (n, dim) = Similarity.corpusStats(emb)
      val tables = Similarity.nearDupTables(n, dim, 0.25, targetRecall = 0.9)
      val idx = Scratch.path("lshsearch_bench", d)
      Similarity.bandTable(emb, tables).write.mode("overwrite").parquet(idx)
      (tables, idx)
    })

  /** s18's full-corpus IVFADC index, built + persisted once per sf
    * dir — the bench then measures ONLY the search probe (the
    * production per-retrieval-batch cost), per the s15 discipline. */
  private[graft] val ivfAdcIndexCache = scala.collection.concurrent.TrieMap
    .empty[String, graft.operators.Similarity.IvfAdcIndex]
  private[graft] def cachedIvfAdcIndex(s: SparkSession, d: String)
      : graft.operators.Similarity.IvfAdcIndex =
    ivfAdcIndexCache.getOrElseUpdate(d, {
      val emb = Tables.embeddings(s, d)
      val root = Scratch.path("ivfadc_bench", d)
      val built = Similarity.buildIvfAdcIndex(emb, m = 16)
      built.centroids.write.mode("overwrite").parquet(s"$root/centroids")
      built.codebook.write.mode("overwrite").parquet(s"$root/codebook")
      built.codes.write.mode("overwrite").parquet(s"$root/codes")
      Similarity.IvfAdcIndex(
        s.read.parquet(s"$root/centroids"),
        s.read.parquet(s"$root/codebook"),
        s.read.parquet(s"$root/codes"))
    })

  /** d07's cluster labeling computed once per sf dir and persisted —
    * the shared upstream for the d11 bench drive. Persisting is
    * exactly what a production pipeline does with the clustering
    * result; without it Bench double-charges the 7 s clustering to
    * both d07 and d11. */
  private[graft] def cachedClusters(s: SparkSession, d: String): DataFrame =
    clustersCache.getOrElseUpdate(d, {
      val docs = Tables.documents(s, d)
      val pairs = TextDedup.tokenJaccardPairs(docs, "doc_id", "text",
        blockCol = "source", threshold = 0.5)
      val c = graft.operators.Graph.dupClusters(
          docs.select(col("doc_id")), pairs.select(col("id_a"), col("id_b")))
        .select(col("node").as("doc_id"), col("component"),
          col("cluster_size"))
        .persist()
      c.count()
      c
    })

  /** Execute `df` NOW (inside the caller's conf window — optimizer
    * toggles like DPP bind at action time, not plan-construction time)
    * and return its rows as a LOCAL frame, so a downstream consumer's
    * action re-executes nothing under restored confs. Result-sized
    * collect: callers are small-aggregate queries (l06y/l06z: 3 rows). */
  private[graft] def executedNow(s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)), df.schema)
  }

  /** The l06 join+aggregate over a once-per-JVM staged lake — the
    * query-only form the l06y/l06z bench pair measures. */
  private[graft] val dppLakeCache = scala.collection.concurrent.TrieMap
    .empty[String, String]
  private[graft] def dppLakeQuery(s: SparkSession, d: String): DataFrame = {
    val lake = dppLakeCache.getOrElseUpdate(d, {
      val p = Scratch.path("dpp_bench", d)
      graft.sources.PartitionedLake.writeByMonth(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_quantity", "l_shipdate"),
        "l_shipdate", p)
      p
    })
    val dim = Tables.orders(s, d)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"))
      .filter(col("yr") === 1997 && col("qtr") === 1)
      .select("month").distinct()
    s.read.parquet(lake).join(dim, Seq("month"))
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** One staged parquet file per micro-batch (maxFilesPerTrigger=1). */
  private def fileBatches(s: SparkSession, stage: String): DataFrame =
    s.readStream.schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)

  /** Run `w` to completion under Trigger.AvailableNow on `ckpt`. */
  private def drain(w: DataStreamWriter[Row], ckpt: String): Unit =
    w.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start().awaitTermination()

  /** `df` range-split on `key` into 4 parquet files — one micro-batch
    * each, with deterministic contents — staged once per fixture. */
  private def stagedRanged(name: String, d: String, srcFile: String,
      df: => DataFrame, key: String): String =
    Scratch.staged(name, d, srcFile)(
      df.repartitionByRange(4, col(key)).write.mode("overwrite").parquet(_))

  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    ("org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")

  /** st22's drive body, shared between the registered gate form
    * (verify = true: LakeIvm asserts maintained == full recompute
    * after EVERY commit) and the bench operator form (verify = false:
    * the maintenance alone — the O(base) per-batch rebuild check is
    * verification harness, not what the operator executes; r11
    * verdict). Each micro-batch is a full-state restatement upserted
    * as an exactly-once commit; the commit's CHANGE FEED — never the
    * base table — maintains the per-month materialized aggregate.
    * Batches arrive in whatever file order the source lists — the
    * invariant is order-independent by construction. l19 is the
    * oracle-gated batch twin. */
  private[graft] def st22Drive(s: SparkSession, d: String,
                        verify: Boolean): Unit = {
    import graft.sources.VersionedLake
    val stage = Scratch.staged("stream_ivm", d, "lineitem.parquet") { dir =>
      val li = ttSlimLineitem(s, d, dedupKeys = true)
        .select(col("l_orderkey"), col("l_linenumber"), col("month"),
          round(col("l_quantity") * 100, 0).cast("long").as("qty_c"))
      // 4 full-state restatements: step r adds line numbers up to
      // 4+r, retracts the orderkey%17==r slice, and restates lines
      // <= 2 by +100r cents — adds, removes, AND changes per step.
      // Each state lands as exactly ONE file moved into the stream
      // dir, so one micro-batch == one restatement.
      Files.createDirectories(Paths.get(dir))
      (0 to 3).foreach { r =>
        val tmp = s"${dir}_tmp$r"
        li.filter(col("l_linenumber") <= 4 + r)
          .filter(pmod(col("l_orderkey"), lit(17)) =!= r)
          .withColumn("qty_c", when(col("l_linenumber") <= 2,
            col("qty_c") + r * 100L).otherwise(col("qty_c")))
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = Files.list(Paths.get(tmp)).filter(
          _.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, Paths.get(dir, f"state-$r%02d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        Scratch.wipe(tmp)
      }
    }
    val lake = Scratch.path("stream_ivmlake", d)
    val view = Scratch.path("stream_ivmview", d)
    VersionedLake.reset(s, lake)
    Scratch.wipe(view)
    Scratch.withCheckpoint(drain(graft.streaming.LakeIvm
      .maintainedView(fileBatches(s, stage), lake, view, verify), _))
    // one commit per micro-batch landed (the per-batch IVM
    // invariant already ran INSIDE each step)
    require(VersionedLake.versions(s, lake) == Seq(1, 2, 3, 4),
      "st22 expected one version per batch")
  }

  /** The STATE-PARTITION scale dial (guide §2.2/§2.5 applied to
    * streaming state): a Structured Streaming query pins its
    * state-store partition count to `spark.sql.shuffle.partitions` at
    * its FIRST micro-batch, and every drive here runs on a fresh
    * checkpoint — so this conf IS the state parallelism, and at 100 TB
    * it is sized to STATE VOLUME (state bytes / target partition
    * size), never to the local core count. `SPARK_GRAFT_STATE_PARTITIONS`
    * makes that an explicit per-run dial on every registered drive;
    * UNSET (the default, and what the bench/driver run) leaves the
    * session value untouched, so local numbers and the driver's
    * core-count scaling measurement stay comparable — this is a
    * documented production dial, not a local[32] tuning. Committed
    * results are state-partition-count-INVARIANT (StreamingSpec pins a
    * drive at 3 vs 8 partitions byte-identical), proving the dial is a
    * parameter, not a rebuild. */
  private[graft] def withStatePartitions[A](s: SparkSession,
      n: Option[String])(body: => A): A =
    n.fold(body)(v =>
      Scratch.withConf(s, "spark.sql.shuffle.partitions" -> v)(body))

  private def stateDial(f: (SparkSession, String) => Unit)
      : (SparkSession, String) => Unit = (s, d) =>
    withStatePartitions(s,
      sys.env.get("SPARK_GRAFT_STATE_PARTITIONS"))(f(s, d))

  /** Bench-time operator forms for streaming drives whose registered
    * form carries an in-path verification harness (the benchOverrides
    * rule applied to [[streamingDrives]]): st22's registered drive
    * re-derives the view from the full base after every commit as its
    * gate — the bench measures the change-feed maintenance itself.
    * Correctness still runs the registered form through Verify-side
    * gates and StreamingSpec. */
  def streamingDriveOverrides
      : Map[String, (SparkSession, String) => Unit] = Map(
    "st22_stream_cdf_ivm" -> ((s: SparkSession, d: String) =>
      st22Drive(s, d, verify = false)))
    .map { case (k, f) => k -> stateDial(f) }

  /** Bench-only streaming drives: the events table replayed as a file-
    * source stream through each stateful operator into the noop sink
    * (Trigger.AvailableNow, fresh checkpoint per run). Correctness of
    * the windowed semantics is gated by the batch twins (q15/q16) and
    * StreamingSpec; these rows make state-store-path regressions visible
    * in BENCH. */
  def streamingDrives: Map[String, (SparkSession, String) => Unit] = {
    def drive(f: (SparkSession, String, DataFrame) => DataFrame)
        : (SparkSession, String) => Unit =
      driveWith((s, d, src) => f(s, d, src).writeStream.format("noop"))
    def driveWith(mk: (SparkSession, String, DataFrame) =>
          DataStreamWriter[Row])
        : (SparkSession, String) => Unit =
      (s: SparkSession, d: String) =>
        // the events fixture stores TIMESTAMP(NANOS), which the vectorized
        // reader rejects — same nanosAsLong treatment as Tables.events,
        // but held for the QUERY's lifetime (micro-batch planning re-reads
        // footers after .start(), unlike the one-shot batch scan)
        Scratch.withConf(s, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
          // FileStreamSource wants a DIRECTORY; the fixture is one file —
          // stage a byte-copy once per fixture and reuse it across runs
          // and JVMs, so the copy cost lands in the warmup pass, not the
          // measurement
          val path = Scratch.staged("stream_src", d, "events.parquet") { p =>
            Files.createDirectories(Paths.get(p))
            Files.copy(Paths.get(d, "events.parquet"),
              Paths.get(p, "events.parquet"))
          }
          val rawSchema = s.read.parquet(path).schema
          // same ts normalization as every batch consumer (nanos-as-long
          // AND ntz-era fixtures) — one conversion, defined in Tables
          val src = Tables.normalizeTs(
            s.readStream.schema(rawSchema).parquet(path))
          Scratch.withCheckpoint(drain(mk(s, d, src), _))
        }
    Map(
      // the production per-ingest curation shape end to end: documents
      // replayed as 4 micro-batches (maxFilesPerTrigger=1 over a
      // 4-file staging), each batch probed against the corpus the
      // PREVIOUS batches accumulated (Curate.incremental — cost ∝
      // delta) and its survivors appended replay-idempotently
      // (PartitionedLake.upsertBatchKeyed). StreamingSpec gates the
      // accumulate/replay semantics; this row benches it.
      "st11_stream_incremental_dedup" ->
        ((s: SparkSession, d: String) => {
          val stage = stagedRanged("stream_docs", d, "documents.parquet",
            Tables.documents(s, d), "doc_id")
          // fresh corpus + checkpoint per run: the measurement is the
          // whole 4-batch ingest against a growing store
          val corpus = Scratch.path("stream_corpus", d)
          Scratch.wipe(corpus)
          Scratch.withCheckpoint(drain(graft.streaming.DocStreams
            .incrementalDedupIngest(fileBatches(s, stage), corpus), _))
        }),
      // the embedding-modality twin of st11: 4 micro-batches of
      // vectors, each probed against the PERSISTED LSH band table the
      // previous batches accumulated (EmbedStreams — cost ∝ delta),
      // pairs + index rows appended replay-idempotently. d14 gates the
      // full-rebuild equivalence in batch form; StreamingSpec gates
      // the replay semantics; this row benches the whole ingest.
      "st18_stream_embed_dedup" ->
        ((s: SparkSession, d: String) => {
          val stage = stagedRanged("stream_emb", d, "embeddings.parquet",
            Tables.embeddings(s, d), "vec_id")
          val emb = Tables.embeddings(s, d)
          val (n, dim) = Similarity.corpusStats(emb)
          val tables = Similarity.nearDupTables(n, dim, 0.4)
          // fresh index + checkpoint per run: the measurement is the
          // whole 4-batch ingest against a growing lake index
          val idx = Scratch.path("stream_lshidx", d)
          Scratch.wipe(idx)
          Scratch.withCheckpoint(drain(graft.streaming.EmbedStreams
            .incrementalEmbedDedup(fileBatches(s, stage), idx, tables, 0.4),
            _))
        }),
      "st01_stream_tumbling" ->
        drive((_, _, src) => graft.streaming.EventStreams.tumblingAgg(src)),
      "st02_stream_sessions" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.sessionWindowAgg(src)),
      "st03_stream_dedup" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.dedupWithinWatermark(src)),
      "st04_stream_interval_join" ->
        drive((_, _, src) => graft.streaming.EventStreams.clickErrorJoin(src)),
      "st15_stream_outer_interval_join" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.clickErrorJoinLeftOuter(src)),
      "st16_stream_dedup_tumbling" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.dedupedTumblingAgg(src)),
      // observed ingest metrics riding the tumbling-agg scan (q89's
      // one-pass observability contract in streaming form; per-batch
      // counter semantics gated in StreamingSpec)
      "st17_stream_observed" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.observedTumblingAgg(src)),
      // RocksDB twin of st04 — the scale-correct backend for large
      // stream-stream join state (HDFSBacked keeps every key on-heap;
      // RocksDB spills to local disk and bounds executor memory at
      // 100 TB state). Benched NEXT TO the default-provider row so the
      // backend delta stays visible round-over-round ("z" suffix sorts
      // it directly after st04 in the deterministic drive order).
      "st04z_interval_join_rocksdb" -> ((s: SparkSession, d: String) =>
        // changelog checkpointing (SPARK-43421): commit uploads the
        // per-batch delta instead of snapshotting the full RocksDB
        // instance — the production setting for large join state,
        // which shaves the per-batch commit overhead this drive
        // documents vs st04's default provider
        Scratch.withConf(s, rocksDb, "spark.sql.streaming.stateStore." +
            "rocksdb.changelogCheckpointing.enabled" -> "true")(
          drive((_, _, src) =>
            graft.streaming.EventStreams.clickErrorJoin(src))(s, d))),
      "st07_stream_sliding" ->
        drive((_, _, src) => graft.streaming.EventStreams.slidingAgg(src)),
      // the sketch family in the stream: windowed HLL distinct-users —
      // KBs of state per window vs an exact distinct's every-user-id
      "st10_stream_approx_distinct" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.tumblingApproxDistinct(src)),
      // frequent-items sketch in the stream: windowed approx_top_k
      // heavy hitters (t26/q77's mergeable sketch as window state)
      "st13_stream_topk" ->
        drive((_, _, src) =>
          graft.streaming.EventStreams.tumblingTopK(src)),
      "st05_stream_dim_join" ->
        drive((s, d, src) => graft.streaming.EventStreams
          .enrichedTumblingAgg(src, Tables.customer(s, d))),
      // the arbitrary-state path (flatMapGroupsWithState): AvailableNow
      // on one file is a single micro-batch, so what's measured is the
      // per-key state-machine ingest (the dominant cost) — event-time
      // timeouts need a later batch to fire and emit nothing here
      // stateless pass-through baseline: source ingest + codegen
      // projection only, no state store — the throughput floor the
      // stateful rows (st01-st07) are read against
      "st08_stream_stateless" ->
        drive((_, _, src) => src
          .filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"),
            (col("value") * 2).as("v2"))),
      // real ingest: micro-batches upserted into a month-partitioned
      // lake under (month, ingest_batch) — replay-idempotent
      // (StreamingSpec gates the semantics); measures actual parquet
      // write throughput, so it's the cost ceiling next to st08's floor
      "st09_stream_lake_sink" ->
        driveWith((s, d, src) => {
          // fixed path, wiped at run start: each measured pass ingests
          // into an empty lake and nothing accumulates across runs
          val lake = Scratch.path("stream_lake", d)
          Scratch.wipe(lake)
          graft.streaming.EventStreams.toLake(src, lake)
        }),
      // keyed-store maintenance: each micro-batch's changes MERGE into
      // a bucket-partitioned snapshot, rewriting only affected buckets
      // (q81 is the oracle-gated batch twin of the normalization +
      // apply kernel; StreamingSpec drives accumulate + replay)
      "st12_stream_snapshot_cdc" ->
        driveWith((s, d, src) => {
          val store = Scratch.path("stream_snap", d)
          Scratch.wipe(store)
          graft.streaming.SnapshotCdc.userSnapshotSink(src, store)
        }),
      "st06_stream_stateful_sessions" ->
        drive((s, _, src) => {
          implicit val sp: SparkSession = s
          import s.implicits._
          graft.streaming.EventStreams.sessionizeStateful(
            src.select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props"))
              .as[graft.model.Rows.Event]).toDF()
        }),
      // transformWithState (arbitrary-state v2) quota enforcement —
      // requires the RocksDB provider, same conf wrap as st04z
      "st14_stream_quota_tws" -> ((s: SparkSession, d: String) =>
        Scratch.withConf(s, rocksDb)(drive((ss, _, src) => {
          import ss.implicits._
          graft.streaming.Quota.enforce(
            src.select(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value"), col("props"))
              .as[graft.model.Rows.Event]).toDF()
        })(s, d))),
      // ingest + MAINTENANCE in one drive: st09's per-batch upsert
      // leaves one (month, ingest_batch) dir per micro-batch — the
      // small-file debt a continuous ingest accrues; compactAll then
      // folds each month to ONE file, retiring the ingest_batch
      // partition level into a plain column (exactly the "compacted
      // away by the maintenance path" step PartitionedLake.upsertBatch
      // promises). The measured row is the full ingest+compact cycle;
      // a content change aborts the drive loudly (count +
      // order-insensitive signature re-read from the lake either side
      // of the rewrite; layout semantics gated in StreamingSpec).
      "st19_stream_lake_compact" -> { (s: SparkSession, d: String) =>
        val lake = Scratch.path("stream_lakec", d)
        Scratch.wipe(lake)
        driveWith((_, _, src) =>
          graft.streaming.EventStreams.toLake(src, lake))(s, d)
        def sig() = s.read.parquet(lake)
          .agg(count(lit(1)).as("n"), expr(
            "bit_xor(xxhash64(event_id, user_id, month, ingest_batch))")
            .as("sig"))
          .collect().head
        val before = sig()
        graft.sources.PartitionedLake.compactAll(s, lake, "month")
        val after = sig()
        require(before == after,
          s"st19 compaction changed lake content: $before vs $after")
      },
      // streaming ingest into the VERSIONED lake (st19's cycle on the
      // l09/l10 commit log): 4 micro-batches, each an exactly-once
      // txn-deduped APPEND commit — every batch a readable snapshot,
      // replay skipped at the commit. The drive asserts the whole
      // contract: one version per batch, latest content == source
      // (count + order-insensitive signature), and a replayed last
      // batch neither forks history nor changes content.
      "st20_stream_versioned_ingest" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val stage = stagedEventFiles(s, d)
        val lake = Scratch.path("stream_vlake", d)
        VersionedLake.reset(s, lake)
        Scratch.withCheckpoint(drain(graft.streaming.EventStreams
          .toVersionedLake(fileBatches(s, stage), lake), _))
        val vs = VersionedLake.versions(s, lake)
        require(vs == Seq(1, 2, 3, 4),
          s"st20 expected one version per batch, got $vs")
        def sig(df: DataFrame) = df
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(event_id, user_id))").as("sig"))
          .collect().head
        val srcSig = sig(s.read.parquet(stage))
        require(sig(VersionedLake.readLatest(s, lake)) == srcSig,
          "st20 latest version diverges from the ingested source")
        // checkpoint replay of the last batch: same txn -> no-op
        val replay = s.read.parquet(stage).limit(5)
          .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        require(VersionedLake.commitBatchUpsert(replay, "month", lake,
            txn = 3L) == 4, "st20 replayed txn forked history")
        require(sig(VersionedLake.readLatest(s, lake)) == srcSig,
          "st20 replayed txn changed content")
      },
      // streaming IVFADC maintenance (st20's exactly-once commit log
      // carrying s18's index): 4 micro-batches of NEW vectors, each
      // assigned + PQ-encoded against the FROZEN coarse/PQ codebooks
      // (never retrained) and appended to a cell-partitioned versioned
      // codes table. The drive asserts the whole contract: one version
      // per batch, accumulated codes == one-shot encode of everything
      // (count + order-insensitive signature — the s20 oracle gates
      // full set equality), replayed txn a no-op. Measures the
      // ingest-side lifecycle; s20's bench override measures
      // ingest + search.
      "st21_stream_ivfadc_ingest" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val delta = Tables.embeddings(s, d)
          .filter(col("vec_id") % 10 < 4)
          .withColumn("vec_id", col("vec_id") + 200000L)
        val stage =
          stagedRanged("stream_ivf", d, "embeddings.parquet", delta, "vec_id")
        val idx = cachedIvfAdcIndex(s, d)
        val lake = Scratch.path("stream_codes", d)
        VersionedLake.reset(s, lake)
        Scratch.withCheckpoint(drain(graft.streaming.EmbedStreams
          .ivfAdcCodesIngest(fileBatches(s, stage), idx, lake), _))
        val vs = VersionedLake.versions(s, lake)
        require(vs == Seq(1, 2, 3, 4),
          s"st21 expected one version per batch, got $vs")
        def sig(df: DataFrame) = df
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(xxhash64(cand_id, cell, j, code))").as("sig"))
          .collect().head
        val want = sig(graft.operators.Similarity.encodeIvfAdc(delta, idx))
        require(sig(VersionedLake.readLatest(s, lake)) == want,
          "st21 streamed codes diverge from the one-shot encode")
        // checkpoint replay of the last batch: same txn -> no-op
        require(VersionedLake.commitBatchAppend(
          graft.operators.Similarity.encodeIvfAdc(delta.limit(2), idx),
          "cell", lake, txn = 3L) == 4,
          "st21 replayed txn forked history")
        require(sig(VersionedLake.readLatest(s, lake)) == want,
          "st21 replayed txn changed content")
      },
      // change-feed-driven IVM (st22): each micro-batch is a full-state
      // restatement upserted as an exactly-once commit; the commit's
      // CHANGE FEED — never the base table — maintains the per-month
      // materialized aggregate, and LakeIvm.step REQUIRES maintained ==
      // full recompute after EVERY commit (l19 is the oracle-gated
      // batch twin). Batches arrive in whatever file order the source
      // lists — the invariant is order-independent by construction.
      "st22_stream_cdf_ivm" -> ((s: SparkSession, d: String) =>
        st22Drive(s, d, verify = true)),
      // the versioned lake as a STREAMING SOURCE (st23): st20's txn
      // ingest on the write side, and on the READ side a version-
      // cursor poll loop consuming appendsBetween — each step reads
      // ONLY the newly appended files (cost ∝ delta; the base is never
      // re-read). The drive asserts the consumed union equals the full
      // table (count + order-insensitive signature folded across
      // steps — appends are disjoint, so the XOR of step signatures
      // IS the table's signature).
      "st23_stream_lake_source" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val lake = stageVersionedEventsLake(s, d)
        // the consumption side: cursor 0 -> latest, one poll per commit
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st23 expected 4 ingest commits, got $latest")
        var cursor = 0
        var n = 0L
        var sig = 0L
        while (cursor < latest) {
          val (sn, ss) = lakeFeedSig(
            VersionedLake.appendsBetween(s, lake, cursor, cursor + 1))
          n += sn; sig ^= ss
          cursor += 1
        }
        val (wantN, wantSig) =
          lakeFeedSig(VersionedLake.readLatest(s, lake))
        require(n == wantN && sig == wantSig,
          s"st23 consumed feed diverges from the table: ($n, $sig) vs " +
            s"($wantN, $wantSig)")
      },
      // ADMISSION CONTROL on the lake streaming source (st24): st23's
      // cursor loop, but a BURST of commits lands before the reader
      // polls, and each poll admits at most maxFiles files
      // (VersionedLake.pollAppends — Delta's maxFilesPerTrigger): the
      // burst drains over exactly ceil(files/maxFiles) polls with
      // sub-version cursor progress, and the consumed union still
      // equals the table (count + XOR signature — the st23 identity).
      "st24_stream_lake_admission" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val lake = stageVersionedEventsLake(s, d)
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st24 expected 4 ingest commits, got $latest")
        // every entry at the head is an appended file (append-only lake)
        val totalFiles = VersionedLake.manifestFiles(s, lake, latest).size
        val maxFiles = 2
        var cursor = (0, 0)
        var polls = 0
        var n = 0L
        var sig = 0L
        while (cursor != ((latest, 0))) {
          val (batch, next) =
            VersionedLake.pollAppends(s, lake, cursor, maxFiles)
          require(next != cursor, s"st24 poll made no progress at $cursor")
          val (sn, ss) = lakeFeedSig(batch)
          n += sn; sig ^= ss
          cursor = next
          polls += 1
        }
        require(polls == (totalFiles + maxFiles - 1) / maxFiles,
          s"st24 expected ceil($totalFiles/$maxFiles) polls, got $polls")
        val (wantN, wantSig) =
          lakeFeedSig(VersionedLake.readLatest(s, lake))
        require(n == wantN && sig == wantSig,
          s"st24 consumed feed diverges from the table: ($n, $sig) vs " +
            s"($wantN, $wantSig)")
      },
      // The FORMAT-level streaming source (st30, r15):
      // `spark.readStream.format("graftlake")` over st23/st24's lake —
      // pollAppends cursors as engine offsets
      // (sources.GraftLakeStreamSource), so the commit log is the WAL
      // and recovery is exact by construction. Run 1 serves the
      // INITIAL SNAPSHOT as one unbounded batch (the Delta
      // snapshot-then-tail default) and must equal the table (count +
      // XOR signature). Then a burst of appends lands and run 2 on the
      // SAME checkpoint drains ONLY the tail, maxFilesPerTrigger=2 —
      // exactly ceil(freshFiles/2) bounded batches (the st24 admission
      // identity, engine-paced), no snapshot replay.
      "st30_stream_format_source" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val lake = stageVersionedEventsLake(s, d)
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st30 expected 4 ingest commits, got $latest")
        val totalFiles = VersionedLake.manifestFiles(s, lake, latest).size
        val maxFiles = 2
        val n = new java.util.concurrent.atomic.AtomicLong(0)
        val sig = new java.util.concurrent.atomic.AtomicLong(0)
        val batches = new java.util.concurrent.atomic.AtomicLong(0)
        def run(ckpt: String): Unit = drain(s.readStream.format("graftlake")
          .option("maxFilesPerTrigger", maxFiles.toString).load(lake)
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
              val (bn, bs) = lakeFeedSig(b.toDF())
              if (bn > 0) {
                n.addAndGet(bn)
                sig.getAndUpdate(x => x ^ bs)
                batches.incrementAndGet()
              }
              ()
          }, ckpt)
        Scratch.withCheckpoint { ckpt =>
          run(ckpt)
          val (wantN, wantSig) =
            lakeFeedSig(VersionedLake.readLatest(s, lake))
          require(n.get == wantN && sig.get == wantSig,
            s"st30 snapshot diverges from the table: " +
              s"(${n.get}, ${sig.get}) vs ($wantN, $wantSig)")
          require(batches.get == 1,
            s"st30 initial snapshot is ONE unbounded batch, got " +
              s"${batches.get}")
          // a burst of appends, then restart on the same checkpoint:
          // ONLY the tail arrives, paced at maxFiles per micro-batch
          val extra =
            VersionedLake.readLatest(s, lake).orderBy(col("event_id"))
          VersionedLake.commitAppend(extra.limit(3), "month", lake)
          VersionedLake.commitAppend(
            extra.limit(6).orderBy(col("event_id").desc).limit(3),
            "month", lake)
          val newHead = VersionedLake.latestVersion(s, lake)
          val freshFiles =
            VersionedLake.manifestFiles(s, lake, newHead).size - totalFiles
          n.set(0); batches.set(0)
          run(ckpt)
          require(n.get == 6,
            s"st30 recovery replayed history: got ${n.get} rows, want 6")
          require(batches.get == (freshFiles + maxFiles - 1) / maxFiles,
            s"st30 expected ceil($freshFiles/$maxFiles) paced tail " +
              s"batches, got ${batches.get}")
        }
      },
      // The lake-to-lake FORMAT pipeline (st31, r15): st30's source
      // composed with the format STREAMING SINK — readStream one lake,
      // writeStream another, nothing but format strings; each
      // micro-batch is a txn-deduped commitBatchAppend (txn scoped to
      // the checkpoint | batchId) so the pipeline is exactly-once by
      // the commit log itself. Run 1 moves the snapshot in ONE commit
      // (dst == src by count + XOR signature); an idle rerun mints
      // NOTHING; a tail burst then flows through paced — one dst
      // commit per bounded micro-batch.
      "st31_stream_format_pipeline" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val src = stageVersionedEventsLake(s, d)
        val latest = VersionedLake.latestVersion(s, src)
        require(latest == 4, s"st31 expected 4 ingest commits, got $latest")
        val totalFiles = VersionedLake.manifestFiles(s, src, latest).size
        val maxFiles = 2
        val dst = Scratch.path("stream_vdst", d)
        VersionedLake.reset(s, dst)
        VersionedLake.commitOverwrite(
          VersionedLake.readLatest(s, src).limit(0), "month", dst)
        def run(ckpt: String): Unit = drain(s.readStream.format("graftlake")
          .option("maxFilesPerTrigger", maxFiles.toString).load(src)
          .writeStream.format("graftlake")
          .option("path", dst).option("partitionColumn", "month"), ckpt)
        Scratch.withCheckpoint { ckpt =>
          run(ckpt)
          def sig(p: String) = lakeFeedSig(VersionedLake.readLatest(s, p))
          require(sig(src) == sig(dst),
            s"st31 pipeline diverged: ${sig(src)} vs ${sig(dst)}")
          require(VersionedLake.latestVersion(s, dst) == 2,
            "st31 snapshot run is seed + ONE commit")
          run(ckpt) // idle rerun: engine offers nothing, sink mints nothing
          require(VersionedLake.latestVersion(s, dst) == 2,
            "st31 idle rerun minted versions")
          // a tail burst flows through paced: one dst commit per
          // bounded micro-batch, and the lakes stay sig-equal
          val extra =
            VersionedLake.readLatest(s, src).orderBy(col("event_id"))
          VersionedLake.commitAppend(extra.limit(3), "month", src)
          val freshFiles = VersionedLake.manifestFiles(s, src,
            VersionedLake.latestVersion(s, src)).size - totalFiles
          run(ckpt)
          require(sig(src) == sig(dst),
            s"st31 tail diverged: ${sig(src)} vs ${sig(dst)}")
          require(VersionedLake.latestVersion(s, dst) ==
              2 + (freshFiles + maxFiles - 1) / maxFiles,
            "st31 tail expected one dst commit per bounded batch")
        }
      },
      // GOVERNED streaming ingest (st25): st23's exactly-once txn
      // ingest composed with hidden partitioning (l27 — the partition
      // derives through the lake's RECORDED month(ts) transform inside
      // the sink, never a sink-side formula) and table constraints
      // (l26 — a violating micro-batch ABORTS before any version is
      // claimed: the quality gate lives in the table and no stream can
      // bypass it). Asserts: one txn commit per batch, derived
      // partitions well-formed, a transform-pruned month read equals
      // the plain filter, checkpoint replay is a no-op, and the
      // violating batch mints nothing while a clean one still lands.
      "st25_stream_governed_lake" -> { (s: SparkSession, d: String) =>
        import graft.sources.{HiddenPartitioning => HP, VersionedLake}
        val stage = stagedEventFiles(s, d)
        val lake = Scratch.path("stream_gvrn", d)
        VersionedLake.reset(s, lake)
        HP.define(s, lake, HP.Spec("ts", HP.Month))
        Scratch.withCheckpoint(drain(graft.streaming.EventStreams
          .toGovernedLake(fileBatches(s, stage), lake), _))
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st25 expected 4 txn commits, got $latest")
        val parts = VersionedLake.manifestFiles(s, lake, latest)
          .map(_.part).distinct
        require(parts.nonEmpty && parts.forall(_.matches("""\d{4}-\d{2}""")),
          s"st25 derived month partitions malformed: $parts")
        // a transform-pruned month window == the plain row filter
        val m = parts.min
        val (lo, hi) = (s"$m-01 00:00:00", s"$m-28 23:59:59")
        require(HP.partsBetween(s, lake, latest, lo, hi) == Seq(m),
          "st25 month range must prune to one partition")
        val got = lakeFeedSig(HP.readBetween(s, lake, lo, hi))
        val want = lakeFeedSig(VersionedLake.readLatest(s, lake)
          .filter(col("ts").between(lo, hi)))
        require(got == want,
          s"st25 pruned month read diverges: $got vs $want")
        // checkpoint replay of the last batch: same txn -> no-op
        val replay = s.read.parquet(stage).limit(3)
        require(HP.commitBatchAppend(replay, lake, txn = 3L) == 4,
          "st25 replayed txn forked history")
        // the constraint gate composes: a violating micro-batch aborts
        // minting nothing; a clean one still lands
        VersionedLake.commitAddConstraint(s, lake, "eid_nn",
          "event_id IS NOT NULL")
        val bad = s.read.parquet(stage).limit(2)
          .withColumn("event_id", lit(null).cast("long"))
        val aborted =
          try { HP.commitBatchAppend(bad, lake, txn = 99L); false }
          catch { case _: IllegalStateException => true }
        require(aborted, "st25 violating micro-batch must abort")
        require(VersionedLake.latestVersion(s, lake) == 5,
          "st25 aborted batch must mint no version")
        require(HP.commitBatchAppend(s.read.parquet(stage).limit(2),
          lake, txn = 100L) == 6,
          "st25 clean batch must land after the abort")
      },
      // COORDINATED two-lake streaming ingest (st29 — the streaming
      // form of l36): each micro-batch lands facts in lake A and its
      // per-month counts in lake B, both exactly-once txn commits,
      // then ONE CommitCoordinator record pins the pair atomically.
      // Asserts: one coordinator record per batch, EVERY record is a
      // consistent pair (facts count == counts total at that record —
      // the atomic-view invariant, checked at all 4 records), a torn
      // direct commit to A stays invisible to coordinated readers
      // while a direct read sees it, a replayed txn + re-pin changes
      // no pinned content, and the recovery commitAll publishes the
      // completed pair.
      "st29_stream_coordinated_lakes" -> { (s: SparkSession, d: String) =>
        import graft.sources.{CommitCoordinator => CC, VersionedLake}
        val stage = stagedEventFiles(s, d)
        val lakeA = Scratch.path("stream_coord_a", d)
        val lakeB = Scratch.path("stream_coord_b", d)
        val coord = Scratch.path("stream_coord_log", d)
        Seq(lakeA, lakeB, coord).foreach(VersionedLake.reset(s, _))
        Scratch.withCheckpoint(drain(graft.streaming.EventStreams
          .toCoordinatedLakes(fileBatches(s, stage), lakeA, lakeB, coord), _))
        require(CC.latest(s, coord) == 4,
          s"st29 expected 4 coordinator records, got ${CC.latest(s, coord)}")
        def pairAt(cv: Int): (Long, Long) = (
          CC.readCoordinated(s, coord, lakeA, Some(cv)).count(),
          CC.readCoordinated(s, coord, lakeB, Some(cv))
            .agg(sum(col("cnt"))).head.getLong(0))
        (1 to 4).foreach { cv =>
          val (na, nb) = pairAt(cv)
          require(na == nb, s"st29 record $cv torn: facts $na counts $nb")
        }
        val srcN = s.read.parquet(stage).count()
        require(pairAt(4)._1 == srcN,
          "st29 final coordinated state must equal the source")
        // torn direct commit: coordinated view unmoved, direct ahead
        VersionedLake.commitAppend(
          s.read.parquet(stage).limit(5)
            .withColumn("month", date_format(col("ts"), "yyyy-MM")),
          "month", lakeA)
        require(pairAt(4) == (srcN, srcN),
          "st29 torn commit leaked into the coordinated view")
        require(VersionedLake.readLatest(s, lakeA).count() == srcN + 5,
          "st29 direct read must see the torn commit")
        // replayed txn: mints nothing AND returns ITS batch's version
        // (txn 3 committed v4; r15 — the r14-advice fix: the OLD
        // return-the-head behavior would hand a coordinated recovery
        // the torn direct commit's version, which no batch computed
        // with lakeB's counts)
        val vA = VersionedLake.latestVersion(s, lakeA)
        require(VersionedLake.commitBatchAppend(
          s.read.parquet(stage).limit(1)
            .withColumn("month", date_format(col("ts"), "yyyy-MM")),
          "month", lakeA, txn = 3L) == 4 &&
          VersionedLake.latestVersion(s, lakeA) == vA,
          "st29 replayed txn must return its own version, fork nothing")
        // recovery publishes the completed pair in one record
        CC.commitAll(s, coord, Seq(
          () => (lakeA, VersionedLake.latestVersion(s, lakeA)),
          () => (lakeB, VersionedLake.commitBatchAppend(
            s.read.parquet(stage).limit(5)
              .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
              .agg(count(lit(1)).as("cnt")),
            "month", lakeB, txn = 90L))))
        val (na, nb) = pairAt(CC.latest(s, coord))
        require(na == srcN + 5 && nb == srcN + 5,
          s"st29 recovery pair diverges: $na vs $nb")
      },
      // STREAMING INDEX MAINTENANCE (st26): st23's txn ingest with the
      // l28 Bloom file-skipping index kept fresh INSIDE each
      // micro-batch — filters attach to immutable files, so each
      // batch's ensure indexes exactly its fresh files (cost ∝ batch,
      // never a rebuild), the index covers the whole lake at every
      // step, and a replayed ensure is a no-op. A point lookup after
      // the stream equals the plain filter (count + XOR signature).
      "st26_stream_index_maintenance" -> { (s: SparkSession, d: String) =>
        import graft.sources.{BloomIndex, VersionedLake}
        val stage = stagedEventFiles(s, d)
        val lake = Scratch.path("stream_bfi", d)
        VersionedLake.reset(s, lake)
        BloomIndex.define(s, lake, BloomIndex.Cfg("user_id"))
        val perBatch = scala.collection.mutable.ArrayBuffer.empty[Int]
        Scratch.withCheckpoint(drain(graft.streaming.EventStreams
          .toIndexedLake(fileBatches(s, stage), lake,
            n => { perBatch += n; () }), _))
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st26 expected 4 txn commits, got $latest")
        // every batch indexed only ITS files; the union covers the lake
        require(perBatch.size == 4 && perBatch.forall(_ > 0),
          s"st26 per-batch ensure counts: $perBatch")
        val live = VersionedLake.manifestFiles(s, lake, latest)
          .filter(_.kind == "data").map(_.rel).toSet
        require(perBatch.sum == live.size,
          s"st26 index coverage ${perBatch.sum} != ${live.size} files")
        require(BloomIndex.ensure(s, lake, latest).isEmpty,
          "st26 re-ensure must be a no-op")
        // index-served point lookup == plain filter
        val ids = VersionedLake.readLatest(s, lake)
          .select(col("user_id")).distinct()
          .orderBy(col("user_id")).limit(2)
        val got = lakeFeedSig(BloomIndex.lookup(s, lake, ids))
        val want = lakeFeedSig(VersionedLake.readLatest(s, lake)
          .join(broadcast(ids), Seq("user_id"), "left_semi"))
        require(got == want,
          s"st26 index-served lookup diverges: $got vs $want")
      },
      // STREAMING DV-MERGE (st27): the continuous form of l33 — a
      // keyed user store maintained by per-batch MERGE THROUGH
      // DELETION VECTORS. The store seeds with every user at a
      // sentinel payload (so every batch's changeset MATCHES and the
      // DV path carries the whole load), then 4 user-ranged batches
      // each update/tombstone their users in ONE
      // commitBatchMergeDv: matched rows die positionally, upserts
      // append, every base data file carries forward by pointer —
      // per-batch bytes ∝ the changeset, never store size. Batches
      // are user-disjoint (range staging on user_id), so the final
      // store is batch-ORDER-independent and equals the batch
      // recomputation from the raw events; a replayed txn must be a
      // no-op.
      "st27_stream_dv_merge" -> { (s: SparkSession, d: String) =>
        import graft.sources.VersionedLake
        val stage = stagedUserRangedEventFiles(s, d)
        val lake = Scratch.path("stream_mdv", d)
        VersionedLake.reset(s, lake)
        val changeShape = Tables.events(s, d)
          .select(col("user_id")).distinct()
          .withColumn("last_ts", lit(null).cast("timestamp"))
          .withColumn("last_type", lit("seed"))
          .withColumn("last_value", lit(0.0))
          .withColumn("bucket",
            pmod(col("user_id"), lit(8L)).cast("string"))
        VersionedLake.commitOverwrite(changeShape, "bucket", lake)
        Scratch.withCheckpoint(drain(graft.streaming.EventStreams
          .toDvMergeStore(fileBatches(s, stage), lake), _))
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 5, s"st27 seed + 4 DV-merges, got $latest")
        // pointer economy across the WHOLE ingest: data files only ADD
        val byV = (1 to latest).map(v =>
          VersionedLake.manifestFiles(s, lake, v)
            .filter(_.kind == "data").map(_.rel).toSet)
        require(byV.sliding(2).forall(w => w.head.subsetOf(w.last)),
          "st27 a base data file left the manifest — partition rewrite")
        require(VersionedLake.manifestFiles(s, lake, latest)
          .exists(_.kind == "dv"),
          "st27 the update path must run through deletion vectors")
        // the store == the batch recomputation of the same semantics
        def sig(df: DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)),
            coalesce(expr("bit_xor(xxhash64(user_id, last_ts, " +
              "last_type, last_value, bucket))"), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
        val expect = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
            col("value"))).as("m"))
          .select(col("user_id"), col("m.ts").as("last_ts"),
            col("m.event_type").as("last_type"),
            col("m.value").as("last_value"))
          .filter(col("last_type") =!= "error")
          .withColumn("bucket",
            pmod(col("user_id"), lit(8L)).cast("string"))
        val (gotN, gotX) = sig(VersionedLake.readLatest(s, lake))
        val (wantN, wantX) = sig(expect)
        require(gotN == wantN && gotX == wantX,
          s"st27 store diverges: ($gotN,$gotX) vs ($wantN,$wantX)")
        // a replayed transaction is a commit-level no-op
        val replay = Tables.events(s, d).limit(1)
          .select(col("user_id"),
            col("ts").as("last_ts"),
            col("event_type").as("last_type"),
            col("value").as("last_value"))
          .withColumn("bucket",
            pmod(col("user_id"), lit(8L)).cast("string"))
          .withColumn("is_del", lit(false))
        // (txn 0 committed v2 — the replay returns ITS version, r15)
        require(VersionedLake.commitBatchMergeDv(replay, Seq("user_id"),
          "bucket", lake, txn = 0L, deleteCol = Some("is_del")) == 2 &&
          VersionedLake.latestVersion(s, lake) == latest,
          "st27 replayed txn must mint nothing, return its own version")
      },
      // MID-STREAM PARTITION-SPEC EVOLUTION (st28): l31 composed with
      // st25's governed ingest — the production migration story. Two
      // batches land under month(ts); the spec then EVOLVES to
      // day(ts) while the stream's checkpoint survives; two more
      // batches land at day granularity. Nothing is rewritten: each
      // era keeps its layout, the era split is visible in the
      // manifest, and a range read spanning both eras projects
      // through BOTH transforms (month-era partitions prune at month,
      // day-era at day) and equals the plain row filter.
      "st28_stream_spec_evolution" -> { (s: SparkSession, d: String) =>
        import graft.sources.{HiddenPartitioning => HP, VersionedLake}
        val allStage = stagedEventFiles(s, d)
        val incoming = Paths.get(Scratch.path("stream_spev", d))
        Scratch.wipe(incoming.toString)
        Files.createDirectories(incoming)
        val srcFiles = {
          import scala.jdk.CollectionConverters._
          val st = Files.list(Paths.get(allStage))
          try st.filter(_.getFileName.toString.endsWith(".parquet"))
            .sorted().iterator().asScala.toSeq
          finally st.close()
        }
        require(srcFiles.size == 4, s"staging: ${srcFiles.size} files")
        def copyIn(fs: Seq[Path]): Unit = fs.foreach(f =>
          Files.copy(f, incoming.resolve(f.getFileName),
            StandardCopyOption.REPLACE_EXISTING))
        val lake = Scratch.path("stream_spel", d)
        VersionedLake.reset(s, lake)
        HP.define(s, lake, HP.Spec("ts", HP.Month))
        val schema = s.read.parquet(allStage).schema
        def runOnce(ckpt: String): Unit = drain(
          graft.streaming.EventStreams.toGovernedLake(s.readStream
            .schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(incoming.toString), lake), ckpt)
        Scratch.withCheckpoint { ckpt =>
          copyIn(srcFiles.take(2))
          runOnce(ckpt)
          require(VersionedLake.latestVersion(s, lake) == 2,
            "st28 two month-era commits before the evolution")
          HP.evolve(s, lake, HP.Spec("ts", HP.Day))
          copyIn(srcFiles.drop(2))
          runOnce(ckpt) // checkpoint survives the evolution
        }
        val latest = VersionedLake.latestVersion(s, lake)
        require(latest == 4, s"st28 expected 4 txn commits, got $latest")
        // the era split is structural: month-era entries carry 7-char
        // partitions, day-era 10-char — derived through the spec each
        // era recorded, no file rewritten
        val entries = VersionedLake.manifestFiles(s, lake, latest)
          .filter(_.kind == "data")
        require(entries.forall(e => e.era.exists(v =>
          if (v <= 2) e.part.length == 7 else e.part.length == 10)),
          s"st28 era/layout mismatch: ${entries.map(e => (e.era, e.part))}")
        // a range read spanning both eras: BOTH projections
        // contribute pruned partitions, and the result equals the
        // plain row filter over the whole ingested set
        val m = entries.filter(_.part.length == 7).map(_.part).min
        val (lo, hi) = (s"$m-05 00:00:00", s"$m-25 23:59:59")
        val pruned = HP.partsBetween(s, lake, latest, lo, hi)
        require(pruned.exists(_.length == 7) &&
          pruned.exists(_.length == 10),
          s"st28 both eras must contribute to the pruned set: $pruned")
        val got = lakeFeedSig(HP.readBetween(s, lake, lo, hi))
        val want = lakeFeedSig(VersionedLake.readLatest(s, lake)
          .filter(col("ts").between(lo, hi)))
        require(got == want,
          s"st28 mixed-era pruned read diverges: $got vs $want")
      })
      .map { case (k, f) => k -> stateDial(f) } // the state-partition dial
  }

  /** st20/st23/st25's shared staging: the events fixture re-written
    * as 4 event_id-ranged parquet files (one per micro-batch under
    * maxFilesPerTrigger=1). Returns the stage dir. */
  private[graft] def stagedEventFiles(s: SparkSession, d: String): String =
    stagedRanged("stream_vev", d, "events.parquet", Tables.events(s, d),
      "event_id")

  /** st27's staging: 4 files ranged on USER_ID, so each user's whole
    * history lands in exactly one micro-batch — the final DV-merged
    * store is then batch-ORDER-independent (file-source ordering is
    * an implementation detail no witness should lean on) while every
    * batch still UPDATES its users' seeded rows through the DV path. */
  private[graft] def stagedUserRangedEventFiles(s: SparkSession,
                                         d: String): String =
    stagedRanged("stream_uev", d, "events.parquet", Tables.events(s, d),
      "user_id")

  /** st23/st24's shared write side: stage the events fixture as 4
    * range-split files (staleness-guarded), stream them through
    * [[graft.streaming.EventStreams.toVersionedLake]] (one txn-deduped
    * APPEND commit per micro-batch) into a fresh versioned lake, and
    * return the lake path. */
  private[graft] def stageVersionedEventsLake(s: SparkSession,
                                       d: String): String = {
    import graft.sources.VersionedLake
    val stage = stagedEventFiles(s, d)
    val lake = Scratch.path("stream_vsrc", d)
    VersionedLake.reset(s, lake)
    Scratch.withCheckpoint(drain(graft.streaming.EventStreams
      .toVersionedLake(fileBatches(s, stage), lake), _))
    lake
  }

  /** (count, order-insensitive XOR signature) of an events feed —
    * appends are disjoint, so the XOR of per-poll signatures IS the
    * table's signature (st23/st24's consumption identity). */
  private[graft] def lakeFeedSig(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(event_id, user_id))"),
        lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  /** The independent SCD2 full-rebuild derivation (min/groupBy runs —
    * not the engine's all-window form). Shared by q48 (direct) and q86
    * (the incremental merge must be indistinguishable from it). */
  private[graft] val scd2RebuildSql: String =
    """WITH marked AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderstatus,
      |    CASE WHEN lag(o_orderstatus) OVER w IS NULL
      |           OR lag(o_orderstatus) OVER w <> o_orderstatus
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey)),
      |versioned AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS version
      |  FROM marked),
      |runs AS (
      |  SELECT o_custkey, version, min(o_orderstatus) AS status,
      |         min(o_orderdate) AS from_ts,
      |         count(*) AS n_orders
      |  FROM versioned GROUP BY o_custkey, version)
      |SELECT o_custkey AS custkey, version, status,
      |  strftime(from_ts, '%Y-%m-%d') AS valid_from,
      |  strftime(lead(from_ts) OVER (PARTITION BY o_custkey
      |    ORDER BY version), '%Y-%m-%d') AS valid_to,
      |  CAST(n_orders AS BIGINT) AS n_orders
      |FROM runs""".stripMargin

}
