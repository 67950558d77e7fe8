package graft

import org.apache.spark.sql.functions._

import graft.sources.PartitionedLake

/** Partitioned-lake semantics: upsert replaces only its own partitions;
  * compaction reduces file count without changing data. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  test("dynamic upsert replaces only the written month") {
    val lake = java.nio.file.Files.createTempDirectory("lake_spec").toString
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    PartitionedLake.writeByMonth(li, "l_shipdate", lake)
    val before = spark.read.parquet(lake).count()
    val beforeMarch = spark.read.parquet(lake)
      .filter($"month" === "1998-03").count()
    val beforeMonths = spark.read.parquet(lake).select($"month").distinct().count()

    // rewrite one month with a single marker row
    val marker = li.limit(1)
      .withColumn("l_shipdate", lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00")))
    PartitionedLake.overwriteBuckets(
      marker.withColumn("month", date_format($"l_shipdate", "yyyy-MM")),
      "month", lake)

    val after = spark.read.parquet(lake)
    assert(after.filter($"month" === "1998-03").count() == 1,
      "upserted month fully replaced")
    assert(after.select($"month").distinct().count() == beforeMonths,
      "all other months survived")
    assert(after.count() == before - beforeMarch + 1,
      "total changed only by the replaced month")
  }

  test("partition predicate prunes at PLANNING time, not as a row filter") {
    // the 100 TB contract of a partitioned lake: a month predicate must
    // appear as a scan PartitionFilter (directories skipped before any
    // byte is read), never as a post-scan Filter over all partitions
    val lake = java.nio.file.Files.createTempDirectory("lake_prune").toString
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    PartitionedLake.writeByMonth(li, "l_shipdate", lake)
    val q = spark.read.parquet(lake).filter($"month" === "1998-03")
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("month")), p)
    // row counts agree with the unpartitioned source
    val expected = li.filter(date_format($"l_shipdate", "yyyy-MM") === "1998-03")
      .count()
    assert(q.count() == expected)
  }

  test("compactAll rewrites every partition to one file, same content") {
    val lake = java.nio.file.Files.createTempDirectory("lake_spec3").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"lang", $"n_chars")
    docs.repartition(6, $"doc_id")
      .write.mode("overwrite").partitionBy("lang").parquet(lake)
    val before = PartitionedLake.partitionFileCounts(spark, lake, "lang")
    assert(before.nonEmpty && before.values.exists(_ > 1), before.toString)
    val sigBefore = spark.read.parquet(lake)
      .agg(expr("bit_xor(xxhash64(doc_id, lang, n_chars))"), count(lit(1)))
      .collect().head

    PartitionedLake.compactAll(spark, lake, "lang")

    val after = PartitionedLake.partitionFileCounts(spark, lake, "lang")
    assert(after.keySet == before.keySet, "no partition value lost")
    assert(after.values.forall(_ == 1), after.toString)
    val sigAfter = spark.read.parquet(lake)
      .agg(expr("bit_xor(xxhash64(doc_id, lang, n_chars))"), count(lit(1)))
      .collect().head
    assert(sigBefore == sigAfter, "compaction is pure re-layout")
    // the temp staging dir must not survive
    assert(!new java.io.File(s"${lake}__compact_tmp").exists())
  }

  test("jsonl roundtrip is exact on newlines, quotes, unicode, nulls") {
    // the l01 sink/source pattern on adversarial content: JSON string
    // escaping must carry every byte back (a newline inside a field is
    // the classic silent corrupter of line-delimited corpora)
    val dir = java.nio.file.Files.createTempDirectory("jsonl_spec").toString
    val rows = Seq(
      (1L, "line one\nline two\ttabbed", "en"),
      (2L, "quotes \" and \\ backslash and emoji ☃ 😀", "zh"),
      (3L, null.asInstanceOf[String], "de"),
      (4L, "control  char and trailing space ", "es")
    ).toDF("doc_id", "text", "lang")
    rows.write.mode("overwrite").json(dir)
    val back = spark.read.schema(rows.schema).json(dir)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select($"doc_id", coalesce($"text", lit("<NULL>")), $"lang")
      .as[(Long, String, String)].collect().toSet
    assert(key(back) == key(rows))
    // and the registered query's contract holds on the real table
    val out = SparkEntry.queries("l01_jsonl_roundtrip")(spark, sf())
      .collect().head
    assert(out.getBoolean(1), "documents jsonl roundtrip_ok")
  }

  test("avro roundtrip is exact on newlines, quotes, unicode; parallel files") {
    // the l05 sink/source on adversarial content: Avro strings are
    // length-prefixed UTF-8 (no escaping layer to get wrong), so every
    // byte must come back; multiple partitions must land as multiple
    // container files and the read must union them all
    val dir = java.nio.file.Files.createTempDirectory("avro_spec").toString
    val rows = Seq(
      graft.sources.AvroLake.Doc(1L, "line one\nline two\ttabbed", "en", "web", 24L),
      graft.sources.AvroLake.Doc(2L, "quotes \" and \\ backslash ☃ 😀", "zh", "book", 29L),
      graft.sources.AvroLake.Doc(3L, "", "de", "web", 0L),
      graft.sources.AvroLake.Doc(4L, "trailing space ", "es", "wiki", 15L)
    ).toDF().repartition(3)
    graft.sources.AvroLake.write(rows, dir)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".avro")) >= 2, "one file per partition")
    val back = graft.sources.AvroLake.read(spark, dir)
    assert(back.collect().toSet ==
      rows.as[graft.sources.AvroLake.Doc].collect().toSet)
    // stale parts from a previous write must not survive an overwrite
    graft.sources.AvroLake.write(rows.limit(1).coalesce(1), dir)
    assert(graft.sources.AvroLake.read(spark, dir).count() == 1L)
    // and the registered query's contract holds on the real table
    val out = SparkEntry.queries("l05_avro_roundtrip")(spark, sf())
      .select("roundtrip_ok").distinct().collect()
    assert(out.length == 1 && out.head.getBoolean(0), "avro roundtrip_ok")
  }

  test("schema evolution: mergeSchema unions column sets, nulls backfill") {
    // the 100 TB lake reality: a column added in month N must not force
    // a rewrite of months 1..N-1 — old files stay, readers merge
    val lake = java.nio.file.Files.createTempDirectory("lake_evo").toString
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.parquet(s"$lake/batch=1")
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.parquet(s"$lake/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(lake)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "batch"))
    val rows = merged.select($"doc_id", $"lang")
      .as[(Long, Option[String])].collect().toMap
    assert(rows == Map(1L -> None, 2L -> Some("en")),
      "pre-evolution files read the new column as NULL")
  }

  test("versioned lake: upsert carries untouched partitions forward " +
      "and every version stays readable") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_tt").toString
    VersionedLake.reset(spark, lake)
    val v1data = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "x")
    assert(VersionedLake.commitOverwrite(v1data, "part", lake) == 1)
    // upsert replaces ONLY part b; part a carries forward by pointer
    val v2data = Seq((4L, "b", 99.0)).toDF("id", "part", "x")
    assert(VersionedLake.commitUpsert(v2data, "part", lake) == 2)
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    assert(ids(VersionedLake.readVersion(spark, lake, 1)) ==
      Set(1L, 2L, 3L))
    assert(ids(VersionedLake.readLatest(spark, lake)) == Set(1L, 2L, 4L))
    // manifest-level partition pruning on the versioned read
    assert(ids(VersionedLake.readVersion(spark, lake, 2, Seq("a"))) ==
      Set(1L, 2L))
    // the partition column survives as a data column
    assert(VersionedLake.readLatest(spark, lake).columns.toSet ==
      Set("id", "part", "x"))
  }

  test("versioned lake: a concurrent reader holding an old version " +
      "is immune to later commits") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_iso").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    // the reader plans against version 1 BEFORE the next commit...
    val reader = VersionedLake.readVersion(spark, lake, 1)
    // ...which replaces part b and adds part c
    VersionedLake.commitUpsert(
      Seq((9L, "b", 9.0), (5L, "c", 5.0)).toDF("id", "part", "x"),
      "part", lake)
    // executing the old plan AFTER the commit still sees version 1:
    // commits only ADD files, nothing it references was touched
    assert(reader.select($"id").as[Long].collect().toSet == Set(1L, 2L))
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 9L, 5L))
  }

  test("versioned lake: commitBatchUpsert is replay-idempotent " +
      "(same txn never forks history)") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_txn").toString
    VersionedLake.reset(spark, lake)
    val b0 = Seq((1L, "a", 1.0)).toDF("id", "part", "x")
    assert(VersionedLake.commitBatchUpsert(b0, "part", lake, txn = 0L) == 1)
    val b1 = Seq((2L, "b", 2.0)).toDF("id", "part", "x")
    assert(VersionedLake.commitBatchUpsert(b1, "part", lake, txn = 1L) == 2)
    // a checkpoint replay re-delivers batch 1: the commit must be a
    // no-op — same latest version, same content, no new manifest
    assert(VersionedLake.commitBatchUpsert(b1, "part", lake, txn = 1L) == 2)
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2))
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L))
    // a NEW txn still commits
    assert(VersionedLake.commitBatchUpsert(
      Seq((3L, "c", 3.0)).toDF("id", "part", "x"), "part", lake,
      txn = 2L) == 3)
  }

  test("versioned lake: commitMerge updates matched keys, inserts " +
      "unmatched, and never opens untouched partitions") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_mrg").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("id", "part", "x"),
      "part", lake)
    // delta touches ONLY part a: update id 1, insert id 9
    val delta = Seq((1L, "a", 100.0), (9L, "a", 9.0))
      .toDF("id", "part", "x")
    assert(VersionedLake.commitMerge(delta, Seq("id"), "part", lake) == 2)
    val got = VersionedLake.readLatest(spark, lake)
      .select($"id", $"x").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 100.0, 2L -> 2.0, 3L -> 3.0, 9L -> 9.0))
    // part b carried forward BY POINTER: v2's manifest references v1's
    // b files (nothing for b was rewritten), and v1 stays readable
    assert(VersionedLake.readVersion(spark, lake, 1)
      .select($"id", $"x").as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    assert(VersionedLake.readVersion(spark, lake, 2, Seq("b"))
      .select($"id").as[Long].collect().toSet == Set(3L))

    // a merge whose delta opens a BRAND-NEW partition inserts only
    assert(VersionedLake.commitMerge(
      Seq((7L, "c", 7.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake) == 3)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L, 9L, 7L))
  }

  test("versioned lake: MERGE evaluates its source once (rewrite and " +
      "deletion-vector forms)") {
    import graft.sources.VersionedLake
    // every evaluation of the source runs this filter once per row
    val evals = spark.sparkContext.longAccumulator("merge_source_rows")
    val seen = udf { (_: Long) => evals.add(1L); true }.asNondeterministic()
    // update id 1, insert id 9 (part a), update id 3 (part b); the
    // repartition keeps the filter a task-side stage
    def source = Seq((1L, "a", 100.0), (9L, "a", 900.0), (3L, "b", 300.0))
      .toDF("id", "part", "x").repartition(2).filter(seen($"id"))
    val merges = Seq[String => Int](
      VersionedLake.commitMerge(source, Seq("id"), "part", _),
      VersionedLake.commitMergeDv(source, Seq("id"), "part", _))
    for ((merge, i) <- merges.zipWithIndex) {
      val lake = java.nio.file.Files.createTempDirectory("lake_mrg1").toString
      VersionedLake.reset(spark, lake)
      VersionedLake.commitOverwrite(
        Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
          .toDF("id", "part", "x"),
        "part", lake)
      evals.reset()
      assert(merge(lake) == 2)
      assert(evals.value == 3L,
        s"merge form $i evaluated its 3-row source ${evals.value / 3.0} times")
      assert(VersionedLake.readLatest(spark, lake)
        .select($"id", $"x").as[(Long, Double)].collect().toMap ==
        Map(1L -> 100.0, 2L -> 2.0, 3L -> 300.0, 9L -> 900.0))
    }
  }

  test("versioned lake: partition values needing Hive path-escaping " +
      "round-trip through merge, parts filters, and the manifest") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_esc").toString
    VersionedLake.reset(spark, lake)
    val hot = "2024-01-01 00:00" // ':' and ' ' escape to %XX dir form
    VersionedLake.commitOverwrite(
      Seq((1L, hot, 1.0), (2L, "plain", 2.0)).toDF("id", "part", "x"),
      "part", lake, statsCol = Some("id"))
    assert(VersionedLake.manifestFiles(spark, lake, 1)
      .map(_.part).toSet == Set(hot, "plain"))
    // zone-map stats must land for the ESCAPED partition's file too:
    // input_file_name re-percent-encodes the escaped dir name in its
    // URI, and matching on the raw form silently dropped these stats
    // (r10 advice — conservative keep, but pruning lost)
    assert(VersionedLake.manifestFiles(spark, lake, 1)
      .forall(e => e.lo.isDefined && e.hi.isDefined))
    assert(VersionedLake.readVersion(spark, lake, 1, Seq(hot))
      .select($"id").as[Long].collect().toSet == Set(1L))
    // merge must SEE the existing escaped partition: update, not dup
    VersionedLake.commitMerge(
      Seq((1L, hot, 100.0)).toDF("id", "part", "x"), Seq("id"),
      "part", lake)
    val got = VersionedLake.readLatest(spark, lake)
      .select($"id", $"x").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 100.0, 2L -> 2.0), got.toString)
  }

  test("versioned lake: changesBetween keys presence on the row, not " +
      "the value column's nullness") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_nul").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", Option.empty[Double]), (2L, "a", Some(2.0)),
        (3L, "a", Some(3.0))).toDF("id", "part", "x"),
      "part", lake)
    // v2: NULL->5 (changed), 2.0->NULL (changed), 3.0 dropped (removed)
    VersionedLake.commitUpsert(
      Seq((1L, "a", Some(5.0)), (2L, "a", Option.empty[Double]))
        .toDF("id", "part", "x"),
      "part", lake)
    val got = VersionedLake
      .changesBetween(spark, lake, 1, 2, Seq("id"), "x")
      .as[(Long, String, Option[Double], Option[Double])]
      .collect().toSet
    assert(got == Set(
      (1L, "changed", None, Some(5.0)),
      (2L, "changed", Some(2.0), None),
      (3L, "removed", Some(3.0), None)), got.toString)
  }

  test("versioned lake: vacuum preserves dropped versions' txn ids, " +
      "and all-NULL stats columns commit stat-less") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_txv").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitBatchAppend(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake, txn = 0L)
    VersionedLake.commitBatchAppend(
      Seq((2L, "a", 2.0)).toDF("id", "part", "x"), "part", lake, txn = 1L)
    VersionedLake.vacuum(spark, lake, retain = 1)
    // the dropped version 1's txn must survive ON DISK (a txns-*.carry
    // sidecar — written fresh-name, so NO manifest is ever rewritten in
    // place: the r10 delete-then-rename window is structurally gone),
    // not just in this JVM's cache
    val carries = new java.io.File(s"$lake/_log").listFiles()
      .filter(f => f.getName.startsWith("txns-") &&
        f.getName.endsWith(".carry"))
    assert(carries.length == 1, carries.mkString(", "))
    val carried = scala.io.Source.fromFile(carries.head)
      .getLines().toSeq
    assert(carried.head == "carried" && carried.tail.contains("0"),
      carried.toString)
    // and the retained manifest was NOT touched: still its own header
    val header = scala.io.Source.fromFile(
      s"$lake/_log/000002.manifest").getLines().next()
    assert(header.contains("txn=1") && !header.contains("txns="), header)
    // a replay of the vacuumed batch is still a no-op
    assert(VersionedLake.commitBatchAppend(
      Seq((9L, "a", 9.0)).toDF("id", "part", "x"), "part", lake,
      txn = 0L) == 2)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L))

    // all-NULL stats column: commit succeeds, entry just has no zone
    VersionedLake.commitAppend(
      Seq((5L, "a", Option.empty[Double])).toDF("id", "part", "x")
        .withColumn("k", lit(null).cast("long")),
      "part", lake, statsCol = Some("k"))
    val last = VersionedLake
      .manifestFiles(spark, lake, VersionedLake.latestVersion(spark, lake))
    assert(last.exists(e => e.lo.isEmpty && e.hi.isEmpty))
  }

  test("versioned lake: commitOptimize compacts fragmented partitions " +
      "as a commit; pinned readers and compact partitions untouched") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_opt").toString
    VersionedLake.reset(spark, lake)
    def one(rows: Seq[(Long, String, Double)]) =
      rows.toDF("id", "part", "x").coalesce(1)
    VersionedLake.commitOverwrite(one(Seq((1L, "a", 1.0))), "part", lake)
    VersionedLake.commitAppend(one(Seq((2L, "b", 2.0))), "part", lake)
    VersionedLake.commitAppend(one(Seq((3L, "b", 3.0))), "part", lake)
    val m3 = VersionedLake.manifestFiles(spark, lake, 3)
    assert(m3.count(_.part == "b") == 2 && m3.count(_.part == "a") == 1)
    val aFile = m3.find(_.part == "a").get.rel

    val v4 = VersionedLake.commitOptimize(spark, lake, "part",
      statsCol = Some("id"))
    assert(v4 == 4)
    val m4 = VersionedLake.manifestFiles(spark, lake, 4)
    // b compacted to ONE file with fresh stats; a carried by POINTER
    assert(m4.count(_.part == "b") == 1)
    val b4 = m4.find(_.part == "b").get
    assert((b4.lo, b4.hi) == ((Some(2L), Some(3L))))
    assert(m4.find(_.part == "a").get.rel == aFile)
    // pure re-layout: content unchanged, pre-optimize version intact
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(VersionedLake.readVersion(spark, lake, 3)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // idempotent: nothing fragmented -> same version back, no commit
    assert(VersionedLake.commitOptimize(spark, lake, "part") == 4)
    // vacuum then reclaims the fragments the optimize superseded
    val (_, deleted) = VersionedLake.vacuum(spark, lake, retain = 1)
    assert(deleted >= 2, s"deleted $deleted")
    assert(VersionedLake.unreferencedDataFiles(spark, lake).isEmpty)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 2L, 3L))
  }

  test("versioned lake: changesBetween classifies added/removed/" +
      "changed from the manifest diff") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_cdf").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("id", "part", "x"),
      "part", lake)
    // v2 replaces part a: id 1 updated, id 2 dropped, id 9 added;
    // part b untouched (identical file pointers -> never read)
    VersionedLake.commitUpsert(
      Seq((1L, "a", 100.0), (9L, "a", 9.0)).toDF("id", "part", "x"),
      "part", lake)
    val got = VersionedLake
      .changesBetween(spark, lake, 1, 2, Seq("id"), "x")
      .as[(Long, String, Option[Double], Option[Double])]
      .collect().toSet
    assert(got == Set(
      (1L, "changed", Some(1.0), Some(100.0)),
      (2L, "removed", Some(2.0), None),
      (9L, "added", None, Some(9.0))), got.toString)
    // an APPEND commit feeds only adds (old rows join as unchanged)
    VersionedLake.commitAppend(
      Seq((7L, "b", 7.0)).toDF("id", "part", "x"), "part", lake)
    val adds = VersionedLake
      .changesBetween(spark, lake, 2, 3, Seq("id"), "x")
      .as[(Long, String, Option[Double], Option[Double])]
      .collect().toSet
    assert(adds == Set((7L, "added", None, Some(7.0))), adds.toString)
    // zero churned partitions -> an empty feed, not an error
    assert(VersionedLake
      .changesBetween(spark, lake, 3, 3, Seq("id"), "x").count() == 0)
  }

  test("versioned lake: manifest zone-map stats prune versioned range " +
      "reads; stats carry forward; stat-less files are kept") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_zm").toString
    VersionedLake.reset(spark, lake)
    def frame(ids: Range) =
      ids.map(i => (i.toLong, "a", i * 1.0)).toDF("id", "part", "x")
        .coalesce(1) // one file -> one manifest stats row, deterministic
    VersionedLake.commitOverwrite(frame(1 to 10), "part", lake,
      statsCol = Some("id"))
    VersionedLake.commitAppend(frame(100 to 110), "part", lake,
      statsCol = Some("id"))
    // v2 carries v1's file forward WITH its stats
    val m2 = VersionedLake.manifestFiles(spark, lake, 2)
    assert(m2.size == 2 && m2.forall(e => e.lo.isDefined && e.hi.isDefined),
      m2.toString)
    assert(m2.map(e => (e.lo.get, e.hi.get)).toSet ==
      Set((1L, 10L), (100L, 110L)))
    // the pruned read opens ONLY the intersecting file
    val (r1, m, t) = VersionedLake.readVersionRange(spark, lake, 2, 1L, 10L)
    assert((m, t) == ((1L, 2L)))
    assert(r1.select($"id").as[Long].collect().toSet == (1L to 10L).toSet)
    // a commit WITHOUT stats is conservatively kept by every range read
    VersionedLake.commitAppend(frame(200 to 210), "part", lake)
    val (r2, m2n, t2) =
      VersionedLake.readVersionRange(spark, lake, 3, 1L, 10L)
    assert((m2n, t2) == ((2L, 3L)), s"$m2n of $t2")
    assert(r2.filter($"id" <= 10).select($"id").as[Long].collect().toSet ==
      (1L to 10L).toSet)
    // the OLD version prunes with its OWN manifest: v1 never saw the
    // 100-110 file, so that range prunes to NOTHING — the correct
    // answer is an empty frame with the version's schema (matched=0),
    // not an exception (r10 advice: out-of-range is a valid query)
    val (r0, m0, t0) =
      VersionedLake.readVersionRange(spark, lake, 1, 100L, 110L)
    assert((m0, t0) == ((0L, 1L)))
    assert(r0.count() == 0)
    assert(r0.columns.toSet == Set("id", "part", "x"))
  }

  test("versioned lake: vacuum deletes only files no retained " +
      "manifest references, and vacuumed versions fail loudly") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_vac").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    VersionedLake.commitUpsert( // v2 replaces part b
      Seq((9L, "b", 9.0)).toDF("id", "part", "x"), "part", lake)
    VersionedLake.commitUpsert( // v3 replaces part a
      Seq((8L, "a", 8.0)).toDF("id", "part", "x"), "part", lake)

    val (dropped, deleted) = VersionedLake.vacuum(spark, lake, retain = 2)
    assert(dropped == 1, s"dropped $dropped")
    // v1's part-b files were replaced in v2 AND v1's manifest is gone,
    // so they are the only unreferenced files... but v1's part-a files
    // are STILL referenced by v2's carry-forward pointer — they must
    // survive for v2 to stay readable
    assert(deleted > 0, "commit 1's replaced part-b files should go")
    assert(VersionedLake.unreferencedDataFiles(spark, lake).isEmpty)
    assert(VersionedLake.versions(spark, lake) == Seq(2, 3))
    assert(VersionedLake.readVersion(spark, lake, 2)
      .select($"id").as[Long].collect().toSet == Set(1L, 9L))
    assert(VersionedLake.readVersion(spark, lake, 3)
      .select($"id").as[Long].collect().toSet == Set(8L, 9L))
    intercept[IllegalArgumentException] {
      VersionedLake.readVersion(spark, lake, 1)
    }
    // vacuum is re-runnable (crash-recovery: phase 2 resumable)
    assert(VersionedLake.vacuum(spark, lake, retain = 2) == ((0, 0)))
  }

  test("versioned lake OCC: a writer pinned to a stale base REBASES " +
      "when partitions are disjoint, aborts loudly on overlap") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_occ").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "part", "x"),
      "part", lake)
    // writer A prepares an upsert of part c AGAINST VERSION 1...
    val aDelta = Seq((9L, "c", 9.0)).toDF("id", "part", "x")
    // ...writer B wins the race with an upsert of part b
    VersionedLake.commitUpsert(
      Seq((8L, "b", 8.0)).toDF("id", "part", "x"), "part", lake)
    // A's partitions are DISJOINT from B's -> A rebases onto v2 as v3
    assert(VersionedLake.commitUpsertFrom(aDelta, "part", lake,
      readVersion = 1) == 3)
    // the rebased commit sees B's work AND carries A's: no lost update
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 8L, 9L))

    // writer C prepared against v1 and touches part b — B (v2) already
    // replaced b, so C MUST abort: committing would silently drop B's
    // row 8 (the lost-update anomaly OCC exists to prevent)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitUpsertFrom(
        Seq((7L, "b", 7.0)).toDF("id", "part", "x"), "part", lake,
        readVersion = 1)
    }
    // an aborted attempt leaves only orphan staging files — vacuum
    // reclaims them and every committed version stays intact
    assert(VersionedLake.unreferencedDataFiles(spark, lake).nonEmpty)
    VersionedLake.vacuum(spark, lake, retain = 3)
    assert(VersionedLake.unreferencedDataFiles(spark, lake).isEmpty)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 8L, 9L))

    // appends NEVER conflict: a stale-pinned append rebases even onto
    // a head that touched the same partition
    assert(VersionedLake.commitAppendFrom(
      Seq((6L, "b", 6.0)).toDF("id", "part", "x"), "part", lake,
      readVersion = 1) == 4)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 8L, 9L, 6L))

    // a stale OVERWRITE conflicts with everything: committing it
    // would erase every row the winners added
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitOverwriteFrom(
        Seq((5L, "z", 5.0)).toDF("id", "part", "x"), "part", lake,
        readVersion = 1)
    }
  }

  test("versioned lake: commitMerge deleteCol removes matched keys, " +
      "and a delete that empties a partition drops the partition") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_del").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("id", "part", "x"),
      "part", lake)
    // one delta, all three verbs: update id 1, insert id 9, delete id 2
    val delta = Seq((1L, "a", 100.0, false), (9L, "a", 9.0, false),
        (2L, "a", 0.0, true))
      .toDF("id", "part", "x", "is_delete")
    assert(VersionedLake.commitMerge(delta, Seq("id"), "part", lake,
      deleteCol = Some("is_delete")) == 2)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id", $"x").as[(Long, Double)].collect().toMap ==
      Map(1L -> 100.0, 9L -> 9.0, 3L -> 3.0))
    // v1 unharmed (append-only layout)
    assert(VersionedLake.readVersion(spark, lake, 1).count() == 3)

    // deleting EVERY row of part b must drop b from the manifest —
    // the forceReplaced path: no fresh files for b, but b must not
    // carry forward by pointer either
    VersionedLake.commitMerge(
      Seq((3L, "b", 0.0, true)).toDF("id", "part", "x", "is_delete"),
      Seq("id"), "part", lake, deleteCol = Some("is_delete"))
    assert(VersionedLake.manifestFiles(spark, lake, 3)
      .map(_.part).toSet == Set("a"))
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 9L))
  }

  test("versioned lake: manifests record the commit schema; old " +
      "versions read under the latest schema with NULL back-fill") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_sch").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake)
    // v2 evolves the schema: adds `lang`
    VersionedLake.commitUpsert(
      Seq((2L, "b", 2.0, "en")).toDF("id", "part", "x", "lang"),
      "part", lake)
    assert(VersionedLake.readSchema(spark, lake, 1).get.fieldNames
      .toSeq == Seq("id", "part", "x"))
    assert(VersionedLake.readSchema(spark, lake, 2).get.fieldNames
      .toSeq == Seq("id", "part", "x", "lang"))
    // the evolved read: v1 surfaces the later-added column as NULL
    val v1e = VersionedLake.readVersionEvolved(spark, lake, 1)
    assert(v1e.columns.toSeq == Seq("id", "part", "x", "lang"))
    assert(v1e.select($"id", $"lang")
      .as[(Long, Option[String])].collect().toSeq == Seq((1L, None)))
    // the latest version reads itself unchanged through the same API
    assert(VersionedLake.readVersionEvolved(spark, lake, 2)
      .where($"id" === 2L).select($"lang").as[String].head() == "en")
  }

  test("versioned lake: readAsOf resolves a timestamp to the last " +
      "version committed at or before it") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_ts").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake,
      commitTs = Some(100L))
    VersionedLake.commitUpsert(
      Seq((2L, "a", 2.0)).toDF("id", "part", "x"), "part", lake,
      commitTs = Some(200L))
    VersionedLake.commitAppend(
      Seq((3L, "b", 3.0)).toDF("id", "part", "x"), "part", lake,
      commitTs = Some(300L))
    def idsAt(ts: Long) = VersionedLake.readAsOf(spark, lake, ts)
      .select($"id").as[Long].collect().toSet
    assert(VersionedLake.versionAsOf(spark, lake, 200L) == 2) // exact hit
    assert(idsAt(200L) == Set(2L))
    assert(VersionedLake.versionAsOf(spark, lake, 250L) == 2) // between
    assert(VersionedLake.versionAsOf(spark, lake, 9999L) == 3) // after last
    assert(idsAt(9999L) == Set(2L, 3L))
    // before the first stamped commit: no table existed — loud
    intercept[IllegalArgumentException] {
      VersionedLake.versionAsOf(spark, lake, 99L)
    }
  }

  test("versioned lake: OPTIMIZE ZORDER BY re-clusters fragments into " +
      "range files with tighter per-file spans") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_zo").toString
    VersionedLake.reset(spark, lake)
    // 4 interleaved appends: every fragment spans the WHOLE id domain
    // (ids i, i+4, i+8, ... — the worst layout for range pruning)
    VersionedLake.commitOverwrite(
      (0 until 100 by 4).map(i => (i.toLong, "a", i.toLong))
        .toDF("id", "part", "y").coalesce(1),
      "part", lake, statsCol = Some("id"))
    (1 to 3).foreach { r =>
      VersionedLake.commitAppend(
        (r until 100 by 4).map(i => (i.toLong, "a", i.toLong))
          .toDF("id", "part", "y").coalesce(1),
        "part", lake, statsCol = Some("id"))
    }
    val before = VersionedLake.manifestFiles(spark, lake, 4)
    assert(before.size == 4)
    val spanBefore = before.map(e => e.hi.get - e.lo.get).max
    // a narrow range read must open EVERY file in this layout
    val (_, mB, tB) = VersionedLake.readVersionRange(spark, lake, 4, 10L, 15L)
    assert((mB, tB) == ((4L, 4L)))

    val v5 = VersionedLake.commitOptimize(spark, lake, "part",
      statsCol = Some("id"), zorderBy = Seq("id"),
      targetFilesPerPart = 4)
    assert(v5 == 5)
    val after = VersionedLake.manifestFiles(spark, lake, 5)
    assert(after.size == 4)
    val spanAfter = after.map(e => e.hi.get - e.lo.get).max
    assert(spanAfter < spanBefore / 2,
      s"spans must tighten: $spanBefore -> $spanAfter")
    // the same range read now skips most files
    val (r5, mA, tA) = VersionedLake.readVersionRange(spark, lake, 5, 10L, 15L)
    assert(tA == 4L && mA < 4L, s"matched $mA of $tA")
    // pure re-layout: content unchanged
    assert(r5.filter($"id".between(10, 15)).select($"id")
      .as[Long].collect().toSet == (10L to 15L).toSet)
    assert(VersionedLake.readVersion(spark, lake, 5)
      .select($"id").as[Long].collect().toSet == (0L until 100L).toSet)

    // the 2-D Morton form accepts two keys and stays content-equal
    val v6 = VersionedLake.commitOptimize(spark, lake, "part",
      statsCol = Some("id"), zorderBy = Seq("id", "y"),
      targetFilesPerPart = 2)
    assert(v6 == 6)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == (0L until 100L).toSet)
  }

  test("versioned lake OCC: genuinely CONCURRENT writers on disjoint " +
      "partitions all land, sequential versions, no lost update") {
    import graft.sources.VersionedLake
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val lake = java.nio.file.Files.createTempDirectory("lake_race").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0 until 8).map(i => (i.toLong, s"p$i", 0.0)).toDF("id", "part", "x"),
      "part", lake)
    // 8 writers race from the SAME base version, each upserting its
    // own partition: every one must either claim a fresh version or
    // rebase through the claim loop — none may clobber another
    val futures = (0 until 8).map { i =>
      Future {
        VersionedLake.commitUpsertFrom(
          Seq((100L + i, s"p$i", 1.0)).toDF("id", "part", "x"),
          "part", lake, readVersion = 1)
      }
    }
    val got = Await.result(Future.sequence(futures), 5.minutes).sorted
    assert(got == (2 to 9).toSeq, s"claimed versions: $got")
    // no lost update: every writer's row is in the final table (each
    // upsert REPLACED its own partition's seed row — that's the verb)
    val ids = VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet
    assert(ids == (100L until 108L).toSet, ids.toString)
    assert(VersionedLake.unreferencedDataFiles(spark, lake).isEmpty,
      "every staged attempt committed — no orphans")
  }

  test("versioned lake: RESTORE commits an old file list forward — " +
      "content rolls back, history never rewinds") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_rst").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    VersionedLake.commitUpsert( // the "bad" commit
      Seq((9L, "b", 9.0)).toDF("id", "part", "x"), "part", lake)
    assert(VersionedLake.commitRestore(spark, lake, 1) == 3)
    def ids(v: Int) = VersionedLake.readVersion(spark, lake, v)
      .select($"id").as[Long].collect().toSet
    assert(ids(3) == Set(1L, 2L), "latest content == version 1")
    assert(ids(2) == Set(1L, 9L), "the bad version stays auditable")
    assert(VersionedLake.versions(spark, lake) == Seq(1, 2, 3))
    // zero-copy: the restore added no data files
    assert(VersionedLake.manifestFiles(spark, lake, 3).map(_.rel).toSet ==
      VersionedLake.manifestFiles(spark, lake, 1).map(_.rel).toSet)
    // restoring a vacuumed version fails loudly
    VersionedLake.vacuum(spark, lake, retain = 1)
    intercept[IllegalArgumentException] {
      VersionedLake.commitRestore(spark, lake, 2)
    }
  }

  test("versioned lake: shallow clone reads the source version " +
      "zero-copy and branches independently; deep clone survives " +
      "source vacuum") {
    import graft.sources.VersionedLake
    val src = java.nio.file.Files.createTempDirectory("lake_csrc").toString
    val sh = java.nio.file.Files.createTempDirectory("lake_csh").toString
    val dp = java.nio.file.Files.createTempDirectory("lake_cdp").toString
    Seq(src, sh, dp).foreach(VersionedLake.reset(spark, _))
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", src)
    VersionedLake.commitUpsert(
      Seq((9L, "b", 9.0)).toDF("id", "part", "x"), "part", src)
    assert(VersionedLake.shallowClone(spark, src, sh, v = 2) == 1)
    assert(VersionedLake.shallowClone(spark, src, dp, v = 2,
      deep = true) == 1)
    def ids(path: String) = VersionedLake.readLatest(spark, path)
      .select($"id").as[Long].collect().toSet
    assert(ids(sh) == Set(1L, 9L) && ids(dp) == Set(1L, 9L))
    // the clone is an independent BRANCH: commits land under its own
    // path, the source never sees them
    VersionedLake.commitUpsert(
      Seq((7L, "a", 7.0)).toDF("id", "part", "x"), "part", sh)
    assert(ids(sh) == Set(7L, 9L))
    assert(ids(src) == Set(1L, 9L), "source untouched by clone commits")
    // clone-local vacuum never deletes borrowed source files
    VersionedLake.vacuum(spark, sh, retain = 1)
    assert(ids(src) == Set(1L, 9L))
    // source vacuum to the CLONED version keeps both clones readable
    // (shallow borrows live files; deep owns copies)
    VersionedLake.vacuum(spark, src, retain = 1)
    assert(ids(sh) == Set(7L, 9L))
    assert(ids(dp) == Set(1L, 9L))
    // a clone target must be a fresh lake
    intercept[IllegalArgumentException] {
      VersionedLake.shallowClone(spark, src, sh, v = 2)
    }
  }

  test("versioned lake: appendsBetween feeds only ADDED files, and " +
      "fails loudly across a rewrite") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_app").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitAppend(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake)
    VersionedLake.commitAppend(
      Seq((2L, "a", 2.0)).toDF("id", "part", "x"), "part", lake)
    VersionedLake.commitAppend(
      Seq((3L, "b", 3.0)).toDF("id", "part", "x"), "part", lake)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    // the streaming-source cursor: (1, 3] reads ONLY commits 2-3's rows
    assert(ids(VersionedLake.appendsBetween(spark, lake, 1, 3)) ==
      Set(2L, 3L))
    assert(ids(VersionedLake.appendsBetween(spark, lake, 0, 1)) ==
      Set(1L))
    // nothing appended -> empty typed frame, not an error
    val none = VersionedLake.appendsBetween(spark, lake, 3, 3)
    assert(none.count() == 0 &&
      none.columns.toSet == Set("id", "part", "x"))
    // an upsert REPLACES files: the append-only reader must refuse
    VersionedLake.commitUpsert(
      Seq((9L, "a", 9.0)).toDF("id", "part", "x"), "part", lake)
    intercept[IllegalArgumentException] {
      VersionedLake.appendsBetween(spark, lake, 3, 4)
    }
  }

  test("versioned lake: every append-feed read refuses a range in " +
      "which a file was appended and then replaced") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_app2").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitAppend(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake)
    VersionedLake.commitAppend(
      Seq((2L, "b", 2.0)).toDF("id", "part", "x"), "part", lake)
    // v3 upserts part b: v2's file is replaced inside (1, 3]
    VersionedLake.commitUpsert(
      Seq((3L, "b", 3.0)).toDF("id", "part", "x"), "part", lake)
    assert(VersionedLake.appendsBetween(spark, lake, 1, 2)
      .select($"id").as[Long].collect().toSet == Set(2L))
    val refusals = Seq(
      "appendsBetween" -> (() =>
        VersionedLake.appendsBetween(spark, lake, 1, 3)),
      "pollAppends" -> (() =>
        VersionedLake.pollAppends(spark, lake, (1, 0), 100)._1),
      "appendsSlice" -> (() =>
        VersionedLake.appendsSlice(spark, lake, (1, 0), (3, 0))))
    for ((name, read) <- refusals) {
      val ex = intercept[IllegalArgumentException](read())
      assert(ex.getMessage.contains("not append-only"), s"$name: $ex")
    }
  }

  test("versioned lake OCC covers the MERGE and OPTIMIZE verbs: a " +
      "commit racing in on a touched partition aborts them, a " +
      "disjoint one rebases with no lost row") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_mocc").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
        .toDF("id", "part", "x"),
      "part", lake)
    // a concurrent upsert lands on part b AFTER the merge below read
    // its base (simulated by pinning the merge at version 1)
    VersionedLake.commitUpsert(
      Seq((8L, "b", 8.0)).toDF("id", "part", "x"), "part", lake)
    // merge touching part b, computed against v1: MUST abort — its
    // merged frame was built from b's pre-upsert contents, committing
    // it would silently drop row 8 (the r11 lost-update window)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitMerge(
        Seq((7L, "b", 7.0)).toDF("id", "part", "x"), Seq("id"),
        "part", lake, fromVersion = Some(1))
    }
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 8L, 3L))
    // merge touching only part c, computed against v1: DISJOINT from
    // the intervening upsert -> rebases onto v2, both writers' rows land
    assert(VersionedLake.commitMerge(
      Seq((9L, "c", 9.0)).toDF("id", "part", "x"), Seq("id"),
      "part", lake, fromVersion = Some(1)) == 3)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 8L, 9L, 3L))

    // OPTIMIZE has the same pin: fragment part a (two appends), then
    // race a commit on part a past an optimize pinned before it
    VersionedLake.commitAppend(
      Seq((11L, "a", 1.0)).toDF("id", "part", "x"), "part", lake)
    val v4 = VersionedLake.latestVersion(spark, lake)
    VersionedLake.commitUpsert(
      Seq((12L, "a", 12.0)).toDF("id", "part", "x"), "part", lake)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitOptimize(spark, lake, "part",
        fromVersion = Some(v4))
    }
    assert(VersionedLake.readLatest(spark, lake)
      .filter($"part" === "a").select($"id").as[Long].collect().toSet ==
      Set(12L), "the racing upsert's content survives the aborted optimize")
  }

  test("DV-based MERGE: one commit writes DV + delta bytes only, every " +
      "base file carries forward by pointer, reads equal the rewrite " +
      "form, OPTIMIZE materializes, OCC and contract refusals hold") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_mdv").toString
    val twin = java.nio.file.Files.createTempDirectory("lake_mdvt").toString
    val seed = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0),
      (5L, "c", 5.0)).toDF("id", "part", "x")
    for (l <- Seq(lake, twin)) {
      VersionedLake.reset(spark, l)
      VersionedLake.commitOverwrite(seed, "part", l)
    }
    val delta = Seq(
      (2L, "a", 20.0, false), // update
      (3L, "b", 0.0, true), // tombstone
      (9L, "c", 9.0, false) // insert
    ).toDF("id", "part", "x", "del")
    val v2 = VersionedLake.commitMergeDv(delta, Seq("id"), "part", lake,
      deleteCol = Some("del"))
    VersionedLake.commitMerge(delta, Seq("id"), "part", twin,
      deleteCol = Some("del"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"x").as[(Long, Double)].collect().toSet
    val want =
      Set((1L, 1.0), (2L, 20.0), (4L, 4.0), (5L, 5.0), (9L, 9.0))
    assert(rows(VersionedLake.readLatest(spark, lake)) == want,
      "DV merge must be read-indistinguishable from the rewrite merge")
    assert(rows(VersionedLake.readLatest(spark, twin)) == want)
    assert(rows(VersionedLake.readVersion(spark, lake, 1)) ==
      Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0), (5L, 5.0)),
      "time travel to the pre-merge version is unaffected")
    // write economy: every base data file survives BY POINTER, and
    // the new bytes are changed-rows-sized — 2 upsert rows in fresh
    // data files, 2 dead positions in DV sidecars
    def rels(v: Int, kind: String) = VersionedLake
      .manifestFiles(spark, lake, v).filter(_.kind == kind).map(_.rel).toSet
    val (d1, d2) = (rels(1, "data"), rels(v2, "data"))
    assert(d1.subsetOf(d2), "no base data file may be rewritten")
    assert(rels(1, "dv").isEmpty && rels(v2, "dv").nonEmpty)
    val freshData = d2 -- d1
    assert(VersionedLake.readFiles(spark, lake, v2, freshData)
      .count() == 2, "fresh data = exactly the delta's upsert rows")
    assert(spark.read.parquet(
      rels(v2, "dv").toSeq.map(r => s"$lake/$r"): _*).count() == 2,
      "one DV row per matched stored row")
    // OPTIMIZE materializes the fold and retires the sidecars
    val v3 = VersionedLake.commitOptimize(spark, lake, "part")
    assert(rels(v3, "dv").isEmpty, "PURGE: no DV survives an optimize")
    assert(rows(VersionedLake.readLatest(spark, lake)) == want)
    // OCC: a commit racing onto a touched partition aborts a pinned
    // DV-merge (its DVs reference the pin's file positions); a
    // disjoint one rebases and both writers' rows land
    VersionedLake.commitUpsert(
      Seq((30L, "b", 30.0)).toDF("id", "part", "x"), "part", lake)
    val v4 = VersionedLake.latestVersion(spark, lake)
    VersionedLake.commitUpsert(
      Seq((40L, "a", 40.0)).toDF("id", "part", "x"), "part", lake)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitMergeDv(
        Seq((41L, "a", 41.0)).toDF("id", "part", "x"),
        Seq("id"), "part", lake, fromVersion = Some(v4))
    }
    assert(VersionedLake.commitMergeDv(
      Seq((31L, "b", 31.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake, fromVersion = Some(v4)) == v4 + 2,
      "disjoint DV-merge rebases past the interleaved upsert")
    assert(rows(VersionedLake.readLatest(spark, lake)
      .filter($"part" === "b")) == Set((30L, 30.0), (31L, 31.0)))
    assert(rows(VersionedLake.readLatest(spark, lake)
      .filter($"part" === "a")) == Set((40L, 40.0)),
      "the racing upsert's content survives the aborted DV-merge")
    // the exactly-once streaming form: a replayed txn mints nothing
    val vv = VersionedLake.latestVersion(spark, lake)
    assert(VersionedLake.commitBatchMergeDv(
      Seq((50L, "c", 50.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake, txn = 777L) == vv + 1)
    assert(VersionedLake.commitBatchMergeDv(
      Seq((51L, "c", 51.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake, txn = 777L) == vv + 1,
      "replayed DV-merge txn must be skipped at the commit")
    assert(rows(VersionedLake.readLatest(spark, lake)
      .filter($"id" === 51L)).isEmpty)
    // contract refusals: schema evolution and duplicate delta keys
    // stay loud (evolution takes the rewrite path)
    intercept[IllegalArgumentException] {
      VersionedLake.commitMergeDv(
        Seq((1L, "a", 1.0, "s")).toDF("id", "part", "x", "extra"),
        Seq("id"), "part", lake)
    }
    intercept[IllegalArgumentException] {
      VersionedLake.commitMergeDv(
        Seq((7L, "a", 1.0), (7L, "a", 2.0)).toDF("id", "part", "x"),
        Seq("id"), "part", lake)
    }
  }

  test("versioned lake OCC: CONCURRENT mixed verbs (upserts + merges) " +
      "on disjoint partitions all land, no lost update") {
    import graft.sources.VersionedLake
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val lake = java.nio.file.Files.createTempDirectory("lake_mrace").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0 until 8).map(i => (i.toLong, s"p$i", 0.0)).toDF("id", "part", "x"),
      "part", lake)
    // 4 upserts + 4 merges race from the same base, each on its own
    // partition: every verb must claim a fresh version or rebase —
    // the r11 window would have let a merge erase an upsert
    val futures = (0 until 8).map { i =>
      Future {
        if (i % 2 == 0)
          VersionedLake.commitUpsertFrom(
            Seq((100L + i, s"p$i", 1.0)).toDF("id", "part", "x"),
            "part", lake, readVersion = 1)
        else
          VersionedLake.commitMerge(
            Seq((100L + i, s"p$i", 1.0)).toDF("id", "part", "x"),
            Seq("id"), "part", lake)
      }
    }
    val got = Await.result(Future.sequence(futures), 5.minutes).sorted
    assert(got == (2 to 9).toSeq, s"claimed versions: $got")
    val byPart = VersionedLake.readLatest(spark, lake)
      .select($"part", $"id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0 until 8).foreach { i =>
      val want =
        if (i % 2 == 0) Set(100L + i) // upsert replaced the seed
        else Set(i.toLong, 100L + i) // merge inserted next to it
      assert(byPart(s"p$i") == want, s"p$i: ${byPart(s"p$i")}")
    }
  }

  test("versioned lake DELETION VECTORS: a takedown writes only DV " +
      "bytes, readers fold, pinned readers are immune, OPTIMIZE " +
      "retires the DVs, vacuum reclaims them") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_dv").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0L until 20L).map(i => (i, s"p${i % 2}", i * 10.0))
        .toDF("id", "part", "x"),
      "part", lake)
    val dataRelsV1 = VersionedLake.manifestFiles(spark, lake, 1)
      .map(_.rel).toSet
    // delete ids 4,5,6 (lands in both partitions)
    VersionedLake.commitDelete(
      Seq((4L, "p0"), (5L, "p1"), (6L, "p0")).toDF("id", "part"),
      Seq("id"), "part", lake)
    val v2 = VersionedLake.manifestFiles(spark, lake, 2)
    // NO data file was rewritten: v2 carries v1's data files by
    // pointer and only ADDS dv sidecars
    assert(v2.filter(_.kind == "data").map(_.rel).toSet == dataRelsV1)
    assert(v2.exists(_.kind == "dv"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      (0L until 20L).toSet -- Set(4L, 5L, 6L))
    // a reader pinned to the pre-delete version still sees the rows
    assert(ids(VersionedLake.readVersion(spark, lake, 1)) ==
      (0L until 20L).toSet)
    // partition-pruned read folds only that partition's DVs
    assert(ids(VersionedLake.readVersion(spark, lake, 2, Seq("p0"))) ==
      (0L until 20L by 2).toSet -- Set(4L, 6L))
    // the change feed reports the DV removals (and nothing else)
    val cf = VersionedLake.changesBetween(spark, lake, 1, 2,
      Seq("id"), "x").collect()
    assert(cf.map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((4L, "removed"), (5L, "removed"), (6L, "removed")))
    // the append-only cursor refuses a DV commit loudly
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.appendsBetween(spark, lake, 1, 2)
    }
    assert(ex.getMessage.contains("deletion-vector"))
    // POSITIONAL semantics: re-inserting a deleted id via append
    // lands in a NEW file the old DV cannot touch
    VersionedLake.commitAppend(
      Seq((5L, "p1", 999.0)).toDF("id", "part", "x"), "part", lake)
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      (0L until 20L).toSet -- Set(4L, 6L))
    // deleting again marks the NEW position too; already-dead rows
    // are folded first so DV rows never duplicate
    VersionedLake.commitDelete(
      Seq((5L, "p1"), (4L, "p0")).toDF("id", "part"),
      Seq("id"), "part", lake)
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      (0L until 20L).toSet -- Set(4L, 5L, 6L))
    // OPTIMIZE materializes the fold and RETIRES the dv entries
    val vOpt = VersionedLake.commitOptimize(spark, lake, "part")
    val optEntries = VersionedLake.manifestFiles(spark, lake, vOpt)
    assert(!optEntries.exists(_.kind == "dv"), "DVs folded away")
    assert(ids(VersionedLake.readVersion(spark, lake, vOpt)) ==
      (0L until 20L).toSet -- Set(4L, 5L, 6L))
    // vacuum reclaims the retired DV sidecars and replaced data files
    val (_, deleted) = VersionedLake.vacuum(spark, lake, retain = 1)
    assert(deleted > 0)
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      (0L until 20L).toSet -- Set(4L, 5L, 6L))
  }

  test("versioned lake DELETION VECTORS: OCC — a commit racing into a " +
      "touched partition aborts the delete; deep clone preserves DV " +
      "references") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_dvo").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    // part a is rewritten after the delete's pin: the DV would
    // reference dropped files -> abort, never a vanished delete
    VersionedLake.commitUpsert(
      Seq((9L, "a", 9.0)).toDF("id", "part", "x"), "part", lake)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitDelete(
        Seq((1L, "a")).toDF("id", "part"), Seq("id"), "part", lake,
        fromVersion = Some(1))
    }
    // disjoint partition: rebases fine
    assert(VersionedLake.commitDelete(
      Seq((2L, "b")).toDF("id", "part"), Seq("id"), "part", lake,
      fromVersion = Some(1)) == 3)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    assert(ids(VersionedLake.readLatest(spark, lake)) == Set(9L))
    // deep clone copies data files REL-PRESERVED so DV refs survive
    val dp = java.nio.file.Files.createTempDirectory("lake_dvc").toString
    VersionedLake.reset(spark, dp)
    VersionedLake.shallowClone(spark, lake, dp, v = 3, deep = true)
    assert(ids(VersionedLake.readLatest(spark, dp)) == Set(9L))
    // and the clone is independent: source vacuum can't break it
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(ids(VersionedLake.readLatest(spark, dp)) == Set(9L))
  }

  test("versioned lake: commitMerge rejects a duplicate-key delta " +
      "loudly (the multiple-source-rows-matched rule)") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_mdup").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake)
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitMerge(
        Seq((1L, "a", 2.0), (1L, "a", 3.0)).toDF("id", "part", "x"),
        Seq("id"), "part", lake)
    }
    assert(ex.getMessage.contains("unique keys"), ex.getMessage)
    assert(VersionedLake.latestVersion(spark, lake) == 1,
      "nothing committed")
  }

  test("versioned lake: vacuum grace window spares young unreferenced " +
      "files (a racing in-flight commit's staging)") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_vgr").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    VersionedLake.commitUpsert(
      Seq((8L, "b", 8.0)).toDF("id", "part", "x"), "part", lake)
    // an aborted OCC attempt leaves freshly-written orphan staging —
    // exactly what an IN-FLIGHT commit's not-yet-claimed data looks
    // like to a concurrent vacuum
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitUpsertFrom(
        Seq((7L, "b", 7.0)).toDF("id", "part", "x"), "part", lake,
        readVersion = 1)
    }
    val orphans = VersionedLake.unreferencedDataFiles(spark, lake)
    assert(orphans.nonEmpty)
    // within the grace window: vacuum must NOT touch them (deleting a
    // not-yet-claimed commit's data would let it publish a manifest
    // pointing at deleted files — a torn version)
    assert(VersionedLake.vacuum(spark, lake, retain = 5,
      graceMs = 3600L * 1000) == ((0, 0)))
    assert(VersionedLake.unreferencedDataFiles(spark, lake).toSet ==
      orphans.toSet, "young orphans survive the graced vacuum")
    // past the window (grace 0 = quiescent posture): reclaimed
    assert(VersionedLake.vacuum(spark, lake, retain = 5)._2 ==
      orphans.size)
    assert(VersionedLake.unreferencedDataFiles(spark, lake).isEmpty)
  }

  test("versioned lake: timestamp AS OF resolves to the LATEST " +
      "qualifying version under non-monotonic commit stamps") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_asof").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x"), "part", lake,
      commitTs = Some(100L))
    VersionedLake.commitUpsert(
      Seq((2L, "a", 2.0)).toDF("id", "part", "x"), "part", lake,
      commitTs = Some(200L))
    // a restore stamped EARLIER than the prior commit (the caller's
    // clock is the event time of the rollback decision)
    VersionedLake.commitRestore(spark, lake, 1, commitTs = Some(150L))
    // at ts=250 every version qualifies: the table IS version 3 (the
    // restore — the last commit), not version 2 (the highest stamp)
    assert(VersionedLake.versionAsOf(spark, lake, 250L) == 3)
    assert(VersionedLake.readAsOf(spark, lake, 250L)
      .select($"id").as[Long].collect().toSet == Set(1L))
    assert(VersionedLake.versionAsOf(spark, lake, 120L) == 1)
  }

  test("versioned lake COLUMN MAPPING: rename is metadata-only and " +
      "resolves old files by id; a dropped-then-re-added name never " +
      "resurrects old data") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_cm").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "part", "x"),
      "part", lake)
    val filesV1 = VersionedLake.manifestFiles(spark, lake, 1)
      .map(_.rel).toSet
    // RENAME x -> y: zero bytes move
    assert(VersionedLake.commitRenameColumn(spark, lake, "x", "y") == 2)
    assert(VersionedLake.manifestFiles(spark, lake, 2)
      .map(_.rel).toSet == filesV1, "metadata-only commit")
    val latest = VersionedLake.readLatest(spark, lake)
    assert(latest.columns.toSeq == Seq("id", "part", "y"))
    assert(latest.select($"id", $"y").as[(Long, Double)].collect()
      .toSet == Set((1L, 10.0), (2L, 20.0)),
      "old files' x surfaces as y (id-resolved)")
    // time travel: the pre-rename version still shows the old name
    assert(VersionedLake.readVersion(spark, lake, 1)
      .columns.toSeq == Seq("id", "part", "x"))
    // a post-rename commit writes the NEW name; mixed-era reads align
    VersionedLake.commitAppend(
      Seq((3L, "a", 30.0)).toDF("id", "part", "y"), "part", lake)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id", $"y").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
    // evolved time travel aligns BY ID across the rename
    assert(VersionedLake.readVersionEvolved(spark, lake, 1)
      .select($"id", $"y").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))

    // DROP y, then RE-ADD the name: fresh id, old bytes stay dead
    VersionedLake.commitDropColumn(spark, lake, "y")
    assert(VersionedLake.readLatest(spark, lake)
      .columns.toSeq == Seq("id", "part"))
    VersionedLake.commitAppend(
      Seq((4L, "b", 99.0)).toDF("id", "part", "y"), "part", lake)
    val reborn = VersionedLake.readLatest(spark, lake)
      .select($"id", $"y").as[(Long, Option[Double])].collect().toSet
    assert(reborn == Set((1L, None), (2L, None), (3L, None),
      (4L, Some(99.0))),
      s"re-added y must NOT resurrect old values: $reborn")
    // the streaming cursor reads the whole history id-resolved
    val feed = VersionedLake.appendsBetween(spark, lake,
      0, VersionedLake.latestVersion(spark, lake))
    assert(feed.select($"id", $"y").as[(Long, Option[Double])]
      .collect().toSet == reborn)
    // deletion vectors compose with mapping: delete id 2 by key
    VersionedLake.commitDelete(Seq((2L, "b")).toDF("id", "part"),
      Seq("id"), "part", lake)
    assert(VersionedLake.readLatest(spark, lake)
      .select($"id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // OPTIMIZE rewrites to the CURRENT physical names — after it the
    // whole lake is single-era again (and the DVs are gone)
    val vOpt = VersionedLake.commitOptimize(spark, lake, "part")
    assert(VersionedLake.readVersion(spark, lake, vOpt)
      .select($"id", $"y").as[(Long, Option[Double])].collect().toSet ==
      Set((1L, None), (3L, None), (4L, Some(99.0))))
    // rename of a missing / colliding name fails loudly
    intercept[IllegalArgumentException] {
      VersionedLake.commitRenameColumn(spark, lake, "nope", "z")
    }
    intercept[IllegalArgumentException] {
      VersionedLake.commitRenameColumn(spark, lake, "y", "id")
    }
  }

  test("versioned lake: pollAppends admits at most maxFiles per poll " +
      "with sub-version cursor progress, drains a commit burst to the " +
      "same totals, and refuses rewrites/DVs") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_poll").toString
    VersionedLake.reset(spark, lake)
    // a burst of 3 append commits; commit 2 lands 4 files (4 tasks)
    VersionedLake.commitAppend(
      Seq((1L, "a", 1.0)).toDF("id", "part", "x").coalesce(1),
      "part", lake)
    VersionedLake.commitAppend(
      (10L until 14L).map(i => (i, "a", i * 1.0)).toDF("id", "part", "x")
        .repartition(4, $"id"), "part", lake)
    VersionedLake.commitAppend(
      Seq((2L, "b", 2.0)).toDF("id", "part", "x").coalesce(1),
      "part", lake)
    val latest = VersionedLake.latestVersion(spark, lake)
    val totalFiles = VersionedLake.manifestFiles(spark, lake, latest).size
    assert(totalFiles >= 5, s"burst staged $totalFiles files")
    var cursor = (0, 0)
    var polls = 0
    var got = Set.empty[Long]
    while (cursor != ((latest, 0))) {
      val (batch, next) =
        VersionedLake.pollAppends(spark, lake, cursor, maxFiles = 2)
      assert(next != cursor, s"no progress at $cursor")
      got ++= batch.select($"id").as[Long].collect()
      cursor = next
      polls += 1
    }
    assert(polls == (totalFiles + 1) / 2, s"$polls polls for $totalFiles")
    assert(got == Set(1L, 2L) ++ (10L until 14L).toSet)
    // a drained poll returns an empty frame and the unchanged cursor
    val (none, same) =
      VersionedLake.pollAppends(spark, lake, cursor, maxFiles = 2)
    assert(none.count() == 0 && same == cursor)
    // a mid-range partial poll resumes exactly where it stopped
    val (b1, c1) = VersionedLake.pollAppends(spark, lake, (0, 0), 3)
    val (b2, c2) = VersionedLake.pollAppends(spark, lake, c1, 100)
    assert(c2 == ((latest, 0)))
    assert((b1.select($"id").as[Long].collect().toSet ++
      b2.select($"id").as[Long].collect().toSet) == got)
    // rewrites and deletion vectors refuse, exactly like appendsBetween
    VersionedLake.commitDelete(Seq((1L, "a")).toDF("id", "part"),
      Seq("id"), "part", lake)
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.pollAppends(spark, lake, cursor, 2)
    }
    assert(ex.getMessage.contains("deletion vectors"))
  }

  test("structural carry composes: DV-merge on a segmented lake " +
      "carries untouched pointers verbatim, the hash-diff OCC fires, " +
      "vacuum keeps carried segments alive") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_scar").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.enableSegmentedManifests(spark, lake)
    VersionedLake.commitOverwrite(
      (0L until 12L).map(i => (i, s"p${i % 3}", i * 1.0))
        .toDF("id", "part", "x"), "part", lake)
    val p1 = VersionedLake.segmentPointers(spark, lake, 1)
    // a DV-merge touching only p0: p1/p2 pointer lines carry VERBATIM
    // (structural — never re-serialized), p0 gets a fresh segment
    // holding base entries + fresh data + DV rows
    val v2 = VersionedLake.commitMergeDv(
      Seq((0L, "p0", 100.0, false), (3L, "p0", 0.0, true))
        .toDF("id", "part", "x", "del"),
      Seq("id"), "part", lake, deleteCol = Some("del"))
    val p2 = VersionedLake.segmentPointers(spark, lake, v2)
    assert(p2("p1") == p1("p1") && p2("p2") == p1("p2"),
      "untouched partitions carry as pointers through a DV-merge")
    assert(p2("p0") != p1("p0"))
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id").as[Long].collect().toSet
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      Set(0L, 6L, 9L) ++ (0L until 12L).filterNot(_ % 3 == 0))
    // OCC on the segmented log runs the HASH-diff fast path: a
    // pinned DV-merge racing a commit on its touched partition
    // aborts; a disjoint one rebases
    VersionedLake.commitUpsert(
      Seq((20L, "p1", 20.0)).toDF("id", "part", "x"), "part", lake)
    intercept[java.util.ConcurrentModificationException] {
      VersionedLake.commitMergeDv(
        Seq((21L, "p1", 21.0)).toDF("id", "part", "x"),
        Seq("id"), "part", lake, fromVersion = Some(v2))
    }
    assert(VersionedLake.commitMergeDv(
      Seq((22L, "p2", 22.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake, fromVersion = Some(v2)) == v2 + 2,
      "disjoint DV-merge rebases through the segment-hash diff")
    // vacuum below the carried pointers: segments referenced only
    // through STRUCTURAL carry must survive, and the head stays
    // byte-identical
    val want = ids(VersionedLake.readLatest(spark, lake))
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(ids(VersionedLake.readLatest(spark, lake)) == want,
      "carried segments survive a deep vacuum")
  }

  test("segmented-manifest dead-era reclaim: pointer lines record " +
      "their segments' era sets, so repeated upserts of one partition " +
      "retire its dead colmap/coltype lines while structurally-carried " +
      "partitions keep theirs — without opening a segment") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_sera").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.enableSegmentedManifests(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "pa", 1.0), (2L, "pb", 2.0)).toDF("id", "part", "x"),
      "part", lake)
    // v2..v5 upsert ONLY pa: each version's pa-era dies at the next,
    // pb carries structurally the whole time (its segment never opens)
    (2 to 5).foreach { t =>
      VersionedLake.commitUpsert(
        Seq((100L + t, "pa", t * 1.0)).toDF("id", "part", "x"),
        "part", lake)
    }
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$lake/_log/000005.manifest")), "UTF-8")
    // live eras at v5 are exactly {1 (pb's files), 5 (pa's latest)} —
    // the r13-advice fix: without the pointer-recorded era sets every
    // era 1..5 would retain conservatively, O(versions) growth
    assert(mf.linesIterator.count(_.startsWith("colmap=")) == 2,
      s"dead colmap eras reclaimed:\n$mf")
    assert(mf.linesIterator.count(_.startsWith("coltype=")) == 2,
      s"dead coltype eras reclaimed:\n$mf")
    assert(mf.linesIterator.exists(l =>
      l.startsWith("seg=pb") && l.endsWith("\tE1")),
      s"the carried pointer records its era set:\n$mf")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id").as[Long].collect().toSet
    assert(ids(VersionedLake.readLatest(spark, lake)) == Set(105L, 2L))
    // a superseded version's own manifest kept its lines: time travel
    // below the reclaim still resolves
    assert(ids(VersionedLake.readVersion(spark, lake, 3))
      == Set(103L, 2L))
  }

  test("versioned lake SEGMENTED MANIFESTS: untouched partitions' " +
      "segments reuse by pointer, mid-life enable interleaves with " +
      "flat manifests, DVs compose, vacuum reclaims only unreferenced " +
      "segments") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_seg").toString
    VersionedLake.reset(spark, lake)
    def df(tag: Double) = (0L until 12L)
      .map(i => (i, s"p${i % 3}", i * tag)).toDF("id", "part", "x")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id").as[Long].collect().toSet
    // v1 lands FLAT (marker not set yet)
    VersionedLake.commitOverwrite(df(1.0), "part", lake)
    assert(VersionedLake.segmentPointers(spark, lake, 1).isEmpty)
    // mid-life enable: v2 (touches only p0) writes the SEGMENTED form
    VersionedLake.enableSegmentedManifests(spark, lake)
    VersionedLake.commitUpsert(
      Seq((0L, "p0", 100.0), (3L, "p0", 100.0)).toDF("id", "part", "x"),
      "part", lake)
    val p2 = VersionedLake.segmentPointers(spark, lake, 2)
    assert(p2.keySet == Set("p0", "p1", "p2"))
    // v3 touches only p1: p0's and p2's segments carry forward by
    // POINTER (hash-equal), exactly one fresh segment is written
    VersionedLake.commitUpsert(
      Seq((1L, "p1", 200.0)).toDF("id", "part", "x"), "part", lake)
    val p3 = VersionedLake.segmentPointers(spark, lake, 3)
    assert(p3("p0") == p2("p0") && p3("p2") == p2("p2"),
      "untouched segments reused")
    assert(p3("p1") != p2("p1"), "touched partition got a fresh segment")
    // every era reads correctly across the flat/segmented interleave
    assert(ids(VersionedLake.readVersion(spark, lake, 1)) ==
      (0L until 12L).toSet)
    assert(ids(VersionedLake.readVersion(spark, lake, 3)) ==
      Set(0L, 1L, 3L) ++ (0L until 12L).filter(_ % 3 == 2))
    // pointer-pruned read equals the full read filtered
    assert(ids(VersionedLake.readVersion(spark, lake, 3, Seq("p1"))) ==
      Set(1L))
    // DVs ride segments: a positional delete adds a dv entry inside
    // the touched partition's fresh segment and readers fold it
    VersionedLake.commitDelete(
      Seq((3L, "p0")).toDF("id", "part"), Seq("id"), "part", lake)
    val v4 = VersionedLake.manifestFiles(spark, lake, 4)
    assert(v4.exists(_.kind == "dv"))
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      Set(0L, 1L) ++ (0L until 12L).filter(_ % 3 == 2))
    val p4 = VersionedLake.segmentPointers(spark, lake, 4)
    assert(p4("p1") == p3("p1") && p4("p2") == p3("p2"),
      "a DV commit reuses untouched partitions' segments too")
    // vacuum: dropped versions' superseded segments go, segments the
    // RETAINED manifest still points at survive; a stray orphan
    // segment (crashed attempt) is reclaimed under the same rule
    val logDir = new java.io.File(s"$lake/_log")
    java.nio.file.Files.write(
      logDir.toPath.resolve("seg-stray0.seg"),
      "p9\tdata/none.parquet\n".getBytes("UTF-8"))
    def segFiles() = logDir.listFiles()
      .map(_.getName).filter(n => n.startsWith("seg-")).toSet
    val before = segFiles()
    VersionedLake.vacuum(spark, lake, retain = 1)
    val after = segFiles()
    val live = VersionedLake.segmentPointers(spark, lake, 4)
      .values.map(_._1).toSet
    assert(after == live, s"retained exactly the live segments: $after")
    assert(!after.contains("seg-stray0.seg"))
    assert(before.size > after.size)
    assert(ids(VersionedLake.readLatest(spark, lake)) ==
      Set(0L, 1L) ++ (0L until 12L).filter(_ % 3 == 2),
      "latest read intact after vacuum")
  }

  test("versioned lake CONSTRAINTS: a violating delta aborts minting " +
      "no version, a rebase onto a new constraint re-validates, " +
      "schema changes never leave a constraint dangling, restore and " +
      "clone carry the set") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_ck").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 5.0), (2L, "b", 7.0)).toDF("id", "part", "x"),
      "part", lake)
    VersionedLake.commitAddConstraint(spark, lake, "x_pos", "x > 0")
    // the violating append aborts with name + count, no version minted
    val ex = intercept[IllegalStateException] {
      VersionedLake.commitAppend(
        Seq((3L, "a", -1.0), (4L, "a", -2.0)).toDF("id", "part", "x"),
        "part", lake)
    }
    assert(ex.getMessage.contains("x_pos") &&
      ex.getMessage.contains("2 rows"), ex.getMessage)
    assert(VersionedLake.latestVersion(spark, lake) == 2)
    // NULL passes a plain CHECK (SQL semantics); NOT NULL is explicit
    VersionedLake.commitAppend(
      Seq((5L, "a", Option.empty[Double])).toDF("id", "part", "x"),
      "part", lake) // v3: x NULL passes x > 0
    // adding NOT NULL over a snapshot already holding a NULL refuses
    intercept[IllegalStateException] {
      VersionedLake.commitAddConstraint(spark, lake, "x_nn",
        "x IS NOT NULL")
    }
    // a rebase onto a constraint added AFTER the pin re-validates:
    // the merge pins v1 (no x_neg yet), rebases over the metadata-only
    // add (disjoint partitions), and must still catch the violation
    VersionedLake.commitAddConstraint(spark, lake, "x_small", "x < 100")
    intercept[IllegalStateException] {
      VersionedLake.commitMerge(
        Seq((9L, "b", 500.0)).toDF("id", "part", "x"),
        Seq("id"), "part", lake, fromVersion = Some(1))
    }
    // renaming/dropping a referenced column is refused; dropping the
    // constraints first unblocks it
    intercept[IllegalArgumentException] {
      VersionedLake.commitDropColumn(spark, lake, "x")
    }
    VersionedLake.commitDropConstraint(spark, lake, "x_pos")
    VersionedLake.commitDropConstraint(spark, lake, "x_small")
    val vDrop = VersionedLake.commitDropColumn(spark, lake, "x")
    assert(!VersionedLake.readLatest(spark, lake)
      .columns.contains("x"))
    // RESTORE to a constrained version restores that version's
    // constraint set (self-consistent with its schema)
    VersionedLake.commitRestore(spark, lake, 4)
    assert(VersionedLake.readConstraints(spark, lake,
      VersionedLake.latestVersion(spark, lake)).map(_._1).toSet ==
      Set("x_pos", "x_small"))
    intercept[IllegalStateException] {
      VersionedLake.commitAppend(
        Seq((6L, "a", -3.0)).toDF("id", "part", "x"), "part", lake)
    }
    // a CLONE carries the source's constraints
    val dst = java.nio.file.Files.createTempDirectory("lake_ckc").toString
    VersionedLake.reset(spark, dst)
    VersionedLake.shallowClone(spark, lake, dst,
      VersionedLake.latestVersion(spark, lake))
    intercept[IllegalStateException] {
      VersionedLake.commitAppend(
        Seq((7L, "a", -4.0)).toDF("id", "part", "x"), "part", dst)
    }
    assert(vDrop > 0)
  }

  test("hidden partitioning: day and truncate transforms prune through " +
      "the spec, bucket refuses ranges, the spec is immutable, the " +
      "internal column never surfaces") {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_hp").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("k", HP.Truncate(100L)))
    // spec is one-time
    intercept[IllegalArgumentException] {
      HP.define(spark, lake, HP.Spec("k", HP.Month))
    }
    HP.commitOverwrite(
      Seq((5L, "a"), (150L, "b"), (250L, "c"), (760L, "d"))
        .toDF("k", "tag"), lake)
    // truncate(100): [120, 300] projects to partitions {100, 200, 300}
    assert(HP.partsBetween(spark, lake, 1, "120", "300") ==
      Seq("100", "200"))
    val r = HP.readBetween(spark, lake, "120", "300")
    assert(r.columns.toSet == Set("k", "tag"), "internal column hidden")
    assert(r.select($"k").as[Long].collect().toSet == Set(150L, 250L))
    // appends derive through the same spec; time-travel reads prune
    HP.commitAppend(Seq((155L, "e")).toDF("k", "tag"), lake)
    assert(HP.readBetween(spark, lake, "120", "300")
      .select($"k").as[Long].collect().toSet == Set(150L, 155L, 250L))
    assert(HP.readBetween(spark, lake, "120", "300", Some(1))
      .select($"k").as[Long].collect().toSet == Set(150L, 250L))
    // a write missing the source column refuses
    intercept[IllegalArgumentException] {
      HP.commitAppend(Seq(Tuple1("x")).toDF("tag"), lake)
    }
    // day transform
    val dlake = java.nio.file.Files.createTempDirectory("lake_hpd").toString
    VersionedLake.reset(spark, dlake)
    HP.define(spark, dlake, HP.Spec("ts", HP.Day))
    HP.commitOverwrite(
      Seq(("2024-01-01 05:00:00", 1L), ("2024-01-02 09:00:00", 2L),
        ("2024-01-05 00:00:00", 3L))
        .toDF("s", "id").withColumn("ts", $"s".cast("timestamp"))
        .drop("s"), dlake)
    assert(HP.partsBetween(spark, dlake, 1,
      "2024-01-02 00:00:00", "2024-01-03 23:59:59") == Seq("2024-01-02"))
    assert(HP.readBetween(spark, dlake,
      "2024-01-02 00:00:00", "2024-01-03 23:59:59")
      .select($"id").as[Long].collect().toSet == Set(2L))
    // bucket: matching prunes to the keys' buckets, ranges refuse
    val blake = java.nio.file.Files.createTempDirectory("lake_hpb").toString
    VersionedLake.reset(spark, blake)
    HP.define(spark, blake, HP.Spec("k", HP.Bucket(4)))
    HP.commitOverwrite((0L until 64L).map(i => (i, s"v$i"))
      .toDF("k", "tag"), blake)
    intercept[IllegalArgumentException] {
      HP.partsBetween(spark, blake, 1, "0", "9")
    }
    val hit = HP.readMatching(spark, blake,
      Seq(3L, 17L).toDF("k"))
    assert(hit.select($"k").as[Long].collect().toSet == Set(3L, 17L))
    assert(HP.partsMatching(spark, blake, 1,
      Seq(3L, 17L).toDF("k")).size <= 2)
  }

  test("type widening in column mapping: int→long / float→double eras " +
      "read under their recorded physical types and cast up exactly; " +
      "narrowing refuses; renames compose") {
    import graft.sources.VersionedLake
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val lake = java.nio.file.Files.createTempDirectory("lake_tw").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1, "a", 1.5f), (2, "b", 2.5f)).toDF("id", "part", "y"),
      "part", lake)
    // era 2 widens id int→long and y float→double in one commit; a
    // value past Int.MaxValue proves the logical type really widened
    VersionedLake.commitAppend(
      Seq((3000000000L, "a", 3.25)).toDF("id", "part", "y"),
      "part", lake)
    val lat = VersionedLake.readLatest(spark, lake)
    assert(lat.schema("id").dataType == LongType &&
      lat.schema("y").dataType == DoubleType)
    assert(lat.select($"id", $"y").as[(Long, Double)].collect().toSet ==
      Set((1L, 1.5), (2L, 2.5), (3000000000L, 3.25)),
      "era-1 files read as int/float and cast up exactly")
    // time travel: version 1 keeps its own (narrow) recorded schema
    val v1 = VersionedLake.readVersion(spark, lake, 1)
    assert(v1.schema("id").dataType == IntegerType)
    assert(v1.select($"id").as[Int].collect().toSet == Set(1, 2))
    // narrowing refuses loudly and mints no version
    intercept[IllegalArgumentException] {
      VersionedLake.commitAppend(
        Seq((4, "a", 4.5f)).toDF("id", "part", "y"), "part", lake)
    }
    assert(VersionedLake.latestVersion(spark, lake) == 2)
    // a RENAME composes: old eras resolve by id to (old name, old
    // type), surface the new name at the widened type
    VersionedLake.commitRenameColumn(spark, lake, "id", "ident")
    assert(VersionedLake.readLatest(spark, lake)
      .select($"ident").as[Long].collect().toSet ==
      Set(1L, 2L, 3000000000L))
  }

  test("partition-spec evolution: month→day governs new commits only, " +
      "mixed-spec reads union both projections, bucket eras admit " +
      "conservatively, refusals hold") {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    import java.sql.Date
    val lake = java.nio.file.Files.createTempDirectory("lake_spev").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("d", HP.Month))
    def df(rows: (Long, String)*) =
      rows.map { case (i, s) => (i, Date.valueOf(s)) }.toDF("id", "d")
    HP.commitOverwrite(df(
      1L -> "1997-01-15", 2L -> "1997-02-10",
      3L -> "1997-02-20", 4L -> "1997-03-05"), lake)
    HP.evolve(spark, lake, HP.Spec("d", HP.Day))
    HP.commitAppend(df(5L -> "1997-04-01", 6L -> "1997-04-03"), lake)
    // pre-evolution version prunes purely through the month spec
    assert(HP.partsBetween(spark, lake, 1, "1997-02-01", "1997-02-28")
      == Seq("1997-02"))
    // mixed manifest: month partitions prune through month(), day
    // partitions through day(), sets union
    assert(HP.partsBetween(spark, lake, 2, "1997-02-01", "1997-04-02")
      == Seq("1997-02", "1997-03", "1997-04-01"))
    def ids(df2: org.apache.spark.sql.DataFrame) =
      df2.select($"id").as[Long].collect().toSet
    assert(ids(HP.readBetween(spark, lake, "1997-02-01", "1997-04-02"))
      == Set(2L, 3L, 4L, 5L))
    // mixed-spec point lookup: each era's keys compute through ITS
    // engine transform
    val keys = df(0L -> "1997-02-10", 0L -> "1997-04-03").select($"d")
    assert(HP.partsMatching(spark, lake, 2, keys)
      == Seq("1997-02", "1997-04-03"))
    assert(ids(HP.readMatching(spark, lake, keys)) == Set(2L, 6L))
    // a later bucket era cannot project ranges: ALL its partitions
    // are admitted next to the projected month/day sets
    HP.evolve(spark, lake, HP.Spec("d", HP.Bucket(4)))
    HP.commitAppend(df(7L -> "1997-05-01"), lake)
    val jan = HP.partsBetween(spark, lake, 3, "1997-01-01", "1997-01-31")
    assert(jan.contains("1997-01") && jan.size == 2 &&
      jan.exists(_.forall(_.isDigit)),
      s"bucket era admits conservatively: $jan")
    assert(ids(HP.readBetween(spark, lake, "1997-01-01", "1997-01-31"))
      == Set(1L), "the row predicate keeps the conservative union exact")
    // refusals: internal-partition-column rename, identity evolution,
    // and a second evolution before any commit under the first
    intercept[IllegalArgumentException] {
      HP.evolve(spark, lake, HP.Spec("d", HP.Day, partCol = "__q"))
    }
    HP.evolve(spark, lake, HP.Spec("d", HP.Day))
    intercept[IllegalArgumentException] {
      HP.evolve(spark, lake, HP.Spec("d", HP.Day))
    }
    intercept[IllegalArgumentException] {
      HP.evolve(spark, lake, HP.Spec("d", HP.Month))
    }
  }

  test("cross-column partition-spec evolution: a predicate on column " +
      "X prunes exactly the eras whose spec derives X, other eras " +
      "admit conservatively, point lookups carry the queried column") {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    import java.sql.Date
    val lake = java.nio.file.Files.createTempDirectory("lake_spxc").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("d", HP.Month))
    def df(rows: (Long, String)*) =
      rows.map { case (i, s) => (i, Date.valueOf(s)) }.toDF("id", "d")
    HP.commitOverwrite(df(
      1L -> "1997-01-15", 2L -> "1997-02-10", 3L -> "1997-03-05"), lake)
    // EVOLVE ACROSS COLUMNS (Iceberg allows it; r13 refused): the
    // table re-partitions on a bucket of `id`
    HP.evolve(spark, lake, HP.Spec("id", HP.Bucket(4)))
    HP.commitAppend(df(10L -> "1997-04-02", 11L -> "1997-04-20"), lake)
    def ids(d2: org.apache.spark.sql.DataFrame) =
      d2.select($"id").as[Long].collect().toSet
    // a DATE range must name the column explicitly (the active spec
    // derives `id` now): month eras project, bucket eras admit all,
    // the row predicate keeps it exact across both
    val parts = HP.partsBetween(spark, lake, 2,
      "1997-02-01", "1997-04-30", srcCol = Some("d"))
    assert(parts.count(_.length == 7) == 2,
      s"month era projects Feb+Mar: $parts")
    assert(parts.exists(_.forall(_.isDigit)),
      s"bucket era admits conservatively: $parts")
    assert(ids(HP.readBetween(spark, lake, "1997-02-01", "1997-04-30",
      srcCol = Some("d"))) == Set(2L, 3L, 10L, 11L))
    // a point lookup on `id` (the ACTIVE column, default): bucket era
    // prunes through the engine hash, month eras admit all
    val keys = Seq(10L).toDF("id")
    val m = HP.partsMatching(spark, lake, 2, keys)
    assert(m.count(_.length == 7) == 3, s"month eras admit all: $m")
    assert(m.count(_.forall(_.isDigit)) <= 1,
      s"bucket era prunes to the key's bucket: $m")
    assert(ids(HP.readMatching(spark, lake, keys)) == Set(10L))
    // a point lookup on the OLD column still works explicitly
    assert(ids(HP.readMatching(spark, lake,
      df(0L -> "1997-02-10").select($"d"), srcCol = Some("d")))
      == Set(2L))
    // a range over a column NO spec projects refuses loudly
    intercept[IllegalArgumentException] {
      HP.partsBetween(spark, lake, 2, "0", "5", srcCol = Some("id"))
    }
  }

  test("partition-spec attribution is by record: a commit derived " +
      "under the old spec but claiming a post-evolve version stays in " +
      "the old projection, OPTIMIZE and keyed merges inherit " +
      "attribution, legacy untagged entries resolve by era") {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    import java.sql.Date
    val lake = java.nio.file.Files.createTempDirectory("lake_spocc").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("d", HP.Month))
    def df(rows: (Long, String, Long)*) =
      rows.map { case (i, s, v) => (i, Date.valueOf(s), v) }
        .toDF("id", "d", "v")
    def monthDerived(rows: (Long, String, Long)*) =
      df(rows: _*).withColumn("__p", date_format($"d", "yyyy-MM"))
    // v1: month era, '1997-02' deliberately FRAGMENTED across two
    // commits — one spec-tagged (the wrapper), one a LEGACY UNTAGGED
    // line (direct verb, no specId), so optimize must unify them by
    // era through specEras
    HP.commitOverwrite(df((1L, "1997-01-15", 10L)), lake)
    VersionedLake.commitAppend(
      monthDerived((2L, "1997-02-10", 20L)), "__p", lake) // untagged
    HP.commitAppend(df((3L, "1997-02-20", 30L)), lake)
    HP.evolve(spark, lake, HP.Spec("d", HP.Day))
    // THE RACE (r13 advice), deterministically interleaved: a writer
    // that DERIVED under the month spec lands its commit AFTER the
    // evolve (claiming a post-boundary version). Era inference would
    // hand these files to the day projection — where a March range
    // like 1997-03-01..31 prunes '1997-03' out ('1997-03' < the day
    // bound string) and silently loses the rows. The P tag it derived
    // under must keep it month-attributed.
    VersionedLake.commitAppend(
      monthDerived((4L, "1997-03-05", 40L)), "__p", lake,
      specId = Some(0))
    def ids(d2: org.apache.spark.sql.DataFrame) =
      d2.select($"id").as[Long].collect().toSet
    assert(HP.partsBetween(spark, lake, 4, "1997-03-01", "1997-03-31")
      == Seq("1997-03"), "raced commit stays in the month projection")
    assert(ids(HP.readBetween(spark, lake, "1997-03-01", "1997-03-31"))
      == Set(4L))
    // post-evolve append goes through the day spec as usual
    HP.commitAppend(df((5L, "1997-04-02", 50L)), lake)
    // OPTIMIZE on the hidden lake: the fragmented '1997-02' (one
    // untagged legacy file + one P0 file) unifies by era and the
    // rewritten entries INHERIT month attribution; day-era files are
    // single-file and untouched
    val vOpt = HP.commitOptimize(spark, lake)
    assert(vOpt == 6)
    val feb = VersionedLake.manifestFiles(spark, lake, vOpt)
      .filter(e => e.kind == "data" && e.part == "1997-02")
    assert(feb.nonEmpty && feb.forall(_.specId.contains(0)),
      s"rewritten Feb entries inherit the month spec: $feb")
    assert(HP.partsBetween(spark, lake, vOpt, "1997-02-01", "1997-02-28")
      == Seq("1997-02"))
    assert(ids(HP.readBetween(spark, lake, "1997-02-01", "1997-02-28"))
      == Set(2L, 3L))
    // a keyed DV-merge restating a pre-evolution key (partition value
    // stable, caller-owned) attributes its fresh delta file through
    // specAttribution: the restated row stays visible to the month
    // projection
    VersionedLake.commitMergeDv(
      monthDerived((2L, "1997-02-10", 99L)), Seq("id"), "__p", lake,
      specIdFor = HP.specAttribution(spark, lake, vOpt))
    val febRows = HP.readBetween(spark, lake, "1997-02-01", "1997-02-28")
    assert(ids(febRows) == Set(2L, 3L))
    assert(febRows.filter($"id" === 2L).select($"v").as[Long]
      .collect().toSeq == Seq(99L), "merged payload visible")
    // direct un-parameterized optimize on a spec-mixed lake refuses
    // loudly instead of re-attributing (needs specEras); Feb is
    // single-spec now, so fragment the DAY partition too and mix with
    // an untagged line to trip the mechanical check
    VersionedLake.commitAppend(
      df((6L, "1997-04-02", 60L)).withColumn("__p",
        date_format($"d", "yyyy-MM-dd")), "__p", lake) // untagged day
    val ex = intercept[IllegalArgumentException] {
      VersionedLake.commitOptimize(spark, lake, "__p")
    }
    assert(ex.getMessage.contains("different partition specs"))
    // ...while the HP wrapper resolves the same layout fine
    val vOpt2 = HP.commitOptimize(spark, lake)
    assert(ids(HP.readBetween(spark, lake, "1997-04-01", "1997-04-03"))
      == Set(5L, 6L))
    // the day spec's id is its from-version (the evolve landed as
    // the 4th spec-file boundary: define=0, evolve→from=4)
    assert(VersionedLake.manifestFiles(spark, lake, vOpt2)
      .filter(e => e.kind == "data" && e.part == "1997-04-02")
      .forall(_.specId.contains(4)), "day-era rewrite inherits day spec")
  }

  test("an UNKNOWN recorded spec id is NON-PROJECTABLE: its partitions " +
      "are always admitted, never era-inferred into a transform that " +
      "did not derive them (evolve-retry retraction race)") {
    import graft.sources.{HiddenPartitioning => HP, VersionedLake}
    import java.sql.Date
    val lake = java.nio.file.Files.createTempDirectory("lake_spunk").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("d", HP.Month))
    def df(rows: (Long, String, Long)*) =
      rows.map { case (i, s, v) => (i, Date.valueOf(s), v) }
        .toDF("id", "d", "v")
    HP.commitOverwrite(df((1L, "1997-03-15", 10L)), lake) // P0, '1997-03'
    // THE RETRACTION RACE (r14 advice), deterministically staged: a
    // writer read a TRANSIENT _partspec.<from> (day) that an evolve
    // retry later deleted, derived DAY partition values, and tagged
    // its entries with the retracted id (2 — unknown to the timeline,
    // which only records spec 0). Era inference would hand these files
    // to the MONTH projection, where the day string '1997-03-05' falls
    // outside the month bound '1997-03'..'1997-03' and a March range
    // read silently loses row 2.
    VersionedLake.commitAppend(
      df((2L, "1997-03-05", 20L)).withColumn("__p",
        date_format($"d", "yyyy-MM-dd")), "__p", lake,
      specId = Some(2))
    val v = VersionedLake.latestVersion(spark, lake)
    assert(HP.partsBetween(spark, lake, v, "1997-03-01", "1997-03-31")
      .toSet == Set("1997-03", "1997-03-05"),
      "unknown-id partitions admitted alongside the projected month")
    def ids(d2: org.apache.spark.sql.DataFrame) =
      d2.select($"id").as[Long].collect().toSet
    assert(ids(HP.readBetween(spark, lake, "1997-03-01", "1997-03-31"))
      == Set(1L, 2L), "no silent row loss through the wrong projection")
    // ...and a range that does NOT cover the unknown entry's rows
    // still admits its partition (conservative) but the exact row
    // predicate keeps the result correct
    assert(ids(HP.readBetween(spark, lake, "1997-03-10", "1997-03-31"))
      == Set(1L))
    // point lookups take the same conservative union
    val keys = Seq(Date.valueOf("1997-03-05")).toDF("d")
    assert(HP.partsMatching(spark, lake, v, keys).contains("1997-03-05"))
    assert(ids(HP.readMatching(spark, lake, keys)) == Set(2L))
    // attribution stays BY RECORD: a keyed rewrite propagates the
    // unknown id verbatim (still non-projectable) instead of
    // re-attributing it to the era spec
    assert(HP.specAttribution(spark, lake, v)("1997-03-05") == Some(2))
  }

  test("bloom index: deterministic skip on disjoint files, unindexed " +
      "files always read, ensure is incremental and idempotent, DV " +
      "fold composes, compact drops dead rels") {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_bf").toString
    VersionedLake.reset(spark, lake)
    // two range files with DISJOINT id sets inside one partition
    VersionedLake.commitOverwrite(
      (0L until 40L).map(i => (i, "p", i * 2.0)).toDF("id", "part", "x")
        .repartitionByRange(2, $"id").sortWithinPartitions($"id"),
      "part", lake)
    BloomIndex.define(spark, lake, BloomIndex.Cfg("id", mBits = 4096))
    // BEFORE ensure: nothing indexed, every file reads, result exact
    val keys = Seq(3L, 7L).toDF("id")
    val (pre, preIdx, preSkip) = BloomIndex.prunedRels(spark, lake, 1, keys)
    assert(preIdx == 0 && preSkip == 0 && pre.nonEmpty)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    assert(ids(BloomIndex.lookup(spark, lake, keys)) == Set(3L, 7L))
    // ensure, then low ids live in one range file: the other skips
    val first = BloomIndex.ensure(spark, lake, 1)
    assert(first.size == 2)
    assert(BloomIndex.ensure(spark, lake, 1).isEmpty, "idempotent")
    val (toRead, nIdx, nSkip) = BloomIndex.prunedRels(spark, lake, 1, keys)
    assert(nIdx == 2 && nSkip == 1 && toRead.size == 1,
      s"expected 1 survivor of 2: $toRead")
    assert(ids(BloomIndex.lookup(spark, lake, keys)) == Set(3L, 7L))
    // a deletion vector folds inside the bloom-pruned read
    VersionedLake.commitDelete(Seq((3L, "p")).toDF("id", "part"),
      Seq("id"), "part", lake)
    assert(ids(BloomIndex.lookup(spark, lake, keys)) == Set(7L))
    // incremental: an append indexes ONLY its fresh files, and the
    // lookup includes them
    VersionedLake.commitAppend(
      Seq((3L, "p", 99.0)).toDF("id", "part", "x").coalesce(1),
      "part", lake)
    val second = BloomIndex.ensure(spark, lake,
      VersionedLake.latestVersion(spark, lake))
    assert(second.size == 1 && !first.contains(second.head))
    assert(ids(BloomIndex.lookup(spark, lake, keys)) == Set(3L, 7L))
    // compact after an overwrite + vacuum keeps only live rels
    VersionedLake.commitOverwrite(
      Seq((100L, "p", 1.0)).toDF("id", "part", "x").coalesce(1),
      "part", lake)
    VersionedLake.vacuum(spark, lake, retain = 1)
    val kept = BloomIndex.compact(spark, lake)
    assert(kept == 0, s"no pre-overwrite file is live, kept $kept")
    val third = BloomIndex.ensure(spark, lake,
      VersionedLake.latestVersion(spark, lake))
    assert(third.size == 1)
    assert(ids(BloomIndex.lookup(spark, lake, Seq(100L).toDF("id"))) ==
      Set(100L))
  }

  test("bloom index across OPTIMIZE: ensure indexes the rewritten " +
      "files, lookup stays index-served, compact retires the dead rows") {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_bfo").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0L until 80L).map(i => (i, "p", i * 2.0)).toDF("id", "part", "x")
        .repartitionByRange(4, $"id").sortWithinPartitions($"id"),
      "part", lake)
    BloomIndex.define(spark, lake, BloomIndex.Cfg("id", mBits = 4096))
    assert(BloomIndex.ensure(spark, lake, 1).size == 4)
    // a DV lands, then OPTIMIZE materializes the fold: every old file
    // (and its index row) is dead, the rewrite needs fresh rows
    VersionedLake.commitDelete(Seq((7L, "p")).toDF("id", "part"),
      Seq("id"), "part", lake)
    val v3 = VersionedLake.commitOptimize(spark, lake, "part")
    val live = VersionedLake.manifestFiles(spark, lake, v3)
      .filter(_.kind == "data").map(_.rel).toSet
    assert(BloomIndex.ensure(spark, lake, v3).toSet == live,
      "post-OPTIMIZE ensure covers exactly the rewritten files")
    val keys = Seq(7L, 9L).toDF("id")
    val (_, nIdx, _) = BloomIndex.prunedRels(spark, lake, v3, keys)
    assert(nIdx == live.size, "lookup is fully index-served after OPTIMIZE")
    assert(BloomIndex.lookup(spark, lake, keys)
      .select($"id").as[Long].collect().toSet == Set(9L),
      "the DV-deleted key stays dead through the optimized read")
    // vacuum the pre-optimize versions, then compact: only the
    // rewritten files' rows survive
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(BloomIndex.compact(spark, lake) == live.size)
    assert(BloomIndex.lookup(spark, lake, keys)
      .select($"id").as[Long].collect().toSet == Set(9L))
  }

  test("bloom index across a column-mapping RENAME: the cfg resolves " +
      "by stable id, old sidecars stay valid, post-rename files index " +
      "under the new physical name, lookups stay index-served") {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_bfr").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0L until 40L).map(i => (i, "p", i * 2.0)).toDF("id", "part", "x")
        .repartitionByRange(2, $"id").sortWithinPartitions($"id"),
      "part", lake)
    BloomIndex.define(spark, lake, BloomIndex.Cfg("id", mBits = 4096))
    assert(BloomIndex.cfg(spark, lake).gid.isDefined,
      "define on a committed lake records the column's stable id")
    assert(BloomIndex.ensure(spark, lake, 1).size == 2)
    // RENAME the indexed column: a metadata commit, no byte rewritten
    VersionedLake.commitRenameColumn(spark, lake, "id", "ident")
    // lookups under the NEW name stay index-served: old sidecars
    // (hashing VALUES, keyed by file) are untouched and still skip
    val keys = Seq(3L, 7L).toDF("ident")
    val v2 = VersionedLake.latestVersion(spark, lake)
    val (toRead, nIdx, nSkip) = BloomIndex.prunedRels(spark, lake, v2, keys)
    assert(nIdx == 2 && nSkip == 1 && toRead.size == 1,
      s"index-served across the rename: read=$toRead idx=$nIdx skip=$nSkip")
    def idents(df: org.apache.spark.sql.DataFrame) =
      df.select($"ident").as[Long].collect().toSet
    assert(idents(BloomIndex.lookup(spark, lake, keys)) == Set(3L, 7L))
    // post-rename files carry the NEW physical name; the mapped build
    // read resolves both eras by id, so ensure covers them too
    VersionedLake.commitAppend(
      Seq((1003L, "p", 9.0)).toDF("ident", "part", "x").coalesce(1),
      "part", lake)
    val v3 = VersionedLake.latestVersion(spark, lake)
    assert(BloomIndex.ensure(spark, lake, v3).size == 1)
    val (_, nIdx3, nSkip3) = BloomIndex.prunedRels(spark, lake, v3,
      Seq(1003L).toDF("ident"))
    assert(nIdx3 == 3 && nSkip3 == 2,
      s"mixed-era index fully serves: idx=$nIdx3 skip=$nSkip3")
    assert(idents(BloomIndex.lookup(spark, lake,
      Seq(1003L, 7L).toDF("ident"))) == Set(7L, 1003L))
    // time travel BELOW the rename probes under the OLD name — the
    // id-resolution is per-version
    assert(BloomIndex.lookup(spark, lake, Seq(3L).toDF("id"),
      version = Some(1)).select($"id").as[Long].collect().toSet
      == Set(3L))
  }

  test("bloom index: the lookup over an already-pruned file set " +
      "resolves a renamed column by stable id") {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_bfp").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      (0L until 40L).map(i => (i, "p", i * 2.0)).toDF("id", "part", "x")
        .repartitionByRange(2, $"id").sortWithinPartitions($"id"),
      "part", lake)
    BloomIndex.define(spark, lake, BloomIndex.Cfg("id", mBits = 4096))
    BloomIndex.ensure(spark, lake, 1)
    VersionedLake.commitRenameColumn(spark, lake, "id", "ident")
    val v2 = VersionedLake.latestVersion(spark, lake)
    // the keys frame may carry other columns: only the indexed one joins
    val keys = Seq((3L, "k3"), (7L, "k7")).toDF("ident", "tag")
    val (toRead, _, nSkip) = BloomIndex.prunedRels(spark, lake, v2, keys)
    assert(nSkip == 1 && toRead.size == 1, s"read=$toRead skip=$nSkip")
    val got = BloomIndex.lookup(spark, lake, keys, v2, toRead)
    assert(got.columns.toSeq == Seq("ident", "part", "x"))
    assert(got.select($"ident").as[Long].collect().toSet == Set(3L, 7L))
    // below the rename the same overload probes under the old name
    val old = Seq(3L).toDF("id")
    val (toRead1, _, _) = BloomIndex.prunedRels(spark, lake, 1, old)
    assert(BloomIndex.lookup(spark, lake, old, 1, toRead1)
      .select($"id").as[Long].collect().toSet == Set(3L))
  }

  test("bloom index backfill: many-file lake with Hive-escaped " +
      "partition values indexes every file exactly once, skips, and " +
      "looks up exactly") {
    import graft.sources.{BloomIndex, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_bfe").toString
    VersionedLake.reset(spark, lake)
    // partition values Hive must escape on disk (':' → %3A, space →
    // %20): `_metadata.file_path` re-quotes the escaped dir name, the
    // r12 mode that stranded such files as permanently un-indexed
    VersionedLake.commitOverwrite(
      (0L until 400L).map(i =>
          (i, if (i % 2 == 0) "a:b" else "c d", i * 1.0))
        .toDF("id", "part", "x")
        .repartitionByRange(8, $"id").sortWithinPartitions($"id"),
      "part", lake)
    BloomIndex.define(spark, lake, BloomIndex.Cfg("id", mBits = 4096))
    val live = VersionedLake.manifestFiles(spark, lake, 1)
      .filter(_.kind == "data").map(_.rel).toSet
    assert(live.size >= 8, s"want a many-file backfill, got ${live.size}")
    val indexed = BloomIndex.ensure(spark, lake, 1)
    assert(indexed.toSet == live,
      "one backfill covers every live file, in the MANIFEST's rel form")
    assert(BloomIndex.ensure(spark, lake, 1).isEmpty,
      "escaped partition dirs must not strand files as un-indexed")
    val keys = Seq(3L, 399L).toDF("id")
    val (toRead, nIdx, nSkip) = BloomIndex.prunedRels(spark, lake, 1, keys)
    assert(nIdx == live.size, "every file is index-covered")
    assert(nSkip > 0 && toRead.subsetOf(live),
      s"skip margin on disjoint range files: read ${toRead.size}/${live.size}")
    assert(BloomIndex.lookup(spark, lake, keys)
      .select($"id").as[Long].collect().toSet == Set(3L, 399L))
  }

  test("MERGE schema evolution: evolveSchema adds the delta's new " +
      "column atomically, strict mode refuses, a later narrow delta " +
      "NULL-fills") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_me").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
        .toDF("id", "part", "x"), "part", lake)
    val delta = Seq((2L, "a", 20.0, "feed"), (9L, "b", 9.0, "feed"))
      .toDF("id", "part", "x", "src")
    intercept[org.apache.spark.sql.AnalysisException] {
      VersionedLake.commitMerge(delta, Seq("id"), "part", lake)
    }
    assert(VersionedLake.latestVersion(spark, lake) == 1)
    VersionedLake.commitMerge(delta, Seq("id"), "part", lake,
      evolveSchema = true)
    val v2 = VersionedLake.readLatest(spark, lake)
      .select($"id", $"x", $"src").as[(Long, Double, Option[String])]
      .collect().toSet
    assert(v2 == Set((1L, 1.0, None), (2L, 20.0, Some("feed")),
      (3L, 3.0, None), (9L, 9.0, Some("feed"))))
    // the evolved schema is RECORDED: a later delta missing src
    // merges under evolveSchema with src NULL-filled
    VersionedLake.commitMerge(
      Seq((1L, "a", 10.0)).toDF("id", "part", "x"),
      Seq("id"), "part", lake, evolveSchema = true)
    val v3 = VersionedLake.readLatest(spark, lake)
      .filter($"id" === 1L).select($"x", $"src")
      .as[(Double, Option[String])].collect().toSeq
    assert(v3 == Seq((10.0, None)))
    // time travel below the evolution is untouched; evolved read
    // surfaces the column as NULL
    assert(!VersionedLake.readVersion(spark, lake, 1)
      .columns.contains("src"))
    assert(VersionedLake.readVersionEvolved(spark, lake, 1)
      .filter($"src".isNotNull).count() == 0)
  }

  test("two-lake coordinated snapshots: a mid-sequence crash leaves " +
      "the half-landed instant invisible to coordinated readers; " +
      "recovery advances the bound") {
    import graft.sources.VersionedLake
    val a = java.nio.file.Files.createTempDirectory("lake_txa").toString
    val b = java.nio.file.Files.createTempDirectory("lake_txb").toString
    Seq(a, b).foreach(VersionedLake.reset(spark, _))
    // invariant per coordinator instant: lake A holds per-order
    // header rows carrying n_lines; lake B holds the lines — the sum
    // of A.n_lines must equal B's row count at EVERY consistent read
    def commitPair(ts: Long, orders: Seq[(Long, Int)],
                   crashBeforeB: Boolean = false): Unit = {
      VersionedLake.commitAppend(
        orders.toDF("o_id", "n_lines").withColumn("part", lit("h")),
        "part", a, commitTs = Some(ts))
      if (!crashBeforeB)
        VersionedLake.commitAppend(
          orders.flatMap { case (o, n) => (1 to n).map(l => (o, l)) }
            .toDF("o_id", "line").withColumn("part", lit("l")),
          "part", b, commitTs = Some(ts))
    }
    def consistentAt(ts: Long): Boolean = {
      val nA = VersionedLake.readAsOf(spark, a, ts)
        .agg(sum($"n_lines")).head.getLong(0)
      val nB = VersionedLake.readAsOf(spark, b, ts).count()
      nA == nB
    }
    commitPair(100L, Seq((1L, 2), (2L, 3)))
    commitPair(200L, Seq((3L, 1)))
    assert(VersionedLake.coordinatedTs(spark, Seq(a, b)) == 200L)
    assert(consistentAt(200L) && consistentAt(100L))
    // CRASH between A's commit and B's: the ts=300 instant is torn
    commitPair(300L, Seq((4L, 5)), crashBeforeB = true)
    // naive latest-of-each reads ARE inconsistent (the motivation)
    assert(VersionedLake.readLatest(spark, a)
      .agg(sum($"n_lines")).head.getLong(0) !=
      VersionedLake.readLatest(spark, b).count())
    // the coordinated bound stays at the last COMPLETE instant, and
    // reading both lakes AS OF it is consistent — the torn instant is
    // invisible
    val bound = VersionedLake.coordinatedTs(spark, Seq(a, b))
    assert(bound == 200L, s"bound $bound")
    assert(consistentAt(bound))
    // recovery replays B's half of ts=300: the bound advances and the
    // instant becomes visible and consistent
    VersionedLake.commitAppend(
      (1 to 5).map(l => (4L, l)).toDF("o_id", "line")
        .withColumn("part", lit("l")),
      "part", b, commitTs = Some(300L))
    assert(VersionedLake.coordinatedTs(spark, Seq(a, b)) == 300L)
    assert(consistentAt(300L))
  }

  test("commit coordinator: one record claim makes a two-lake commit " +
      "atomic for coordinated readers, a crash between lake commits " +
      "is structurally invisible, recovery re-pins, regression races " +
      "abort, disjoint coordinators merge") {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    val a = java.nio.file.Files.createTempDirectory("lake_cca").toString
    val b = java.nio.file.Files.createTempDirectory("lake_ccb").toString
    val coord = java.nio.file.Files.createTempDirectory("lake_ccc").toString
    VersionedLake.reset(spark, a)
    VersionedLake.reset(spark, b)
    def commitA(rows: (Long, Int)*): (String, Int) = (a,
      VersionedLake.commitAppend(
        rows.toDF("o_id", "n_lines").withColumn("part", lit("h")),
        "part", a))
    def commitB(rows: (Long, Int)*): (String, Int) = (b,
      VersionedLake.commitAppend(
        rows.flatMap { case (o, n) => (1 to n).map(l => (o, l)) }
          .toDF("o_id", "line").withColumn("part", lit("l")),
        "part", b))
    // pin keys are CANONICAL (FileSystem-qualified) paths, so any
    // spelling of the same physical lake resolves to one key
    def cq(p: String) = "file:" + p.stripSuffix("/")
    val cv1 = CC.commitAll(spark, coord, Seq(
      () => commitA(1L -> 2, 2L -> 3), () => commitB(1L -> 2, 2L -> 3)))
    assert(cv1 == 1 && CC.pins(spark, coord, 1) ==
      Map(cq(a) -> 1, cq(b) -> 1))
    def coordConsistent(cv: Option[Int] = None): Boolean = {
      val nA = CC.readCoordinated(spark, coord, a, cv)
        .agg(sum($"n_lines")).head.getLong(0)
      val nB = CC.readCoordinated(spark, coord, b, cv).count()
      nA == nB
    }
    assert(coordConsistent())
    // CRASH between A's commit and B's: A landed v2, the coordinator
    // never advanced — coordinated readers still see the cv1 pair,
    // direct readers of A see the torn instant (documented posture)
    commitA(3L -> 5)
    assert(CC.latest(spark, coord) == 1)
    assert(coordConsistent(), "torn instant invisible to coordinated reads")
    assert(VersionedLake.readLatest(spark, a)
      .agg(sum($"n_lines")).head.getLong(0) !=
      VersionedLake.readLatest(spark, b).count(),
      "direct latest-of-each IS torn — the motivation")
    // recovery: re-pin A's landed version, commit B's missing half —
    // ONE record publishes the completed pair atomically
    val cv2 = CC.commitAll(spark, coord, Seq(
      () => (a, VersionedLake.latestVersion(spark, a)),
      () => commitB(3L -> 5)))
    assert(cv2 == 2 && coordConsistent())
    assert(CC.readCoordinated(spark, coord, a)
      .agg(sum($"n_lines")).head.getLong(0) == 10L)
    // time travel through the coordinator: record 1 still reads the
    // old pair
    assert(coordConsistent(Some(1)))
    // a REGRESSION race aborts loudly: a commit prepared against an
    // older A version must not un-publish cv2's pin
    intercept[java.util.ConcurrentModificationException] {
      CC.commitAll(spark, coord, Seq(() => (a, 1)))
    }
    // a DISJOINT coordinator merges: pinning only lake B (same
    // version) carries A's pin forward
    val c = java.nio.file.Files.createTempDirectory("lake_ccd").toString
    VersionedLake.reset(spark, c)
    val cv3 = CC.commitAll(spark, coord, Seq(
      () => (c, VersionedLake.commitOverwrite(
        Seq((9L, "x")).toDF("id", "part"), "part", c))))
    assert(cv3 == 3)
    assert(CC.pins(spark, coord, 3) == Map(
      cq(a) -> 2, cq(b) -> 2, cq(c) -> 1),
      "disjoint commit carries prior pins")
    assert(coordConsistent(), "A/B pair unchanged by the disjoint commit")
    // PIN-KEY CANONICALIZATION (r14 advice): the same physical lake
    // spelled file:/x, /x/, or with redundant slashes is ONE key —
    // a coordinated read through any spelling resolves the same pin,
    // and a commit pinning one lake under two spellings is the
    // duplicate-pin error, not two silent keys
    assert(CC.readCoordinated(spark, coord, s"file:$a").count() ==
      CC.readCoordinated(spark, coord, a + "/").count())
    intercept[IllegalArgumentException] {
      CC.commitAll(spark, coord, Seq(
        () => (a, VersionedLake.latestVersion(spark, a)),
        () => (s"file:$a/", VersionedLake.latestVersion(spark, a))))
    }
    // ...and the overtaken check sees through spellings too: a commit
    // preparing an OLDER pin of A under the file: spelling must abort,
    // not slip past as a "different" lake
    intercept[java.util.ConcurrentModificationException] {
      CC.commitAll(spark, coord, Seq(() => (s"file:$a", 1)))
    }
    // RECOVERY UNDER A CONCURRENT WRITER (the r14-advice scenario,
    // end-to-end): batch txn=7 lands in BOTH lakes, the coordinator
    // record never lands (crash); a CONCURRENT writer then advances
    // lake A; the checkpoint replay re-runs the same txn commits —
    // each dedup returns the txn's OWN version, so the recovery
    // record pins exactly the pair the batch computed, NOT the moved
    // head (which nobody computed together)
    def batchA(txn: Long) = VersionedLake.commitBatchAppend(
      Seq((100L, 1)).toDF("o_id", "n_lines")
        .withColumn("part", lit("h")), "part", a, txn)
    def batchB(txn: Long) = VersionedLake.commitBatchAppend(
      Seq((100L, 1)).toDF("o_id", "line")
        .withColumn("part", lit("l")), "part", b, txn)
    val (vA7, vB7) = (batchA(7L), batchB(7L))
    // crash before commitAll; concurrent writer moves lake A's head
    commitA(200L -> 9)
    assert(VersionedLake.latestVersion(spark, a) == vA7 + 1)
    // replay: the txn dedup hands back vA7/vB7, and the recovery
    // record pins the consistent pair
    val cvR = CC.commitAll(spark, coord, Seq(
      () => (a, batchA(7L)), () => (b, batchB(7L))))
    assert(CC.pins(spark, coord, cvR)(cq(a)) == vA7 &&
      CC.pins(spark, coord, cvR)(cq(b)) == vB7,
      "recovery re-pins exactly what the batch committed")
    assert(coordConsistent(), "facts==counts invariant holds through " +
      "replay under a concurrent writer")
  }

  test("commit coordinator claim race: 8 concurrent disjoint-lake " +
      "coordinated commits all land through the retry loop, every pin " +
      "survives into the final record, versions stay gapless") {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    val coord = java.nio.file.Files.createTempDirectory("lake_ccr").toString
    val lakes = (0 until 8).map { i =>
      val p = java.nio.file.Files.createTempDirectory(s"lake_ccr$i").toString
      VersionedLake.reset(spark, p)
      p
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val done = Future.sequence(lakes.zipWithIndex.map { case (p, i) =>
      Future {
        CC.commitAll(spark, coord, Seq(() => (p,
          VersionedLake.commitOverwrite(
            Seq((i.toLong, "x")).toDF("id", "part"), "part", p))))
      }
    })
    val cvs = Await.result(done, 120.seconds)
    // every claim won SOME version; the set is gapless 1..8 (a lost
    // race re-reads the head and re-claims, never skips or clobbers)
    assert(cvs.sorted == (1 to 8), s"claimed versions: $cvs")
    // the FINAL record carries every lake's pin (disjoint commits
    // merge by carrying prior pins forward through every interleaving)
    val finalPins = CC.pins(spark, coord, 8)
    assert(finalPins.keySet ==
      lakes.map(p => "file:" + p.stripSuffix("/")).toSet,
      s"final record pins all 8 lakes: $finalPins")
    assert(finalPins.values.forall(_ == 1))
    lakes.foreach { p =>
      assert(CC.readCoordinated(spark, coord, p).count() == 1)
    }
  }

  test("txn dedup returns the txn's OWN committed version, not the " +
      "table head: replay under a concurrent writer re-pins exactly " +
      "what the batch committed, cold-cache and vacuumed-txn paths " +
      "included") {
    import graft.sources.VersionedLake
    val lake = java.nio.file.Files.createTempDirectory("lake_txnv").toString
    VersionedLake.reset(spark, lake)
    def batch(txn: Long, rows: (Long, String)*) =
      VersionedLake.commitBatchAppend(rows.toDF("id", "part"), "part",
        lake, txn)
    assert(batch(1L, 1L -> "a") == 1)
    assert(batch(2L, 2L -> "a") == 2)
    // a concurrent writer advances the head past both batches
    VersionedLake.commitAppend(Seq((9L, "a")).toDF("id", "part"),
      "part", lake)
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    // replays are no-ops returning EACH txn's own version (r14 advice:
    // returning latestVersion=3 here would hand a coordinated recovery
    // a version the batch never computed, breaking st29's pair
    // invariant); upsert and DV-merge dedup share the resolution
    assert(batch(1L, 1L -> "a") == 1)
    assert(VersionedLake.commitBatchUpsert(
      Seq((2L, "a")).toDF("id", "part"), "part", lake, txn = 2L) == 2)
    assert(VersionedLake.commitBatchMergeDv(
      Seq((1L, "a")).toDF("id", "part"), Seq("id"), "part", lake,
      txn = 1L) == 1)
    assert(VersionedLake.latestVersion(spark, lake) == 3,
      "replays forked no history")
    // COLD-CACHE path (the fresh-JVM shape): a byte-copy of the lake
    // is a new cache key, so the dedup repopulates txn→version from
    // the manifest headers on disk
    val copy = java.nio.file.Files.createTempDirectory("lake_txnc")
      .toString + "/copy"
    val conf = spark.sparkContext.hadoopConfiguration
    val f = new org.apache.hadoop.fs.Path(lake).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(f,
      new org.apache.hadoop.fs.Path(lake), f,
      new org.apache.hadoop.fs.Path(copy), false, true, conf)
    assert(VersionedLake.commitBatchAppend(
      Seq((1L, "a")).toDF("id", "part"), "part", copy, txn = 1L) == 1)
    // VACUUMED txn (sidecar-carried, its version dropped): still
    // deduped — never re-applied — and resolves to the CURRENT version,
    // the documented fallback (the pinned snapshot is gone either way;
    // vacuum retain covering the replay window is the caller contract)
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(batch(1L, 1L -> "a") == 3)
    assert(VersionedLake.latestVersion(spark, lake) == 3)
  }

  test("commit-log head pointer: latestVersion resolves through " +
      "_log/_head without listing the log; stale, corrupt, ahead, and " +
      "missing hints all stay correct (trusted-but-verified); the " +
      "coordinator log shares the design") {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    import org.apache.hadoop.fs.Path
    val lake = java.nio.file.Files.createTempDirectory("lake_head").toString
    VersionedLake.reset(spark, lake)
    val f = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = new Path(s"$lake/_log/_head")
    def setHead(s: String): Unit = {
      val o = f.create(head, true)
      try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    def commit(id: Long) = VersionedLake.commitAppend(
      Seq((id, "a")).toDF("id", "part"), "part", lake)
    (1L to 3L).foreach(commit)
    // steady state: resolution is hint + forward probe — ZERO full
    // listings across repeated resolves (the O(versions)-per-read
    // cost the r14 verdict flagged is gone)
    val m0 = VersionedLake.headMisses.get()
    (1 to 10).foreach(_ =>
      assert(VersionedLake.latestVersion(spark, lake) == 3))
    assert(VersionedLake.headMisses.get() == m0,
      "no listing fallback on a head-maintained lake")
    // STALE hint (crash between claim and head write, lost overwrite
    // race): the forward probe walks past it — correct AND still no
    // listing
    setHead("1")
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    assert(VersionedLake.headMisses.get() == m0, "stale hint probes, not lists")
    // CORRUPT / TORN hint: verified fallback to the full listing
    setHead("not-a-version")
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    // AHEAD hint (tampering/partial copy): existence check fails it
    setHead("99")
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    // MISSING hint (legacy lake): listing fallback, and the next
    // commit restores steady state
    f.delete(head, false)
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    assert(VersionedLake.headMisses.get() > m0)
    commit(4L)
    val m1 = VersionedLake.headMisses.get()
    assert(VersionedLake.latestVersion(spark, lake) == 4)
    assert(VersionedLake.headMisses.get() == m1, "commit re-seeded the hint")
    // vacuum keeps the newest version, so the hint never dangles
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(VersionedLake.latestVersion(spark, lake) == 4)
    // the COORDINATOR log: same hint, same stale-hint safety
    val coord = java.nio.file.Files.createTempDirectory("lake_headc").toString
    CC.commitAll(spark, coord, Seq(() => (lake, 4)))
    CC.commitAll(spark, coord, Seq(() => (lake, 4)))
    val c0 = CC.headMisses.get()
    assert(CC.latest(spark, coord) == 2)
    assert(CC.headMisses.get() == c0)
    val chead = new Path(s"$coord/_coordlog/_head")
    val o = f.create(chead, true); o.write("1".getBytes("UTF-8")); o.close()
    assert(CC.latest(spark, coord) == 2, "stale coordinator hint probes forward")
    assert(CC.headMisses.get() == c0)
  }

  test("a coordinator record pinning a lake whose scheme this JVM " +
      "cannot resolve stays readable for the reachable lakes " +
      "(defensive canonicalization, r15 self-review)") {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    import org.apache.hadoop.fs.Path
    val lake = java.nio.file.Files.createTempDirectory("lake_cs").toString
    val coord = java.nio.file.Files.createTempDirectory("lake_csc").toString
    VersionedLake.reset(spark, lake)
    val v = VersionedLake.commitAppend(
      Seq((1L, "a")).toDF("id", "part"), "part", lake)
    // hand-write a record pinning BOTH a bogus-scheme lake (another
    // cluster's store, jars absent here) and the reachable one
    val f = new Path(coord).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(s"$coord/_coordlog"))
    val rec = new Path(s"$coord/_coordlog/000001.coord")
    val o = f.create(rec, false)
    try o.write((s"cversion=1\nlake\tnolake://elsewhere/t\t7\n" +
      s"lake\t$lake\t$v\n").getBytes("UTF-8")) finally o.close()
    // the reachable lake resolves (eager canon of every line used to
    // throw UnsupportedFileSystem before the lookup ever happened)
    assert(CC.readCoordinated(spark, coord, lake).count() == 1)
    // the unreachable pin degrades to string identity, not an error
    assert(CC.pins(spark, coord, 1)("nolake://elsewhere/t") == 7)
  }

  test("vacuum-pin gaps never fork history: a stale head hint at a " +
      "kept pinned version below a mid-log gap still resolves the true " +
      "latest (tombstone bridge), the next commit claims ABOVE the " +
      "gap, and released-pin tombstones sweep away") {
    import graft.sources.VersionedLake
    import org.apache.hadoop.fs.Path
    val lake = java.nio.file.Files.createTempDirectory("lake_gap").toString
    VersionedLake.reset(spark, lake)
    val f = new Path(lake).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def commit(id: Long) = VersionedLake.commitAppend(
      Seq((id, "a")).toDF("id", "part"), "part", lake)
    (1L to 4L).foreach(commit)
    // pin-aware vacuum keeps v2 (a coordinator pin) + the newest v4,
    // dropping {1, 3}: v3 is a MID-LOG GAP between two kept versions
    VersionedLake.vacuum(spark, lake, retain = 1, keepVersions = Set(2))
    val gap = new Path(s"$lake/_log/000003.vacuumed")
    assert(f.exists(gap), "mid-log gap is tombstoned")
    assert(!f.exists(new Path(s"$lake/_log/000001.vacuumed")),
      "prefix drops below every kept version need no bridge")
    // stale hint at the kept pin (crash/lost-overwrite shape): the
    // probe must walk THROUGH the gap to the true head — without the
    // tombstone it would report 2, and the next commit would claim
    // manifest 3 INSIDE the gap, silently forking history
    val head = new Path(s"$lake/_log/_head")
    val o = f.create(head, true)
    try o.write("2\n".getBytes("UTF-8")) finally o.close()
    val m0 = VersionedLake.headMisses.get()
    assert(VersionedLake.latestVersion(spark, lake) == 4)
    assert(VersionedLake.headMisses.get() == m0,
      "gap bridging is still a probe, not a listing fallback")
    commit(5L)
    assert(VersionedLake.latestVersion(spark, lake) == 5)
    assert(!f.exists(new Path(s"$lake/_log/000003.manifest")),
      "the new commit claimed above the gap, not into it")
    assert(VersionedLake.readVersion(spark, lake, 5).count() == 5)
    // pin released: the next vacuum drops v2, and the v3 tombstone —
    // now below every kept version — sweeps away with it
    VersionedLake.vacuum(spark, lake, retain = 1)
    assert(!f.exists(gap), "released-pin tombstones are reclaimed")
    assert(VersionedLake.latestVersion(spark, lake) == 5)
    // vacuum refreshed the hint: steady-state resolves stay probe-only
    val m1 = VersionedLake.headMisses.get()
    assert(VersionedLake.latestVersion(spark, lake) == 5)
    assert(VersionedLake.headMisses.get() == m1)
  }

  test("pin-aware vacuum: versions a coordinator record pins survive " +
      "any retain window (and their data files with them); naive " +
      "retain on the same log breaks the coordinated reader") {
    import graft.sources.{CommitCoordinator => CC, VersionedLake}
    val lake = java.nio.file.Files.createTempDirectory("lake_pv").toString
    val coord = java.nio.file.Files.createTempDirectory("lake_pvc").toString
    VersionedLake.reset(spark, lake)
    def commit(id: Long) = VersionedLake.commitAppend(
      Seq((id, "a")).toDF("id", "part"), "part", lake)
    // cv1 pins v1; two more commits land un-coordinated; cv2 pins v3
    CC.commitAll(spark, coord, Seq(() => (lake, commit(1L))))
    commit(2L); commit(3L)
    CC.commitAll(spark, coord, Seq(
      () => (lake, VersionedLake.latestVersion(spark, lake))))
    assert(CC.pinnedVersions(spark, coord, lake) == Set(1, 3))
    // NAIVE retain=1 on a byte-copy: drops v1+v2, and the coordinated
    // reader at cv1 breaks on the missing manifest — the failure mode
    // the pin-aware form exists to close
    val copy = java.nio.file.Files.createTempDirectory("lake_pvn")
      .toString + "/copy"
    val conf = spark.sparkContext.hadoopConfiguration
    val hf = new org.apache.hadoop.fs.Path(lake).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(hf,
      new org.apache.hadoop.fs.Path(lake), hf,
      new org.apache.hadoop.fs.Path(copy), false, true, conf)
    assert(VersionedLake.vacuum(spark, copy, retain = 1)._1 == 2)
    intercept[Exception] { VersionedLake.readVersion(spark, copy, 1).count() }
    // PIN-AWARE retain=1: only the unpinned v2 drops; both coordinated
    // snapshots stay fully readable, files included
    val (droppedN, _) = CC.vacuumPinned(spark, coord, lake, retain = 1)
    assert(droppedN == 1)
    assert(VersionedLake.versions(spark, lake) == Seq(1, 3))
    assert(CC.readCoordinated(spark, coord, lake, Some(1)).count() == 1)
    assert(CC.readCoordinated(spark, coord, lake, Some(2)).count() == 3)
    intercept[Exception] { VersionedLake.readVersion(spark, lake, 2).count() }
    // COORDINATOR RETENTION completes the lifecycle: dropping record 1
    // RELEASES its pin on lake v1, so the next pin-aware vacuum
    // reclaims it; the head record and its pin survive, time travel
    // to the dropped record fails loudly (the lake-vacuum posture one
    // level up)
    assert(CC.vacuum(spark, coord, retain = 1) == 1)
    assert(CC.records(spark, coord) == Seq(2))
    assert(CC.pinnedVersions(spark, coord, lake) == Set(3))
    assert(CC.vacuumPinned(spark, coord, lake, retain = 1)._1 == 1,
      "released pin reclaims on the next pin-aware vacuum")
    assert(VersionedLake.versions(spark, lake) == Seq(3))
    assert(CC.readCoordinated(spark, coord, lake).count() == 3,
      "head record + its pinned version fully readable after both vacuums")
    intercept[Exception] {
      CC.readCoordinated(spark, coord, lake, Some(1)).count() }
    // latest() stays correct over the gapped log (hint + fallback)
    assert(CC.latest(spark, coord) == 2)
  }

  test("unionByName with allowMissingColumns aligns evolved batches") {
    val v1 = Seq((1L, "alpha")).toDF("doc_id", "text")
    val v2 = Seq((2L, "en", "beta")).toDF("doc_id", "lang", "text") // reordered
    val u = v1.unionByName(v2, allowMissingColumns = true)
    val got = u.select($"doc_id", $"text", $"lang")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got == Set((1L, "alpha", None), (2L, "beta", Some("en"))),
      "by-name alignment, not positional; missing columns null-filled")
  }
}
