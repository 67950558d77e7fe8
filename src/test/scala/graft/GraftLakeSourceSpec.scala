package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLakeSource, VersionedLake}

/** The `graftlake` DataSource V2 surface: format resolution by short
  * name, version/timestamp time travel, manifest-side partition
  * pruning from pushed filters, column pruning, pure-SQL consumption,
  * and composition with deletion vectors + type widening (the read
  * path IS the library read). */
class GraftLakeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake(): String = {
    val lake = java.nio.file.Files.createTempDirectory("lake_dsv2").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1L, "1997-01", 10.0), (2L, "1997-02", 20.0),
        (3L, "1997-03", 30.0)).toDF("id", "month", "x"),
      "month", lake, commitTs = Some(1000L))
    VersionedLake.commitUpsert(
      Seq((4L, "1997-02", 40.0)).toDF("id", "month", "x"),
      "month", lake, commitTs = Some(2000L))
    lake
  }

  private def read(lake: String, opts: (String, String)*) = {
    val r = spark.read.format("graftlake")
      .option("partitionColumn", "month")
    opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load(lake)
  }

  test("graftlake: short-name resolution, latest read, versionAsOf " +
      "and timestampAsOf time travel") {
    val lake = freshLake()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    assert(ids(read(lake)) == Set(1L, 3L, 4L), "latest: Feb upserted")
    assert(ids(read(lake, "versionAsOf" -> "1")) == Set(1L, 2L, 3L))
    assert(ids(read(lake, "timestampAsOf" -> "1500")) == Set(1L, 2L, 3L))
    assert(ids(read(lake, "timestampAsOf" -> "2000")) == Set(1L, 3L, 4L))
  }

  test("graftlake: partition-column filters prune at the manifest; a " +
      "prune to nothing reads nothing; results stay row-exact") {
    val lake = freshLake()
    GraftLakeSource.lastScanParts.set(None)
    val feb = read(lake).filter($"month" === "1997-02")
      .select($"id", $"x").as[(Long, Double)].collect().toSet
    assert(feb == Set((4L, 40.0)))
    assert(GraftLakeSource.lastScanParts.get().contains((3, 1)),
      s"3 live partitions, 1 read: ${GraftLakeSource.lastScanParts.get()}")
    val range = read(lake, "versionAsOf" -> "1")
      .filter($"month" >= "1997-02" && $"month" <= "1997-03")
      .select(sum($"x")).as[Double].head()
    assert(range == 50.0)
    assert(GraftLakeSource.lastScanParts.get().contains((3, 2)))
    assert(read(lake).filter($"month" === "2099-12").count() == 0,
      "a prune that excludes every partition returns the typed empty")
  }

  test("graftlake: pure-SQL view with options, column pruning") {
    val lake = freshLake()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_lake_v1
      USING graftlake
      OPTIONS (path '$lake', versionAsOf '1', partitionColumn 'month')""")
    val got = spark.sql(
      """SELECT month, CAST(sum(x) AS BIGINT) AS sx
        |FROM graft_lake_v1 WHERE month <> '1997-01'
        |GROUP BY month ORDER BY month""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("1997-02", 20L), ("1997-03", 30L)))
    // a month predicate in SQL prunes at the manifest like the
    // DataFrame filter does
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_lake_latest
      USING graftlake OPTIONS (path '$lake', partitionColumn 'month')""")
    GraftLakeSource.lastScanParts.set(None)
    assert(spark.sql(
      "SELECT max(id) FROM graft_lake_latest WHERE month = '1997-02'")
      .as[Long].head() == 4L)
    assert(GraftLakeSource.lastScanParts.get().contains((3, 1)),
      s"3 live partitions, 1 read: ${GraftLakeSource.lastScanParts.get()}")
  }

  test("manifest file sizes: every data entry records its exact " +
      "on-disk bytes, filesTable surfaces them") {
    val lake = freshLake()
    val files = VersionedLake.filesTable(spark, lake, 2)
      .filter($"kind" === "data")
      .select($"rel", $"size_bytes").as[(String, Option[Long])].collect()
    assert(files.nonEmpty && files.forall(_._2.isDefined),
      "every data entry carries an S size field")
    files.foreach { case (rel, sz) =>
      val actual = new java.io.File(s"$lake/$rel").length()
      assert(sz.contains(actual), s"$rel: manifest $sz vs disk $actual")
    }
  }

  test("graftlake: deletion vectors and type widening surface through " +
      "the format exactly as the library read") {
    val lake = java.nio.file.Files.createTempDirectory("lake_dsv2c").toString
    VersionedLake.reset(spark, lake)
    VersionedLake.commitOverwrite(
      Seq((1, "a", 1.5f), (2, "a", 2.5f)).toDF("id", "part", "y"),
      "part", lake)
    VersionedLake.commitAppend( // widen id->long, y->double
      Seq((3000000000L, "b", 3.25)).toDF("id", "part", "y"),
      "part", lake)
    VersionedLake.commitDelete(Seq((1L, "a")).toDF("id", "part"),
      Seq("id"), "part", lake)
    val df = spark.read.format("graftlake").load(lake)
    assert(df.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.select($"id", $"y").as[(Long, Double)].collect().toSet ==
      Set((2L, 2.5), (3000000000L, 3.25)),
      "DV fold + widened cast-up both apply through the format")
  }

  test("graftlake OR pruning end-to-end: month='a' OR month='b' reads " +
      "two partitions; OR mixing a data column reads all; NOT of an " +
      "exact pc predicate prunes its complement") {
    val lake = freshLake()
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").as[Long].collect().toSet
    GraftLakeSource.lastScanParts.set(None)
    assert(ids(read(lake, "versionAsOf" -> "1")
      .filter($"month" === "1997-01" || $"month" === "1997-03"))
      == Set(1L, 3L))
    assert(GraftLakeSource.lastScanParts.get().contains((3, 2)),
      s"OR union prunes to 2 of 3: ${GraftLakeSource.lastScanParts.get()}")
    GraftLakeSource.lastScanParts.set(None)
    assert(ids(read(lake, "versionAsOf" -> "1")
      .filter($"month" === "1997-01" || $"x" === 30.0))
      == Set(1L, 3L), "rows stay exact")
    assert(GraftLakeSource.lastScanParts.get().isEmpty,
      "OR with a data-column branch stays read-all (sound)")
    GraftLakeSource.lastScanParts.set(None)
    assert(ids(read(lake, "versionAsOf" -> "1")
      .filter(!($"month" === "1997-02"))) == Set(1L, 3L))
    assert(GraftLakeSource.lastScanParts.get().contains((3, 2)),
      s"exact NOT prunes: ${GraftLakeSource.lastScanParts.get()}")
  }

  test("graftlake write path: format append equals the library append, " +
      "txn writes are exactly-once, overwrite replaces, refusals hold") {
    val lake = freshLake() // v2 = {1,3,4}
    def fmt(rows: (Long, String, Double)*) =
      rows.toDF("id", "month", "x").write.format("graftlake")
        .option("partitionColumn", "month")
    fmt((5L, "1997-04", 50.0)).mode("append").save(lake)
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    // the library-append equality: a twin lake appended via the verb
    // is read-indistinguishable
    val twin = java.nio.file.Files.createTempDirectory("lake_dsv2w").toString
    VersionedLake.reset(spark, twin)
    VersionedLake.commitOverwrite(
      VersionedLake.readVersion(spark, lake, 2), "month", twin)
    VersionedLake.commitAppend(
      Seq((5L, "1997-04", 50.0)).toDF("id", "month", "x"), "month", twin)
    def all(p: String) = spark.read.format("graftlake").load(p)
      .select($"id", $"month", $"x").as[(Long, String, Double)]
      .collect().toSet
    assert(all(lake) == all(twin), "format append == library append")
    // exactly-once: the SAME txn replayed commits nothing
    fmt((6L, "1997-05", 60.0)).option("txn", "42").mode("append").save(lake)
    val vAfterTxn = VersionedLake.latestVersion(spark, lake)
    fmt((6L, "1997-05", 60.0)).option("txn", "42").mode("append").save(lake)
    assert(VersionedLake.latestVersion(spark, lake) == vAfterTxn,
      "replayed txn is a no-op commit")
    assert(all(lake).count(_._1 == 6L) == 1, "no duplicate row")
    // overwrite mode is a full replacement through commitOverwrite
    fmt((9L, "1998-01", 90.0)).mode("overwrite").save(lake)
    assert(all(lake) == Set((9L, "1998-01", 90.0)))
    assert(VersionedLake.readVersion(spark, lake, vAfterTxn)
      .count() == 5, "history intact under the overwrite")
    // refusals: time-travelled write; txn with overwrite; missing
    // partition column option
    assertThrows[IllegalArgumentException] {
      Seq((7L, "1997-06", 70.0)).toDF("id", "month", "x")
        .write.format("graftlake").option("partitionColumn", "month")
        .option("versionAsOf", "1").mode("append").save(lake)
    }
    assertThrows[IllegalArgumentException] {
      fmt((8L, "1997-07", 80.0)).option("txn", "43")
        .mode("overwrite").save(lake)
    }
    assertThrows[IllegalArgumentException] {
      Seq((7L, "1997-06", 70.0)).toDF("id", "month", "x")
        .write.format("graftlake").mode("append").save(lake)
    }
  }

  test("SQL DML through graftlake: INSERT INTO routes the library " +
      "commit path (txn dedup via view options included), INSERT " +
      "OVERWRITE replaces, DELETE FROM is the l23 DV commit, and the " +
      "refusal walls hold (time travel, untranslatable predicate, " +
      "UPDATE/MERGE)") {
    val lake = freshLake() // v2 = {1,3,4}
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW glake
      USING graftlake OPTIONS (path '$lake', partitionColumn 'month')""")
    def ids() = spark.sql("SELECT id FROM glake")
      .as[Long].collect().toSet
    // INSERT INTO: AppendData → the same InsertableRelation commit
    // path as the format writer (OCC, staging, constraints)
    spark.sql("INSERT INTO glake VALUES (5, '1997-04', 50.0)")
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    assert(ids() == Set(1L, 3L, 4L, 5L))
    // txn OPTION ON THE VIEW: INSERT INTO becomes exactly-once —
    // the replayed statement commits nothing (commitBatchAppend dedup)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW glake_txn
      USING graftlake
      OPTIONS (path '$lake', partitionColumn 'month', txn '77')""")
    spark.sql("INSERT INTO glake_txn VALUES (6, '1997-05', 60.0)")
    assert(VersionedLake.latestVersion(spark, lake) == 4)
    spark.sql("INSERT INTO glake_txn VALUES (6, '1997-05', 60.0)")
    assert(VersionedLake.latestVersion(spark, lake) == 4,
      "replayed INSERT INTO under a txn view is a no-op commit")
    assert(ids() == Set(1L, 3L, 4L, 5L, 6L), "no duplicate row")
    // DELETE FROM ... WHERE: the DV commit — zero fresh data files,
    // one DV sidecar, untouched partitions carried by pointer, the
    // pre-delete version fully readable
    spark.sql("DELETE FROM glake WHERE month = '1997-02'")
    val v5 = VersionedLake.latestVersion(spark, lake)
    assert(v5 == 5)
    assert(ids() == Set(1L, 3L, 5L, 6L))
    val prev = VersionedLake.manifestFiles(spark, lake, 4)
      .filter(_.kind == "data").map(_.rel).toSet
    val now = VersionedLake.manifestFiles(spark, lake, v5)
    assert(now.filter(_.kind == "data").map(_.rel).toSet == prev,
      "every data file carried forward by pointer")
    assert(now.count(_.kind == "dv") == 1, "one DV sidecar minted")
    assert(spark.read.format("graftlake").option("versionAsOf", "4")
      .load(lake).count() == 5, "pinned pre-delete reader untouched")
    // a no-match DELETE mints nothing
    spark.sql("DELETE FROM glake WHERE month = '2099-12'")
    assert(VersionedLake.latestVersion(spark, lake) == v5)
    // refusal: a predicate that cannot translate EXACTLY to source
    // filters must fail loudly, never delete a widened superset
    intercept[Exception] {
      spark.sql("DELETE FROM glake WHERE x / 2.0 = 30.0")
    }
    assert(VersionedLake.latestVersion(spark, lake) == v5 &&
      ids() == Set(1L, 3L, 5L, 6L), "refused delete changed nothing")
    // refusals: DML through a time-travelled view; UPDATE/MERGE INTO
    // (library verbs — no SupportsRowLevelOperations)
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW glake_v1
      USING graftlake
      OPTIONS (path '$lake', versionAsOf '1', partitionColumn 'month')""")
    intercept[Exception] {
      spark.sql("INSERT INTO glake_v1 VALUES (7, '1997-06', 70.0)") }
    intercept[Exception] {
      spark.sql("DELETE FROM glake_v1 WHERE id = 1") }
    intercept[Exception] {
      spark.sql("UPDATE glake SET x = 0.0 WHERE id = 1") }
    intercept[Exception] {
      spark.sql("""MERGE INTO glake t USING (SELECT 1 AS id) s
        ON t.id = s.id WHEN MATCHED THEN DELETE""") }
    assert(VersionedLake.latestVersion(spark, lake) == v5,
      "every refusal minted nothing")
    // INSERT OVERWRITE: OverwriteByExpression(AlwaysTrue) → truncate →
    // commitOverwrite; history below it intact
    spark.sql("INSERT OVERWRITE glake VALUES (9, '1998-01', 90.0)")
    assert(ids() == Set(9L))
    assert(VersionedLake.readVersion(spark, lake, v5).count() == 4,
      "history intact under the SQL overwrite")
  }

  test("graftlake V2 catalog: CREATE/INSERT/SELECT/DELETE by NAME, " +
      "Spark-native VERSION AS OF / TIMESTAMP AS OF, transform " +
      "partitioning defines hidden specs, refusals hold") {
    import graft.sources.{HiddenPartitioning => HP}
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", wh)
    spark.sql("""CREATE TABLE graft.ns.t
      (id BIGINT, month STRING, x DOUBLE) PARTITIONED BY (month)""")
    assert(spark.sql("SELECT * FROM graft.ns.t").count() == 0,
      "CREATE seeds a readable empty version")
    spark.sql("""INSERT INTO graft.ns.t VALUES
      (1, '1997-01', 10.0), (2, '1997-02', 20.0)""")
    spark.sql("INSERT INTO graft.ns.t VALUES (3, '1997-03', 30.0)")
    def ids(q: String) = spark.sql(q).as[Long].collect().toSet
    assert(ids("SELECT id FROM graft.ns.t") == Set(1L, 2L, 3L))
    // Spark-NATIVE time-travel SQL resolves the same pins as the
    // option-based format read (the r14 'FOR VERSION AS OF' gap)
    assert(ids("SELECT id FROM graft.ns.t VERSION AS OF 2")
      == Set(1L, 2L))
    val lakePath = s"$wh/ns/t"
    assert(spark.read.format("graftlake").option("versionAsOf", "2")
      .load(lakePath).count() == 2,
      "catalog pin == option pin: one table, two spellings")
    // TIMESTAMP AS OF resolves stamped commits (commitTs — the
    // library's rule); a library commit on the SAME path composes
    VersionedLake.commitAppend(
      Seq((9L, "1997-09", 90.0)).toDF("id", "month", "x"), "month",
      lakePath, commitTs = Some(2000L))
    assert(ids("SELECT id FROM graft.ns.t " +
      "TIMESTAMP AS OF '1970-01-01 00:00:02'")
      == Set(1L, 2L, 3L, 9L))
    // DELETE by name: the same SupportsDelete DV path
    spark.sql("DELETE FROM graft.ns.t WHERE month = '1997-02'")
    assert(ids("SELECT id FROM graft.ns.t") == Set(1L, 3L, 9L))
    assert(VersionedLake.manifestFiles(spark, lakePath,
      VersionedLake.latestVersion(spark, lakePath))
      .count(_.kind == "dv") == 1, "catalog DELETE minted a DV")
    // a TRANSFORM in PARTITIONED BY defines HIDDEN partitioning —
    // writers derive, the internal column never surfaces
    spark.sql("""CREATE TABLE graft.ns.h
      (id BIGINT, d DATE, x DOUBLE) PARTITIONED BY (months(d))""")
    assert(HP.declared(spark, s"$wh/ns/h"))
    spark.sql("""INSERT INTO graft.ns.h VALUES
      (1, DATE '1997-01-15', 1.0), (2, DATE '1997-02-10', 2.0)""")
    assert(spark.sql("SELECT * FROM graft.ns.h").columns.toSeq ==
      Seq("id", "d", "x"), "internal partition column hidden")
    assert(ids("SELECT id FROM graft.ns.h WHERE d >= DATE '1997-02-01'")
      == Set(2L))
    spark.sql("DELETE FROM graft.ns.h WHERE id = 1")
    assert(ids("SELECT id FROM graft.ns.h") == Set(2L),
      "hidden-lake DELETE derives through the recorded spec")
    // listing + existence + refusal walls
    assert(spark.sql("SHOW TABLES IN graft.ns").count() == 2)
    intercept[Exception] { // duplicate create
      spark.sql("""CREATE TABLE graft.ns.t (id BIGINT, month STRING)
        PARTITIONED BY (month)""") }
    intercept[Exception] { // schema evolution is a versioned commit
      spark.sql("ALTER TABLE graft.ns.t ADD COLUMN y DOUBLE") }
    intercept[Exception] { // the path is the identity
      spark.sql("ALTER TABLE graft.ns.t RENAME TO graft.ns.t2") }
    intercept[Exception] { // identity partitioning must be STRING
      spark.sql("""CREATE TABLE graft.ns.bad (id BIGINT, d DATE)
        PARTITIONED BY (d)""") }
    spark.sql("DROP TABLE graft.ns.h")
    assert(spark.sql("SHOW TABLES IN graft.ns").count() == 1)
    assert(ids("SELECT id FROM graft.ns.t") == Set(1L, 3L, 9L),
      "sibling table untouched by the drop")
    // CTAS: createTable(query schema) + append — two versions, same
    // commit path
    spark.sql("""CREATE TABLE graft.ns.c PARTITIONED BY (month) AS
      SELECT id, month, x FROM graft.ns.t""")
    assert(ids("SELECT id FROM graft.ns.c") == Set(1L, 3L, 9L))
    assert(VersionedLake.latestVersion(spark, s"$wh/ns/c") == 2,
      "CTAS = schema-seeding create + one append commit")
  }

  test("graftlake catalog hardening: identifier segments cannot " +
      "escape the warehouse, and a crashed create's marker debris " +
      "(phantom: _log without a version) neither lists nor blocks " +
      "re-creation (r15 self-review)") {
    import org.apache.hadoop.fs.Path
    val wh = java.nio.file.Files.createTempDirectory("graft_wh2").toString
    spark.conf.set("spark.sql.catalog.graft2",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.graft2.base", wh)
    // a sibling lake OUTSIDE the warehouse a traversal could reach
    val outside = java.nio.file.Files.createTempDirectory("graft_out")
    val victim = new java.io.File(outside.toFile, "v/_log")
    assert(victim.mkdirs())
    // backtick-quoted '..' segments map to path components: refused
    // before any FS path resolves (DROP would recursively delete)
    val up = intercept[Exception] {
      spark.sql("DROP TABLE graft2.`..`.`..`") }
    assert(up.getMessage.contains("identifier segment"),
      s"traversal refused loudly, got: ${up.getMessage}")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft2.ns.`a/b` (id BIGINT, m STRING) " +
        "PARTITIONED BY (m)") }
    assert(victim.exists(), "nothing outside the warehouse was touched")
    // PHANTOM: a create that crashed after its marker write but
    // before the schema-seed commit — markers, no manifest
    val f = new Path(wh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new Path(s"$wh/ns/p/_log"))
    val o = f.create(new Path(s"$wh/ns/p/_log/_partcol"), false)
    try o.write("m\n".getBytes("UTF-8")) finally o.close()
    assert(spark.sql("SHOW TABLES IN graft2.ns").count() == 0,
      "a phantom is not a table")
    // re-creation clears the debris and yields a loadable table
    spark.sql("""CREATE TABLE graft2.ns.p
      (id BIGINT, month STRING) PARTITIONED BY (month)""")
    spark.sql("INSERT INTO graft2.ns.p VALUES (1, '1997-01')")
    assert(spark.sql("SELECT id FROM graft2.ns.p")
      .as[Long].collect().toSet == Set(1L))
    // DROP TABLE forgets the txn replay-dedup cache: a reborn table's
    // first txn-stamped commit LANDS instead of silently deduping
    // against the dead history (r15 self-review)
    import graft.sources.VersionedLake
    val rPath = s"$wh/ns/r"
    spark.sql("""CREATE TABLE graft2.ns.r
      (id BIGINT, month STRING) PARTITIONED BY (month)""")
    val rdf = Seq((1L, "1997-01")).toDF("id", "month")
    VersionedLake.commitBatchAppend(rdf, "month", rPath, txn = 7L)
    assert(VersionedLake.latestVersion(spark, rPath) == 2)
    spark.sql("DROP TABLE graft2.ns.r")
    spark.sql("""CREATE TABLE graft2.ns.r
      (id BIGINT, month STRING) PARTITIONED BY (month)""")
    VersionedLake.commitBatchAppend(rdf, "month", rPath, txn = 7L)
    assert(VersionedLake.latestVersion(spark, rPath) == 2,
      "reborn lake accepted txn 7 — the dead history's dedup set " +
        "was forgotten on DROP")
    // a refused create leaves NO phantom namespace behind
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft2.ns.bad2 (id BIGINT, d DATE)
        PARTITIONED BY (years(d))""") }
    assert(!spark.sql("SHOW NAMESPACES IN graft2.ns").collect()
      .map(_.getString(0)).contains("ns.bad2"),
      "refused create left an empty directory namespace")
  }

  test("graftlake catalog namespaces: CREATE/SHOW/DROP NAMESPACE over " +
      "the directory tree (nested; non-empty refuses without CASCADE; " +
      "metadata-store properties refused loudly), and TRUNCATE TABLE " +
      "routes through the DV delete path") {
    import graft.sources.VersionedLake
    val wh = java.nio.file.Files.createTempDirectory("graft_wh3").toString
    spark.conf.set("spark.sql.catalog.graft3",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.graft3.base", wh)
    spark.sql("CREATE NAMESPACE graft3.a")
    spark.sql("CREATE NAMESPACE graft3.a.b")
    def names(q: String) = spark.sql(q).collect()
      .map(_.getString(0)).toSet
    assert(names("SHOW NAMESPACES IN graft3") == Set("a"))
    assert(names("SHOW NAMESPACES IN graft3.a") == Set("a.b"))
    intercept[Exception] { // duplicate
      spark.sql("CREATE NAMESPACE graft3.a") }
    intercept[Exception] { // no metadata store: custom props refused
      spark.sql("CREATE NAMESPACE graft3.c WITH PROPERTIES ('k'='v')") }
    intercept[Exception] { // location is base-derived
      spark.sql("CREATE NAMESPACE graft3.c LOCATION '/tmp/elsewhere'") }
    // an EMPTY namespace drops without CASCADE
    spark.sql("CREATE NAMESPACE graft3.e")
    assert(names("SHOW NAMESPACES IN graft3") == Set("a", "e"))
    spark.sql("DROP NAMESPACE graft3.e")
    assert(names("SHOW NAMESPACES IN graft3") == Set("a"))
    // a table inside: the namespace is non-empty, and the table is
    // NOT listed as a namespace
    spark.sql("""CREATE TABLE graft3.a.t
      (id BIGINT, month STRING) PARTITIONED BY (month)""")
    spark.sql("INSERT INTO graft3.a.t VALUES (1, '1997-01'), (2, '1997-02')")
    assert(names("SHOW NAMESPACES IN graft3.a") == Set("a.b"),
      "tables are not namespaces")
    intercept[Exception] { // non-empty without CASCADE
      spark.sql("DROP NAMESPACE graft3.a") }
    // TRUNCATE TABLE: SupportsDelete's truncateTable default →
    // deleteWhere(AlwaysTrue) → the same DV commit path; history and
    // pinned readers survive
    val tPath = s"$wh/a/t"
    val vBefore = VersionedLake.latestVersion(spark, tPath)
    spark.sql("TRUNCATE TABLE graft3.a.t")
    assert(spark.sql("SELECT * FROM graft3.a.t").count() == 0)
    assert(VersionedLake.latestVersion(spark, tPath) == vBefore + 1,
      "truncate is one more COMMIT, not a directory wipe")
    assert(VersionedLake.readVersion(spark, tPath, vBefore).count() == 2,
      "pre-truncate history intact (DV delete, files carried forward)")
    assert(spark.sql("SELECT count(*) FROM graft3.a.t.files " +
      "WHERE kind = 'dv'").head().getLong(0) == 2L,
      "truncate minted one DV per touched partition")
    spark.sql("DROP NAMESPACE graft3.a CASCADE")
    assert(names("SHOW NAMESPACES IN graft3") == Set.empty)
    assert(spark.sql("SHOW NAMESPACES IN graft3").count() == 0)
  }

  test("graftlake metadata tables: cat.ns.t.history and cat.ns.t.files " +
      "expose the commit log and latest file inventory as read-only " +
      "SQL (schemas pinned to the library frames; latest re-resolves " +
      "per scan; writes refuse)") {
    import graft.sources.VersionedLake
    val wh = java.nio.file.Files.createTempDirectory("graft_wh4").toString
    spark.conf.set("spark.sql.catalog.graft4",
      "graft.sources.GraftLakeCatalog")
    spark.conf.set("spark.sql.catalog.graft4.base", wh)
    spark.sql("""CREATE TABLE graft4.ns.t
      (id BIGINT, month STRING, x DOUBLE) PARTITIONED BY (month)""")
    spark.sql("INSERT INTO graft4.ns.t VALUES (1, '1997-01', 10.0)")
    spark.sql("INSERT INTO graft4.ns.t VALUES (2, '1997-02', 20.0)")
    spark.sql("DELETE FROM graft4.ns.t WHERE id = 2")
    val tPath = s"$wh/ns/t"
    // history: one row per live version, schema pinned to the library
    val hist = spark.sql(
      "SELECT version FROM graft4.ns.t.history ORDER BY version")
    assert(hist.collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4))
    assert(spark.table("graft4.ns.t.history").schema ==
      VersionedLake.history(spark, tPath).schema,
      "pinned history schema drifted from the library frame")
    assert(spark.sql("SELECT count(*) FROM graft4.ns.t.history " +
      "WHERE has_dvs").head().getLong(0) == 1L)
    // files: the LATEST inventory — the delete minted exactly one DV
    assert(spark.table("graft4.ns.t.files").schema ==
      VersionedLake.filesTable(spark, tPath,
        VersionedLake.latestVersion(spark, tPath)).schema,
      "pinned files schema drifted from the library frame")
    assert(spark.sql("SELECT count(*) FROM graft4.ns.t.files " +
      "WHERE kind = 'dv'").head().getLong(0) == 1L)
    // latest re-resolves AT SCAN TIME (un-pinned relation semantics)
    spark.sql("INSERT INTO graft4.ns.t VALUES (3, '1997-03', 30.0)")
    assert(spark.sql("SELECT count(*) FROM graft4.ns.t.history")
      .head().getLong(0) == 5L)
    // read-only: every mutation refuses at analysis
    intercept[Exception] {
      spark.sql("INSERT INTO graft4.ns.t.history VALUES " +
        "(9, 'x', 9, 9, 9, false, 0)") }
    intercept[Exception] {
      spark.sql("DELETE FROM graft4.ns.t.files WHERE kind = 'dv'") }
    // a REAL table named 'history' shadows the view; and a table
    // cannot be created INSIDE a table (it would shadow t's views)
    spark.sql("""CREATE TABLE graft4.ns.history
      (id BIGINT, month STRING) PARTITIONED BY (month)""")
    assert(spark.sql("SELECT * FROM graft4.ns.history").columns.toSeq
      == Seq("id", "month"), "real table wins the reserved name")
    intercept[Exception] {
      spark.sql("""CREATE TABLE graft4.ns.t.inner
        (id BIGINT, m STRING) PARTITIONED BY (m)""") }
  }

  test("graftlake STREAMING SOURCE: readStream follows the commit " +
      "log (initial snapshot then appends), maxFilesPerTrigger bounds " +
      "each micro-batch, checkpoint recovery resumes exactly, and a " +
      "deletion-vector commit fails the stream loudly") {
    import graft.sources.VersionedLake
    import org.apache.spark.sql.streaming.Trigger
    val lake = java.nio.file.Files.createTempDirectory("lake_ss").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lake_ss_ck").toString
    VersionedLake.reset(spark, lake)
    def df(rows: (Long, String)*) = rows.toDF("id", "part")
    VersionedLake.commitOverwrite(df().limit(0), "part", lake) // seed v1
    VersionedLake.commitAppend(df(1L -> "a", 2L -> "b"), "part", lake)
    VersionedLake.commitAppend(df(3L -> "a"), "part", lake) // v3
    val got = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def run(): Unit = {
      val q = spark.readStream.format("graftlake")
        .option("maxFilesPerTrigger", "1").load(lake)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], _: Long) =>
          val ids = b.select("id").collect().map(_.getLong(0)).toSet
          got.synchronized { got += ids }; ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(got.flatten.toSet == Set(1L, 2L, 3L),
      "initial snapshot covers everything live at stream start")
    assert(got.count(_.nonEmpty) == 1,
      s"the initial snapshot is ONE unbounded batch, got $got")
    // restart on the SAME checkpoint: only NEW appends arrive, and
    // the tail IS paced — two appended files at maxFiles=1 drain as
    // two bounded micro-batches
    got.clear()
    VersionedLake.commitAppend(df(4L -> "c"), "part", lake) // v4
    VersionedLake.commitAppend(df(6L -> "d"), "part", lake) // v5
    run()
    assert(got.flatten.toSet == Set(4L, 6L),
      "recovery resumed at the committed cursor — no replays")
    assert(got.count(_.nonEmpty) == 2,
      s"maxFilesPerTrigger=1 paces the tail one file per batch, got $got")
    // a DV commit breaks the append-only follow contract LOUDLY
    VersionedLake.commitDelete(Seq(1L -> "a").toDF("id", "part"),
      Seq("id"), "part", lake)
    VersionedLake.commitAppend(df(5L -> "c"), "part", lake)
    val err = intercept[org.apache.spark.sql.streaming
        .StreamingQueryException] { run() }
    assert(err.getMessage.contains("deletion vector") ||
      Option(err.getCause).exists(_.getMessage.contains("deletion")),
      s"DV inside the polled range refuses, got: ${err.getMessage}")
    // time-travel pins cannot stream
    intercept[Exception] {
      spark.readStream.format("graftlake")
        .option("versionAsOf", "2").load(lake) }
    // a FRESH stream on the same lake STARTS fine: the initial
    // snapshot reads the DV-folded latest and never walks the
    // rewrite history that just failed the TAIL (r15 self-review —
    // slicing the snapshot from (0,0) refused on any historical DV)
    val ck2 = java.nio.file.Files.createTempDirectory("lake_ss_ck2")
    val got2 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val q2 = spark.readStream.format("graftlake").load(lake)
      .writeStream.option("checkpointLocation", ck2.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSet
        got2.synchronized { got2 += ids }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(got2.flatten.toSet == Set(2L, 3L, 4L, 6L, 5L),
      s"fresh-stream snapshot folds the delete history, got $got2")
    // startingVersion: tail from a version ONWARD, no snapshot — the
    // Delta-style escape that also tails PAST rewrite history
    val headNow = VersionedLake.latestVersion(spark, lake)
    val ck3 = java.nio.file.Files.createTempDirectory("lake_ss_ck3")
    val got3 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    VersionedLake.commitAppend(df(7L -> "e"), "part", lake)
    val q3 = spark.readStream.format("graftlake")
      .option("startingVersion", (headNow + 1).toString).load(lake)
      .writeStream.option("checkpointLocation", ck3.toString)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        val ids = b.select("id").collect().map(_.getLong(0)).toSet
        got3.synchronized { got3 += ids }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q3.awaitTermination()
    assert(got3.flatten.toSet == Set(7L),
      s"startingVersion tails from the version onward only, got $got3")
    // a HIDDEN-partitioned lake streams with its internal column
    // hidden — the format's schema rule, batch and stream alike
    import graft.sources.{HiddenPartitioning => HP}
    val hl = java.nio.file.Files.createTempDirectory("lake_ssh").toString
    val hck = java.nio.file.Files.createTempDirectory("lake_ssh_ck").toString
    VersionedLake.reset(spark, hl)
    HP.define(spark, hl, HP.Spec("d", HP.Month))
    def hdf(rows: (Long, java.sql.Date)*) = rows.toDF("id", "d")
    HP.commitOverwrite(hdf(
      1L -> java.sql.Date.valueOf("1997-01-15"),
      2L -> java.sql.Date.valueOf("1997-02-10")), hl)
    val hGot = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val hq = spark.readStream.format("graftlake").load(hl)
      .writeStream.option("checkpointLocation", hck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        hGot.synchronized { hGot += b.columns.toSeq }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    hq.awaitTermination()
    assert(hGot.forall(_ == Seq("id", "d")),
      s"internal partition column leaked into the stream: $hGot")
  }

  test("graftlake STREAMING SINK: writeStream.format commits one " +
      "txn-deduped append per micro-batch — a lake-to-lake pipeline " +
      "through format strings alone, exactly-once across reruns, " +
      "refusals for non-append modes and partitionBy") {
    import graft.sources.VersionedLake
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Files.createTempDirectory("lake_sk_src").toString
    val dst = java.nio.file.Files.createTempDirectory("lake_sk_dst").toString
    val ckpt = java.nio.file.Files.createTempDirectory("lake_sk_ck").toString
    VersionedLake.reset(spark, src); VersionedLake.reset(spark, dst)
    def df(rows: (Long, String)*) = rows.toDF("id", "part")
    VersionedLake.commitOverwrite(df().limit(0), "part", src)
    VersionedLake.commitOverwrite(df().limit(0), "part", dst)
    VersionedLake.commitAppend(df(1L -> "a", 2L -> "b"), "part", src)
    VersionedLake.commitAppend(df(3L -> "a"), "part", src)
    def run(): Unit = {
      val q = spark.readStream.format("graftlake").load(src)
        .writeStream.format("graftlake")
        .option("path", dst).option("partitionColumn", "part")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    def ids(path: String) = VersionedLake.readLatest(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(dst) == Set(1L, 2L, 3L),
      "the pipeline moved the whole source snapshot")
    val v1 = VersionedLake.latestVersion(spark, dst)
    // rerun with nothing new: no empty commits, no replays
    run()
    assert(VersionedLake.latestVersion(spark, dst) == v1,
      "an idle rerun minted versions")
    // a new source commit flows through; the dst commit is txn-stamped
    VersionedLake.commitAppend(df(4L -> "c"), "part", src)
    run()
    assert(ids(dst) == Set(1L, 2L, 3L, 4L))
    assert(VersionedLake.latestVersion(spark, dst) == v1 + 1)
    // a DIFFERENT pipeline (fresh checkpoint) into the SAME dst must
    // not dedup against the first pipeline's txns: the txn scope is
    // the checkpoint, not the bare batchId (r15 self-review)
    val before = VersionedLake.readLatest(spark, dst).count()
    val ck4 = java.nio.file.Files.createTempDirectory("lake_sk_ck4")
    val q4 = spark.readStream.format("graftlake").load(src)
      .writeStream.format("graftlake")
      .option("path", dst).option("partitionColumn", "part")
      .option("checkpointLocation", ck4.toString)
      .trigger(Trigger.AvailableNow()).start()
    q4.awaitTermination()
    assert(VersionedLake.readLatest(spark, dst).count() ==
        before + VersionedLake.readLatest(spark, src).count(),
      "the second pipeline's snapshot batch landed (own txn scope)")
    // and a missing txn scope refuses at start
    intercept[Exception] {
      spark.readStream.format("graftlake").load(src)
        .writeStream.format("graftlake")
        .option("path", dst).option("partitionColumn", "part")
        .start() }
    // refusal walls: non-append output mode; partitionBy
    intercept[Exception] {
      spark.readStream.format("graftlake").load(src)
        .writeStream.format("graftlake").outputMode("update")
        .option("path", dst).option("partitionColumn", "part")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck2").toString)
        .start() }
    intercept[Exception] {
      spark.readStream.format("graftlake").load(src)
        .writeStream.format("graftlake").partitionBy("part")
        .option("path", dst).option("partitionColumn", "part")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("ck3").toString)
        .start() }
  }

  test("graftlake OCC through the format: a format append and a " +
      "concurrent library upsert both land (appends rebase through " +
      "the claim protocol)") {
    val lake = freshLake() // v2
    // the library upsert lands FIRST (v3), then the format append —
    // prepared against v2 conceptually — must rebase onto v3, not
    // clobber it (both writers' rows survive)
    VersionedLake.commitUpsert(
      Seq((10L, "1997-03", 33.0)).toDF("id", "month", "x"), "month", lake)
    Seq((11L, "1997-08", 110.0)).toDF("id", "month", "x")
      .write.format("graftlake").option("partitionColumn", "month")
      .mode("append").save(lake)
    assert(VersionedLake.latestVersion(spark, lake) == 4)
    val got = spark.read.format("graftlake").load(lake)
      .select($"id").as[Long].collect().toSet
    assert(got == Set(1L, 4L, 10L, 11L),
      "upserted Mar replacement AND the format append both visible")
  }

  test("graftlake over a hidden-partitioned lake: the internal column " +
      "never surfaces, writes derive through the recorded spec, " +
      "option-based pruning stands down but rows stay exact") {
    import graft.sources.{HiddenPartitioning => HP}
    import java.sql.Date
    val lake = java.nio.file.Files.createTempDirectory("lake_dsv2h").toString
    VersionedLake.reset(spark, lake)
    HP.define(spark, lake, HP.Spec("d", HP.Month))
    def df(rows: (Long, String)*) =
      rows.map { case (i, s) => (i, Date.valueOf(s)) }.toDF("id", "d")
    HP.commitOverwrite(df(1L -> "1997-01-15", 2L -> "1997-02-10"), lake)
    val r = spark.read.format("graftlake").load(lake)
    assert(r.columns.toSet == Set("id", "d"), "internal __p hidden")
    // a plain format append with NO partitionColumn option and NO
    // derived column: the sink derives through the recorded spec
    df(3L -> "1997-03-05").write.format("graftlake")
      .mode("append").save(lake)
    val parts = VersionedLake.manifestFiles(spark, lake, 2)
      .filter(_.kind == "data").map(_.part).distinct
    assert(parts.toSet == Set("1997-01", "1997-02", "1997-03"),
      s"derived month partitions: $parts")
    assert(VersionedLake.manifestFiles(spark, lake, 2)
      .filter(e => e.kind == "data" && e.part == "1997-03")
      .forall(_.specId.contains(0)), "format write records the spec id")
    // ...and the exactly-once txn route derives too
    df(4L -> "1997-04-01").write.format("graftlake")
      .option("txn", "7").mode("append").save(lake)
    df(4L -> "1997-04-01").write.format("graftlake")
      .option("txn", "7").mode("append").save(lake) // replay: no-op
    assert(VersionedLake.latestVersion(spark, lake) == 3)
    def ids(d2: org.apache.spark.sql.DataFrame) =
      d2.select($"id").as[Long].collect().toSet
    assert(ids(spark.read.format("graftlake").load(lake))
      == Set(1L, 2L, 3L, 4L))
    // the format read equals the library's transform-projected read
    assert(ids(HP.readBetween(spark, lake, "1997-01-01", "1997-04-30"))
      == Set(1L, 2L, 3L, 4L))
    // option-based pruning stands down on a hidden lake (manifest
    // values are spec-derived) — rows stay exact, nothing pruned
    GraftLakeSource.lastScanParts.set(None)
    assert(ids(spark.read.format("graftlake")
      .option("partitionColumn", "d").load(lake)
      .filter($"d" === "1997-02-10")) == Set(2L))
    assert(GraftLakeSource.lastScanParts.get().isEmpty,
      "no option-based prune against derived partition values")
  }

  test("graftlake un-pinned relations bind to LATEST AT SCAN TIME: a " +
      "temp view without time-travel options surfaces later commits; " +
      "explicit pins stay pinned") {
    val lake = freshLake() // v2 = {1,3,4}
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_lake_live
      USING graftlake OPTIONS (path '$lake', partitionColumn 'month')""")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_lake_pin
      USING graftlake
      OPTIONS (path '$lake', versionAsOf '2', partitionColumn 'month')""")
    def n(v: String) = spark.sql(s"SELECT count(*) FROM $v")
      .as[Long].head()
    assert(n("graft_lake_live") == 3 && n("graft_lake_pin") == 3)
    VersionedLake.commitAppend(
      Seq((12L, "1997-09", 120.0)).toDF("id", "month", "x"),
      "month", lake)
    assert(n("graft_lake_live") == 4,
      "the un-pinned view follows the log (r13 advice)")
    assert(n("graft_lake_pin") == 3, "the explicit pin never moves")
  }
}
