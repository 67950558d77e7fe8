package graft

import java.io.FileInputStream
import java.nio.ByteBuffer
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.zip.{CRC32, Deflater, ZipFile, ZipInputStream}

import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.sources.{SqliteFile, SqlitePacker}

/** Artifact-sink contract: the zip holds one entry, `pricecatcher.db`,
  * which carries the reference's DDL in its own `sqlite_master` and no
  * free pages (already vacuumed); the db round-trips through the
  * independent [[SqliteFile]] reader and, when a sqlite3 binary is
  * present, through real sqlite3. The writer's output is pinned byte
  * for byte by a golden SHA-256, and its cost by a wall-clock bound at
  * a size where a super-linear writer blows it. */
class SqlitePackerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val hasSqlite3 =
    Process(Seq("sh", "-c", "command -v sqlite3 >/dev/null")).! == 0

  /** Page type byte of b-tree page `no` (page 1's header sits after the
    * 100-byte file header). */
  private def pageType(bytes: Array[Byte], no: Int): Int =
    bytes((no - 1) * 4096 + (if (no == 1) 100 else 0)) & 0xff

  /** The packer's worker threads (dimension collects, deflate chunks)
    * that are still alive. */
  private def packerThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("pricecatcher-") && t.isAlive)
      .map(_.getName).toSet

  /** Zip `bytes` as `pricecatcher.db` through the packer's chunked
    * deflate; returns the zip. */
  private def chunkedZip(bytes: Array[Byte]): Path = {
    val dir = Files.createTempDirectory("graft_zip")
    val db = Files.write(dir.resolve("pricecatcher.db"), bytes)
    val zip = dir.resolve("pricecatcher.zip")
    SqlitePacker.zip(db, zip)
    zip
  }

  /** Bytes of a single-stream raw deflate at level 9. */
  private def singleStreamDeflated(bytes: Array[Byte]): Long = {
    val d = new Deflater(9, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](64 * 1024)
      var n = 0L
      while (!d.finished()) n += d.deflate(buf)
      n
    } finally d.end()
  }

  /** Root page of `name` as recorded in sqlite_master. */
  private def rootOf(path: Path, name: String): Int =
    SqliteFile.read(path, "sqlite_master").find(_(1) == name).get(3)
      .asInstanceOf[Long].toInt

  test("SqliteFile round-trips records, multi-page b-trees, empty tables") {
    val path = Files.createTempFile("graft_sqlite", ".db")
    // enough rows to force leaf packing + an interior level; mixed types
    val wide = (1 to 3000).map(i =>
      Seq(i.toLong, s"name_$i" * 3, i * 0.5, null))
    val nPages = SqliteFile.write(path, Seq(
      SqliteFile.TableDef("big",
        "CREATE TABLE big (id INTEGER, name TEXT, score FLOAT, extra TEXT)",
        wide.iterator),
      SqliteFile.TableDef("empty", "CREATE TABLE empty (x INTEGER)",
        Iterator.empty),
      SqliteFile.TableDef("tiny", "CREATE TABLE tiny (v INTEGER)",
        Iterator(Seq(0L), Seq(1L), Seq(-77L), Seq(123456789012L)))))
    assert(nPages > 3, "3000 rows must span multiple pages")

    val master = SqliteFile.read(path, "sqlite_master")
    assert(master.map(_(1)) == Seq("big", "empty", "tiny"))
    assert(master.forall(_(0) == "table"))

    val big = SqliteFile.read(path, "big")
    assert(big.size == 3000)
    assert(big.head == Seq(1L, "name_1" * 3, 0.5, null))
    assert(big.last == Seq(3000L, "name_3000" * 3, 1500.0, null))
    // b-tree walk preserves rowid order
    assert(big.map(_(0).asInstanceOf[Long]) == (1L to 3000L))

    assert(SqliteFile.read(path, "empty").isEmpty)
    // integer serial-type edges: 0, 1, negative, >32-bit
    assert(SqliteFile.read(path, "tiny").map(_(0)) ==
      Seq(0L, 1L, -77L, 123456789012L))
    Files.delete(path)
  }

  test("SqliteFile index b-trees: complete, ordered, multi-level") {
    val path = Files.createTempFile("graft_sqlite_ix", ".db")
    // key design: text keys large enough to force interior index pages
    // (promoted-divider path), plus NULLs (class order: NULL first)
    val n = 4000
    val rows = (1 to n).map { i =>
      Seq(if (i % 97 == 0) null else s"key_${"%05d".format((i * 7919) % n)}",
        i.toLong)
    }
    SqliteFile.write(path, Seq(
      SqliteFile.TableDef("t",
        "CREATE TABLE t (k TEXT, v INTEGER)", rows.iterator,
        Seq(SqliteFile.IndexDef("idx_k",
          "CREATE INDEX idx_k ON t (k)", Seq(0)),
          SqliteFile.IndexDef("idx_empty_none", // empty-index path
            "CREATE INDEX idx_empty_none ON t (v)", Seq(1))))))

    val master = SqliteFile.read(path, "sqlite_master")
    assert(master.count(_(0) == "index") == 2)

    val entries = SqliteFile.readIndex(path, "idx_k")
    assert(entries.size == n, s"index must hold every row: ${entries.size}")
    // every (key, rowid) pair present exactly once
    val expected = rows.zipWithIndex.map { case (r, i) => (r(0), i + 1L) }
    assert(entries.map(e => (e(0), e(1))).toSet == expected.toSet)
    // in index order: NULLs first, then byte-ordered text; rowid breaks ties
    val keys = entries.map(_(0))
    val (nulls, texts) = keys.span(_ == null)
    assert(nulls.size == n / 97 && texts.forall(_ != null))
    assert(texts.map(_.asInstanceOf[String]) ==
      texts.map(_.asInstanceOf[String]).sorted)
    Files.delete(path)
  }

  test("SqliteFile overflow chains: >4KB rows and index keys round-trip") {
    val path = Files.createTempFile("graft_sqlite_ovf", ".db")
    // 16 KB string (multi-page chain), 9 KB blob, 5 KB index key —
    // all past the single-page budgets; filler rows force multi-leaf
    // b-trees so overflow cells coexist with ordinary packing
    val big16k = "x" * 16384 + "END"
    val blob = Array.tabulate[Byte](9000)(i => (i * 31).toByte)
    val longKey = "k" * 5000
    val rows = Seq(
      Seq(1L, big16k, null),
      Seq(2L, "short", blob),
      Seq(3L, longKey, null)) ++
      (4 to 300).map(i => Seq(i.toLong, s"filler_$i" * 40, null))
    SqliteFile.write(path, Seq(
      SqliteFile.TableDef("ovf",
        "CREATE TABLE ovf (id INTEGER, txt TEXT, b BLOB)", rows.iterator,
        Seq(SqliteFile.IndexDef("idx_txt",
          "CREATE INDEX idx_txt ON ovf (txt)", Seq(1))))))

    val got = SqliteFile.read(path, "ovf")
    assert(got.size == rows.size)
    assert(got(0)(1) == big16k)
    assert(java.util.Arrays.equals(
      got(1)(2).asInstanceOf[Array[Byte]], blob))
    assert(got(2)(1) == longKey)
    val entries = SqliteFile.readIndex(path, "idx_txt")
    assert(entries.size == rows.size)
    assert(entries.map(_(0)).contains(big16k))
    assert(entries.map(_(0)).contains(longKey))

    // real sqlite3 verdict when available: page-level integrity (would
    // flag orphaned/corrupt overflow chains) + content through chains
    if (hasSqlite3) {
      val res = Process(Seq("sqlite3", path.toString,
        "PRAGMA integrity_check;",
        "SELECT length(txt) FROM ovf WHERE id=1;",
        "SELECT substr(txt,16381,7) FROM ovf WHERE id=1;",
        "SELECT length(b) FROM ovf WHERE id=2;",
        "SELECT count(*) FROM ovf INDEXED BY idx_txt WHERE txt > '';")).!!.trim
      assert(res.linesIterator.toSeq ==
        Seq("ok", "16387", "xxxxEND", "9000", s"${rows.size}"), res)
    }
    Files.delete(path)
  }

  test("pack zips pricecatcher.db alone, with the reference DDL and no free pages") {
    val out = Files.createTempDirectory("packer_spec").toString
    val prices = Seq(("2001-01-01", 1L, 10L, 9.99), ("2001-01-02", 2L, 11L, 5.0))
      .toDF("date", "premise_code", "item_code", "price")
    val premises = Seq((1L, "P1", "addr", "t", "s", "d"), (2L, "P2", "addr", "t", "s", "d"))
      .toDF("premise_code", "premise", "address", "premise_type", "state", "district")
    val items = Seq((10L, "I1", "u", "g", "c"), (11L, "I2", "u", "g", "c"))
      .toDF("item_code", "item", "unit", "item_group", "item_category")
    val zip = SqlitePacker.pack(out, prices, premises, items)
    assert(packerThreads.isEmpty, s"threads outlived pack: $packerThreads")
    val db = Paths.get(s"$out/pricecatcher.db")
    val bytes = Files.readAllBytes(db)

    // the reference ships one zip entry (main.rs:312-325)
    val zf = new ZipFile(zip.toFile)
    try {
      assert(zf.entries().asScala.map(_.getName).toList == List("pricecatcher.db"))
      val zipped = zf.getInputStream(zf.getEntry("pricecatcher.db")).readAllBytes()
      assert(java.util.Arrays.equals(zipped, bytes), "zipped db differs from the file")
    } finally zf.close()

    // S7: the reference DDL (main.rs:192-207), as SQLite stores it in
    // sqlite_master — without IF NOT EXISTS
    val referenceDdl = Seq(
      "CREATE TABLE IF NOT EXISTS prices (date VARCHAR(255), premise_code INTEGER, item_code INTEGER, price FLOAT)",
      "CREATE INDEX IF NOT EXISTS idx_prices_premise_code ON prices (premise_code)",
      "CREATE INDEX IF NOT EXISTS idx_prices_item_code ON prices (item_code)",
      "CREATE TABLE IF NOT EXISTS premises (premise_code INTEGER, premise VARCHAR(255), address VARCHAR(255), premise_type VARCHAR(255), state VARCHAR(255), district VARCHAR(255))",
      "CREATE UNIQUE INDEX IF NOT EXISTS idx_premises_premise_code ON premises (premise_code)",
      "CREATE INDEX IF NOT EXISTS idx_premises_premise_type ON premises (premise_type)",
      "CREATE INDEX IF NOT EXISTS idx_premises_state ON premises (state)",
      "CREATE INDEX IF NOT EXISTS idx_premises_district ON premises (district)",
      "CREATE TABLE IF NOT EXISTS items (item_code INTEGER, item VARCHAR(255), unit VARCHAR(255), item_group VARCHAR(255), item_category VARCHAR(255))",
      "CREATE UNIQUE INDEX IF NOT EXISTS idx_items_item_code ON items (item_code)",
      "CREATE INDEX IF NOT EXISTS idx_items_item_group ON items (item_group)",
      "CREATE INDEX IF NOT EXISTS idx_items_item_category ON items (item_category)")
      .map(_.replace(" IF NOT EXISTS", ""))
    val DdlShape = """CREATE (?:UNIQUE )?(TABLE|INDEX) (\w+) (?:ON (\w+) )?\(.*""".r
    val expected = referenceDdl.map { case sql @ DdlShape(kind, name, on) =>
      (kind.toLowerCase, name, Option(on).getOrElse(name), sql) }
    val master = SqliteFile.read(db, "sqlite_master")
      .map(r => (r(0), r(1), r(2), r(4)))
    assert(master.size == expected.size)
    assert(master.toSet == expected.toSet)

    // S9: nothing for VACUUM to reclaim — no freelist trunk and no free
    // pages (header bytes 32-39), and the in-header page count covers
    // the whole file
    val header = ByteBuffer.wrap(bytes, 0, 100)
    val pageSize = header.getShort(16) & 0xffff
    assert(header.getInt(32) == 0 && header.getInt(36) == 0, "db has free pages")
    assert(header.getInt(28).toLong * pageSize == bytes.length)

    if (hasSqlite3) {
      val res = Process(Seq("sqlite3", db.toString,
        "PRAGMA integrity_check;",
        "SELECT item FROM items INDEXED BY idx_items_item_code " +
          "WHERE item_code = 11;",
        "SELECT count(*), typeof(price) FROM prices;")).!!.trim
      assert(res.linesIterator.toSeq == Seq("ok", "I2", "2|real"),
        s"pricecatcher.db gave: $res")
      // the stored UNIQUE index is live: sqlite3 refuses a duplicate key
      val err = new StringBuilder
      val rc = Process(Seq("sqlite3", db.toString,
        "INSERT INTO items (item_code) VALUES (11);"))
        .!(ProcessLogger(_ => (), line => err ++= line))
      assert(rc != 0 && err.toString.contains("UNIQUE constraint failed"),
        s"sqlite3 accepted a duplicate item_code (rc $rc): $err")
    }
  }

  test("UNIQUE index: a duplicate key aborts the write and leaves no file") {
    val dir = Files.createTempDirectory("graft_sqlite_unique")
    val path = dir.resolve("u.db")
    def table(keys: Seq[Any]) = SqliteFile.TableDef("u",
      "CREATE TABLE u (k INTEGER, v TEXT)",
      keys.zipWithIndex.map { case (k, i) => Seq(k, s"v$i") }.iterator,
      Seq(SqliteFile.IndexDef("idx_u_k", "CREATE UNIQUE INDEX idx_u_k ON u (k)",
        Seq(0))))
    val e = intercept[IllegalStateException] {
      SqliteFile.write(path, Seq(table(Seq(3L, 1L, 2L, 1L))))
    }
    assert(e.getMessage == "UNIQUE constraint failed: u.k")
    assert(!Files.exists(path), "an aborted write left a file")

    // NULLs are distinct in a UNIQUE index, as in SQLite
    SqliteFile.write(path, Seq(table(Seq(null, 1L, null, 2L, null))))
    assert(SqliteFile.readIndex(path, "idx_u_k").map(_.head) ==
      Seq(null, null, null, 1L, 2L))
    if (hasSqlite3) {
      val res = Process(Seq("sqlite3", path.toString,
        "PRAGMA integrity_check;")).!!.trim
      assert(res == "ok", res)
    }
    Files.delete(path)
    Files.delete(dir)
  }

  test("pack aborts on a duplicate item code and writes neither db nor zip") {
    val prices = Seq(("2001-01-01", 1L, 10L, 9.99))
      .toDF("date", "premise_code", "item_code", "price")
    val premises = Seq((1L, "P1", "addr", "t", "s", "d"))
      .toDF("premise_code", "premise", "address", "premise_type", "state", "district")
    val items = Seq((10L, "I1", "u", "g", "c"), (11L, "I2", "u", "g", "c"),
      (10L, "I3", "u", "g", "c"))
      .toDF("item_code", "item", "unit", "item_group", "item_category")
    val out = Files.createTempDirectory("packer_unique")
    val e = intercept[IllegalStateException] {
      SqlitePacker.pack(out.toString, prices, premises, items)
    }
    assert(e.getMessage == "UNIQUE constraint failed: items.item_code")
    assert(!Files.exists(out.resolve("pricecatcher.db")))
    assert(!Files.exists(out.resolve("pricecatcher.zip")))
  }

  test("pack surfaces a failed dimension collect's own exception, " +
      "writes nothing and leaves no thread") {
    val prices = Seq(("2001-01-01", 1L, 10L, 9.99))
      .toDF("date", "premise_code", "item_code", "price")
    val premises = Seq((1L, "P1", "addr", "t", "s", "d"))
      .toDF("premise_code", "premise", "address", "premise_type", "state", "district")
    // fails in a task, not at planning: spark.range is no local relation
    val items = spark.range(10, 13).select($"id".as("item_code"),
      when($"id" === 12L, raise_error(lit("item 12 is malformed")))
        .cast(StringType).as("item"),
      lit("u").as("unit"), lit("g").as("item_group"),
      lit("c").as("item_category"))
    val out = Files.createTempDirectory("packer_dim_failure")
    val e = intercept[Exception] {
      SqlitePacker.pack(out.toString, prices, premises, items)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException], e)
    assert(e.getMessage.contains("item 12 is malformed"), e)
    assert(Files.list(out).count() == 0, "a failed pack left files")
    assert(packerThreads.isEmpty, s"threads outlived pack: $packerThreads")
  }

  test("chunked zip round-trips through ZipFile and ZipInputStream") {
    val chunk = SqlitePacker.ChunkSize
    val rnd = new Random(7)
    val text = (0 until 60000).map(i => s"row $i ${i % 97};").mkString.getBytes
    val inputs = Seq(
      "empty" -> Array.emptyByteArray,
      "one byte" -> Array[Byte](42),
      "one chunk" -> text.take(chunk - 1000),
      "two whole chunks" -> text.take(2 * chunk),
      "several chunks" -> text,
      "incompressible" -> Array.fill(3 * chunk + 17)(rnd.nextInt().toByte))
    assert(text.length > 4 * chunk && text.length % chunk != 0)
    inputs.foreach { case (label, bytes) =>
      val crc = new CRC32
      crc.update(bytes)
      val zip = chunkedZip(bytes)
      val zf = new ZipFile(zip.toFile)
      val compressed = try {
        assert(zf.entries().asScala.map(_.getName).toList ==
          List("pricecatcher.db"), label)
        val e = zf.getEntry("pricecatcher.db")
        assert(e.getMethod == java.util.zip.ZipEntry.DEFLATED, label)
        assert(e.getCrc == crc.getValue, label)
        assert(e.getSize == bytes.length, label)
        assert(java.util.Arrays.equals(
          zf.getInputStream(e).readAllBytes(), bytes), label)
        e.getCompressedSize
      } finally zf.close()
      // the streaming reader checks the local header's sizes and CRC
      // against the data it inflates
      val zis = new ZipInputStream(new FileInputStream(zip.toFile))
      try {
        val e = zis.getNextEntry
        assert(e.getName == "pricecatcher.db", label)
        assert(java.util.Arrays.equals(zis.readAllBytes(), bytes), label)
        assert(e.getCrc == crc.getValue && e.getSize == bytes.length &&
          e.getCompressedSize == compressed, label)
        assert(zis.getNextEntry == null, label)
      } finally zis.close()
      assert(packerThreads.isEmpty, s"$label: $packerThreads")
    }
  }

  test("the packed sf0.01 db zips no larger than one deflate stream") {
    val d = sf("sf0.01")
    val month = PriceCatcher.months(spark, d).find(_ == "1995-03").get
    val latest = graft.operators.Dedup.latestPerGroup(
      PriceCatcher.prices(spark, d).filter(PriceCatcher.inMonth(month)),
      Seq("premise_code", "item_code"),
      Seq(col("date").desc, col("__tb1").asc, col("__tb2").asc))
      .drop("__tb1", "__tb2")
    val out = Files.createTempDirectory("packer_sf001")
    val zip = SqlitePacker.pack(out.toString, latest,
      PriceCatcher.premises(spark, d), PriceCatcher.items(spark, d))
    val db = Files.readAllBytes(out.resolve("pricecatcher.db"))
    assert(db.length > SqlitePacker.ChunkSize, "db fits one chunk")
    val zf = new ZipFile(zip.toFile)
    val chunked = try zf.getEntry("pricecatcher.db").getCompressedSize
      finally zf.close()
    val single = singleStreamDeflated(db)
    assert(chunked <= single, s"chunked $chunked B > single stream $single B")
  }

  test("SqliteFile golden bytes: fixed input hashes to a pinned SHA-256") {
    val path = Files.createTempFile("graft_sqlite_golden", ".db")
    // every storage class, every integer serial width, both overflow
    // kinds (16 KB text, 9 KB blob, a 5 KB index key) and 300-byte keys
    // so idx_k grows two interior levels of promoted dividers
    val ints = Seq(0L, 1L, -77L, 300L, -40000L, 8000000L, 2000000000L,
      123456789012L, Long.MinValue, Long.MaxValue)
    val n = 2000
    val rows = (1 to n).map { i =>
      val k =
        if (i % 97 == 0) null
        else if (i == 500) "k" * 5000
        else f"key_${(i * 7919) % n}%05d_" + "p" * 290
      val v: Any = i % 5 match {
        case 0 => null
        case 1 => ints(i % ints.size)
        case 2 => i * 0.125 - 100.0
        case 3 => s"v$i"
        case _ => Array.tabulate[Byte](i % 13)(j => (i * j).toByte)
      }
      val body: Any = i match {
        case 1 => "x" * 16384 + "END"
        case 2 => Array.tabulate[Byte](9000)(j => (j * 31).toByte)
        case _ => s"row $i"
      }
      Seq(k, v, (i % 7).toLong, body)
    }
    SqliteFile.write(path, Seq(
      SqliteFile.TableDef("g",
        "CREATE TABLE g (k TEXT, v, n INTEGER, body)", rows.iterator,
        Seq(SqliteFile.IndexDef("idx_k", "CREATE INDEX idx_k ON g (k)", Seq(0)),
          SqliteFile.IndexDef("idx_v", "CREATE INDEX idx_v ON g (v)", Seq(1)),
          SqliteFile.IndexDef("idx_nk", "CREATE INDEX idx_nk ON g (n, k)",
            Seq(2, 0)))),
      SqliteFile.TableDef("empty", "CREATE TABLE empty (x INTEGER)",
        Iterator.empty,
        Seq(SqliteFile.IndexDef("idx_x", "CREATE INDEX idx_x ON empty (x)",
          Seq(0))))))

    // the input really reaches the paths the hash is meant to pin
    val bytes = Files.readAllBytes(path)
    val root = rootOf(path, "idx_k")
    assert(pageType(bytes, root) == 0x02, "idx_k root must be interior")
    val firstCell = (root - 1) * 4096 +
      (((bytes((root - 1) * 4096 + 12) & 0xff) << 8) |
        (bytes((root - 1) * 4096 + 13) & 0xff))
    val child = ByteBuffer.wrap(bytes, firstCell, 4).getInt
    assert(pageType(bytes, child) == 0x02, "idx_k must have two interior levels")
    assert(SqliteFile.readIndex(path, "idx_k").size == n)
    assert(SqliteFile.read(path, "g")(0)(3) == "x" * 16384 + "END")
    if (hasSqlite3) {
      val res = Process(Seq("sqlite3", path.toString,
        "PRAGMA integrity_check;")).!!.trim
      assert(res == "ok", res)
    }

    // captured from the List-based writer: a rewrite must keep every byte
    val golden = "6d2a371ec080d407ae7a63ea8164d9b33c8b14c63893c982386b4d6afa40b382"
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(sha == golden, s"SqliteFile.write output changed: $sha")
    Files.delete(path)
  }

  test("SqliteFile.write scales linearly: 60K rows, TEXT + INTEGER index") {
    val path = Files.createTempFile("graft_sqlite_scale", ".db")
    val n = 60000
    // a plain one-pass Iterator, as the packer hands over toLocalIterator
    val rows = Iterator.tabulate(n)(i =>
      Seq(s"item_${(i * 7919L) % n}", (i % 1000).toLong, i * 0.25))
    val t0 = System.nanoTime()
    SqliteFile.write(path, Seq(
      SqliteFile.TableDef("t",
        "CREATE TABLE t (name TEXT, code INTEGER, price FLOAT)", rows,
        Seq(SqliteFile.IndexDef("idx_t_name",
          "CREATE INDEX idx_t_name ON t (name)", Seq(0)),
          SqliteFile.IndexDef("idx_t_code",
            "CREATE INDEX idx_t_code ON t (code)", Seq(1))))))
    val secs = (System.nanoTime() - t0) / 1e9
    // 0.8 s on 4 cores, so >10x headroom; a writer that reads a List by
    // position (each lookup walks the list) took 287 s here
    assert(secs < 15.0, f"60K-row write took $secs%.1f s")

    if (hasSqlite3) {
      val res = Process(Seq("sqlite3", path.toString,
        "PRAGMA integrity_check;",
        "SELECT count(*) FROM t INDEXED BY idx_t_name WHERE name >= '';",
        "SELECT count(*) FROM t INDEXED BY idx_t_code WHERE code >= 0;")).!!.trim
      assert(res.linesIterator.toSeq == Seq("ok", s"$n", s"$n"), res)
    }
    Files.delete(path)
  }

  test("sqlite_master past page 1: 56 and 60 indexes leave no page unused") {
    // at 56 indexes the master's rows fit a 4096-byte leaf but not page
    // 1, whose first 100 bytes are the file header; at 60 they need an
    // interior root. Either way the root must be built on page 1 itself.
    val rows = (1 to 50).map(i => Seq(i.toLong, s"v$i"))
    Seq(56, 60).foreach { n =>
      val path = Files.createTempFile("graft_sqlite_master", ".db")
      val indexes = (0 until n).map { i =>
        val name = f"idx_wide_k_$i%02d"
        SqliteFile.IndexDef(name, s"CREATE INDEX $name ON wide (k)", Seq(0))
      }
      SqliteFile.write(path, Seq(SqliteFile.TableDef("wide",
        "CREATE TABLE wide (k INTEGER, v TEXT)", rows.iterator, indexes)))
      val bytes = Files.readAllBytes(path)
      assert(pageType(bytes, 1) == 0x05, s"n=$n: master root must be interior")
      assert(SqliteFile.read(path, "sqlite_master").size == n + 1)
      assert(SqliteFile.read(path, "wide") == rows)
      indexes.foreach { ix =>
        assert(SqliteFile.readIndex(path, ix.name) ==
          rows.map(r => Seq(r(0), r(0))), ix.name)
      }
      if (hasSqlite3) {
        val res = Process(Seq("sqlite3", path.toString,
          "PRAGMA integrity_check;",
          s"SELECT count(*) FROM wide INDEXED BY idx_wide_k_${n - 1} " +
            "WHERE k >= 0;")).!!.trim
        assert(res.linesIterator.toSeq == Seq("ok", "50"), s"n=$n: $res")
      }
      Files.delete(path)
    }
  }
}
