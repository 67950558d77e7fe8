package graft.sources

import java.io.{BufferedOutputStream, ByteArrayOutputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue,
  ExecutionException, Executors, Future}
import java.util.zip.{CRC32, Deflater, ZipEntry}

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry,
  ZipArchiveOutputStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Cleaning

/** Artifact sink with SQLite parity (SURVEY.md §2.1 S6–S10).
  *
  * The reference's deliverable is one indexed, compressed SQLite file
  * (reference: src/main.rs:191-208 DDL, main.rs:289-311 backup,
  * main.rs:312-325 zip). No sqlite library (JDBC or native) ships in
  * this environment, so `pricecatcher.db` is written directly from the
  * public file format by [[SqliteFile]]: three table b-trees and the
  * reference's nine indexes as native index b-trees, with the
  * reference's DDL (minus `IF NOT EXISTS`, as SQLite itself stores it)
  * in `sqlite_master`, all as declared once in [[schema]]. The writer holds one whole table plus one
  * index's sorted entries on the driver at a time, so driver memory
  * grows with the largest table — single-writer by design, like the
  * reference: this is the *served* artifact, small relative to the
  * lake; the 100 TB data stays in parquet. Rowids follow each table's
  * row order, so the frames handed in must keep a stable row order. The
  * writer leaves no free pages, so the file is already what the
  * reference's VACUUM would produce.
  *
  * What overlaps: `premises` and `items` do not depend on the month, so
  * [[withDimensions]] collects their stored rows on two threads of their
  * own while the caller goes on (the app discovers months meanwhile);
  * their rows are held on the driver while `prices` streams through
  * `toLocalIterator`, and the writer takes them when it reaches their
  * tables, in the same row order a stream would give.
  *
  * The file is zipped alone with deflate at level 9, like the reference
  * (main.rs:312-325), but in the pigz way so that every core deflates:
  * page-aligned 128 KiB chunks, each primed with the 32 KiB before it
  * as its dictionary and ended with a sync flush (the last one with a
  * finish), concatenate into one valid deflate stream. The chunks run
  * on min(cores, chunks) threads with at most two per thread in flight,
  * so the zip holds O(threads × 128 KiB) in memory. The output is a
  * valid level-9 deflate of the same bytes, but not byte-identical to a
  * single-stream deflate.
  */
object SqlitePacker {

  /** One table of the artifact: its name, its CREATE TABLE as
    * `sqlite_master` stores it, and its indexes. */
  final case class StoredTable(name: String, createSql: String,
                               indexes: Seq[SqliteFile.IndexDef])

  /** The reference's star schema (main.rs:192-207) in the order [[pack]]
    * writes the tables: three tables and nine indexes, stored as native
    * b-trees. The DDL is the reference's minus `IF NOT EXISTS`, as
    * SQLite itself stores it; an index's key column is its position in
    * the table's column order. */
  val schema: Seq[StoredTable] = Seq(
    StoredTable("prices",
      "CREATE TABLE prices (date VARCHAR(255), premise_code INTEGER, " +
        "item_code INTEGER, price FLOAT)",
      Seq(SqliteFile.IndexDef("idx_prices_premise_code",
          "CREATE INDEX idx_prices_premise_code ON prices (premise_code)", Seq(1)),
        SqliteFile.IndexDef("idx_prices_item_code",
          "CREATE INDEX idx_prices_item_code ON prices (item_code)", Seq(2)))),
    StoredTable("premises",
      "CREATE TABLE premises (premise_code INTEGER, premise VARCHAR(255), " +
        "address VARCHAR(255), premise_type VARCHAR(255), " +
        "state VARCHAR(255), district VARCHAR(255))",
      Seq(SqliteFile.IndexDef("idx_premises_premise_code",
          "CREATE UNIQUE INDEX idx_premises_premise_code ON premises (premise_code)", Seq(0)),
        SqliteFile.IndexDef("idx_premises_premise_type",
          "CREATE INDEX idx_premises_premise_type ON premises (premise_type)", Seq(3)),
        SqliteFile.IndexDef("idx_premises_state",
          "CREATE INDEX idx_premises_state ON premises (state)", Seq(4)),
        SqliteFile.IndexDef("idx_premises_district",
          "CREATE INDEX idx_premises_district ON premises (district)", Seq(5)))),
    StoredTable("items",
      "CREATE TABLE items (item_code INTEGER, item VARCHAR(255), " +
        "unit VARCHAR(255), item_group VARCHAR(255), " +
        "item_category VARCHAR(255))",
      Seq(SqliteFile.IndexDef("idx_items_item_code",
          "CREATE UNIQUE INDEX idx_items_item_code ON items (item_code)", Seq(0)),
        SqliteFile.IndexDef("idx_items_item_group",
          "CREATE INDEX idx_items_item_group ON items (item_group)", Seq(3)),
        SqliteFile.IndexDef("idx_items_item_category",
          "CREATE INDEX idx_items_item_category ON items (item_category)", Seq(4)))))

  /** Row → SQLite storage classes (INTEGER/REAL/TEXT/NULL). */
  private def sqlValues(r: org.apache.spark.sql.Row): Seq[Any] =
    r.toSeq.map {
      case null => null
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case f: Float => f.toDouble
      case v @ (_: Long | _: Double | _: String) => v
      case other => other.toString
    }

  /** Stringify engine types to the reference's storage forms (dates as
    * 10-char strings, main.rs:23). */
  private def stringified(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.DateType =>
          d.withColumn(f.name, Cleaning.dateToString(col(f.name)))
        case _ => d
      }
    }

  /** Bytes deflated per task: 32 SQLite pages. */
  private[graft] val ChunkSize = 128 * 1024
  /** Dictionary primed into each chunk's deflater: the whole 32 KiB
    * window, so a chunk can refer back across its start. */
  private val DictSize = 32 * 1024

  /** A fixed pool of `n` named daemon threads. Each thread starts inside
    * `submit`, on the submitting thread, so it inherits that thread's
    * Spark local properties (job group, scheduler pool, trace span). */
  private final class Pool(name: String, n: Int) {
    private val threads = new ConcurrentLinkedQueue[Thread]()
    private val exec = Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, s"$name-${threads.size + 1}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    def submit[T](body: => T): Future[T] = {
      val task: Callable[T] = () => body
      exec.submit(task)
    }
    /** Lets submitted tasks finish, then joins every thread. */
    def close(): Unit = {
      exec.shutdown()
      threads.forEach(_.join())
    }
  }

  /** A task's result; a failed task rethrows its own exception. */
  private def await[T](f: Future[T]): T =
    try f.get() catch { case e: ExecutionException => throw e.getCause }

  /** Rows of `df` as the artifact stores them, in the frame's order. */
  private def storedRows(df: DataFrame): Vector[Seq[Any]] =
    stringified(df).collect().iterator.map(sqlValues).toVector

  /** Stored rows of the two dimension tables, collected by
    * [[withDimensions]]. */
  final class Dimensions private[SqlitePacker] (
      collects: Map[String, Future[Vector[Seq[Any]]]]) {
    /** Waits for the table's collect only when the writer reaches it. */
    private[SqlitePacker] def rows(table: String): Iterator[Seq[Any]] =
      Iterator.empty ++ await(collects(table))
  }

  /** Builds and collects `premises` and `items` on two threads while
    * `body` runs. Both threads have ended when this returns or throws. */
  def withDimensions[T](premises: => DataFrame, items: => DataFrame)(
      body: Dimensions => T): T = {
    val pool = new Pool("pricecatcher-dims", 2)
    try body(new Dimensions(Map(
      "premises" -> pool.submit(storedRows(premises)),
      "items" -> pool.submit(storedRows(items)))))
    finally pool.close()
  }

  /** Write `pricecatcher.db` and its zip into `outDir`; returns the zip
    * path. The dimension tables are collected while `prices` streams. */
  def pack(outDir: String, prices: DataFrame, premises: DataFrame,
           items: DataFrame): Path =
    withDimensions(premises, items)(pack(outDir, prices, _))

  /** [[pack]] with the dimension rows already under way. The price rows
    * are counted as they stream into the writer and printed once it is
    * done, so the caller need not run `prices` twice. A duplicate
    * premise or item code fails the UNIQUE index write, a failed
    * dimension collect rethrows its own exception, and in both cases
    * neither the db nor the zip is written. */
  def pack(outDir: String, prices: DataFrame, dims: Dimensions): Path = {
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    val dbPath = dir.resolve("pricecatcher.db")
    var priceRows = 0L
    val priceStream = stringified(prices).toLocalIterator().asScala.map { r =>
      priceRows += 1
      sqlValues(r)
    }
    SqliteFile.write(dbPath, schema.map { t =>
      val rows = if (t.name == "prices") priceStream else dims.rows(t.name)
      SqliteFile.TableDef(t.name, t.createSql, rows, t.indexes)
    })
    println(s"Latest price rows: $priceRows")

    val zipPath = dir.resolve("pricecatcher.zip")
    zip(dbPath, zipPath)
    zipPath
  }

  /** Zip `file` as the archive's only entry, deflated by
    * [[deflateChunked]] into a spool file beside the zip, which is then
    * copied in raw with its CRC-32 and both sizes. */
  private[graft] def zip(file: Path, zipPath: Path): Unit = {
    val spool = Files.createTempFile(zipPath.getParent, ".deflate", ".tmp")
    try {
      val spoolOut = new BufferedOutputStream(Files.newOutputStream(spool))
      val (crc, size, compressed) =
        try deflateChunked(file, spoolOut) finally spoolOut.close()
      val entry = new ZipArchiveEntry(file.getFileName.toString)
      entry.setMethod(ZipEntry.DEFLATED)
      entry.setCrc(crc)
      entry.setSize(size)
      entry.setCompressedSize(compressed)
      val zos = new ZipArchiveOutputStream(zipPath)
      try {
        val raw = Files.newInputStream(spool)
        try zos.addRawArchiveEntry(entry, raw) finally raw.close()
      } finally zos.close()
    } finally Files.deleteIfExists(spool)
  }

  /** Raw level-9 deflate of `file` onto `out`, ChunkSize bytes per task
    * (module doc); returns the CRC-32, the bytes read and the bytes
    * written. */
  private[graft] def deflateChunked(file: Path,
                                    out: OutputStream): (Long, Long, Long) = {
    val chunks = math.max(1L, (Files.size(file) + ChunkSize - 1) / ChunkSize)
    val threads = math.min(Runtime.getRuntime.availableProcessors.toLong,
      chunks).toInt
    val pool = new Pool("pricecatcher-deflate", threads)
    val inFlight = new java.util.ArrayDeque[Future[Array[Byte]]]()
    val crc = new CRC32
    var size, written = 0L
    def writeNext(): Unit = {
      val deflated = await(inFlight.poll())
      out.write(deflated)
      written += deflated.length
    }
    val in = Files.newInputStream(file)
    try {
      var prev: Array[Byte] = null
      for (i <- 0L until chunks) {
        val chunk = in.readNBytes(ChunkSize)
        crc.update(chunk)
        size += chunk.length
        val dict = prev
        inFlight.add(pool.submit(
          deflateChunk(dict, chunk, last = i == chunks - 1)))
        if (inFlight.size >= 2 * threads) writeNext()
        prev = chunk
      }
      while (!inFlight.isEmpty) writeNext()
    } finally {
      in.close()
      pool.close()
    }
    (crc.getValue, size, written)
  }

  /** One chunk of the stream: primed with the tail of `dict` (the chunk
    * before, if any) and ended with a sync flush, byte-aligned and not
    * final, so the next chunk's output follows on; the last chunk
    * finishes the stream instead. */
  private def deflateChunk(dict: Array[Byte], chunk: Array[Byte],
                           last: Boolean): Array[Byte] = {
    val d = new Deflater(9, true)
    try {
      if (dict != null) {
        val n = math.min(DictSize, dict.length)
        d.setDictionary(dict, dict.length - n, n)
      }
      d.setInput(chunk)
      if (last) d.finish()
      val out = new ByteArrayOutputStream(chunk.length / 2 + 64)
      val buf = new Array[Byte](16 * 1024)
      // a sync flush is complete once a call leaves room in `buf`
      while ({
        val n = d.deflate(buf, 0, buf.length,
          if (last) Deflater.NO_FLUSH else Deflater.SYNC_FLUSH)
        out.write(buf, 0, n)
        if (last) !d.finished() else n == buf.length
      }) ()
      out.toByteArray
    } finally d.end()
  }
}
