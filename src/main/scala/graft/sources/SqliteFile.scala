package graft.sources

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Minimal SQLite database-file writer + reader in pure JVM, from the
  * PUBLIC file-format spec (sqlite.org/fileformat2.html). No sqlite
  * library exists in this environment; the format itself is small
  * enough to emit directly, which is what produces the reference's
  * deliverable — a real, queryable `.db` file (reference
  * src/main.rs:289-311 backup path).
  *
  * Scope (documented, deliberate):
  *  - table b-trees (leaf + interior, multi-level) AND index b-trees
  *    (leaf 0x0A + interior 0x02 with promoted divider entries, BINARY
  *    collation, NULL < numeric < text < blob class order) — the
  *    artifact carries the reference's indexes natively.
  *  - overflow-page chains for payloads past the single-page budget
  *    (the spec's X/M/K local-size rule, fileformat2.html §"Cell
  *    Payload Overflow Pages") — arbitrarily long VARCHARs round-trip,
  *    matching real SQLite's handling of the reference's unbounded
  *    `address`/`premise` strings (reference src/main.rs:197).
  *  - value domain: NULL, Long, Double, String, Array[Byte] — exactly
  *    the storage classes the reference schema uses.
  *
  * The reader exists so tests can round-trip the artifact without any
  * sqlite dependency; it walks the same structures the writer emits.
  */
object SqliteFile {

  private val PageSize = 4096
  /** Max single-page cell payload for a table leaf (usable - 35). */
  private val MaxLocal = PageSize - 35

  // ---- overflow-page payload split (spec §"Cell Payload Overflow") -----

  /** Bytes of a P-byte payload stored ON the b-tree page under the
    * spec rule: all of it if P <= X (X = the page-type budget passed as
    * `maxLocal`); else K = M + ((P-M) mod (U-4)) if K <= X, else M —
    * with M = ((U-12)*32/255) - 23 for every page type. */
  private def localSize(p: Int, maxLocal: Int, pageSize: Int = PageSize): Int =
    if (p <= maxLocal) p
    else {
      val m = ((pageSize - 12) * 32 / 255) - 23
      val k = m + ((p - m) % (pageSize - 4))
      if (k <= maxLocal) k else m
    }

  /** On-page image length of a payload cell body (local part + 4-byte
    * first-overflow pointer when the payload spills). */
  private def imageLen(p: Int, maxLocal: Int): Int = {
    val nl = localSize(p, maxLocal)
    nl + (if (nl < p) 4 else 0)
  }

  /** Local part of `payload`, emitting the overflow chain into `db`
    * when it spills (each overflow page: u32 next-page-or-0, then up to
    * U-4 payload bytes). Call EXACTLY ONCE per placed cell — emitting a
    * chain for a cell that is then discarded would orphan its pages. */
  private def splitPayload(db: Db, payload: Array[Byte],
                           maxLocal: Int): Array[Byte] = {
    val nLocal = localSize(payload.length, maxLocal)
    if (nLocal == payload.length) payload
    else {
      val rest = payload.length - nLocal
      val perPage = PageSize - 4
      val nPages = (rest + perPage - 1) / perPage
      val pageNos = (0 until nPages).map(_ => db.alloc())
      var off = nLocal
      pageNos.zipWithIndex.foreach { case (no, i) =>
        val page = new Array[Byte](PageSize)
        val next = if (i == nPages - 1) 0 else pageNos(i + 1)
        System.arraycopy(u32(next), 0, page, 0, 4)
        val n = math.min(perPage, payload.length - off)
        System.arraycopy(payload, off, page, 4, n)
        off += n
        db.put(no, page)
      }
      java.util.Arrays.copyOf(payload, nLocal) ++ u32(pageNos.head)
    }
  }

  /** An index over `keyCols` (0-based positions into the row). */
  case class IndexDef(name: String, createSql: String, keyCols: Seq[Int])

  case class TableDef(name: String, createSql: String,
                      rows: Iterator[Seq[Any]],
                      indexes: Seq[IndexDef] = Nil)

  // ---- varints (big-endian base-128, high bit = continue) --------------

  private def varint(v: Long): Array[Byte] = {
    require(v >= 0, s"negative varint $v")
    if (v <= 0x7f) Array(v.toByte)
    else {
      val out = ArrayBuffer[Byte]()
      var x = v
      while (x > 0) { out.prepend((x & 0x7f).toByte); x >>>= 7 }
      (out.init.map(b => (b | 0x80).toByte) :+ out.last).toArray
    }
  }

  /** Returns (value, bytesConsumed) reading a varint at `off`. */
  private def readVarint(p: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8 && (p(off + i) & 0x80) != 0) {
      v = (v << 7) | (p(off + i) & 0x7f); i += 1
    }
    if (i == 8) ((v << 8) | (p(off + i) & 0xff), 9)
    else ((v << 7) | (p(off + i) & 0x7f), i + 1)
  }

  // ---- record (row) encoding -------------------------------------------

  private def serialTypeAndBody(v: Any): (Long, Array[Byte]) = v match {
    case null => (0L, Array.emptyByteArray)
    case l: Long =>
      if (l == 0L) (8L, Array.emptyByteArray)
      else if (l == 1L) (9L, Array.emptyByteArray)
      else if (l >= Byte.MinValue && l <= Byte.MaxValue)
        (1L, Array(l.toByte))
      else if (l >= Short.MinValue && l <= Short.MaxValue)
        (2L, Array((l >> 8).toByte, l.toByte))
      else if (l >= -8388608L && l <= 8388607L)
        (3L, Array((l >> 16).toByte, (l >> 8).toByte, l.toByte))
      else if (l >= Int.MinValue && l <= Int.MaxValue)
        (4L, Array((l >> 24).toByte, (l >> 16).toByte, (l >> 8).toByte, l.toByte))
      else if (l >= -140737488355328L && l <= 140737488355327L)
        (5L, (40 to 0 by -8).map(s => (l >> s).toByte).toArray)
      else (6L, (56 to 0 by -8).map(s => (l >> s).toByte).toArray)
    case i: Int => serialTypeAndBody(i.toLong)
    case d: Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      (7L, (56 to 0 by -8).map(s => (bits >> s).toByte).toArray)
    case s: String =>
      val b = s.getBytes("UTF-8"); (13L + 2 * b.length, b)
    case b: Array[Byte] => (12L + 2 * b.length, b)
    case other =>
      throw new IllegalArgumentException(
        s"unsupported SQLite value ${other.getClass}")
  }

  /** Encode one row in SQLite record format. */
  private[sources] def encodeRecord(values: Seq[Any]): Array[Byte] = {
    val parts = values.map(serialTypeAndBody)
    val typeVarints = parts.map(p => varint(p._1))
    // header size varint includes itself; sizing is stable here because
    // (#cols + sum(type varints)) < 128 implies a 1-byte size varint and
    // our tables are narrow — assert instead of iterating to fixpoint
    val typesLen = typeVarints.map(_.length).sum
    val headerLen = typesLen + varint(typesLen + 1L).length
    val out = ArrayBuffer[Byte]()
    out ++= varint(headerLen.toLong)
    require(out.length + typesLen == headerLen, "record header resize")
    typeVarints.foreach(out ++= _)
    parts.foreach(out ++= _._2)
    out.toArray
  }

  /** Decode one record; returns column values (Long/Double/String/bytes/null). */
  private[sources] def decodeRecord(p: Array[Byte]): Seq[Any] = {
    val (headerLen, n0) = readVarint(p, 0)
    var off = n0
    val types = ArrayBuffer[Long]()
    while (off < headerLen) {
      val (t, n) = readVarint(p, off); types += t; off += n
    }
    var body = headerLen.toInt
    types.map { t =>
      def takeInt(nBytes: Int): Long = {
        var v = if ((p(body) & 0x80) != 0) -1L else 0L // sign-extend
        (0 until nBytes).foreach(i => v = (v << 8) | (p(body + i) & 0xff))
        body += nBytes; v
      }
      t match {
        case 0 => null
        case 1 => takeInt(1)
        case 2 => takeInt(2)
        case 3 => takeInt(3)
        case 4 => takeInt(4)
        case 5 => takeInt(6)
        case 6 => takeInt(8)
        case 7 => java.lang.Double.longBitsToDouble(takeInt(8))
        case 8 => 0L
        case 9 => 1L
        case s if s >= 13 && s % 2 == 1 =>
          val len = ((s - 13) / 2).toInt
          val v = new String(p, body, len, "UTF-8"); body += len; v
        case s if s >= 12 && s % 2 == 0 =>
          val len = ((s - 12) / 2).toInt
          val v = java.util.Arrays.copyOfRange(p, body, body + len)
          body += len; v
        case s => throw new IllegalStateException(s"serial type $s")
      }
    }.toSeq
  }

  // ---- b-tree page assembly --------------------------------------------

  /** In-construction database: pages(0) is page 1 (reserved up front). */
  private final class Db {
    val pages = ArrayBuffer[Array[Byte]](new Array[Byte](PageSize))
    def alloc(): Int = { pages += new Array[Byte](PageSize); pages.length }
    def put(pageNo: Int, bytes: Array[Byte]): Unit = pages(pageNo - 1) = bytes
  }

  private def u16(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  private def u32(v: Int): Array[Byte] =
    Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  /** Assemble one b-tree page image. `headerAt` = 100 for page 1, else 0.
    * cells are pre-encoded; pointer array keeps the given (key) order. */
  private def buildPage(pageType: Int, cells: Seq[Array[Byte]],
                        rightMost: Int, headerAt: Int): Array[Byte] = {
    val page = new Array[Byte](PageSize)
    val interior = pageType == 0x05 || pageType == 0x02
    val headerLen = if (interior) 12 else 8
    var content = PageSize
    val ptrs = ArrayBuffer[Int]()
    cells.foreach { c => content -= c.length; ptrs += content
      System.arraycopy(c, 0, page, content, c.length) }
    val ptrBase = headerAt + headerLen
    require(ptrBase + 2 * cells.length <= content,
      s"page overflow: ${cells.length} cells, content at $content")
    page(headerAt) = pageType.toByte
    System.arraycopy(u16(cells.length), 0, page, headerAt + 3, 2)
    System.arraycopy(u16(content & 0xffff), 0, page, headerAt + 5, 2)
    if (interior)
      System.arraycopy(u32(rightMost), 0, page, headerAt + 8, 4)
    cells.indices.foreach(i =>
      System.arraycopy(u16(ptrs(i)), 0, page, ptrBase + 2 * i, 2))
    page
  }

  /** Greedy cell packing: max cells per page under the usable budget. */
  private def packPages(cells: IndexedSeq[Array[Byte]], headerLen: Int,
                        usable: Int): IndexedSeq[IndexedSeq[Array[Byte]]] = {
    val groups = ArrayBuffer[IndexedSeq[Array[Byte]]]()
    var cur = ArrayBuffer[Array[Byte]]()
    var used = headerLen
    cells.foreach { c =>
      if (cur.nonEmpty && used + 2 + c.length > usable) {
        groups += cur.toIndexedSeq; cur = ArrayBuffer[Array[Byte]](); used = headerLen
      }
      cur += c; used += 2 + c.length
    }
    if (cur.nonEmpty) groups += cur.toIndexedSeq
    groups.toIndexedSeq
  }

  /** Build a table b-tree from (rowid, record) pairs; returns root page.
    * If `rootAtPage1`, the root is built on page 1 (sqlite_master), after
    * the 100-byte file header: every level of that tree is packed to
    * page 1's smaller budget, so the level that fits one page fits page
    * 1 and no page is left unreferenced. Every step indexes into `rows`
    * and the levels built from it, hence IndexedSeq: on a List each
    * lookup walks the list. */
  private def buildTableBtree(db: Db, rows: IndexedSeq[(Long, Array[Byte])],
                              rootAtPage1: Boolean = false): Int = {
    val leafCells = rows.map { case (rowid, rec) =>
      // payloads past the X budget spill to an overflow chain; the
      // on-page cell keeps the local prefix + first-overflow pointer
      varint(rec.length.toLong) ++ varint(rowid) ++
        splitPayload(db, rec, MaxLocal)
    }
    val rowidOf = rows.map(_._1)
    val headerAt = if (rootAtPage1) 100 else 0

    // single-leaf tree, empty or not (covers sqlite_master for few tables)
    if (8 + leafCells.map(_.length + 2).sum <= PageSize - headerAt) {
      val no = if (rootAtPage1) 1 else db.alloc()
      db.put(no, buildPage(0x0D, leafCells, 0, headerAt))
      return no
    }

    // leaves
    val leafGroups = packPages(leafCells, 8, PageSize - headerAt)
    var idx = 0
    var level: IndexedSeq[(Int, Long)] = leafGroups.map { g =>
      val no = db.alloc()
      db.put(no, buildPage(0x0D, g, 0, 0))
      idx += g.length
      (no, rowidOf(idx - 1)) // max rowid in this leaf
    }

    // interior levels until a single root remains
    while (level.length > 1) {
      // interior cell: 4-byte left-child + varint(max rowid of child);
      // ~7 bytes each → one level fans out ~500×, so depth stays log
      val next = ArrayBuffer[(Int, Long)]()
      var i = 0
      val maxKids = (PageSize - headerAt - 12 - 4) / (2 + 4 + 9) // conservative
      while (i < level.length) {
        var take = math.min(maxKids, level.length - i)
        // never leave a lone child for the final group: a 1-child
        // interior page has zero cells (rightmost only) — structurally
        // dubious and pointless; shift one child right instead
        if (level.length - i - take == 1) take -= 1
        val group = level.slice(i, i + take)
        i += take
        val cells = group.init.map { case (child, maxRowid) =>
          u32(child) ++ varint(maxRowid) }
        // the whole level under one page: that page is the root
        val root = rootAtPage1 && take == level.length
        val no = if (root) 1 else db.alloc()
        db.put(no, buildPage(0x05, cells, group.last._1, if (root) 100 else 0))
        next += ((no, group.last._2))
      }
      level = next.toIndexedSeq
    }
    level.head._1
  }

  // ---- index b-trees ---------------------------------------------------

  /** SQLite storage-class rank: NULL < numeric < TEXT < BLOB. */
  private def classRank(v: Any): Int = v match {
    case null => 0
    case _: Long | _: Double => 1
    case _: String => 2
    case _: Array[Byte] => 3
    case other =>
      throw new IllegalArgumentException(s"unorderable ${other.getClass}")
  }

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** One-column comparison in SQLite's default (BINARY-collation) index
    * order: class rank first, then numeric / UTF-8-byte / blob order. */
  private def cmpVal(a: Any, b: Any): Int = {
    val r = classRank(a) - classRank(b)
    if (r != 0) r
    else (a, b) match {
      case (null, _) => 0
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
      case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) =>
        cmpBytes(x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      case (x: Array[Byte], y: Array[Byte]) => cmpBytes(x, y)
      case _ => 0 // unreachable: equal class ranks matched above
    }
  }

  private def cmpRows(a: Seq[Any], b: Seq[Any]): Boolean = {
    var i = 0
    while (i < a.length) {
      val c = cmpVal(a(i), b(i))
      if (c != 0) return c < 0
      i += 1
    }
    false
  }

  /** Stricter single-page payload bound for index pages (spec: X =
    * ((usable-12)*64/255)-23). */
  private val MaxLocalIndex = ((PageSize - 12) * 64 / 255) - 23

  /** Bulk-load an index b-tree from PRE-SORTED entry records (key cols +
    * rowid). Unlike table trees, interior pages hold real entries: when
    * a leaf fills, the next entry is PROMOTED as the divider that lives
    * in the parent (each entry stored exactly once). Returns root.
    * `entries` is read by position, hence IndexedSeq. */
  private def buildIndexBtree(db: Db, entries: IndexedSeq[Array[Byte]]): Int = {
    if (entries.isEmpty) {
      val no = db.alloc(); db.put(no, buildPage(0x0A, Nil, 0, 0)); return no
    }
    // Cell images are materialized ONLY when an entry is placed on a
    // page: splitPayload emits the overflow chain as a side effect, and
    // an entry that gets promoted (or re-homed by the last-entry split)
    // must not leave an orphaned chain behind. Size decisions use the
    // pure cellLen; page assembly calls makeCell/makeIntCell once.
    def cellLen(e: Array[Byte]): Int =
      varint(e.length.toLong).length + imageLen(e.length, MaxLocalIndex)
    def makeCell(e: Array[Byte]): Array[Byte] =
      varint(e.length.toLong) ++ splitPayload(db, e, MaxLocalIndex)
    def makeIntCell(child: Int, e: Array[Byte]): Array[Byte] =
      u32(child) ++ varint(e.length.toLong) ++
        splitPayload(db, e, MaxLocalIndex)

    // leaves + promoted dividers. Invariant kept throughout: pages
    // alternate with dividers (pages.length == divs.length + 1 at the
    // end), every divider is an entry strictly between its neighbours.
    var pages = ArrayBuffer[Int]()
    var divs = ArrayBuffer[Array[Byte]]()
    var cur = ArrayBuffer[Array[Byte]](); var used = 8
    def closeLeaf(es: Seq[Array[Byte]]): Unit = {
      val no = db.alloc()
      db.put(no, buildPage(0x0A, es.map(makeCell), 0, 0))
      pages += no
    }
    var i = 0
    while (i < entries.length) {
      val cl = cellLen(entries(i))
      if (cur.nonEmpty && used + 2 + cl > PageSize) {
        if (i < entries.length - 1) {
          // close this leaf; entry i is promoted: stored only in parent
          closeLeaf(cur.toSeq); divs += entries(i)
          i += 1
        } else {
          // the LAST entry cannot be promoted (a divider needs a right
          // sibling) — split one entry earlier: the previous entry goes
          // up, this one opens the final leaf. Two max-size cells always
          // fit one page, so cur.length >= 2 and the pop can't empty it.
          val prev = cur.remove(cur.length - 1)
          closeLeaf(cur.toSeq); divs += prev
          // entry i restarts in the fresh leaf (do not advance i)
        }
        cur = ArrayBuffer[Array[Byte]](); used = 8
      } else { cur += entries(i); used += 2 + cl; i += 1 }
    }
    // the last entry always lands in cur (promotion is never taken on it)
    closeLeaf(cur.toSeq)

    // interior levels: pages.length == divs.length + 1 invariant
    while (pages.length > 1) {
      val outPages = ArrayBuffer[Int]()
      val outDivs = ArrayBuffer[Array[Byte]]()
      var cells = ArrayBuffer[(Int, Array[Byte])](); var used2 = 12
      def closeInterior(cs: Seq[(Int, Array[Byte])], right: Int): Unit = {
        val no = db.alloc()
        db.put(no, buildPage(0x02,
          cs.map { case (c, e) => makeIntCell(c, e) }, right, 0))
        outPages += no
      }
      var j = 0
      while (j < divs.length) {
        val cl = 4 + cellLen(divs(j))
        if (cells.nonEmpty && used2 + 2 + cl > PageSize) {
          if (j < divs.length - 1) {
            // close covering children ..pages(j); divs(j) goes up
            closeInterior(cells.toSeq, pages(j)); outDivs += divs(j)
            j += 1
          } else {
            // the LAST pair must land in the final page (a divider
            // needs a right subtree) — split one pair earlier. Two
            // max-size cells always fit one page, so cells.length >= 2
            // here and the pop cannot empty the page.
            val prev = cells.remove(cells.length - 1)
            closeInterior(cells.toSeq, prev._1); outDivs += prev._2
            // do not advance j: pair j restarts in the fresh page
          }
          cells = ArrayBuffer[(Int, Array[Byte])](); used2 = 12
        } else { cells += ((pages(j), divs(j))); used2 += 2 + cl; j += 1 }
      }
      closeInterior(cells.toSeq, pages.last)
      pages = outPages; divs = outDivs
    }
    pages.head
  }

  // ---- file header + write ---------------------------------------------

  private def fileHeader(nPages: Int): Array[Byte] = {
    val h = new Array[Byte](100)
    val magic = "SQLite format 3".getBytes("US-ASCII")
    System.arraycopy(magic, 0, h, 0, magic.length) // trailing NUL already 0
    System.arraycopy(u16(PageSize), 0, h, 16, 2)
    h(18) = 1; h(19) = 1          // rollback-journal file format
    h(20) = 0                     // reserved space
    h(21) = 64; h(22) = 32; h(23) = 32 // payload fractions (fixed by spec)
    System.arraycopy(u32(1), 0, h, 24, 4)        // change counter
    System.arraycopy(u32(nPages), 0, h, 28, 4)   // db size in pages
    System.arraycopy(u32(1), 0, h, 40, 4)        // schema cookie
    System.arraycopy(u32(1), 0, h, 44, 4)        // schema format 1
    System.arraycopy(u32(1), 0, h, 56, 4)        // text encoding UTF-8
    System.arraycopy(u32(1), 0, h, 92, 4)        // version-valid-for
    System.arraycopy(u32(3045000), 0, h, 96, 4)  // sqlite version number
    h
  }

  /** Key column names of a `CREATE UNIQUE INDEX` statement. */
  private val UniqueIndexCols =
    """(?is)CREATE\s+UNIQUE\s+INDEX\s.*?\sON\s+\S+\s*\((.*)\)\s*""".r

  /** Enforce a UNIQUE index on its sorted entries (key columns + rowid):
    * equal keys sit next to each other, and keys holding a NULL never
    * conflict, as in SQLite. */
  private def checkUnique(table: String, ix: IndexDef,
                          sorted: IndexedSeq[Seq[Any]]): Unit =
    ix.createSql match {
      case UniqueIndexCols(cols) =>
        val n = ix.keyCols.length
        var i = 1
        while (i < sorted.length) {
          val (a, b) = (sorted(i - 1), sorted(i))
          if ((0 until n).forall(c => a(c) != null && cmpVal(a(c), b(c)) == 0))
            throw new IllegalStateException("UNIQUE constraint failed: " +
              cols.split(',').map(c => s"$table.${c.trim.split("\\s+")(0)}")
                .mkString(", "))
          i += 1
        }
      case _ =>
    }

  /** Write a database file containing `tables` and their index b-trees.
    * Returns pages written.
    *
    * Rowids are assigned 1..n in each table's iteration order, so the
    * file's bytes follow that order: a caller must not reorder rows if
    * its artifact is to stay byte-identical.
    *
    * An index whose DDL is `CREATE UNIQUE INDEX` is enforced like SQLite
    * enforces it: two rows with equal, non-NULL keys abort the write with
    * `IllegalStateException("UNIQUE constraint failed: <table>.<column>")`.
    * Every page is built in memory before the file is opened, so an
    * aborted write leaves no file at `path`.
    *
    * Memory: one table is held at a time, its rows and their encoded
    * records, plus the sorted entries of the one index being built. */
  def write(path: Path, tables: Seq[TableDef]): Int = {
    val db = new Db
    val masterRows = ArrayBuffer[Seq[Any]]()
    tables.foreach { t =>
      val rows = t.rows.toVector
      val encoded = rows.zipWithIndex
        .map { case (vals, i) => (i + 1L, encodeRecord(vals)) }
      val root = buildTableBtree(db, encoded)
      masterRows += Seq("table", t.name, t.name, root.toLong, t.createSql)
      t.indexes.foreach { ix =>
        // index entry = key columns + rowid, sorted in index order
        val sorted = rows.zipWithIndex
          .map { case (vals, i) =>
            (ix.keyCols.map(vals).toSeq :+ (i + 1L)): Seq[Any] }
          .sortWith(cmpRows)
        checkUnique(t.name, ix, sorted)
        val iroot = buildIndexBtree(db, sorted.map(encodeRecord))
        masterRows += Seq("index", ix.name, t.name, iroot.toLong, ix.createSql)
      }
    }
    val masterCells = masterRows.toVector.zipWithIndex
      .map { case (vals, i) => (i + 1L, encodeRecord(vals)) }
    buildTableBtree(db, masterCells, rootAtPage1 = true)

    val header = fileHeader(db.pages.length)
    System.arraycopy(header, 0, db.pages(0), 0, 100)
    val out = Files.newOutputStream(path)
    try db.pages.foreach(out.write) finally out.close()
    db.pages.length
  }

  // ---- reader (round-trip tests) ---------------------------------------

  private def u32At(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  /** Reassemble a P-byte payload whose cell body starts at `at`,
    * following the overflow chain when the local part is truncated. */
  private def readPayload(bytes: Array[Byte], pageSize: Int, at: Int,
                          p: Int, maxLocal: Int): Array[Byte] = {
    val nLocal = localSize(p, maxLocal, pageSize)
    if (nLocal == p) java.util.Arrays.copyOfRange(bytes, at, at + p)
    else {
      val out = new Array[Byte](p)
      System.arraycopy(bytes, at, out, 0, nLocal)
      var next = u32At(bytes, at + nLocal)
      var off = nLocal
      while (next != 0) {
        val base = (next - 1) * pageSize
        next = u32At(bytes, base)
        val n = math.min(pageSize - 4, p - off)
        System.arraycopy(bytes, base + 4, out, off, n)
        off += n
      }
      require(off == p, s"overflow chain ended at $off of $p bytes")
      out
    }
  }

  /** All rows of `table`, walking the b-tree left-to-right. */
  def read(path: Path, table: String): Seq[Seq[Any]] = {
    val bytes = Files.readAllBytes(path)
    require(new String(bytes, 0, 15, "US-ASCII") == "SQLite format 3",
      "not a SQLite file")
    val pageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)

    def walk(pageNo: Int, headerAt: Int): Seq[(Long, Array[Byte])] = {
      val base = (pageNo - 1) * pageSize
      val at = base + headerAt
      val pageType = bytes(at) & 0xff
      val nCells = ((bytes(at + 3) & 0xff) << 8) | (bytes(at + 4) & 0xff)
      val headerLen = if (pageType == 0x05) 12 else 8
      if (pageType == 0x05) {
        val kids = (0 until nCells).map { i =>
          val ptr = base + (((bytes(at + headerLen + 2 * i) & 0xff) << 8) |
            (bytes(at + headerLen + 2 * i + 1) & 0xff))
          ((bytes(ptr) & 0xff) << 24) | ((bytes(ptr + 1) & 0xff) << 16) |
            ((bytes(ptr + 2) & 0xff) << 8) | (bytes(ptr + 3) & 0xff)
        }
        val right = ((bytes(at + 8) & 0xff) << 24) |
          ((bytes(at + 9) & 0xff) << 16) |
          ((bytes(at + 10) & 0xff) << 8) | (bytes(at + 11) & 0xff)
        (kids :+ right).flatMap(walk(_, 0))
      } else {
        require(pageType == 0x0D, s"unexpected page type $pageType")
        (0 until nCells).map { i =>
          val ptr = base + (((bytes(at + headerLen + 2 * i) & 0xff) << 8) |
            (bytes(at + headerLen + 2 * i + 1) & 0xff))
          val (plen, n1) = readVarint(bytes, ptr)
          val (rowid, n2) = readVarint(bytes, ptr + n1)
          (rowid, readPayload(bytes, pageSize, ptr + n1 + n2,
            plen.toInt, pageSize - 35))
        }
      }
    }

    val master = walk(1, 100).map(r => decodeRecord(r._2))
    if (table == "sqlite_master") master.map(_.toSeq)
    else {
      val root = master.find(r => r(0) == "table" && r(1) == table)
        .getOrElse(
          throw new NoSuchElementException(s"table $table not in db"))
        .apply(3).asInstanceOf[Long].toInt
      walk(root, 0).map(r => decodeRecord(r._2))
    }
  }

  /** All entries of `index` (key cols + rowid), in index order — the
    * in-order walk interleaves interior entries between child subtrees
    * (index interior cells ARE entries, unlike table interiors). */
  def readIndex(path: Path, index: String): Seq[Seq[Any]] = {
    val bytes = Files.readAllBytes(path)
    val pageSize = ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)

    def walkIx(pageNo: Int): Seq[Seq[Any]] = {
      val base = (pageNo - 1) * pageSize
      val pageType = bytes(base) & 0xff
      val nCells = ((bytes(base + 3) & 0xff) << 8) | (bytes(base + 4) & 0xff)
      val headerLen = if (pageType == 0x02) 12 else 8
      def ptr(i: Int): Int = base + (
        ((bytes(base + headerLen + 2 * i) & 0xff) << 8) |
          (bytes(base + headerLen + 2 * i + 1) & 0xff))
      val ixMaxLocal = ((pageSize - 12) * 64 / 255) - 23
      if (pageType == 0x02) {
        val parts = (0 until nCells).flatMap { i =>
          val p = ptr(i)
          val child = u32At(bytes, p)
          val (plen, n1) = readVarint(bytes, p + 4)
          val entry = decodeRecord(readPayload(bytes, pageSize,
            p + 4 + n1, plen.toInt, ixMaxLocal))
          walkIx(child) :+ entry
        }
        parts ++ walkIx(u32At(bytes, base + 8))
      } else {
        require(pageType == 0x0A, s"unexpected index page type $pageType")
        (0 until nCells).map { i =>
          val p = ptr(i)
          val (plen, n1) = readVarint(bytes, p)
          decodeRecord(readPayload(bytes, pageSize, p + n1,
            plen.toInt, ixMaxLocal))
        }
      }
    }

    val root = read(path, "sqlite_master")
      .find(r => r(0) == "index" && r(1) == index)
      .getOrElse(throw new NoSuchElementException(s"index $index not in db"))
      .apply(3).asInstanceOf[Long].toInt
    walkIx(root)
  }
}
