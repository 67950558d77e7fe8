package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.streaming.Checkpoints

/** Snapshot-versioned parquet lake: immutable data files + a per-version
  * manifest listing the files that ARE the table at that version — the
  * Delta/Iceberg commit-log shape reduced to its load-bearing core,
  * giving [[PartitionedLake]]'s upsert pattern what every production
  * table format has and a bare parquet directory cannot: READ AT
  * VERSION (time travel), snapshot isolation for concurrent readers,
  * optimistic concurrency for concurrent writers, and an auditable
  * commit history.
  *
  * Layout:
  * {{{
  *   path/data/<token>/__part=<v>/part-*.parquet   one commit's files
  *   path/_log/000001.manifest                      version 1 file list
  *   path/_log/000002.manifest                      version 2 file list
  *   path/_log/txns-*.carry                         vacuum txn sidecars
  * }}}
  *
  * Every commit only ADDS data files (under its own unique `<token>`
  * directory) and writes ONE new manifest; nothing is ever mutated or
  * deleted, so a reader holding version k's file list is immune to any
  * later commit — the concurrent-reader-sees-old-version guarantee
  * LakeSpec pins, and the property [[PartitionedLake]]'s in-place
  * dynamic overwrite cannot offer (its upsert physically replaces
  * partition files under a running reader).
  *
  * A manifest is a text file: header line
  * `version=<k> op=<op> dir=<token>[ txn=<t>][ ts=<millis>]`, an
  * optional `schema=<json>` line recording the commit's schema (the
  * l04 evolution semantics lifted to the table layer — old versions
  * stay readable under the latest schema with NULL back-fill,
  * [[readVersionEvolved]]), then one `<part>\t<relpath>[\t<lo>\t<hi>]`
  * line per live data file. Manifest IO is driver-side metadata —
  * file-count-sized, the same scale as every table format's log —
  * while row data only ever moves through executor parquet scans.
  * Lakes opted into SEGMENTED manifests
  * ([[enableSegmentedManifests]]) replace the per-file lines with one
  * `seg=<part>\t<segfile>\t<sha256>` pointer per partition, each
  * segment holding that partition's entry lines in an immutable
  * `_log/seg-*.seg` file reused across versions by content hash —
  * the Iceberg manifest-list shape. Commits carry untouched
  * partitions forward STRUCTURALLY ([[doCommit]]'s pointer
  * carry-forward): their segments are never opened, expanded,
  * re-serialized or re-hashed — only touched partitions' segments
  * are read (pruned at the pointer) and rewritten, so commit
  * metadata WRITE cost is O(touched files + partition count). The
  * OCC conflict check rides the same structure: on segmented logs
  * [[touchedParts]] diffs per-partition segment HASHES, never
  * expanding entries. (Read-side planning cost remains ∝ the files
  * the read actually plans over, as it must.)
  *
  * CONCURRENT WRITERS (the Delta OCC rule): each commit attempt stages
  * its data under a fresh unique token directory (two racing writers
  * can never write into each other's staging dir), and the manifest
  * write is strictly fresh-name — [[tryWriteManifest]] refuses to
  * overwrite an existing manifest, so the version-number claim is the
  * arbiter. A writer that loses the race re-reads the log and REBASES:
  * the commit retries at the new head iff the winning commits'
  * touched partitions are disjoint from its own (appends never
  * conflict; an upsert conflicts when an intervening commit touched a
  * partition it replaces; an overwrite conflicts with everything), and
  * aborts loudly otherwise. Its already-written data files are then
  * orphans that [[vacuum]] reclaims — never a torn version.
  *
  * The partition column stays a REGULAR column in the data files (the
  * physical write partitions on a `__part` duplicate), so reading a
  * manifest's file list needs no partition-dir discovery — and
  * [[readVersion]]'s optional `parts` filter prunes at the MANIFEST,
  * the versioned form of partition pruning: pruned files never reach
  * the reader at all.
  */
object VersionedLake {

  private val PartDir = "__part"

  private def logDir(path: String) = new Path(s"${path.stripSuffix("/")}/_log")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Unique-name generator for commit-attempt data dirs, manifest tmp
    * files, and vacuum sidecars: a per-JVM tag + counter, so no two
    * attempts (in this JVM or another) ever share a staging name. File
    * and dir NAMES are the only nondeterminism here — nothing
    * name-derived ever reaches a query's output (rel paths live only
    * inside manifests; queries emit file COUNTS at most). */
  private val jvmTag =
    java.util.UUID.randomUUID().toString.replace("-", "").take(10)
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private[sources] def uniq(): String = s"$jvmTag${seq.incrementAndGet()}"

  /** All committed versions, ascending (empty for a fresh lake). */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val dir = logDir(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(".manifest"))
      .map(_.stripSuffix(".manifest").toInt).toSeq.sorted
  }

  // ---- head pointer (commit-log checkpointing) ----------------------
  //
  // Without it, every latest-resolve LISTS the whole `_log` directory —
  // O(versions) per read, and at streaming-ingest commit rates (10^6
  // commits = a year of minute-cadence batches) the listing becomes
  // the dominant planning cost (r14 verdict "What's missing #1").
  // Delta answers with `_last_checkpoint`, Iceberg with a catalog
  // pointer; this is that shape reduced to its core: `_log/_head`
  // holds the last committed version as a HINT, written AFTER each
  // successful manifest claim. The hint is TRUSTED-BUT-VERIFIED —
  // resolution probes FORWARD from it by manifest existence (versions
  // are claimed contiguously, so the probe can never skip a commit),
  // which makes every failure mode safe:
  //  - STALE hint (crash between claim and head write, lost overwrite
  //    race between concurrent writers): the forward probe walks past
  //    it to the true head — O(lag) stats, not O(versions) listing.
  //  - MISSING / TORN / CORRUPT hint (legacy lake, torn overwrite —
  //    the head is the one file here NOT claimed via [[claimFile]],
  //    because a claim cannot re-publish a fixed name; overwrite is
  //    fine precisely because the hint is verified): fall back to the
  //    full listing, exactly the pre-head behavior.
  //  - hint AHEAD of reality (foreign tampering, partial copy): the
  //    existence check at the hint itself fails → full-listing
  //    fallback.
  //  - VACUUM: a dropped contiguous PREFIX is absorbed by the
  //    existence check (a stale hint at a dropped version fails it →
  //    fallback), but pin-aware vacuum (`keepVersions`) can drop
  //    versions BETWEEN kept ones — a MID-LOG GAP that breaks the
  //    probe's contiguity assumption: a stale hint at a kept pinned
  //    version would stop at the gap, report the pin as latest, and
  //    the next commit would claim INTO the gap — a silent history
  //    fork (r15 self-review finding). So vacuum leaves a zero-byte
  //    `<v>.vacuumed` TOMBSTONE for every dropped version above the
  //    lowest kept one (written BEFORE the manifest delete — a crash
  //    between leaves both present, which the probe reads as a live
  //    version, still correct), the probe walks THROUGH tombstoned
  //    positions without counting them, and vacuum refreshes the hint
  //    to the true head when done. Tombstones below every kept
  //    version sweep away on the next vacuum (a hint can only enter
  //    the probe at a kept version, so gaps below the lowest kept one
  //    need no bridge).

  private def vacuumedPath(path: String, v: Int): Path =
    new Path(logDir(path), s"${"%06d".format(v)}.vacuumed")

  /** Diagnostic witness: full `_log` listings taken by
    * [[latestVersion]] because the head hint was absent or unusable.
    * Steady state on a head-maintained lake is ZERO growth here —
    * LakeSpec pins it. */
  private[graft] val headMisses =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def readHeadHint(f: org.apache.hadoop.fs.FileSystem,
                           path: String): Option[Int] =
    HeadHint.read(f, logDir(path))

  /** Advance the head hint to `v` ([[HeadHint.write]] — best-effort
    * overwrite-in-place; see the head-pointer note above). */
  private def writeHeadHint(f: org.apache.hadoop.fs.FileSystem,
                            path: String, v: Int): Unit =
    HeadHint.write(f, logDir(path), v)

  /** The newest committed version (0 for a fresh lake) — O(1 + lag)
    * via the `_log/_head` hint when present (forward existence probe,
    * bridging vacuum-pin gap tombstones — see the head-pointer note),
    * O(versions) listing fallback otherwise. */
  def latestVersion(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    readHeadHint(f, path) match {
      case Some(h) if f.exists(manifestPath(path, h)) =>
        var v = h
        var last = h
        var walking = true
        while (walking) {
          if (f.exists(manifestPath(path, v + 1))) { v += 1; last = v }
          else if (f.exists(vacuumedPath(path, v + 1))) v += 1 // gap
          else walking = false
        }
        last
      case _ =>
        headMisses.incrementAndGet()
        versions(spark, path).lastOption.getOrElse(0)
    }
  }

  // ---- segmented manifests (the Iceberg manifest-list shape) -------
  //
  // A flat manifest re-serializes the FULL file list on every commit:
  // at 100 TB (10^6 files) that is ~10^8 bytes of driver-side metadata
  // per commit even when the commit touched one partition. A SEGMENTED
  // manifest stores each partition's entry lines in a separate
  // `_log/seg-<uniq>.seg` file and keeps only one
  // `seg=<part>\t<file>\t<sha256>` pointer line per partition — an
  // untouched partition's segment carries forward BY POINTER (content
  // hash equality against the previous version), so commit metadata
  // cost is O(touched partitions + partition count), and a
  // partition-pruned read never opens un-probed partitions' segments
  // at all. This is Iceberg's snapshot -> manifest-list -> manifest
  // two-level tree reduced to one reuse rule; Delta solves the same
  // problem with checkpoint + log-segment replay.
  //
  // Segments are immutable and fresh-named (uniq()), written BEFORE
  // the manifest claim: a losing or crashed attempt leaves only
  // unreferenced `.seg` orphans, which [[vacuum]] reclaims under the
  // same graceMs window as staged data files — never a torn version.

  private def segMarker(path: String) = new Path(logDir(path), "_segmented")

  /** Opt `path` into segmented manifests. Idempotent; takes effect on
    * the NEXT commit (existing flat manifests stay readable — the two
    * forms interleave freely in one log, so enabling on a live lake
    * is a one-commit upgrade, not a rewrite). */
  def enableSegmentedManifests(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val m = segMarker(path)
    if (!f.exists(m)) f.create(m, true).close()
    ()
  }

  /** Version `v`'s segment pointers: partition -> (segment file name,
    * content sha-256). Empty for flat manifests — planning-side
    * metadata (l25's reuse witnesses read this). */
  def segmentPointers(spark: SparkSession, path: String,
                      v: Int): Map[String, (String, String)] =
    readManifestText(spark, path, v).linesIterator
      .filter(_.startsWith("seg="))
      .map { l =>
        val t = l.stripPrefix("seg=").split('\t')
        t(0) -> (t(1), t(2))
      }.toMap

  /** [[segmentPointers]] with the optional 4th pointer field kept:
    * `E<e1>,<e2>,…` — the segment's distinct entry ERAS, recorded at
    * segment write so a structurally-carried partition's live schema
    * eras are known WITHOUT opening the segment (r13 advice: without
    * it, carried partitions forced conservative retention of every
    * colmap/coltype line, O(data-writing versions) manifest growth on
    * append-only segmented lakes). A pointer without the field is
    * legacy — its carrier falls back to the conservative retention. */
  private def segPointersFull(spark: SparkSession, path: String,
                              v: Int)
      : Map[String, (String, String, Option[String])] =
    readManifestText(spark, path, v).linesIterator
      .filter(_.startsWith("seg="))
      .map { l =>
        val t = l.stripPrefix("seg=").split('\t')
        t(0) -> (t(1), t(2),
          if (t.length > 3 && t(3).startsWith("E")) Some(t(3)) else None)
      }.toMap

  private def eraField(eras: Seq[Int]): Option[String] =
    if (eras.isEmpty) None else Some("E" + eras.distinct.sorted.mkString(","))

  private def parseEraField(f: String): Set[Int] =
    f.stripPrefix("E").split(',').filter(_.nonEmpty).map(_.toInt).toSet

  private def readSegLines(spark: SparkSession, path: String,
                           rel: String): Iterator[String] = {
    val f = fs(spark, path)
    val in = f.open(new Path(logDir(path), rel))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.linesIterator.filter(_.nonEmpty)
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // ---- table constraints (Delta CHECK / NOT NULL) -------------------
  //
  // Quality enforcement at the TABLE layer: a constraint is a boolean
  // SQL expression recorded in every manifest (`constraint=<name>\t
  // <expr>` lines, carried forward like the schema), and every
  // data-writing commit validates its DELTA against the active set in
  // one aggregate pass — cost ∝ delta, never the table. A violating
  // commit aborts LOUDLY with per-constraint counts before any version
  // is claimed (its staged files are vacuum-reclaimable orphans, the
  // OCC-loser discipline). SQL CHECK semantics: NULL passes (unknown),
  // only FALSE violates — so NOT NULL is spelled `x IS NOT NULL`, one
  // mechanism for both verbs, exactly Delta's constraint rule.

  /** The constraints active at version `v`: (name, boolean SQL expr).
    * Planning-side metadata. */
  def readConstraints(spark: SparkSession, path: String,
                      v: Int): Seq[(String, String)] =
    readManifestText(spark, path, v).linesIterator
      .filter(_.startsWith("constraint="))
      .map { l =>
        val t = l.stripPrefix("constraint=").split('\t')
        (t(0), t(1))
      }.toSeq

  /** One aggregate pass over `df` counting rows where any constraint
    * evaluates FALSE (NULL passes); throws with per-constraint counts
    * on violation. */
  private def checkConstraints(df: DataFrame,
                               cs: Seq[(String, String)],
                               ctx: String): Unit = {
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, e) =>
      sum(when(coalesce(expr(e).cast("boolean"), lit(true)) === false,
        1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head() // 1-row planning
    val bad = cs.zipWithIndex.collect {
      case ((n, e), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n [$e]: ${row.getLong(i)} rows"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"constraint violation on $ctx: ${bad.mkString("; ")}")
  }

  /** ADD CONSTRAINT (Delta's `ALTER TABLE ADD CONSTRAINT ... CHECK`):
    * a metadata-only commit recording `name -> checkExpr`; the FULL
    * current snapshot validates once at add time (the one
    * table-sized pass the verb inherently costs — every later commit
    * pays only its delta), and a snapshot already violating the rule
    * refuses the constraint loudly. */
  def commitAddConstraint(spark: SparkSession, path: String,
                          name: String, checkExpr: String,
                          commitTs: Option[Long] = None): Int = {
    require(!checkExpr.contains('\t') && !checkExpr.contains('\n') &&
      !name.contains('\t') && !name.contains('\n'),
      "constraint names/expressions must be tab- and newline-free")
    commitConstraintChange(spark, path, "add_constraint", commitTs) {
      (v, cs) =>
        require(!cs.exists(_._1 == name),
          s"constraint $name already exists at $path")
        checkConstraints(readVersion(spark, path, v),
          Seq(name -> checkExpr), s"ADD CONSTRAINT over version $v")
        cs :+ (name -> checkExpr)
    }
  }

  /** DROP CONSTRAINT: metadata-only. */
  def commitDropConstraint(spark: SparkSession, path: String,
                           name: String,
                           commitTs: Option[Long] = None): Int =
    commitConstraintChange(spark, path, "drop_constraint", commitTs) {
      (_, cs) =>
        require(cs.exists(_._1 == name),
          s"no constraint $name at $path")
        cs.filterNot(_._1 == name)
    }

  /** Shared claim loop for metadata-only constraint commits (the
    * [[commitSchemaChange]] shape: entries/schema/colmaps carry
    * forward verbatim, only the constraint set changes). */
  private def commitConstraintChange(spark: SparkSession, path: String,
                                     op: String, commitTs: Option[Long])
      (change: (Int, Seq[(String, String)]) => Seq[(String, String)])
      : Int = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val v = latestVersion(spark, path)
      require(v > 0, s"$op needs an existing version at $path")
      val schemaJson = readSchema(spark, path, v).map(_.json).getOrElse(
        throw new IllegalStateException(
          s"$op requires a schema-recording manifest at $path"))
      if (tryWriteManifest(spark, path, v + 1, op, s"$op-${uniq()}",
          schemaJson, manifestEntries(spark, path, v), None, commitTs,
          readColmaps(spark, path, v),
          change(v, readConstraints(spark, path, v)),
          readColtypes(spark, path, v)))
        return v + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$op retry budget exhausted at $path")
  }

  /** One live file in a version: partition value, lake-relative path,
    * optional (lo, hi) key-range ZONE-MAP stats on the commit's stats
    * column — the Iceberg manifest-row shape: the version log and the
    * data-skipping index are ONE structure, so a time-travel read
    * prunes files the same way a latest read does — and the entry
    * KIND: `data` rows, or a `dv` DELETION-VECTOR sidecar
    * ([[commitDelete]]) whose (__file, __pos) rows mark dead
    * positions in this partition's data files. */
  final case class FileEntry(part: String, rel: String,
                             lo: Option[Long] = None,
                             hi: Option[Long] = None,
                             kind: String = "data",
                             era: Option[Int] = None,
                             size: Option[Long] = None,
                             specId: Option[Int] = None)

  private val KindData = "data"
  private val KindDv = "dv"

  private def manifestPath(path: String, v: Int): Path =
    new Path(logDir(path), s"${"%06d".format(v)}.manifest")

  /** Resolve a manifest rel-path against the lake root. A SHALLOW
    * CLONE's manifest stores the source's files as absolute/qualified
    * paths ([[shallowClone]]) — those pass through untouched. */
  private[sources] def resolve(base: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains(":/")) rel else s"$base/$rel"

  private def readManifestText(spark: SparkSession, path: String,
                               v: Int): String = {
    val mf = manifestPath(path, v)
    val f = fs(spark, path)
    require(f.exists(mf), s"no manifest for version $v at $path")
    val in = f.open(mf)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** One manifest/segment entry line parsed: `part\trel` followed by
    * optional TAGGED fields — the DV marker `D` or a numeric
    * `lo\thi` zone-map pair, then `E<k>` (write era — column-mapping
    * provenance, [[readColmaps]]), `S<bytes>` (file size — the
    * Iceberg/Delta manifest size field, feeding planning statistics)
    * and `P<id>` (the PARTITION SPEC that derived this file's
    * partition value — Iceberg's per-data-file spec id. Attribution
    * by tag never races: a writer that derived under an old spec
    * records the old id no matter which version its commit claims,
    * so [[HiddenPartitioning]]'s mixed-spec pruning stays sound under
    * any evolve/commit interleaving; era-based inference remains only
    * the legacy fallback for untagged lines).
    * Tags are unambiguous against raw stats (numeric) and absent tags
    * parse as None, so every historical line shape stays readable. */
  private def parseEntryLine(line: String): FileEntry = {
    val t = line.split('\t')
    require(t.length >= 2, s"malformed manifest line: $line")
    var e = FileEntry(t(0), t(1))
    var i = 2
    def num(s: String) =
      s.nonEmpty && (s.charAt(0).isDigit ||
        (s.charAt(0) == '-' && s.length > 1)) &&
        s.drop(1).forall(_.isDigit)
    if (i < t.length && t(i) == "D") { e = e.copy(kind = KindDv); i += 1 }
    else if (i + 1 < t.length && num(t(i)) && num(t(i + 1))) {
      e = e.copy(lo = Some(t(i).toLong), hi = Some(t(i + 1).toLong))
      i += 2
    }
    while (i < t.length) {
      val x = t(i)
      if (x.startsWith("E")) e = e.copy(era = Some(x.drop(1).toInt))
      else if (x.startsWith("S")) e = e.copy(size = Some(x.drop(1).toLong))
      else if (x.startsWith("P")) e = e.copy(specId = Some(x.drop(1).toInt))
      else throw new IllegalArgumentException(
        s"malformed manifest line field '$x' in: $line")
      i += 1
    }
    e
  }

  /** [[parseEntryLine]]'s inverse — the one serialization both flat
    * manifests and segments use. */
  private def entryLine(e: FileEntry): String =
    s"${e.part}\t${e.rel}" + (
      if (e.kind == KindDv) "\tD"
      else (e.lo, e.hi) match {
        case (Some(l), Some(h)) => s"\t$l\t$h"
        case _ => ""
      }) + e.era.fold("")(k => s"\tE$k") +
      e.size.fold("")(n => s"\tS$n") +
      e.specId.fold("")(i => s"\tP$i")

  /** File entries of version `v`'s manifest (header and schema lines
    * skipped; `seg=` pointer lines expanded). A non-empty `parts`
    * prunes AT THE POINTER: un-wanted partitions' segments are never
    * opened — metadata-side partition pruning. */
  private def manifestEntries(spark: SparkSession, path: String,
                              v: Int,
                              parts: Set[String] = Set.empty)
      : Seq[FileEntry] = {
    def want(p: String) = parts.isEmpty || parts.contains(p)
    readManifestText(spark, path, v).linesIterator.drop(1)
      .filter(l => l.nonEmpty && !l.startsWith("schema=") &&
        !l.startsWith("colmap=") && !l.startsWith("coltype=") &&
        !l.startsWith("constraint="))
      .flatMap { line =>
        if (line.startsWith("seg=")) {
          val t = line.stripPrefix("seg=").split('\t')
          if (!want(t(0))) Iterator.empty
          else readSegLines(spark, path, t(1)).map(parseEntryLine)
        } else {
          val e = parseEntryLine(line)
          if (want(e.part)) Iterator.single(e) else Iterator.empty
        }
      }.toSeq
  }

  /** The schema recorded in version `v`'s manifest (None for manifests
    * written before schema recording existed). */
  def readSchema(spark: SparkSession, path: String,
                 v: Int): Option[StructType] =
    readManifestText(spark, path, v).linesIterator.drop(1)
      .find(_.startsWith("schema="))
      .map(l => DataTypeParser.parse(l.stripPrefix("schema=")))

  /** StructType.fromJson behind one name (kept private-ish so the
    * manifest format owns the choice of encoding). */
  private object DataTypeParser {
    def parse(json: String): StructType =
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[StructType]
  }

  /** COLUMN-MAPPING provenance (l24 — the Delta `columnMapping` /
    * Iceberg field-id shape): each data-writing commit records, under
    * `colmap=<era>`, the map from stable column id (`gid`, carried in
    * the recorded schema's field metadata) to the PHYSICAL column
    * name its files were written with. Reads resolve by id
    * ([[mappedRead]]), so a RENAME is a metadata commit (physical
    * names never change) and a DROPPED-then-RE-ADDED name gets a
    * fresh id — old files' bytes under the same name can never
    * resurrect. Era maps for eras still referenced carry forward in
    * every manifest. */
  private def readColmaps(spark: SparkSession, path: String,
                          v: Int): Map[Int, Map[Long, String]] =
    readEraMaps(spark, path, v, "colmap=")

  /** TYPE provenance (l32 — Delta's type-widening feature): each
    * data-writing commit also records, under `coltype=<era>`, the map
    * from stable column id to the PHYSICAL TYPE (catalogString) its
    * files were written with. When a later commit WIDENS a column
    * (int→long, float→double — the only re-types [[doCommit]]
    * admits), old eras' files read under their recorded physical type
    * and cast up to the logical one ([[mappedRead]]) — no byte
    * rewritten, no reader-side promotion assumption. Eras recorded
    * before this feature have no `coltype` lines and keep the legacy
    * read-under-logical-type semantics. */
  private def readColtypes(spark: SparkSession, path: String,
                           v: Int): Map[Int, Map[Long, String]] =
    readEraMaps(spark, path, v, "coltype=")

  private def readEraMaps(spark: SparkSession, path: String, v: Int,
                          prefix: String): Map[Int, Map[Long, String]] =
    readManifestText(spark, path, v).linesIterator.drop(1)
      .filter(_.startsWith(prefix))
      .map { l =>
        val fields = l.stripPrefix(prefix).split('\t')
        val era = fields.head.toInt
        era -> fields.tail.map { kv =>
          val i = kv.indexOf('=')
          kv.take(i).toLong -> kv.drop(i + 1)
        }.toMap
      }.toMap

  /** The `gid` recorded in a field's metadata (absent on legacy /
    * externally-authored schemas — those resolve by name). */
  private def gidOf(f: org.apache.spark.sql.types.StructField)
      : Option[Long] =
    if (f.metadata.contains("gid")) Some(f.metadata.getLong("gid"))
    else None

  /** `schema` with every field carrying a stable column id: names
    * matching a field of `prev` INHERIT its id (same column), new
    * names mint fresh ids past `floor` AND past every id in `prev` —
    * so a name dropped and re-added is a NEW column by construction.
    * The caller passes the max id across the CARRIED COLMAPS as
    * `floor`: a dropped column leaves the logical schema but its id
    * lives on in still-referenced eras' maps, and re-minting it would
    * resurrect exactly the bytes the drop retired. */
  private def assignGids(prev: Option[StructType],
                         schema: StructType,
                         floor: Long = 0L): StructType = {
    val prevByName = prev.map(_.fields.flatMap(f =>
      gidOf(f).map(g => f.name -> g)).toMap).getOrElse(Map.empty)
    var next = math.max(floor,
      prev.map(_.fields.flatMap(gidOf(_)).foldLeft(0L)(math.max))
        .getOrElse(0L))
    StructType(schema.fields.map { f =>
      val g = prevByName.getOrElse(f.name, { next += 1; next })
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putLong("gid", g).build())
    })
  }

  /** gid -> physical name for a commit writing `schema`'s columns. */
  private def colmapOf(schema: StructType): Map[Long, String] =
    schema.fields.flatMap(f => gidOf(f).map(_ -> f.name)).toMap

  /** gid -> physical type (catalogString) for a commit writing
    * `schema`'s columns — [[readColtypes]]' write side. */
  private def coltypeOf(schema: StructType): Map[Long, String] =
    schema.fields.flatMap(f =>
      gidOf(f).map(_ -> f.dataType.catalogString)).toMap

  /** The re-types a commit may apply to an existing column: identity
    * or a lossless WIDENING — every pre-existing value survives the
    * read-side cast exactly. */
  private def widensOk(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    from == to || ((from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    })
  }

  private def readManifestHeader(spark: SparkSession, path: String,
                                 v: Int): String =
    readManifestText(spark, path, v).linesIterator
      .nextOption().getOrElse("")

  private def headerAttr(header: String, key: String): Option[String] =
    header.split(' ').collectFirst {
      case kv if kv.startsWith(key + "=") => kv.stripPrefix(key + "=")
    }

  /** Write version `v`'s manifest with fresh-name discipline: refuses
    * to overwrite — if the manifest already exists (another writer
    * claimed the version) this returns false and writes nothing.
    * write-temp-then-RENAME: a crash mid-write must never leave a torn
    * manifest that parses as a valid shorter file list (a later vacuum
    * would then delete the "unreferenced" tail files — silent
    * permanent loss). Nothing ever rewrites an existing manifest (the
    * r10 vacuum carry-forward moved to sidecar files for exactly this
    * reason), so on stores with HDFS rename semantics the rename
    * itself is the atomic arbiter; on POSIX local FS (where rename
    * replaces) the exists-check is the best-effort arbiter under the
    * documented single-writer-per-version discipline. */
  private def tryWriteManifest(spark: SparkSession, path: String, v: Int,
                               op: String, dirToken: String,
                               schemaJson: String,
                               entries: Seq[FileEntry],
                               txn: Option[Long],
                               ts: Option[Long],
                               colmaps: Map[Int, Map[Long, String]] =
                                 Map.empty,
                               constraints: Seq[(String, String)] =
                                 Seq.empty,
                               coltypes: Map[Int, Map[Long, String]] =
                                 Map.empty,
                               carryParts: Map[String,
                                 (String, String, Option[String])] =
                                 Map.empty): Boolean = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val mf = manifestPath(path, v)
    if (f.exists(mf)) return false
    val head = s"version=$v op=$op dir=$dirToken" +
      txn.map(t => s" txn=$t").getOrElse("") +
      ts.map(t => s" ts=$t").getOrElse("")
    // only colmaps of eras the entries still reference ride along —
    // the manifest stays self-contained (vacuum-safe) without growing
    // past the number of LIVE schema eras. Structurally-carried
    // partitions contribute the era SETS their pointer lines record
    // (r13 advice — dead eras reclaim even on append-only segmented
    // lakes); only a LEGACY pointer with no recorded era set forces
    // the conservative keep-everything fallback (reclaimed at the
    // next full-expansion commit, as before)
    val carriedEras: Set[Int] =
      carryParts.values.flatMap(_._3).flatMap(parseEraField).toSet
    val legacyCarry = carryParts.values.exists(_._3.isEmpty)
    val liveEras: Set[Int] = entries.flatMap(_.era).toSet ++ carriedEras ++
      (if (legacyCarry) colmaps.keySet ++ coltypes.keySet
       else Set.empty[Int])
    val colmapLines = colmaps.view.filterKeys(liveEras).toSeq
      .sortBy(_._1).map { case (era, m) =>
        s"colmap=$era" + m.toSeq.sortBy(_._1)
          .map { case (g, n) => s"\t$g=$n" }.mkString
      }
    val coltypeLines = coltypes.view.filterKeys(liveEras).toSeq
      .sortBy(_._1).map { case (era, m) =>
        s"coltype=$era" + m.toSeq.sortBy(_._1)
          .map { case (g, t) => s"\t$g=$t" }.mkString
      }
    val constraintLines = constraints.map { case (n, e) =>
      s"constraint=$n\t$e"
    }
    // segmented form: one pointer line per partition, an untouched
    // partition reusing the previous version's segment by content
    // hash — never its file list re-serialized (header/schema/colmap
    // lines stay in the manifest proper either way)
    val newSegs = scala.collection.mutable.ArrayBuffer.empty[Path]
    val entryLines: Seq[String] =
      if (!f.exists(segMarker(path))) {
        require(carryParts.isEmpty,
          "structural carry requires a segmented manifest")
        entries.sortBy(e => (e.part, e.rel)).map(entryLine)
      } else {
        val basePtrs: Map[String, (String, String)] =
          if (v <= 1) Map.empty
          else scala.util.Try(segmentPointers(spark, path, v - 1))
            .getOrElse(Map.empty)
        val grouped = entries.groupBy(_.part)
        require(carryParts.keySet.intersect(grouped.keySet).isEmpty,
          "a partition cannot both carry structurally and re-serialize")
        (grouped.keySet ++ carryParts.keySet).toSeq.sorted.map { part =>
          carryParts.get(part) match {
            // structural carry: the pointer line verbatim (era set
            // included) — the segment is never opened, serialized or
            // hashed
            case Some((rel, h, ef)) =>
              s"seg=$part\t$rel\t$h" + ef.fold("")("\t" + _)
            case None =>
              val es = grouped(part)
              val ef = eraField(es.flatMap(_.era)).fold("")("\t" + _)
              val lines = es.sortBy(_.rel).map(entryLine)
              val h = sha256Hex(lines.mkString("\n"))
              basePtrs.get(part) match {
                case Some((rel, bh)) if bh == h =>
                  s"seg=$part\t$rel\t$h$ef"
                case _ =>
                  val segRel = s"seg-${uniq()}.seg"
                  val sp = new Path(logDir(path), segRel)
                  val so = f.create(sp, true)
                  try so.write(
                    (lines.mkString("\n") + "\n").getBytes("UTF-8"))
                  finally so.close()
                  newSegs += sp
                  s"seg=$part\t$segRel\t$h$ef"
              }
          }
        }
      }
    val body = ((head +: s"schema=$schemaJson" +: colmapLines) ++
      coltypeLines ++ constraintLines ++ entryLines).mkString("\n")
    val tmp = new Path(logDir(path),
      s"${"%06d".format(v)}.manifest.tmp-${uniq()}")
    val out = f.create(tmp, true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
    val claimed = claimFile(f, tmp, mf)
    if (!claimed) {
      // a losing attempt's fresh segments are known by name — reclaim
      // now rather than leaving them to vacuum
      newSegs.foreach(p => f.delete(p, false))
      return false
    }
    txnCache.get(path.stripSuffix("/"))
      .foreach(c => txn.foreach(t => c.put(Long.box(t), Int.box(v))))
    writeHeadHint(f, path, v) // after the claim: hint never leads
    true
  }

  /** THE atomic-no-overwrite claim primitive every log in this
    * library shares (version manifests here, coordinator records in
    * [[CommitCoordinator]]): publish `tmp` at `dst` iff `dst` does
    * not exist, atomically. On the local FS rename(2) silently
    * replaces, so exists-check + rename is a TOCTOU hole under real
    * concurrency (LakeSpec's 8-writer race) — link(2) is the POSIX
    * primitive that fails atomically on an existing target. Non-local
    * stores take the rename route, which on HDFS-semantics
    * filesystems is itself no-overwrite-atomic. Returns whether the
    * claim won; `tmp` is consumed either way. */
  private[sources] def claimFile(f: org.apache.hadoop.fs.FileSystem,
                                 tmp: Path, dst: Path): Boolean =
    if (f.getScheme == "file") {
      val d = java.nio.file.Paths.get(f.makeQualified(dst).toUri)
      val s = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.deleteIfExists(s)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(s); false
      }
    } else {
      if (f.exists(dst)) { f.delete(tmp, false); false }
      else if (!f.rename(tmp, dst)) { f.delete(tmp, false); false }
      else true
    }

  /** Per-JVM txn→version cache, appended on every commit: without it
    * a streaming ingest pays O(versions) manifest-header reads per
    * micro-batch just to decide a commit is new (r10 review). The
    * VALUE is the version the txn's manifest header records (−1 for
    * txns carried by a vacuum sidecar — their version was dropped),
    * so a dedup hit can return the txn's OWN version (r14 advice).
    * Single-writer-per-table is the assumed discipline for the CACHE
    * only (the log itself is OCC-safe); a fresh JVM (or a vacuumed
    * log) repopulates from disk on first use. */
  private val txnCache = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.ConcurrentHashMap[
      java.lang.Long, java.lang.Integer]]

  /** Vacuum txn sidecars: `_log/txns-<uniq>.carry`, one txn id per
    * line after a `carried` header. Written with fresh-name
    * write-temp-then-rename (atomic, never overwrites anything), so a
    * crash mid-vacuum leaves at worst DUPLICATE carried txns — set
    * semantics make that harmless — and never a lost one. Each vacuum
    * folds all existing sidecars plus the dropped manifests' txns into
    * ONE new sidecar and deletes the old files after, so the sidecar
    * population stays O(1), not O(vacuums). */
  private def sidecarFiles(spark: SparkSession, path: String): Seq[Path] = {
    val dir = logDir(path)
    val f = fs(spark, path)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).iterator.map(_.getPath)
      .filter(p => p.getName.startsWith("txns-") &&
        p.getName.endsWith(".carry")).toSeq
  }

  private def readSidecarTxns(spark: SparkSession, path: String,
                              p: Path): Set[Long] = {
    val in = fs(spark, path).open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.linesIterator.drop(1).filter(_.nonEmpty).map(_.toLong).toSet
  }

  private def writeSidecar(spark: SparkSession, path: String,
                           txns: Set[Long]): Unit = {
    val f = fs(spark, path)
    f.mkdirs(logDir(path))
    val tmp = new Path(logDir(path), s"txns.tmp-${uniq()}")
    val body = ("carried" +: txns.toSeq.sorted.map(_.toString))
      .mkString("\n")
    val out = f.create(tmp, true)
    try out.write((body + "\n").getBytes("UTF-8")) finally out.close()
    val dst = new Path(logDir(path), s"txns-${uniq()}.carry")
    require(f.rename(tmp, dst), s"sidecar rename failed at $path")
  }

  /** Transaction ids recorded in the log, each with the version its
    * manifest header claims (−1 for vacuum-sidecar-carried txns whose
    * version was dropped) — served from the per-JVM cache after one
    * initial scan of manifest headers plus vacuum sidecars. */
  private def txnMap(spark: SparkSession, path: String)
      : java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, java.lang.Integer] = {
    val key = path.stripSuffix("/")
    txnCache.getOrElseUpdate(key, {
      val m = new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, java.lang.Integer]()
      versions(spark, path).foreach { v =>
        headerAttr(readManifestHeader(spark, path, v), "txn")
          .foreach(t => m.put(Long.box(t.toLong), Int.box(v)))
      }
      sidecarFiles(spark, path)
        .flatMap(p => readSidecarTxns(spark, path, p))
        .foreach(t => m.putIfAbsent(Long.box(t), Int.box(-1)))
      m
    })
  }

  /** The version `txn` committed, if the log already records it — the
    * dedup hit on checkpoint replay. Returns the txn's OWN version
    * from its manifest header, NOT `latestVersion` (r14 advice): under
    * any concurrent writer the latest version is one the replayed
    * batch never computed, and a coordinated recovery re-pinning it
    * would publish a cross-table pair nobody produced together
    * (st29's facts==counts invariant). A txn carried forward by
    * vacuum — or whose recorded version a later vacuum dropped —
    * resolves to the current version: the pinned snapshot is gone
    * either way, and vacuum `retain` covering the replay window is
    * the documented caller contract. */
  private def txnVersion(spark: SparkSession, path: String,
                         txn: Long): Option[Int] =
    Option(txnMap(spark, path).get(Long.box(txn))).map { v0 =>
      val v = v0.intValue
      if (v > 0 && fs(spark, path).exists(manifestPath(path, v))) v
      else latestVersion(spark, path)
    }

  /** Decode Hive path-escaping (%XX) in a partition DIR name back to
    * the raw partition value: the physical write escapes characters
    * like ':', '/', '%' into `__part=2024-01-01 00%3A00` form, but the
    * manifest stores — and every API compares against — RAW values
    * (r10 review: the escaped form silently missed `parts` filters and
    * commitMerge's anti-join for values needing escapes). */
  private def unescapePathName(name: String): String = {
    val sb = new StringBuilder(name.length)
    var i = 0
    while (i < name.length) {
      val c = name.charAt(i)
      if (c == '%' && i + 2 < name.length) {
        val hex = name.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** List a commit attempt's data files from the FS — metadata-scale,
    * one listing per written partition dir. */
  private def commitEntries(spark: SparkSession, path: String,
                            token: String): Seq[FileEntry] = {
    val root = new Path(s"${path.stripSuffix("/")}/data/$token")
    val f = fs(spark, path)
    f.listStatus(root).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(PartDir + "="))
      .flatMap { dir =>
        val part =
          unescapePathName(dir.getPath.getName.stripPrefix(PartDir + "="))
        f.listStatus(dir.getPath).iterator
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => FileEntry(part,
            s"data/$token/${dir.getPath.getName}/" + s.getPath.getName,
            // byte size from the listing we already hold (the
            // Iceberg/Delta file-size manifest field): feeds
            // planning statistics, costs nothing extra
            size = Some(s.getLen)))
      }.toSeq
  }

  /** Per-file (lo, hi) of `statsCol` for a fresh commit's files — the
    * zone-map stats a production format lifts from the parquet footers
    * it just wrote (one bootstrap aggregate here; identical content).
    * File-count-sized collect: planning metadata, never row data. */
  private def enrichStats(spark: SparkSession, path: String,
                          token: String, entries: Seq[FileEntry],
                          statsCol: String): Seq[FileEntry] = {
    val byRel = spark.read
      .parquet(s"${path.stripSuffix("/")}/data/$token")
      .groupBy(input_file_name().as("f"))
      .agg(min(col(statsCol).cast("long")).as("lo"),
        max(col(statsCol).cast("long")).as("hi"))
      .collect().flatMap { r =>
        // a file whose statsCol is all NULL has no zone — leave the
        // entry stat-less (the conservative-keep path) instead of
        // NPEing the commit after its data already landed (r10 review)
        if (r.isNullAt(1) || r.isNullAt(2)) None
        else {
          // input_file_name returns a URI: a Hive-escaped partition
          // value is re-percent-encoded there ('%3A' -> '%253A',
          // ' ' -> '%20'), so match on the DECODED path or the
          // manifest's rel form never hits and stats silently drop
          // for those files (r10 advice)
          val u = r.getString(0)
          val dec =
            try new Path(new java.net.URI(u)).toUri.getPath
            catch { case _: java.net.URISyntaxException => u }
          val i = dec.lastIndexOf("/data/")
          Some((dec.substring(i + 1), (r.getLong(1), r.getLong(2))))
        }
      }.toMap
    entries.map(e => byRel.get(e.rel)
      .fold(e)(s => e.copy(lo = Some(s._1), hi = Some(s._2))))
  }

  private def writeCommitData(df: DataFrame, partCol: String,
                              path: String, token: String): Unit =
    // the physical layout partitions on a DUPLICATE of the partition
    // column so the original survives IN the data files — a manifest
    // file list then reads back complete with no partition-dir
    // discovery or basePath gymnastics
    df.withColumn(PartDir, col(partCol))
      .write.mode("overwrite").partitionBy(PartDir)
      .parquet(s"${path.stripSuffix("/")}/data/$token")

  /** Commit a FULL snapshot: the new version's manifest lists only
    * this commit's files. `statsCol` records per-file (lo, hi)
    * zone-map stats in the manifest — [[readVersionRange]]'s prune
    * index. `commitTs` stamps the commit for [[readAsOf]] resolution
    * (caller-passed clock — from the data or an external watermark,
    * never a wall-clock read inside the library, so determinism
    * contracts survive). `specId` tags this commit's data entries
    * with the partition spec that derived their values
    * ([[HiddenPartitioning]] passes it; plain callers leave None).
    * Returns the new version number. */
  def commitOverwrite(df: DataFrame, partCol: String, path: String,
                      statsCol: Option[String] = None,
                      commitTs: Option[Long] = None,
                      specId: Option[Int] = None): Int =
    doCommit(df, partCol, path, None, Mode.Overwrite, statsCol,
      commitTs, specIdFor = _ => specId)

  /** Commit an UPSERT: partitions present in `df` are replaced (their
    * old files stay on disk for older versions but leave the
    * manifest), untouched partitions carry forward by pointer —
    * stats and all. Returns the new version number. */
  def commitUpsert(df: DataFrame, partCol: String, path: String,
                   statsCol: Option[String] = None,
                   commitTs: Option[Long] = None,
                   specId: Option[Int] = None): Int =
    doCommit(df, partCol, path, None, Mode.Upsert, statsCol, commitTs,
      specIdFor = _ => specId)

  /** Commit an APPEND: this commit's files JOIN the table next to
    * every previous file — no partition is replaced. The streaming-
    * ingest commit (new rows accumulate within their partitions);
    * restatements use [[commitUpsert]]. Returns the new version. */
  def commitAppend(df: DataFrame, partCol: String, path: String,
                   statsCol: Option[String] = None,
                   commitTs: Option[Long] = None,
                   specId: Option[Int] = None): Int =
    doCommit(df, partCol, path, None, Mode.Append, statsCol, commitTs,
      specIdFor = _ => specId)

  /** [[commitUpsert]] prepared against a PINNED base version — the
    * optimistic-concurrency entry point: the caller declares the
    * version its delta was computed against (Delta's
    * `txn.readVersion`), and if the log has advanced past it the
    * commit REBASES iff every intervening commit's touched partitions
    * are disjoint from this upsert's, aborting loudly
    * (ConcurrentModificationException) otherwise. The no-argument
    * forms pin the latest version at call time, so a genuinely
    * concurrent writer gets the same protection automatically. */
  def commitUpsertFrom(df: DataFrame, partCol: String, path: String,
                       readVersion: Int,
                       statsCol: Option[String] = None,
                       commitTs: Option[Long] = None): Int =
    doCommit(df, partCol, path, None, Mode.Upsert, statsCol, commitTs,
      pinnedBase = Some(readVersion))

  /** [[commitOverwrite]] against a pinned base version: a full
    * replacement of a table someone else has since committed to is
    * ALWAYS a conflict (it would silently erase the winner's commit),
    * so a stale pin aborts loudly — the strictest OCC case. */
  def commitOverwriteFrom(df: DataFrame, partCol: String, path: String,
                          readVersion: Int,
                          statsCol: Option[String] = None,
                          commitTs: Option[Long] = None): Int =
    doCommit(df, partCol, path, None, Mode.Overwrite, statsCol,
      commitTs, pinnedBase = Some(readVersion))

  /** [[commitAppend]] against a pinned base version: appends never
    * conflict (both sides only add files), so this always rebases —
    * but through the same claim-the-next-version protocol, never by
    * overwriting the winner's manifest. */
  def commitAppendFrom(df: DataFrame, partCol: String, path: String,
                       readVersion: Int,
                       statsCol: Option[String] = None,
                       commitTs: Option[Long] = None): Int =
    doCommit(df, partCol, path, None, Mode.Append, statsCol, commitTs,
      pinnedBase = Some(readVersion))

  private object Mode extends Enumeration {
    // MergeDv is [[commitMergeDv]]'s composite commit: new DATA files
    // (the delta's upserts) AND new DV sidecars (the matched stored
    // rows marked dead) land in ONE manifest claim, with every base
    // file carried forward by pointer — Delta's DV-based MERGE shape.
    val Overwrite, Upsert, Append, Delete, MergeDv = Value
  }

  /** Partitions whose file set changed anywhere in (vFrom, vTo] — the
    * manifest-diff that drives both [[changesBetween]] and the OCC
    * conflict check. Metadata-scale. */
  private def touchedParts(spark: SparkSession, path: String,
                           vFrom: Int, vTo: Int): Set[String] = {
    def byPart(v: Int): Map[String, Set[String]] =
      if (v == 0) Map.empty
      else manifestEntries(spark, path, v).groupBy(_.part)
        .map { case (p, es) => p -> es.map(_.rel).toSet }
    // segmented fast path: a segment hash IS a content hash of the
    // partition's sorted entry lines, so differing hash ⇔ differing
    // file set — the diff is O(partitions) and never opens a segment
    def hashes(v: Int): Option[Map[String, String]] =
      if (v == 0) Some(Map.empty)
      else {
        val ptrs = scala.util.Try(segmentPointers(spark, path, v))
          .getOrElse(Map.empty[String, (String, String)])
        if (ptrs.isEmpty) None // flat manifest: expand
        else Some(ptrs.view.mapValues(_._2).toMap)
      }
    (vFrom until vTo).flatMap { v =>
      (hashes(v), hashes(v + 1)) match {
        case (Some(a), Some(b)) =>
          (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p))
        case _ =>
          val (a, b) = (byPart(v), byPart(v + 1))
          (a.keySet ++ b.keySet).filter(p => a.get(p) != b.get(p))
      }
    }.toSet
  }

  private def doCommit(df: DataFrame, partCol: String, path: String,
                       txn: Option[Long], mode: Mode.Value,
                       statsCol: Option[String] = None,
                       commitTs: Option[Long] = None,
                       pinnedBase: Option[Int] = None,
                       forceReplaced: Set[String] = Set.empty,
                       validate: Boolean = true,
                       dvDf: Option[DataFrame] = None,
                       specIdFor: String => Option[Int] = _ => None)
      : Int = {
    val spark = df.sparkSession
    val prev = pinnedBase.getOrElse(latestVersion(spark, path))
    val doValidate = validate && mode != Mode.Delete
    // stage this attempt's data under a unique token dir: concurrent
    // attempts can never clobber each other's files, and a loser's
    // staging becomes a vacuum-reclaimable orphan, never a torn version
    val token = s"c${"%06d".format(prev + 1)}-${uniq()}"
    writeCommitData(df, partCol, path, token)
    val fresh0 = commitEntries(spark, path, token)
    // constraint enforcement (Delta CHECK): ONE aggregate pass over
    // the STAGED bytes — the rows validated are exactly the rows the
    // manifest will reference. Validating the input frame instead
    // would leave a TOCTOU gap: a non-deterministic frame (rand(), a
    // re-read of a changing source) could pass validation yet stage
    // violating rows — Delta enforces invariants on the write path
    // for the same reason. A violating commit aborts with
    // per-constraint counts, never claims a version, and its staging
    // orphan is vacuum-reclaimed. Deletes can't violate a CHECK (rows
    // only leave); OPTIMIZE passes validate=false (pure re-layout of
    // already-validated rows). A rebase onto a head whose constraint
    // set CHANGED re-validates against the new set.
    lazy val staged =
      if (fresh0.isEmpty) df.limit(0) // zero-row commit: nothing staged
      else spark.read.parquet(s"${path.stripSuffix("/")}/data/$token")
    var validatedSets = Set.empty[Seq[(String, String)]]
    if (doValidate && prev > 0) {
      val cs0 = readConstraints(spark, path, prev)
      checkConstraints(staged, cs0, s"commit over version $prev at $path")
      validatedSets += cs0
    }
    val fresh1 =
      if (fresh0.isEmpty) fresh0 // a pure-delete MergeDv stages no data
      else statsCol.fold(fresh0)(sc =>
        enrichStats(spark, path, token, fresh0, sc))
    // MergeDv's second staged frame: the (__file, __pos, part) rows
    // marking matched stored rows dead, under their own token so a
    // concurrent attempt can never clobber them
    val dvEntries = dvDf match {
      case None => Seq.empty
      case Some(d) =>
        val tdv = s"c${"%06d".format(prev + 1)}-${uniq()}"
        writeCommitData(d, partCol, path, tdv)
        commitEntries(spark, path, tdv).map(_.copy(kind = KindDv))
    }
    val fresh =
      (if (mode == Mode.Delete) fresh1.map(_.copy(kind = KindDv))
       else fresh1) ++ dvEntries
    // forceReplaced: for replacing modes, partitions this commit
    // REPLACES even when it writes no rows for them (a MERGE delete
    // that empties a partition must still drop it from the manifest);
    // for MergeDv — which replaces nothing — the partitions whose
    // file positions its DVs reference, feeding ONLY the OCC check
    val replaced = fresh.map(_.part).toSet ++ forceReplaced
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      // ALWAYS claim past the current head — never a stale pin's
      // successor (a vacuumed log could otherwise leave that manifest
      // name free and a stale writer would mint an old version number)
      val base = math.max(prev, latestVersion(spark, path))
      if (base > prev) {
        // OCC rebase check (the Delta rule): the winners' touched
        // partitions must be disjoint from what we replace
        if (mode == Mode.Overwrite)
          throw new java.util.ConcurrentModificationException(
            s"overwrite prepared at version $prev lost to version $base")
        // a DELETE conflicts like an upsert: its DV rows reference
        // version `prev`'s specific file positions — a concurrent
        // rewrite of a touched partition would orphan those
        // references and the delete would silently vanish at fold.
        // MergeDv conflicts the same way (its DVs pin positions AND
        // its not-matched decisions were read at `prev`)
        if (mode == Mode.Upsert || mode == Mode.Delete ||
            mode == Mode.MergeDv) {
          val overlap =
            touchedParts(spark, path, prev, base).intersect(replaced)
          if (overlap.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"${mode.toString.toLowerCase} prepared at version $prev " +
                s"conflicts with a concurrent commit on partitions " +
                s"${overlap.toSeq.sorted.mkString(", ")}")
        } // appends never conflict
      }
      val k = base + 1
      // STRUCTURAL carry-forward (l25): when the base manifest is
      // segmented (and records a schema — no bootstrap needs kept
      // files), untouched partitions carry forward as segment
      // POINTERS: their entries are never expanded, re-serialized or
      // re-hashed; only touched partitions' segments open
      // (manifestEntries prunes at the pointer). Base flat → full
      // expansion (the one-commit upgrade path).
      val basePtrs: Map[String, (String, String, Option[String])] =
        if (base == 0 || mode == Mode.Overwrite) Map.empty
        else scala.util.Try(segPointersFull(spark, path, base))
          .getOrElse(Map.empty)
      val structural =
        basePtrs.nonEmpty && readSchema(spark, path, base).isDefined
      val (kept, carry) =
        if (base == 0 || mode == Mode.Overwrite)
          (Seq.empty[FileEntry],
            Map.empty[String, (String, String, Option[String])])
        else if (structural) {
          val touchedBase = basePtrs.keySet.intersect(replaced)
          val expanded =
            if (touchedBase.isEmpty) Seq.empty[FileEntry]
            else manifestEntries(spark, path, base, touchedBase)
          val keptE =
            if (mode == Mode.Upsert)
              expanded.filterNot(e => replaced.contains(e.part))
            // append/delete/mergeDv ADD only: touched partitions'
            // base entries ride inside their re-written segments
            else expanded
          (keptE, basePtrs -- replaced)
        } else {
          val all = manifestEntries(spark, path, base)
          val keptE =
            if (mode == Mode.Upsert)
              all.filterNot(e => replaced.contains(e.part))
            // append/delete/mergeDv ADD only: every base file (and
            // DV) carries forward by pointer
            else all
          (keptE, Map.empty[String, (String, String, Option[String])])
        }
      // a DELETE commits no table rows — its df is the DV sidecar
      // frame — so the recorded TABLE schema carries forward from the
      // claimed base (re-resolved per rebase so a disjoint evolving
      // winner's schema is honored), bootstrapping from a data footer
      // for pre-schema manifests. Data-writing commits record their
      // schema WITH stable column ids (inherited by name from the
      // base, fresh for new names — [[assignGids]]) plus this era's
      // id->physical-name map; carried colmaps ride forward.
      val baseColmaps =
        if (base == 0) Map.empty[Int, Map[Long, String]]
        else readColmaps(spark, path, base)
      val baseColtypes =
        if (base == 0) Map.empty[Int, Map[Long, String]]
        else readColtypes(spark, path, base)
      val (schemaJson, colmaps, coltypes) =
        if (mode == Mode.Delete) {
          val sj = readSchema(spark, path, base).map(_.json).getOrElse {
            val ds = kept.filter(_.kind == KindData)
            require(ds.nonEmpty,
              s"delete against version $base with no data files at $path")
            spark.read.parquet(
              resolve(path.stripSuffix("/"), ds.head.rel)).schema.json
          }
          (sj, baseColmaps, baseColtypes)
        } else {
          val prevSchema =
            if (base == 0) None else readSchema(spark, path, base)
          val gs = assignGids(prevSchema, df.schema,
            baseColmaps.values.flatMap(_.keys).foldLeft(0L)(math.max))
          // re-typing an existing column admits WIDENING only (l32 —
          // Delta's type-widening rule): a narrowing cast would
          // silently truncate every pre-existing byte at read
          prevSchema.foreach { ps =>
            val byGid = ps.fields.flatMap(f => gidOf(f).map(_ -> f)).toMap
            gs.fields.foreach(f => gidOf(f).flatMap(byGid.get).foreach {
              pf =>
                require(widensOk(pf.dataType, f.dataType),
                  s"commit re-types column ${f.name} from " +
                    s"${pf.dataType.catalogString} to " +
                    s"${f.dataType.catalogString} at $path — only " +
                    "widening (int→long, float→double) is allowed")
            })
          }
          (gs.json, baseColmaps + (k -> colmapOf(gs)),
            baseColtypes + (k -> coltypeOf(gs)))
        }
      // fresh DATA entries carry this commit's era (the schema their
      // files were physically written under) and — when the write is
      // spec-derived — the partition spec id that DERIVED their
      // partition value (per-entry attribution, never inferred from
      // the racing version number); DV sidecars are era- and spec-free
      val freshTagged =
        if (mode == Mode.Delete) fresh
        else fresh.map(e =>
          if (e.kind == KindDv) e
          else e.copy(era = Some(k), specId = specIdFor(e.part)))
      val baseConstraints =
        if (base == 0) Seq.empty[(String, String)]
        else readConstraints(spark, path, base)
      if (doValidate && !validatedSets.contains(baseConstraints)) {
        checkConstraints(staged, baseConstraints,
          s"commit rebased onto version $base at $path")
        validatedSets += baseConstraints
      }
      if (tryWriteManifest(spark, path, k, mode.toString.toLowerCase,
          token, schemaJson, kept ++ freshTagged, txn, commitTs,
          colmaps, baseConstraints, coltypes, carry))
        return k
      // lost the version claim: loop re-reads the head and rebases
    }
    throw new java.util.ConcurrentModificationException(
      s"commit retry budget exhausted at $path")
  }

  /** Exactly-once STREAMING commit (the Delta `txnAppId`/`txnVersion`
    * protocol reduced to its core): `txn` identifies the micro-batch —
    * foreachBatch's batchId. If the log already records `txn`, the
    * commit is a NO-OP returning the version THAT txn committed
    * ([[txnVersion]]): checkpointed at-least-once replay after a sink
    * failure must not fork history or double-apply the batch — and a
    * replay that returned the table's LATEST version instead would,
    * under a concurrent writer, hand a coordinated recovery a version
    * the batch never computed (r14 advice). This is the versioned-lake form of
    * [[PartitionedLake.upsertBatch]]'s rewrite-your-own-partition
    * idempotence — here the dedup is at the COMMIT, so replayed work
    * is skipped entirely rather than rewritten byte-identically. */
  def commitBatchUpsert(df: DataFrame, partCol: String, path: String,
                        txn: Long,
                        commitTs: Option[Long] = None,
                        specId: Option[Int] = None): Int = {
    val spark = df.sparkSession
    txnVersion(spark, path, txn).getOrElse {
      doCommit(df, partCol, path, Some(txn), Mode.Upsert,
        commitTs = commitTs, specIdFor = _ => specId)
    }
  }

  /** [[commitAppend]] with [[commitBatchUpsert]]'s txn dedup — the
    * streaming-ingest commit: batches sharing a partition ACCUMULATE,
    * a replayed batch is skipped at the commit. A crash between data
    * write and manifest write leaves only an unreferenced token dir,
    * which [[vacuum]] reclaims — never a torn version. */
  def commitBatchAppend(df: DataFrame, partCol: String, path: String,
                        txn: Long,
                        commitTs: Option[Long] = None,
                        specId: Option[Int] = None): Int = {
    val spark = df.sparkSession
    txnVersion(spark, path, txn).getOrElse {
      doCommit(df, partCol, path, Some(txn), Mode.Append,
        commitTs = commitTs, specIdFor = _ => specId)
    }
  }

  /** Keyed MERGE INTO the latest version (the Delta/Iceberg MERGE
    * reduced to its core: update matched keys' payload, insert
    * unmatched keys, and — when `deleteCol` names a boolean tombstone
    * column in the delta — DELETE matched keys flagged true), executed
    * PARTITION-PRUNED: only the partitions present in the delta are
    * read (through the manifest), merged with one anti-join, and
    * committed — untouched partitions carry forward by pointer, so
    * cost ∝ touched partitions + delta, never table size. Because the
    * layout is append-only, the rewrite reads old files while writing
    * NEW ones — no durable-copy staging step
    * ([[PartitionedLake.overwriteBuckets]]'s materialize-first rule
    * exists because in-place overwrite deletes what it reads; a
    * versioned commit structurally cannot). A delete that empties a
    * partition drops the partition from the new manifest (the
    * forceReplaced path through [[doCommit]]).
    *
    * Invariant the caller owns (as in every partition-pruned MERGE):
    * a key's partition value is stable — a delta row whose partition
    * differs from its stored row's lands as a duplicate key in the
    * new partition, because the old partition is never opened.
    *
    * @param delta full-payload rows: updates carry the new payload for
    *        existing keys, inserts carry new keys; rows with
    *        `deleteCol` true are tombstones (payload ignored)
    * @param fromVersion the version the caller computed `delta`
    *        against (defaults to the head at entry) — the OCC pin:
    *        any commit landing after it on a touched partition aborts
    *        this merge instead of being silently overwritten
    * @return the new version number */
  /** @param evolveSchema Delta's `schema.autoMerge` on MERGE: when
    *        true, a delta carrying NEW columns evolves the table
    *        schema in the SAME commit — kept current rows surface the
    *        new columns as NULL (and a delta missing existing columns
    *        inserts NULL there); untouched partitions' files carry
    *        forward unchanged and back-fill on read (the l16
    *        machinery). When false (default), a schema mismatch is a
    *        loud analysis error — never a silent drop. */
  def commitMerge(delta: DataFrame, keyCols: Seq[String],
                  partCol: String, path: String,
                  statsCol: Option[String] = None,
                  deleteCol: Option[String] = None,
                  commitTs: Option[Long] = None,
                  fromVersion: Option[Int] = None,
                  evolveSchema: Boolean = false,
                  specIdFor: String => Option[Int] = _ => None): Int =
    mergePrelude(delta, keyCols, partCol, path, fromVersion,
      "commitMerge") { (delta, v, all, touched) =>
      val current = readEntries(delta.sparkSession, path, v,
          all.filter(e => touched(e.part)))
        .getOrElse(delta.drop(deleteCol.toSeq: _*).limit(0)) // new parts
      val upserts = deleteCol.fold(delta)(dc =>
        delta.filter(!coalesce(col(dc), lit(false))).drop(dc))
      val merged = current
        .join(delta.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(upserts, allowMissingColumns = evolveSchema)
      // PIN the base this merge was computed against: a commit landing
      // between the base resolve and the manifest claim must trip the
      // OCC conflict check (touched-partition overlap), not be
      // silently overwritten by a merge built from stale partition
      // contents (the lost-update window)
      doCommit(merged, partCol, path, None, Mode.Upsert, statsCol,
        commitTs, pinnedBase = Some(v), forceReplaced = touched,
        specIdFor = specIdFor)
    }

  /** The prelude both MERGE forms share. The source is read by the
    * duplicate check, the partition list, the matched-key join and
    * the upserts, so it is evaluated ONCE (Delta's MERGE materializes
    * its source the same way) and released after `body` commits: the
    * duplicate check covers exactly the rows written. A duplicate key
    * refuses loudly, naming `verb` (the Delta
    * multiple-source-rows-matched rule: the rewrite form would remove
    * ONE stored row and insert BOTH delta rows, the DV form would
    * mark one and append both). `body` gets the materialized source
    * (shadowing the raw one), the base version, its entries, and the
    * touched partitions: the delta's partitions that hold live data
    * at the base. */
  private def mergePrelude[A](delta: DataFrame, keyCols: Seq[String],
                              partCol: String, path: String,
                              fromVersion: Option[Int], verb: String)
      (body: (DataFrame, Int, Seq[FileEntry], Set[String]) => A): A = {
    val spark = delta.sparkSession
    val v = fromVersion.getOrElse(latestVersion(spark, path))
    require(v > 0, s"$verb needs an existing version to merge into")
    Checkpoints.withLocal(delta) { delta =>
      // one delta-sized aggregate, head(1)-bounded
      val dup = delta.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).head(1)
      require(dup.isEmpty,
        s"$verb delta has multiple source rows for key " +
          s"${keyCols.zip(dup.head.toSeq).map { case (k, x) => s"$k=$x" }
            .mkString("(", ", ", ")")} — MERGE requires unique keys")
      // partition-count-sized collect: the touched-partition list is
      // planning metadata, the same scale as the manifest itself
      val parts = delta.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val all = manifestEntries(spark, path, v)
      val touched = all.iterator
        .filter(e => e.kind == KindData && parts(e.part)).map(_.part).toSet
      body(delta, v, all, touched)
    }
  }

  /** [[commitMerge]] executed THROUGH deletion vectors (Delta's
    * DV-based MERGE, the low-shuffle/photon shape): instead of
    * rewriting every touched partition, ONE commit (a) marks each
    * matched stored row dead with an l23 positional DV sidecar and
    * (b) appends the delta's non-tombstone rows as new data files —
    * every base data file carries forward by pointer, so the write
    * cost is ∝ CHANGED ROWS (DV rows + delta rows), never touched-
    * partition size. At 100 TB that is the difference between a
    * point-update costing KBs and costing a partition rewrite. Reads
    * are indistinguishable from the rewrite form (the DV fold in
    * [[readVersion]]); [[commitOptimize]] later materializes the fold
    * and retires the sidecars (Delta's PURGE).
    *
    * Same contracts as [[commitMerge]]: unique delta keys (loud
    * refusal), caller-owned stable partition values, `deleteCol`
    * tombstones, `fromVersion` OCC pin — a concurrent commit on a
    * touched partition aborts the merge (its DVs reference version
    * `v`'s exact file positions). A tombstone that empties a
    * partition leaves the files + DVs in place (reads fold to zero
    * rows) rather than dropping the partition — OPTIMIZE reclaims.
    * Schema evolution stays on the rewrite path
    * ([[commitMerge]]`(evolveSchema = true)`): DV-merge appends delta
    * rows verbatim, so the delta's columns must equal the table's.
    *
    * @return the new version number */
  def commitMergeDv(delta: DataFrame, keyCols: Seq[String],
                    partCol: String, path: String,
                    statsCol: Option[String] = None,
                    deleteCol: Option[String] = None,
                    commitTs: Option[Long] = None,
                    fromVersion: Option[Int] = None,
                    specIdFor: String => Option[Int] = _ => None): Int =
    mergeDvCore(delta, keyCols, partCol, path, statsCol, deleteCol,
      commitTs, fromVersion, txn = None, specIdFor = specIdFor)

  /** [[commitMergeDv]] with [[commitBatchUpsert]]'s txn dedup — the
    * streaming CHANGESET sink (st27): each micro-batch's keyed delta
    * (upserts + tombstones) lands as ONE DV-merge commit with batchId
    * as the transaction id, so a checkpoint replay after a sink
    * failure is SKIPPED at the commit and the store stays
    * exactly-once — while the write cost per batch stays ∝ the
    * batch's changed rows (DV + delta bytes), never the touched
    * partitions' size: the continuous-MERGE shape that survives a
    * 100 TB store under a small steady changeset. */
  def commitBatchMergeDv(delta: DataFrame, keyCols: Seq[String],
                         partCol: String, path: String, txn: Long,
                         deleteCol: Option[String] = None,
                         commitTs: Option[Long] = None): Int = {
    val spark = delta.sparkSession
    txnVersion(spark, path, txn).getOrElse {
      mergeDvCore(delta, keyCols, partCol, path, None, deleteCol,
        commitTs, None, txn = Some(txn))
    }
  }

  private def mergeDvCore(delta: DataFrame, keyCols: Seq[String],
                          partCol: String, path: String,
                          statsCol: Option[String],
                          deleteCol: Option[String],
                          commitTs: Option[Long],
                          fromVersion: Option[Int],
                          txn: Option[Long],
                          specIdFor: String => Option[Int] = _ => None)
      : Int =
    mergePrelude(delta, keyCols, partCol, path, fromVersion,
      "commitMergeDv") { (delta, v, all, touched) =>
      // DV rows: every currently-LIVE stored row whose key the delta
      // carries (update or tombstone) — the mapped, already-DV-folded
      // read guarantees dead rows are never re-marked, and the frame is
      // changed-rows-sized
      val dvDf = readEntries(delta.sparkSession, path, v,
          all.filter(e => touched(e.part)), withMeta = true)
        .map(_.join(delta.select(keyCols.map(col): _*), keyCols, "left_semi")
          .select(col("__file"), col("__pos"), col(partCol)))
      val upserts0 = deleteCol.fold(delta)(dc =>
        delta.filter(!coalesce(col(dc), lit(false))).drop(dc))
      val tbl = readVersion(delta.sparkSession, path, v)
        .schema.fieldNames.toSeq
      require(upserts0.columns.toSet == tbl.toSet,
        s"commitMergeDv delta columns " +
          s"${upserts0.columns.sorted.mkString(",")} " +
          s"must equal table columns ${tbl.sorted.mkString(",")} — " +
          "schema evolution takes commitMerge(evolveSchema = true)")
      doCommit(upserts0.select(tbl.map(col): _*), partCol, path, txn,
        Mode.MergeDv, statsCol, commitTs, pinnedBase = Some(v),
        forceReplaced = touched, dvDf = dvDf, specIdFor = specIdFor)
    }

  /** A file's lake-relative path recovered from
    * `_metadata.file_path` — the layout is fixed at
    * `data/<token>/__part=<v>/<file>` (4 segments), and the greedy
    * prefix anchors the match to the LAST such suffix, so a lake
    * rooted under a directory that itself contains `/data/` cannot
    * mis-split. Both the DV writer ([[commitDelete]]) and the DV fold
    * ([[readEntries]]) derive the reference through THIS expression,
    * so any URI escaping `_metadata.file_path` applies to a
    * Hive-escaped partition value is identical on both sides by
    * construction. */
  private[sources] def relExpr(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    regexp_extract(c, "^.*/(data/[^/]+/[^/]+/[^/]+)$", 1)

  /** Read a SUBSET of version `v`'s data files column-MAPPED but
    * NOT DV-folded, with the `__file` provenance column (the manifest
    * relExpr form) kept — the INDEX-BUILD read ([[BloomIndex.ensure]]).
    * Two deliberate deviations from [[readFiles]]: (a) no DV fold —
    * a per-FILE index attaches to the immutable file and serves EVERY
    * version, while DVs are per-version, so excluding a currently-dead
    * row would plant a false NEGATIVE for versions where that row is
    * live (silent row loss on a time-travelled lookup); (b) columns
    * resolve by stable id through each era's colmap, so an index
    * column keeps indexing across a RENAME (the build never touches
    * raw physical names). */
  private[sources] def mappedFilesWithMeta(spark: SparkSession,
                                           path: String, v: Int,
                                           rels: Set[String]): DataFrame = {
    val data = manifestEntries(spark, path, v)
      .filter(e => e.kind == KindData && rels.contains(e.rel))
    readEntries(spark, path, v, data, withMeta = true).getOrElse(
      throw new IllegalArgumentException(
        s"mappedFilesWithMeta: no such rels at $path@$v"))
  }

  /** Read a SUBSET of version `v`'s data files (by lake-relative
    * path), with the version's schema/column-mapping resolution and
    * the touched partitions' deletion vectors folded — the read
    * primitive a secondary file-skipping index ([[BloomIndex]]) plans
    * into: the index decides WHICH files, this reads them correctly. */
  def readFiles(spark: SparkSession, path: String, v: Int,
                rels: Set[String]): DataFrame =
    readOrEmpty(spark, path, v, manifestEntries(spark, path, v)
      .filter(e => e.kind == KindDv || rels.contains(e.rel)))

  /** THE read path every versioned read goes through: `entries`' data
    * files in manifest order, read by [[mappedRead]] with the
    * deletion vectors among `entries` folded — only those whose
    * partition holds a selected file (a DV marks positions in its own
    * partition's files, so any other DV folds nothing). None when no
    * data file is selected. `withMeta` keeps (__file, __pos) — the
    * DV-computation read of the delete and DV-merge verbs. */
  private def readEntries(spark: SparkSession, path: String, v: Int,
                          entries: Seq[FileEntry],
                          withMeta: Boolean = false): Option[DataFrame] = {
    val data = entries.filter(_.kind == KindData)
    if (data.isEmpty) None
    else {
      val parts = data.iterator.map(_.part).toSet
      Some(mappedRead(spark, path, v, data,
        entries.filter(e => e.kind == KindDv && parts(e.part)), withMeta))
    }
  }

  /** [[readEntries]] for the public reads: a selection of no data file
    * reads as [[emptyOf]] version `v`. */
  private def readOrEmpty(spark: SparkSession, path: String, v: Int,
                          entries: Seq[FileEntry]): DataFrame =
    readEntries(spark, path, v, entries).getOrElse(emptyOf(spark, path, v))

  /** THE versioned read core: `data` files of version `v` read under
    * the version's logical schema with COLUMN-MAPPING resolution and
    * `dvs` deletion vectors anti-folded.
    *
    * Column mapping ([[readColmaps]]): when every referenced era's
    * map agrees with the logical names (no rename crossed, no
    * dropped-name reuse), the fast path is ONE recorded-schema scan —
    * byte-identical plans to a mapping-free lake, which is every lake
    * until its first RENAME/DROP. Otherwise files group by write era,
    * each group reads under its PHYSICAL schema (id-resolved names,
    * logical types — pushdown still reaches the scan) and projects to
    * the logical names, NULL-filling ids that era never wrote; groups
    * union. A name re-added after a DROP carries a fresh id absent
    * from old eras' maps, so old bytes can never resurrect (l24).
    *
    * DV fold: each DV row (__file, __pos) kills one physical
    * position. The DV side is deleted-row-sized — Spark's size
    * estimation broadcasts the anti-join when small (the common
    * takedown case); at larger DV sizes it shuffles on
    * (__file, __pos), never on row payloads. `withMeta` keeps the
    * (__file, __pos) columns in the output — [[commitDelete]]'s
    * DV-computation read. */
  private def mappedRead(spark: SparkSession, path: String, v: Int,
                         data: Seq[FileEntry], dvs: Seq[FileEntry],
                         withMeta: Boolean = false): DataFrame = {
    val base = path.stripSuffix("/")
    def foldAndMeta(df: DataFrame): DataFrame = {
      if (dvs.isEmpty && !withMeta) df
      else {
        val withM = df
          .withColumn("__file", relExpr(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
        val folded =
          if (dvs.isEmpty) withM
          else withM.join(
            spark.read.parquet(dvs.map(e => resolve(base, e.rel)): _*)
              .select(col("__file"), col("__pos")),
            Seq("__file", "__pos"), "left_anti")
        if (withMeta) folded else folded.drop("__file", "__pos")
      }
    }
    val logicalOpt = readSchema(spark, path, v)
    val colmaps = readColmaps(spark, path, v)
    val coltypes = readColtypes(spark, path, v)
    val eraIds = data.flatMap(_.era).distinct
    // identity = no referenced era crossed a RENAME (its physical
    // names are the logical ones, no dropped-name reuse) NOR a TYPE
    // WIDENING (its physical types are the logical ones) — then ONE
    // recorded-schema scan reads every file
    val identity = logicalOpt.forall { lg =>
      val withG = lg.fields.flatMap(f => gidOf(f).map(g => (g, f)))
      eraIds.forall { e =>
        val m = colmaps.getOrElse(e, Map.empty[Long, String])
        val tm = coltypes.getOrElse(e, Map.empty[Long, String])
        withG.forall { case (g, f) =>
          m.get(g).forall(_ == f.name) &&
            !m.exists { case (g2, n2) => n2 == f.name && g2 != g } &&
            tm.get(g).forall(_ == f.dataType.catalogString)
        }
      }
    }
    if (identity) {
      val reader = logicalOpt.fold(spark.read)(s => spark.read.schema(s))
      foldAndMeta(reader.parquet(data.map(e => resolve(base, e.rel)): _*))
    } else {
      val logical = logicalOpt.get // non-identity implies a schema
      val metaCols =
        if (withMeta) Seq(col("__file"), col("__pos")) else Nil
      data.groupBy(_.era).toSeq.sortBy(_._1.getOrElse(0))
        .map { case (eraOpt, es) =>
          val files = es.map(e => resolve(base, e.rel))
          eraOpt match {
            case None =>
              // pre-mapping entries resolve by NAME (legacy semantics)
              foldAndMeta(spark.read.schema(logical).parquet(files: _*))
            case Some(e) =>
              val m = colmaps.getOrElse(e, Map.empty[Long, String])
              val tm = coltypes.getOrElse(e, Map.empty[Long, String])
              // physical read schema: this era's name AND recorded
              // physical type for each logical id (a widened column
              // reads its old eras' files as the type the bytes were
              // written with, then casts up — never a reader-side
              // promotion assumption); unrecorded types are logical
              // (pre-l32 eras: rename/drop only)
              def physName(f: org.apache.spark.sql.types.StructField)
                  : Option[String] =
                gidOf(f).fold(Option(f.name))(m.get)
              def physField(f: org.apache.spark.sql.types.StructField)
                  : Option[org.apache.spark.sql.types.StructField] =
                physName(f).map { pn =>
                  val dt = gidOf(f).flatMap(tm.get)
                    .map(org.apache.spark.sql.types.DataType.fromDDL)
                    .getOrElse(f.dataType)
                  f.copy(name = pn, dataType = dt)
                }
              val phys = StructType(logical.fields.flatMap(physField))
              val df = foldAndMeta(
                spark.read.schema(phys).parquet(files: _*))
              df.select(logical.fields.toIndexedSeq.map { f =>
                physName(f) match {
                  case Some(pn) => col(pn).cast(f.dataType).as(f.name)
                  case None => lit(null).cast(f.dataType).as(f.name)
                }
              } ++ metaCols: _*)
          }
        }.reduce(_.unionByName(_))
    }
  }

  /** DELETE rows by key through DELETION VECTORS (the Delta DV /
    * Iceberg positional-delete shape — l23): instead of rewriting
    * every touched partition (what [[commitMerge]]'s tombstone path
    * does), the commit records the doomed rows' PHYSICAL POSITIONS
    * (file, row index) in small DV sidecar parquet files and only
    * ADDS those to the manifest — every data file carries forward by
    * pointer. Readers anti-fold the DVs ([[readEntries]]); a pinned
    * pre-delete reader is untouched (its manifest has no DV entry);
    * [[commitOptimize]] later materializes the fold and retires the
    * DVs, and [[vacuum]] reclaims them. At 100 TB churn this is the
    * difference between a 0.01% takedown writing DV-rows-sized bytes
    * and rewriting 100% of its partitions' bytes.
    *
    * Deletes are POSITIONAL, scoped to the files of `fromVersion`: a
    * key re-inserted by a LATER append lands in a new file and is
    * untouched — re-running the same takedown is what removes it (the
    * Iceberg sequence-number semantics, with the version pin making
    * sequencing explicit). Existing DVs are folded before matching,
    * so re-deleting an already-dead row never duplicates DV rows.
    * OCC: conflicts like an upsert — a concurrent rewrite of a
    * touched partition aborts the delete ([[doCommit]]'s Delete
    * branch) rather than letting its references orphan.
    *
    * @param keys one row per doomed key ([[commitMerge]]'s key
    *        discipline: key columns + the partition column)
    * @return the new version number (the pinned version unchanged
    *         when no live partition matches `keys`) */
  def commitDelete(keys: DataFrame, keyCols: Seq[String],
                   partCol: String, path: String,
                   commitTs: Option[Long] = None,
                   fromVersion: Option[Int] = None): Int = {
    val spark = keys.sparkSession
    val v = fromVersion.getOrElse(latestVersion(spark, path))
    require(v > 0, "commitDelete needs an existing version")
    // partition-count-sized collect: planning metadata
    val parts = keys.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val scoped = manifestEntries(spark, path, v)
      .filter(e => parts.contains(e.part))
    // mapped + DV-folded read with (__file, __pos) kept: keyCols are
    // LOGICAL names, already-dead rows are never re-marked
    readEntries(spark, path, v, scoped, withMeta = true).fold(v) { live =>
      val newDv = live
        .join(keys.select(keyCols.map(col): _*), keyCols, "left_semi")
        .select(col("__file"), col("__pos"), col(partCol))
      doCommit(newDv, partCol, path, None, Mode.Delete, None, commitTs,
        pinnedBase = Some(v), forceReplaced =
          scoped.iterator.filter(_.kind == KindData).map(_.part).toSet)
    }
  }

  /** [[commitDelete]]'s PREDICATE form — `DELETE FROM t WHERE p`
    * reduced to the same DV commit (the one SQL row-level verb that IS
    * a clean reduction): rows of the pinned version
    * matching `pred` get DV rows; data files carry forward by pointer;
    * a no-match delete mints nothing. `parts`, when given, is a
    * SUPERSET of the partitions that can hold matching rows (the
    * caller's partition-predicate prune — [[GraftLakeSource]] derives
    * it from pushed filters on the partition column): un-probed
    * partitions are never read NOR marked replaced, so a pruned SQL
    * delete costs ∝ matching partitions, not table size. */
  def commitDeleteWhere(spark: SparkSession, pred: Column,
                        partCol: String, path: String,
                        parts: Option[Set[String]] = None,
                        commitTs: Option[Long] = None,
                        fromVersion: Option[Int] = None): Int = {
    val v = fromVersion.getOrElse(latestVersion(spark, path))
    require(v > 0, "commitDeleteWhere needs an existing version")
    val all = manifestEntries(spark, path, v)
    val scoped = parts.fold(all)(ps =>
      all.filter(e => ps.contains(e.part)))
    // mapped + DV-folded read with (__file, __pos) kept: the predicate
    // sees LOGICAL columns, already-dead rows are never re-marked
    readEntries(spark, path, v, scoped, withMeta = true).fold(v) { live =>
      // one scan shared by the touched-set probe and the commit write —
      // persist (NOT localCheckpoint: checkpoint blocks outlive the
      // call, releasable only by GC; a long session of streaming-
      // takedown deletes would accumulate them) and release when done
      val newDv = live.filter(pred)
        .select(col("__file"), col("__pos"), col(partCol))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // partition-count-sized collect: planning metadata (which
        // partitions actually hold doomed rows — only those re-mint)
        val touched = newDv.select(col(partCol).cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
        if (touched.isEmpty) v
        else doCommit(newDv, partCol, path, None, Mode.Delete, None,
          commitTs, pinnedBase = Some(v), forceReplaced = touched)
      } finally newDv.unpersist()
    }
  }

  /** OPTIMIZE: re-layout every partition of the LATEST version holding
    * more than `targetFilesPerPart` files, as a normal COMMIT —
    * Delta's OPTIMIZE verb on this log. Content is unchanged (pure
    * re-layout: the new version reads equal); already-compact
    * partitions carry forward by pointer, untouched. With `zorderBy`
    * empty each partition compacts to a single file (the l07/
    * compactAll discipline). With `zorderBy` set (1 or 2 columns —
    * Delta's `OPTIMIZE ... ZORDER BY`), each rewritten partition is
    * RANGE-CLUSTERED on the (Morton-interleaved, [[graft.plans
    * .ZOrder2]]) clustering key into `targetFilesPerPart` files, each
    * sorted within — so every file's zone-map span on the clustered
    * dimension(s) is tight and a range read skips all but O(matching)
    * files where the fragmented layout opened everything; `statsCol`
    * re-records the (now tight) per-file stats in the manifest. The
    * streaming counterpart of [[PartitionedLake.compactAll]] for the
    * versioned layout, with two structural upgrades: no durable-copy
    * staging step (the rewrite reads old immutable files while writing
    * new ones), and readers pinned to any pre-optimize version are
    * unaffected — the fragments they reference are reclaimed later by
    * [[vacuum]], never yanked mid-query. A partition too large for
    * `targetFilesPerPart` tasks takes a salt alongside `partCol` at
    * production sizes (the compactAll note). Returns the new version,
    * or the current one if nothing needed rewriting.
    *
    * Secondary-index maintenance: on a [[BloomIndex]]ed lake, follow
    * an optimize with `BloomIndex.ensure` (the rewritten files are
    * new and need rows — lookups stay CORRECT either way, un-indexed
    * files always read, but skip coverage drops until then) and,
    * after [[vacuum]] retires the pre-optimize versions,
    * `BloomIndex.compact` to drop the dead files' rows (LakeSpec
    * "bloom index across OPTIMIZE" drives the full cycle).
    *
    * @param partCol the lake's partition column (a data column in
    *        every file by construction — [[writeCommitData]]) */
  def commitOptimize(spark: SparkSession, path: String, partCol: String,
                     statsCol: Option[String] = None,
                     zorderBy: Seq[String] = Nil,
                     targetFilesPerPart: Int = 1,
                     fromVersion: Option[Int] = None,
                     specEras: Seq[Int] = Nil): Int = {
    require(targetFilesPerPart >= 1, "targetFilesPerPart must be >= 1")
    require(zorderBy.size <= 2,
      "zorderBy takes at most two columns (ZOrder2 is a 2-D interleave)")
    require(zorderBy.nonEmpty || targetFilesPerPart == 1,
      "multi-file optimize without a clustering key is a no-op layout")
    val v = fromVersion.getOrElse(latestVersion(spark, path))
    require(v > 0, "commitOptimize needs an existing version")
    // plain compaction rewrites only over-target partitions (idempotent
    // by file count); ZORDER rewrites EVERY multi-file partition — the
    // file count can't witness clustered-ness, so any fragmentation is
    // assumed unclustered (Delta's OPTIMIZE ZORDER likewise re-sorts).
    // A partition carrying DELETION VECTORS always rewrites: OPTIMIZE
    // is where the fold MATERIALIZES and the DV sidecars retire
    // (Delta's PURGE semantics folded into OPTIMIZE).
    val rewriteAbove = if (zorderBy.isEmpty) targetFilesPerPart else 1
    val byPart = manifestEntries(spark, path, v)
      .groupBy(_.part).filter { case (_, es) =>
        es.count(_.kind == KindData) > rewriteAbove ||
          es.exists(_.kind == KindDv)
      }
    if (byPart.isEmpty) v
    else {
      // a rewrite PRESERVES partition values, so it must preserve
      // their partition-spec attribution ([[HiddenPartitioning]]):
      // each rewritten partition's fresh entries inherit the spec id
      // its source files agree on. `specEras` (the sorted spec `from`
      // versions, [[HiddenPartitioning.commitOptimize]] passes them)
      // resolves legacy UNTAGGED entries by era so a pre-tagging file
      // and its post-tagging sibling unify; a partition whose files
      // genuinely mix two specs (a truncate↔bucket value collision)
      // refuses loudly — re-tagging it either way would let one era's
      // projection prune out the other era's rows (silent row loss).
      def effective(e: FileEntry): Option[Int] = e.specId.orElse {
        val eligible = specEras.filter(_ <= e.era.getOrElse(0))
        if (specEras.isEmpty) None
        else Some(if (eligible.isEmpty) specEras.min else eligible.max)
      }
      val specByPart: Map[String, Option[Int]] = byPart.map {
        case (p, es) =>
          val ids = es.filter(_.kind == KindData).map(effective).distinct
          require(ids.size <= 1,
            s"optimize refuses partition '$p' at $path: its files were " +
              s"written under different partition specs " +
              s"(${ids.mkString(", ")}) — pass specEras (or use " +
              "HiddenPartitioning.commitOptimize) so legacy entries " +
              "resolve, or restate the partition with a spec-derived " +
              "overwrite first")
          p -> ids.headOption.flatten
      }
      // one clustered frame per fragmented value: the partitioned
      // write then lands exactly targetFilesPerPart files each — the
      // l07/compactAll one-task-per-value discipline on this log
      val cluster: Option[org.apache.spark.sql.Column] = zorderBy match {
        case Seq() => None
        case Seq(a) => Some(col(a))
        case Seq(a, b) => Some(graft.plans.ZOrder2.zorder2(col(a), col(b)))
      }
      val merged = byPart.toSeq.sortBy(_._1).flatMap { case (_, es) =>
        readEntries(spark, path, v, es).map(df => cluster match {
          case None => df.coalesce(1)
          case Some(ck) => df
            .repartitionByRange(targetFilesPerPart, ck)
            .sortWithinPartitions(ck)
        })
      }.reduce(_.unionByName(_))
      // pinned for the same reason as commitMerge: the rewrite reads
      // version v's files, so a racing commit on a rewritten partition
      // must abort the optimize, not vanish under it. forceReplaced
      // because a fully-deleted partition folds to ZERO rows — its
      // old entries (and DVs) must still leave the manifest.
      doCommit(merged, partCol, path, None, Mode.Upsert, statsCol,
        pinnedBase = Some(v), forceReplaced = byPart.keySet,
        validate = false, // pure re-layout: rows already validated
        specIdFor = p => specByPart.getOrElse(p, None))
    }
  }

  /** CHANGE-DATA-FEED read between two committed versions (Delta's
    * `table_changes` shape, computed rather than stored): the MANIFEST
    * diff names the partitions whose file sets differ — untouched
    * partitions are provably identical (same file pointers) and are
    * NEVER READ — then one full-outer join on the key over just those
    * partitions classifies every row as added / removed / changed.
    * Cost ∝ churned partitions + their rows, not table size: the
    * q56 snapshot-diff discipline executed AT the table layer, where
    * the commit log already knows what moved. Requires `keyCols`
    * unique per row (the MERGE key discipline).
    *
    * @return keyCols ++ (change_kind, <valueCol>_before,
    *         <valueCol>_after), unchanged rows dropped */
  def changesBetween(spark: SparkSession, path: String, vFrom: Int,
                     vTo: Int, keyCols: Seq[String],
                     valueCol: String): DataFrame = {
    val base = path.stripSuffix("/")
    def byPart(v: Int): Map[String, Set[(String, String)]] =
      manifestEntries(spark, path, v).groupBy(_.part)
        .map { case (p, es) => p -> es.map(e => (e.rel, e.kind)).toSet }
    val (a, b) = (byPart(vFrom), byPart(vTo))
    // a new DV entry churns its partition exactly like a rewrite —
    // deletion-vector removals surface in the feed as `removed` rows
    val churned = (a.keySet ++ b.keySet)
      .filter(p => a.get(p) != b.get(p))
    // row presence is tracked by an explicit per-side flag, never by
    // the VALUE column's nullness: a legitimately-NULL value must not
    // masquerade as a missing row (NULL->5 is a change, not an add;
    // 5->NULL a change, not a removal). Each side reads its version's
    // churned partitions DV-FOLDED (a side's dead rows are not rows
    // on that side).
    def readSide(v: Int, alias: String): Option[DataFrame] =
      readEntries(spark, path, v, manifestEntries(spark, path, v)
          .filter(e => churned.contains(e.part)))
        .map(_.select((keyCols.map(col) :+
          col(valueCol).as(s"${valueCol}_$alias") :+
          lit(true).as(s"__in_$alias")): _*))
    val (bf, af) = (readSide(vFrom, "before"), readSide(vTo, "after"))
    def absent(df: DataFrame, alias: String): DataFrame = {
      val other = if (alias == "before") "after" else "before"
      df.withColumn(s"${valueCol}_$alias",
          lit(null).cast(df.schema(s"${valueCol}_$other").dataType))
        .withColumn(s"__in_$alias", lit(false))
    }
    val joined = (bf, af) match {
      case (Some(x), Some(y)) => x.join(y, keyCols, "full_outer")
      case (Some(x), None) => absent(x, "after")
      case (None, Some(y)) => absent(y, "before")
      case (None, None) =>
        // zero churned partitions: an empty change feed with the
        // declared schema, derived from the target version's data
        val empty = readVersion(spark, path, vTo).limit(0)
        empty.select((keyCols.map(col) :+
            col(valueCol).as(s"${valueCol}_before")): _*)
          .withColumn(s"${valueCol}_after", col(s"${valueCol}_before"))
          .withColumn("__in_before", lit(true))
          .withColumn("__in_after", lit(true))
    }
    val vb = col(s"${valueCol}_before")
    val va = col(s"${valueCol}_after")
    val inB = coalesce(col("__in_before"), lit(false))
    val inA = coalesce(col("__in_after"), lit(false))
    joined
      .withColumn("change_kind",
        when(!inB, "added")
          .when(!inA, "removed")
          .when(vb.isNull =!= va.isNull, "changed")
          .when(vb.isNotNull && va.isNotNull && vb =!= va, "changed")
          .otherwise("unchanged"))
      .filter(col("change_kind") =!= "unchanged")
      .select((keyCols.map(col) :+ col("change_kind") :+ vb :+ va): _*)
  }

  /** Data files under `path/data` referenced by NO retained manifest —
    * what [[vacuum]] deletes; exposed so callers can assert a clean
    * lake (zero orphans) after maintenance. Returns relpaths. */
  def unreferencedDataFiles(spark: SparkSession,
                            path: String): Seq[String] =
    unreferencedWithMtime(spark, path).map(_._1)

  /** [[unreferencedDataFiles]] plus each file's modification time —
    * what [[vacuum]]'s grace window filters on. */
  private def unreferencedWithMtime(spark: SparkSession,
                                    path: String): Seq[(String, Long)] = {
    val f = fs(spark, path)
    val base = path.stripSuffix("/")
    val live = versions(spark, path)
      .flatMap(v => manifestEntries(spark, path, v)).map(_.rel).toSet
    val dataRoot = new Path(s"$base/data")
    if (!f.exists(dataRoot)) Seq.empty
    else {
      val qualBase = f.makeQualified(new Path(base)).toString
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val it = f.listFiles(dataRoot, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val rel = st.getPath.toString.stripPrefix(qualBase + "/")
          if (!live.contains(rel)) out += ((rel, st.getModificationTime))
        }
      }
      out.toSeq
    }
  }

  /** Retention VACUUM: drop every version but the newest `retain`,
    * then physically delete the data files no retained manifest
    * references. Completes the lifecycle — without it a versioned
    * lake only ever grows. The trade is explicit: a vacuumed version
    * is gone (its readVersion fails loudly on the missing manifest),
    * and `retain` is the concurrent-reader grace window — size it to
    * the longest-running query, exactly Delta/Iceberg's retention
    * rule. Dropped versions' txn ids are PRESERVED in a sidecar file
    * ([[writeSidecar]] — fresh-name atomic, so no manifest is ever
    * rewritten in place and a crash can only leave harmless duplicate
    * carried txns, never the torn-newest-manifest window the r10
    * rewrite-in-place protocol had): otherwise a checkpoint replay of
    * a batch older than the retention window would re-apply it as a
    * fresh commit — exactly the fork commitBatch* promises cannot
    * happen. Driver-side metadata throughout (manifest reads + one
    * recursive listing); row data never moves. Returns
    * (versionsDropped, filesDeleted).
    *
    * `graceMs` is the concurrent-WRITER grace window (Delta's file-age
    * retention threshold, r11 advice): an unreferenced file younger
    * than `graceMs` may be an in-flight commit's staged data — written
    * but not yet claimed by a manifest — and deleting it would let
    * that commit succeed with a manifest pointing at deleted files, a
    * torn version. Files inside the window are SKIPPED (they stay
    * re-vacuumable). The default 0 keeps vacuum fully deterministic
    * (no clock read) and is the single-writer / writer-quiescent
    * posture ONLY — do not copy it into a deployment with live
    * writers. There, size `graceMs` above the longest commit's
    * write-to-claim gap, exactly Delta's
    * `deletedFileRetentionDuration` rule; an hour is a sane starting
    * point for batch writers:
    * {{{ VersionedLake.vacuum(spark, path, retain = 10,
    *     graceMs = 60L * 60 * 1000) // production: live writers }}}
    *
    * `keepVersions` EXEMPTS specific versions from dropping regardless
    * of the retention window — the pin-aware form
    * ([[CommitCoordinator.vacuumPinned]] passes the coordinator log's
    * pins for this lake): a kept manifest stays readable and every
    * data file it references survives the orphan sweep (liveness is
    * computed from RETAINED manifests, so keeping the manifest keeps
    * its files — no separate file pinning needed). */
  def vacuum(spark: SparkSession, path: String,
             retain: Int, graceMs: Long = 0L,
             keepVersions: Set[Int] = Set.empty): (Int, Int) = {
    require(retain >= 1, "vacuum must retain at least one version")
    val f = fs(spark, path)
    val vs = versions(spark, path)
    val dropped = vs.dropRight(retain).filterNot(keepVersions)
    val droppedTxns = dropped
      .flatMap(v => headerAttr(readManifestHeader(spark, path, v), "txn"))
      .map(_.toLong).toSet
    val oldSidecars = sidecarFiles(spark, path)
    if (droppedTxns.nonEmpty) {
      // fold the dropped txns AND every existing sidecar into ONE new
      // sidecar BEFORE deleting anything: the ordering makes a crash
      // leave duplicates at worst, never a lost txn
      val carried = droppedTxns ++
        oldSidecars.flatMap(p => readSidecarTxns(spark, path, p))
      writeSidecar(spark, path, carried)
      oldSidecars.foreach(p => f.delete(p, false))
    }
    // a dropped version ABOVE the lowest kept one leaves a MID-LOG
    // GAP that would break latestVersion's forward probe (a stale
    // hint at a kept pin would stop at the gap and the next commit
    // would claim into it — history fork): bridge each with a
    // tombstone BEFORE deleting its manifest (a crash between leaves
    // both present — the probe reads that as a live version, still
    // correct); sweep tombstones no kept version sits below (a hint
    // can only enter the probe at a kept version)
    val kept = vs.filterNot(dropped.toSet)
    val minKept = kept.headOption.getOrElse(Int.MaxValue)
    dropped.filter(_ > minKept).foreach { v =>
      val o = f.create(vacuumedPath(path, v), true); o.close()
    }
    // drop the manifests after: a crash between the phases then
    // leaves only unreferenced-but-present files (re-vacuumable),
    // never a manifest pointing at deleted files or a lost txn
    dropped.foreach(v => f.delete(manifestPath(path, v), false))
    val ldir = logDir(path)
    if (f.exists(ldir))
      f.listStatus(ldir).iterator.foreach { st =>
        val n = st.getPath.getName
        if (n.endsWith(".vacuumed") &&
            n.stripSuffix(".vacuumed").toIntOption.exists(_ < minKept))
          f.delete(st.getPath, false)
      }
    // refresh the hint to the true head: pin-aware drops may have
    // invalidated a stale hint's probe path entirely, and vacuum is
    // the one verb that changes the log without advancing it
    kept.lastOption.foreach(writeHeadHint(f, path, _))
    val base = path.stripSuffix("/")
    // the clock is read ONLY when a grace window is requested — the
    // graceMs=0 path stays clock-free (determinism contracts)
    val cutoff =
      if (graceMs <= 0L) Long.MaxValue
      else System.currentTimeMillis() - graceMs
    val orphans = unreferencedWithMtime(spark, path)
      .collect { case (rel, mtime) if mtime <= cutoff => rel }
    orphans.foreach(rel => f.delete(new Path(s"$base/$rel"), false))
    // segment files no retained manifest points at (dropped versions'
    // un-reused segments, crashed/losing attempts' leftovers) reclaim
    // under the SAME grace window — an in-flight commit writes its
    // segments before its manifest claim, exactly like staged data.
    // Reuse means a dropped manifest's segment may still be live
    // through a RETAINED manifest's pointer, so liveness comes from
    // the retained set, never from age alone.
    val liveSegs = versions(spark, path).flatMap(v =>
      scala.util.Try(segmentPointers(spark, path, v))
        .getOrElse(Map.empty).values.map(_._1)).toSet
    val ld = logDir(path)
    if (f.exists(ld))
      f.listStatus(ld).iterator.foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("seg-") && n.endsWith(".seg") &&
            !liveSegs.contains(n) && st.getModificationTime <= cutoff)
          f.delete(st.getPath, false)
      }
    (dropped.size, orphans.size)
  }

  /** Version `v`'s manifest as public metadata (the Iceberg `.files`
    * metadata-view shape) — partition values, file pointers, and any
    * zone-map stats, for planning-side inspection. */
  def manifestFiles(spark: SparkSession, path: String,
                    v: Int): Seq[FileEntry] =
    manifestEntries(spark, path, v)

  /** The table's commit HISTORY as a queryable frame (Delta's
    * `DESCRIBE HISTORY` / Iceberg's `snapshots` metadata table): one
    * row per LIVE version — version, op, txn id, commit timestamp,
    * `n_parts` (the LIVE-partition count at that version), `has_dvs`
    * (whether any deletion vector is active), constraint count.
    * Driver-side manifest metadata only (version-count-sized); row
    * data never reads. Vacuumed versions are gone from the log and so
    * from the history — the retention trade stated by l10. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val rows = versions(spark, path).map { v =>
      val h = readManifestHeader(spark, path, v)
      val entries = manifestEntries(spark, path, v)
      val parts = entries.map(_.part).distinct
      (v,
        headerAttr(h, "op").getOrElse(""),
        headerAttr(h, "txn").map(_.toLong),
        headerAttr(h, "ts").map(_.toLong),
        parts.size,
        entries.count(_.kind == KindDv) > 0,
        readConstraints(spark, path, v).size)
    }
    import spark.implicits._
    rows.toDF("version", "op", "txn", "commit_ts", "n_parts",
      "has_dvs", "n_constraints")
  }

  /** Version `v`'s FILE inventory as a queryable frame (Iceberg's
    * `files` metadata table): partition, pointer, kind, zone-map
    * stats, write era. */
  def filesTable(spark: SparkSession, path: String, v: Int): DataFrame = {
    import spark.implicits._
    manifestEntries(spark, path, v)
      .map(e => (e.part, e.rel, e.kind, e.lo, e.hi, e.era, e.size))
      .toDF("part", "rel", "kind", "lo", "hi", "era", "size_bytes")
  }

  /** An empty frame with version `v`'s recorded schema — the shape a
    * prune that matches nothing resolves to (an out-of-range query's
    * correct answer is zero rows, not an exception). For pre-schema
    * manifests the schema bootstraps from any live data file. */
  private def emptyOf(spark: SparkSession, path: String,
                      v: Int): DataFrame = {
    val schema = readSchema(spark, path, v).getOrElse {
      val data = manifestEntries(spark, path, v).filter(_.kind == KindData)
      require(data.nonEmpty,
        s"version $v records no schema and lists no files")
      spark.read
        .parquet(resolve(path.stripSuffix("/"), data.head.rel)).schema
    }
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Read the lake AS OF version `v` — the time-travel read. `parts`
    * non-empty prunes at the manifest: only the named partitions'
    * files reach the reader (an unmatched filter reads as EMPTY with
    * the version's schema, the zero-rows answer). */
  def readVersion(spark: SparkSession, path: String, v: Int,
                  parts: Seq[String] = Seq.empty): DataFrame =
    // the parts filter pushes into manifestEntries: on a segmented
    // manifest, un-wanted partitions' segment files are never opened
    // (metadata-side pruning — at 10^6 files the file LIST is itself
    // data-sized). The read is under the manifest's RECORDED schema
    // ([[mappedRead]]): a plain read of a file list mixing pre- and
    // post-evolution commits would take one footer's schema and
    // silently drop columns the other files carry.
    readOrEmpty(spark, path, v, manifestEntries(spark, path, v, parts.toSet))

  /** Time-travel read of version `v` UNDER THE LATEST SCHEMA: columns
    * added by later commits surface as NULL (l04's mergeSchema
    * semantics executed at the table layer, driven by the schema each
    * manifest records); columns present in both read under the latest
    * type (cast — covers widenings). A user's view over the lake thus
    * has ONE schema across every version it time-travels to. */
  def readVersionEvolved(spark: SparkSession, path: String, v: Int,
                         parts: Seq[String] = Seq.empty): DataFrame = {
    val latest = latestVersion(spark, path)
    val target = readSchema(spark, path, latest).getOrElse(
      readVersion(spark, path, latest).schema)
    val oldSchema = readSchema(spark, path, v).getOrElse(
      readVersion(spark, path, v).schema)
    val old = readVersion(spark, path, v, parts)
    // alignment is BY COLUMN ID when both sides carry ids (a rename
    // between v and latest still lines up; a dropped-then-re-added
    // name does NOT — fresh id, NULL at v), by name for legacy lakes
    val oldByGid = oldSchema.fields
      .flatMap(f => gidOf(f).map(_ -> f.name)).toMap
    val have = old.columns.toSet
    old.select(target.fields.toIndexedSeq.map { fd =>
      val src = gidOf(fd) match {
        case Some(g) if oldByGid.nonEmpty => oldByGid.get(g)
        case _ => Some(fd.name).filter(have)
      }
      src.fold(lit(null).cast(fd.dataType).as(fd.name))(n =>
        col(n).cast(fd.dataType).as(fd.name))
    }: _*)
  }

  /** Zone-map-pruned time-travel read: only the files of version `v`
    * whose manifest [lo, hi] stats intersect [qLo, qHi] reach the
    * reader — the Iceberg planning shape, where the commit log IS the
    * skipping index, so a range query against LAST YEAR's snapshot
    * prunes exactly like one against today's. Files without stats
    * (committed with no statsCol) are conservatively kept: zones
    * prune, they never lie. A prune that empties the list returns an
    * EMPTY frame with the version's schema and matched=0 — an
    * out-of-range query's correct answer is zero rows, not an
    * exception. The caller still applies the row-level
    * predicate. Returns (reader, matchedFiles, totalFiles). */
  def readVersionRange(spark: SparkSession, path: String, v: Int,
                       qLo: Long, qHi: Long,
                       parts: Seq[String] = Seq.empty)
      : (DataFrame, Long, Long) = {
    val all = manifestEntries(spark, path, v, parts.toSet)
    val data = all.filter(_.kind == KindData)
    val wanted = data.filter(e => (e.lo, e.hi) match {
      case (Some(l), Some(h)) => h >= qLo && l <= qHi
      case _ => true
    })
    // DVs of the surviving files' partitions still fold — a DV has no
    // zone (it references positions); rows for pruned files simply
    // never match. Matched/total counts stay DATA-file counts.
    (readOrEmpty(spark, path, v, wanted ++ all.filter(_.kind == KindDv)),
      wanted.size.toLong, data.size.toLong)
  }

  /** Resolve a TIMESTAMP to a version: the last version whose `ts=`
    * commit stamp is <= `ts` (Delta's `TIMESTAMP AS OF`). Only
    * ts-stamped commits participate — a lake mixing stamped and
    * unstamped commits resolves over the stamped subset. Loud when
    * `ts` precedes the first stamped commit (there IS no table yet at
    * that time — the one case with no zero-rows answer). */
  def versionAsOf(spark: SparkSession, path: String, ts: Long): Int = {
    val stamped = versions(spark, path).flatMap { v =>
      headerAttr(readManifestHeader(spark, path, v), "ts")
        .map(t => (v, t.toLong))
    }
    val hits = stamped.filter(_._2 <= ts)
    require(hits.nonEmpty,
      s"no version committed at or before ts=$ts at $path " +
        s"(first stamped commit: ${stamped.headOption.fold("none")(h =>
          s"version ${h._1} ts=${h._2}")})")
    // latest qualifying VERSION, not highest timestamp: commit stamps
    // need not be monotone (a restore can be stamped before a prior
    // commit), and AS OF must resolve to the table as last committed
    // at or before the instant (r11 advice)
    hits.maxBy(_._1)._1
  }

  /** Read the lake AS OF a timestamp ([[versionAsOf]] + time travel). */
  def readAsOf(spark: SparkSession, path: String, ts: Long,
               parts: Seq[String] = Seq.empty): DataFrame =
    readVersion(spark, path, versionAsOf(spark, path, ts), parts)

  /** CROSS-LAKE snapshot coordination: the latest coordinator
    * timestamp at which EVERY listed lake is complete — the min over
    * lakes of each lake's max stamped commit. Transactions here are
    * single-table ([[doCommit]]); a coordinator spanning tables
    * commits each lake in turn with ONE shared `commitTs`, and
    * readers resolve every lake [[readAsOf]] this bound: a crash
    * between lake A's commit and lake B's leaves A's newest stamp
    * ahead of B's max, so the half-landed instant stays INVISIBLE to
    * coordinated readers (A resolves back to the last complete ts)
    * until recovery replays B's commit and the bound advances — the
    * two-phase-commit read rule with the commit log as the vote
    * ledger. Requires monotone coordinator stamps; loud if a lake has
    * no stamped commit yet. */
  def coordinatedTs(spark: SparkSession, paths: Seq[String]): Long = {
    require(paths.nonEmpty, "coordinatedTs needs at least one lake")
    paths.map { p =>
      val stamped = versions(spark, p).flatMap(v =>
        headerAttr(readManifestHeader(spark, p, v), "ts").map(_.toLong))
      require(stamped.nonEmpty, s"no ts-stamped commit at $p")
      stamped.max
    }.min
  }

  /** Read the newest version. */
  def readLatest(spark: SparkSession, path: String,
                 parts: Seq[String] = Seq.empty): DataFrame =
    readVersion(spark, path, latestVersion(spark, path), parts)

  /** RESTORE TO VERSION (Delta's RESTORE verb): commit version `v`'s
    * file list — pointers, no data moves — as a NEW version, so the
    * table's content rolls back while its history only ever moves
    * FORWARD (an auditable undo, not a rewrite: the bad versions stay
    * readable until vacuum retires them). Zero-copy by construction on
    * this log: a manifest is a file list, and restoring is writing an
    * old list under a new number. Fails loudly if `v` was vacuumed.
    * Returns the new version number. */
  def commitRestore(spark: SparkSession, path: String, v: Int,
                    commitTs: Option[Long] = None): Int = {
    val entries = manifestEntries(spark, path, v)
    val schemaJson = readSchema(spark, path, v).map(_.json).getOrElse(
      readVersion(spark, path, v).schema.json)
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val k = latestVersion(spark, path) + 1
      // a restore is a WHOLE-TABLE statement (make content == version
      // v) — like any rollback it supersedes whatever landed after v
      // by design, so the claim loop guards only the version number;
      // the superseded commits stay readable until vacuum, exactly
      // the auditability the verb exists for
      // v's CONSTRAINTS restore with v's schema (one self-consistent
      // table state — a later-added constraint may not even resolve
      // under v's schema; re-add it after the restore if wanted)
      if (tryWriteManifest(spark, path, k, "restore",
          s"restore-of-${"%06d".format(v)}", schemaJson, entries, None,
          commitTs, readColmaps(spark, path, v),
          readConstraints(spark, path, v),
          readColtypes(spark, path, v)))
        return k
    }
    throw new java.util.ConcurrentModificationException(
      s"restore retry budget exhausted at $path")
  }

  /** RENAME COLUMN (l24 — Delta's `ALTER TABLE ... RENAME COLUMN`
    * under column mapping): a METADATA-ONLY commit — every file
    * carries forward by pointer, the recorded schema renames the
    * field while its stable id stays, and since reads resolve by id
    * through each era's colmap ([[mappedRead]]), every existing file
    * (physically written under the old name) surfaces the new name
    * with zero bytes rewritten. Time travel to a pre-rename version
    * still shows the old name (its manifest's schema). Subsequent
    * commits write the NEW name and inherit the same id by name.
    * Returns the new version number. */
  def commitRenameColumn(spark: SparkSession, path: String,
                         oldName: String, newName: String,
                         commitTs: Option[Long] = None): Int =
    commitSchemaChange(spark, path, "rename", commitTs) { schema =>
      require(schema.fieldNames.contains(oldName),
        s"no column $oldName at $path")
      require(!schema.fieldNames.contains(newName),
        s"column $newName already exists at $path")
      StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
    }

  /** DROP COLUMN (l24): a metadata-only commit removing the field
    * from the logical schema — the bytes stay in the files but no
    * read resolves them, and a LATER re-add of the same name mints a
    * FRESH column id ([[assignGids]]), so the orphaned bytes can
    * never resurrect under the reused name (the l24 pin). Time travel
    * to a pre-drop version still reads the column. Returns the new
    * version number. */
  def commitDropColumn(spark: SparkSession, path: String, name: String,
                       commitTs: Option[Long] = None): Int =
    commitSchemaChange(spark, path, "drop", commitTs) { schema =>
      require(schema.fieldNames.contains(name),
        s"no column $name at $path")
      require(schema.fields.length > 1,
        s"cannot drop the last column of $path")
      StructType(schema.fields.filterNot(_.name == name))
    }

  /** Shared claim loop for metadata-only schema commits: entries and
    * colmaps carry forward verbatim from the head (re-read per rebase
    * attempt), only the recorded schema changes. Requires an id-carrying
    * schema (every commit records one since column mapping landed). */
  private def commitSchemaChange(spark: SparkSession, path: String,
                                 op: String, commitTs: Option[Long])
                                (change: StructType => StructType): Int = {
    var attempts = 0
    while (attempts < 20) {
      attempts += 1
      val v = latestVersion(spark, path)
      require(v > 0, s"$op needs an existing version at $path")
      val schema = readSchema(spark, path, v).getOrElse(
        throw new IllegalStateException(
          s"$op requires a schema-recording manifest at $path"))
      require(schema.fields.forall(f => gidOf(f).isDefined),
        s"$op requires column ids in the recorded schema at $path " +
          "(commit once with this library version first)")
      val entries = manifestEntries(spark, path, v)
      val changed = change(schema)
      // every constraint must still RESOLVE under the changed schema —
      // renaming/dropping a column a CHECK references is refused
      // loudly (drop the constraint first), never left dangling
      val cs = readConstraints(spark, path, v)
      cs.foreach { case (n, e) =>
        val probe = spark.createDataFrame(
          new java.util.ArrayList[Row](),
          StructType(changed.fields.map(_.copy(metadata =
            org.apache.spark.sql.types.Metadata.empty))))
        try probe.filter(expr(e)).queryExecution.analyzed
        catch {
          case ex: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"$op would leave constraint $n [$e] unresolvable at " +
                s"$path — drop the constraint first", ex)
        }
      }
      if (tryWriteManifest(spark, path, v + 1, op, s"$op-${uniq()}",
          changed.json, entries, None, commitTs,
          readColmaps(spark, path, v), cs,
          readColtypes(spark, path, v)))
        return v + 1
    }
    throw new java.util.ConcurrentModificationException(
      s"$op retry budget exhausted at $path")
  }

  /** SHALLOW CLONE (Delta's CLONE verb): materialize version `v` of
    * `srcPath` as version 1 of a NEW lake whose manifest points at the
    * SOURCE's data files — zero bytes copied; the clone is a readable,
    * independently-committable branch for experimentation
    * (subsequent commits land under the clone's own path; the source
    * never sees them). The trade is Delta's own: the clone borrows the
    * source's files, so vacuuming the SOURCE below the cloned version
    * can invalidate the clone — `deep = true` copies the file contents
    * instead (cost ∝ data, full independence). Clone-local vacuum is
    * safe either way: [[vacuum]] only deletes under the clone's own
    * `data/` root, and shallow-borrowed absolute pointers are skipped
    * by [[unreferencedDataFiles]]'s path scoping. */
  def shallowClone(spark: SparkSession, srcPath: String, dstPath: String,
                   v: Int, deep: Boolean = false): Int = {
    require(latestVersion(spark, dstPath) == 0,
      s"clone target $dstPath is not a fresh lake")
    val f = fs(spark, dstPath)
    val srcBase = srcPath.stripSuffix("/")
    val entries = manifestEntries(spark, srcPath, v)
    val schemaJson = readSchema(spark, srcPath, v).map(_.json).getOrElse(
      readVersion(spark, srcPath, v).schema.json)
    val cloned =
      if (!deep) {
        // rel paths in a manifest resolve against the lake's own root,
        // so a shallow clone stores the source's files as ABSOLUTE
        // paths (qualified once here; readVersion passes them through)
        val qualSrc = f.makeQualified(new Path(srcBase)).toString
        entries.map(e => e.copy(rel = s"$qualSrc/${e.rel}"))
      } else {
        // deep clone moves DATA-sized bytes: distribute the per-file
        // copies as a Spark job (one task per file batch) — a driver-
        // side copy loop would pull the whole table through one
        // process, the classic 100 TB faceplant. File boundaries are
        // preserved 1:1 so the manifest's per-file zone stats stay
        // valid on the copies. Lake-relative rels are preserved
        // VERBATIM (the target is a fresh lake, so nothing collides):
        // deletion-vector rows reference data files by rel, and a
        // renamed copy would orphan every DV reference. Absolute rels
        // (borrowed by a shallow-cloned source) can't be preserved —
        // they flatten under a clone token, which is only safe DV-free.
        val token = s"clone-${uniq()}"
        val dstBase = dstPath.stripSuffix("/")
        require(!(entries.exists(_.kind == KindDv) &&
            entries.exists(e => e.rel.startsWith("/") ||
              e.rel.contains(":/"))),
          "deep clone of a lake mixing deletion vectors with borrowed " +
            "absolute-path files is unsupported: run commitOptimize on " +
            s"$srcBase first to fold the DVs away")
        val pairs = entries.map { e =>
          val dstRel =
            if (e.rel.startsWith("/") || e.rel.contains(":/"))
              s"data/$token/${e.rel.replace('/', '_').replace(":", "_")}"
            else e.rel
          (resolve(srcBase, e.rel), dstRel)
        }
        val confKv = {
          import scala.jdk.CollectionConverters._
          spark.sparkContext.hadoopConfiguration.iterator().asScala
            .map(e => (e.getKey, e.getValue)).toArray
        }
        spark.sparkContext
          .parallelize(pairs.map { case (a, b) => (a, s"$dstBase/$b") },
            math.min(math.max(1, pairs.size), 64))
          .foreach { case (srcFile, dstFile) =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confKv.foreach { case (k, v) => conf.set(k, v) }
            val sp = new Path(srcFile)
            val dp = new Path(dstFile)
            org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
              dp.getFileSystem(conf), dp, false, conf)
            ()
          }
        entries.lazyZip(pairs).map { case (e, (_, rel)) =>
          e.copy(rel = rel)
        }.toSeq
      }
    require(tryWriteManifest(spark, dstPath, 1,
      if (deep) "deepclone" else "clone", s"clone-of-$srcBase@$v",
      schemaJson, cloned, None, None,
      readColmaps(spark, srcPath, v),
      readConstraints(spark, srcPath, v),
      readColtypes(spark, srcPath, v)),
      s"clone target $dstPath already has a version 1")
    1
  }

  /** The APPEND-ONLY slice of (vFrom, vTo] — the rows in files ADDED
    * between the two versions: the versioned lake consumed AS A
    * STREAMING SOURCE (the Delta streaming-source shape: a reader
    * holds a version cursor, and each poll reads ONLY the new files —
    * never a join, never the base). Loud when a commit inside the
    * range REPLACED or DROPPED a file (upsert/optimize/restore
    * rewrote history — even a file that was itself appended inside
    * the range) or committed deletion vectors: an append-only reader
    * must fail rather than silently misread a rewrite, exactly
    * Delta's `ignoreChanges`-unset behavior; the change-feed reader
    * ([[changesBetween]]) is the API for that case. Returns an empty
    * typed frame when nothing was appended. */
  def appendsBetween(spark: SparkSession, path: String, vFrom: Int,
                     vTo: Int): DataFrame =
    appendsSlice(spark, path, (vFrom, 0), (vTo, 0))

  /** THE append-feed walk — the append-only contract's one
    * definition, behind [[appendsBetween]], [[advanceCursor]],
    * [[pollAppends]] and [[appendsSlice]]. Cursors are (v, p): every
    * append of versions ≤ v, plus the first `p` fresh files of v+1 —
    * manifests are immutable and list files in sorted order, so an
    * offset is stable across polls and processes. The walk steps one
    * manifest at a time from `from` toward the end cursor `to`,
    * taking at most `maxFiles` fresh files. Each step refuses a
    * replaced or dropped file and a fresh deletion vector (read the
    * change feed instead), and a cursor offset past a version's
    * fresh-file count (a foreign or torn offset) rather than
    * misaligning. Metadata only. Returns the picked entries in
    * manifest order, the cursor reached, and the last version
    * stepped (`from`'s version when none). */
  private def walkAppends(spark: SparkSession, path: String,
                          from: (Int, Int), to: (Int, Int),
                          maxFiles: Int = Int.MaxValue)
      : (Seq[FileEntry], (Int, Int), Int) = {
    require(maxFiles >= 1, "maxFiles must be >= 1")
    val (fv, fOff) = from
    val (tv, tOff) = to
    val lastV = if (tOff > 0) tv + 1 else tv
    var prevRels =
      if (fv == 0) Set.empty[String]
      else manifestEntries(spark, path, fv).map(_.rel).toSet
    val picked = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    var reached = from
    var v = fv
    while (picked.size < maxFiles && v < lastV) {
      val next = v + 1
      val entries = manifestEntries(spark, path, next)
      val rels = entries.map(_.rel).toSet
      val removed = prevRels -- rels
      require(removed.isEmpty,
        s"version $next is not append-only: ${removed.size} file(s) " +
          "replaced or dropped — read the change feed (changesBetween) " +
          "instead")
      val fresh = entries.filterNot(e => prevRels.contains(e.rel))
      val freshDvs = fresh.count(_.kind == KindDv)
      require(freshDvs == 0,
        s"version $next committed deletion vectors (rows removed: " +
          s"$freshDvs deletion-vector file(s)) — read the change feed " +
          "(changesBetween) instead")
      val skip = if (next == fv + 1) fOff else 0
      val until = if (next == tv + 1) tOff else fresh.size
      require(skip <= until && until <= fresh.size,
        s"cursor offset past version $next's ${fresh.size} fresh " +
          s"file(s) (skip=$skip until=$until) — foreign or torn offset")
      val take = math.min(maxFiles - picked.size, until - skip)
      picked ++= fresh.slice(skip, skip + take)
      reached = if (skip + take == fresh.size) (next, 0) else (v, skip + take)
      prevRels = rels
      v = next
    }
    (picked.toSeq, reached, v)
  }

  /** [[pollAppends]]'s cursor arithmetic WITHOUT the data read — the
    * streaming source's OFFER path: offers carry no planning cost, and
    * the walk stops at `capVersion`, so a rewrite committed after a
    * Trigger.AvailableNow prepare never crashes a bounded drain that
    * never reads it. */
  private[sources] def advanceCursor(spark: SparkSession, path: String,
                                     cursor: (Int, Int), maxFiles: Int,
                                     capVersion: Int): (Int, Int) =
    walkAppends(spark, path, cursor, (capVersion, 0), maxFiles)._2

  /** ADMISSION-CONTROLLED streaming-source poll (Delta's
    * `maxFilesPerTrigger` on [[appendsBetween]]'s cursor — st24): a
    * burst of commits must not turn one micro-batch into an unbounded
    * read, so each poll consumes AT MOST `maxFiles` of the appended
    * files past the cursor and records SUB-VERSION progress in the
    * cursor ([[walkAppends]]). Same append-only contract as
    * [[appendsBetween]]. Returns (batch, newCursor); a poll at the
    * head returns an empty typed frame and the unchanged cursor. */
  def pollAppends(spark: SparkSession, path: String,
                  cursor: (Int, Int),
                  maxFiles: Int): (DataFrame, (Int, Int)) = {
    val head = latestVersion(spark, path)
    require(head > 0, s"pollAppends on an empty lake at $path")
    val (picked, reached, last) =
      walkAppends(spark, path, cursor, (head, 0), maxFiles)
    (readOrEmpty(spark, path, math.max(last, 1), picked), reached)
  }

  /** The EXACT append slice between two [[pollAppends]] cursors —
    * the deterministic range form the streaming SOURCE
    * ([[GraftLakeStreamSource]]) replays from its write-ahead log:
    * a recovered micro-batch (start, end] must rebuild the SAME rows
    * whatever the head has advanced to, so the slice is a pure
    * function of the two cursors. Same append-only contract and
    * offset check as every feed read ([[walkAppends]]); the rows read
    * under the last traversed version's schema (fresh files may span
    * a rename — id-resolved to its logical names). */
  def appendsSlice(spark: SparkSession, path: String,
                   from: (Int, Int), to: (Int, Int)): DataFrame = {
    val (fv, fOff) = from
    val (tv, tOff) = to
    require(fv >= 0 && fOff >= 0 && tOff >= 0 &&
        (fv < tv || (fv == tv && fOff <= tOff)),
      s"appendsSlice cursors out of order: $from .. $to")
    val (picked, _, last) = walkAppends(spark, path, from, to)
    readOrEmpty(spark, path, math.max(last, 1), picked)
  }

  /** Forget the per-JVM txn replay-dedup cache for `path` — REQUIRED
    * by any code path that deletes a lake without [[reset]] (the
    * catalog's DROP TABLE / DROP NAMESPACE CASCADE, r15 self-review):
    * a lake re-created at the same path must not inherit the dead
    * history's txn set, or its first txn-stamped commits silently
    * dedup into no-ops. */
  private[sources] def forgetTxns(path: String): Unit = {
    txnCache.remove(path.stripSuffix("/"))
    ()
  }

  /** Drop every version's state — a fresh-lake reset for fixtures.
    * Also drops the path's txn cache: a reborn lake must not inherit
    * the old history's replay-dedup set. */
  def reset(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val f = fs(spark, path)
    if (f.exists(p)) f.delete(p, true)
    txnCache.remove(path.stripSuffix("/"))
    ()
  }
}

