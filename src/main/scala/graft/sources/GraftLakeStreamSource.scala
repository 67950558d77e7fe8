package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.types.StructType

/** The lake as a STRUCTURED STREAMING SOURCE —
  * `spark.readStream.format("graftlake").load(path)`, the Delta
  * streaming-source shape (reference semantics: the pipeline's
  * incremental-feed stage; Delta answers it with its transaction-log
  * source, Iceberg with incremental scans). Offsets are the library's
  * [[VersionedLake.pollAppends]] CURSORS `(version, partialFiles)`:
  * the commit log IS the write-ahead history, so the source carries
  * no state of its own — every micro-batch (start, end] replays as
  * the pure cursor-range slice [[VersionedLake.appendsSlice]], which
  * makes checkpoint recovery exact by construction (manifests are
  * immutable and list files in sorted order — the offset-stability
  * argument the append walk behind pollAppends documents).
  *
  * Contract, all inherited from the append feed and stated loudly:
  *  - The FIRST batch is the SNAPSHOT: getBatch(None, end) reads the
  *    DV-folded latest version whole ([[VersionedLake.readVersion]])
  *    — Delta's initial-snapshot-then-tail default — so a lake whose
  *    HISTORY holds rewrites/deletes streams fine (r15 self-review:
  *    slicing the snapshot from cursor (0,0) walked — and refused on —
  *    historical DV commits the snapshot never reads).
  *  - APPEND-ONLY follow AFTER the snapshot: a rewrite or a
  *    deletion-vector commit inside a TAILED range fails the stream —
  *    the change feed ([[VersionedLake.changesBetween]]) is the CDC
  *    reader, this source is the Delta `ignoreChanges`-unset posture.
  *  - `maxFilesPerTrigger` (Delta's option, st24's admission rule)
  *    bounds each TAIL offer to that many appended files past the
  *    last offered cursor ([[VersionedLake.advanceCursor]] — cursor
  *    arithmetic only, no planning on the offer path); a commit burst
  *    becomes several bounded micro-batches with SUB-version
  *    progress. The snapshot batch itself is one unbounded batch.
  *  - A HIDDEN-partitioned lake streams with its internal column
  *    hidden (the format's schema rule).
  *  - Schema is fixed at stream start (latest version's); a rename
  *    mid-stream surfaces as a loud schema mismatch, never silent
  *    column drift.
  */
final class GraftLakeStreamSource(spark: SparkSession, path: String,
                                  declared: StructType,
                                  maxFiles: Option[Int],
                                  startingVersion: Option[Int] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  /** `startingVersion` (Delta's option): tail from that version's
    * appends ONWARD — no initial snapshot — which is also the
    * documented way to start a stream on a lake whose RECENT history
    * holds rewrites: pick a version past them and only the tail's
    * append-only contract applies. None = snapshot-then-tail. */
  private val base: (Int, Int) =
    startingVersion.map(v => (v - 1, 0)).getOrElse((0, 0))

  /** Last cursor OFFERED to the engine — pacing state only (the
    * engine's WAL owns progress; a restart resyncs this from the
    * first getBatch's `end`). Starts at the tail base: nothing
    * offered yet. */
  private var offered: (Int, Int) = base

  /** Trigger.AvailableNow's cap: implemented on the SOURCE (not left
    * to the engine's one-shot wrapper, which would snapshot the
    * admission-limited next offset and stop after ONE bounded batch):
    * the run drains everything committed at prepare time — in
    * maxFilesPerTrigger-bounded batches — and ignores later commits,
    * exactly the FileStreamSource discipline. */
  private var availableNowBound: Option[(Int, Int)] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound =
      Some((VersionedLake.latestVersion(spark, path), 0))

  override def schema: StructType = declared

  /** [[org.apache.spark.sql.connector.read.streaming
    * .SupportsAdmissionControl]] spelling of [[getOffset]] (the
    * engine calls THIS form once a source declares admission
    * control): `start` is the last committed offset — resync the
    * pacing cursor from it (covers recovery before any getBatch),
    * then offer as getOffset does. Null means "no data yet". */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    if (start != null) {
      val s = GraftLakeStreamSource.cursor(start)
      if (GraftLakeStreamSource.le(offered, s)) offered = s
    }
    getOffset.orNull
  }

  override def getOffset: Option[Offset] = {
    val head = availableNowBound.getOrElse(
      (VersionedLake.latestVersion(spark, path), 0))
    if (head._1 == 0) return None
    val next =
      if (offered == (0, 0) && startingVersion.isEmpty)
        head // the snapshot: one unbounded batch
      else maxFiles match {
        case None => head
        case Some(m) =>
          // cursor arithmetic only, capped at the AvailableNow bound
          // when one is armed: a rewrite committed AFTER prepare sits
          // past the cap and must never fail the bounded drain
          VersionedLake.advanceCursor(spark, path, offered, m, head._1)
      }
    if (GraftLakeStreamSource.le(next, offered)) {
      if (offered == base) None // nothing consumed, nothing to offer
      else Some(GraftLakeCursorOffset(offered._1, offered._2))
    } else {
      offered = next
      Some(GraftLakeCursorOffset(next._1, next._2))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = GraftLakeStreamSource.cursor(end)
    // recovery resync: the WAL's committed range may be ahead of a
    // fresh source instance's pacing state
    if (GraftLakeStreamSource.le(offered, to)) offered = to
    val slice = start match {
      case None if startingVersion.isEmpty =>
        // the INITIAL SNAPSHOT: the DV-folded latest whole — never a
        // history walk, so pre-stream rewrites don't refuse
        require(to._2 == 0,
          s"snapshot offset must be a whole version, got $to")
        VersionedLake.readVersion(spark, path, to._1)
      case None => // startingVersion: the tail begins AT that version
        VersionedLake.appendsSlice(spark, path, base, to)
      case Some(s) =>
        VersionedLake.appendsSlice(spark, path,
          GraftLakeStreamSource.cursor(s), to)
    }
    val visible =
      if (HiddenPartitioning.declared(spark, path))
        slice.drop(HiddenPartitioning.spec(spark, path).partCol)
      else slice
    require(visible.schema == declared,
      s"lake schema changed mid-stream at $path: declared " +
        s"${declared.simpleString}, batch ${visible.schema.simpleString}" +
        " — restart the stream to adopt the new schema")
    org.apache.spark.sql.graftglue.GraftGlue.streamingFrame(visible)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftLakeStreamSource[$path]"
}

private[sources] object GraftLakeStreamSource {

  private[sources] def le(a: (Int, Int), b: (Int, Int)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)

  /** Any engine-handed offset back to a cursor: the live case class,
    * or a serialized form (WAL recovery / the v2 admission-control
    * path) via its JSON. */
  private[sources] def cursor(
      o: org.apache.spark.sql.connector.read.streaming.Offset)
      : (Int, Int) = o match {
    case g: GraftLakeCursorOffset => (g.v, g.off)
    case other => parse(other.json())
  }

  private[sources] def parse(json: String): (Int, Int) = {
    val t = json.trim.stripPrefix("[").stripSuffix("]").split(',')
    require(t.length == 2,
      s"malformed graftlake stream offset: $json")
    (t(0).trim.toInt, t(1).trim.toInt)
  }
}

/** `(version, partialFiles)` as a V1 offset — JSON `[v,off]` in the
  * engine's write-ahead log. */
final case class GraftLakeCursorOffset(v: Int, off: Int) extends Offset {
  override def json(): String = s"[$v,$off]"
}
