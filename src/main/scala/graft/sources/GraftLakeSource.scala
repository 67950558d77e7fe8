package graft.sources

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[VersionedLake]] exposed through DataSource V2 — the shape every
  * real consumer expects from a table format: no library calls, just
  *
  * {{{
  * spark.read.format("graftlake")
  *   .option("versionAsOf", 2)            // or timestampAsOf
  *   .option("partitionColumn", "month")  // enables partition pruning
  *   .load(lakePath)
  * // or pure SQL:
  * // CREATE TEMPORARY VIEW t USING graftlake
  * //   OPTIONS (path '...', versionAsOf '2', partitionColumn 'month')
  * }}}
  *
  * Wiring, each piece the standard connector shape:
  *  - [[TableProvider]] + [[DataSourceRegister]] (`shortName =
  *    "graftlake"`, registered via META-INF/services) resolve the
  *    format name and the table's schema — the RECORDED manifest
  *    schema of the resolved version, so time travel, column mapping
  *    and type widening all surface exactly as the library read does.
  *  - The [[ScanBuilder]] takes COLUMN PRUNING and FILTER pushdown
  *    from Catalyst. Filters on the declared `partitionColumn` prune
  *    partitions AT THE MANIFEST (segment pointers of un-wanted
  *    partitions are never opened — the l25 path); every filter is
  *    also returned as residual, so Spark re-applies row-exact
  *    semantics above, and translated copies push into the inner
  *    parquet scan for row-group skipping. Partition pruning only
  *    engages for STRING partition columns (manifest partition values
  *    are the written column's string rendering — pruning a non-string
  *    column on string compare could silently drop rows).
  *  - The [[Scan]] is a [[V1Scan]] adapter (the Delta/JDBC pattern):
  *    it hands Spark a `BaseRelation` whose `buildScan` runs the
  *    pruned, filtered, projected library read — one code path for
  *    library and SQL consumers, nothing re-implemented.
  *
  * Batch WRITE surface (r13 verdict): the two writes that DO reduce
  * to `df.write` modes go through the format —
  *
  * {{{
  * df.write.format("graftlake")
  *   .option("partitionColumn", "month")
  *   .option("txn", batchId)    // optional: exactly-once foreachBatch
  *   .mode("append")            // or "overwrite" (full replacement)
  *   .save(lakePath)
  * }}}
  *
  * routed to [[VersionedLake.commitAppend]] /
  * [[VersionedLake.commitBatchAppend]] (with `txn`) /
  * [[VersionedLake.commitOverwrite]] through a [[V1Write]]
  * InsertableRelation — one commit path for library and format
  * writers, full OCC included (appends rebase through the claim
  * protocol; a format append and a concurrent library upsert both
  * land). A HIDDEN-PARTITIONED lake (l27) needs no `partitionColumn`
  * option at all: the internal column is hidden from the format's
  * schema (reads never surface it — which is also what lets a plain
  * un-derived frame pass Spark's by-name write resolution) and every
  * write derives the partition through the RECORDED spec, the same
  * governed layout as the library sink, un-bypassable from SQL.
  * Option-based partition pruning stands down on hidden lakes
  * (manifest values are spec-DERIVED; pruning a source-column filter
  * against them would be silent row loss — the library's
  * transform-projected reads are the pruned path there).
  * MERGE/DELETE/OPTIMIZE stay library verbs: their semantics
  * (keyed deltas, DV sidecars, OCC pins) genuinely don't reduce to
  * `df.write` modes. Writing through a time-travel option refuses
  * loudly, as does `txn` with overwrite. The FIRST commit of a brand
  * new lake also stays a library call (the format infers its schema
  * from the recorded manifest, which doesn't exist yet) — seed with
  * `commitOverwrite(df.limit(0))` when streaming into a fresh lake.
  *
  * VERSION BINDING (r13 advice): an explicit `versionAsOf` /
  * `timestampAsOf` pins the scan, but an un-optioned relation binds
  * to LATEST AT SCAN TIME, resolved in `newScanBuilder` — a
  * `CREATE TEMPORARY VIEW ... USING graftlake` without time-travel
  * options therefore surfaces later commits on every query, exactly
  * like a parquet view or Delta's per-scan log read (the SCHEMA still
  * pins at view creation, as any view's does).
  *
  * Statistics boundary (honest edge): the manifest records per-file
  * byte sizes (`S` entry fields, [[VersionedLake.filesTable]]'s
  * `size_bytes`), but Spark's `V1ScanWrapper` hides a V1Scan from
  * `DataSourceV2ScanRelation.computeStats`, so size-based STATIC
  * join planning doesn't flow through this adapter — AQE's runtime
  * re-optimization (actual shuffle sizes) covers the broadcast
  * decision instead. MEASURED (r14, PlanShapeSpec "graftlake join
  * planning"): a fact ⋈ 3-row-graftlake-dim join statically plans a
  * SortMergeJoin (no size to broadcast on), and AQE's final plan
  * converts it to a BroadcastHashJoin from the dim's actual shuffle
  * bytes — the decision a static estimate would have made, recovered
  * at runtime. A native DSv2 Batch would carry the stats statically
  * but would have to re-implement the DV-fold/column-mapping read at
  * the PartitionReader level; one code path wins.
  */
final class GraftLakeSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graftlake"

  // ---- streaming source (V1 StreamSourceProvider): implementing it
  // alongside TableProvider is exactly how DataStreamReader routes a
  // table WITHOUT MICRO_BATCH_READ — the v1Relation fallback. The
  // lake's commit log is the WAL; offsets are pollAppends cursors
  // (GraftLakeStreamSource). Time-travel options refuse: a stream
  // FOLLOWS the log, a pinned version cannot move.

  private def streamParams(parameters: Map[String, String])
      : (String, StructType, Option[Int], Option[Int]) = {
    require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
      "graftlake streaming follows the log: time-travel pins cannot " +
        "stream (read the pinned version as a batch instead; " +
        "startingVersion tails from a version onward)")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlake needs a path: spark.readStream.format(\"graftlake\")" +
          ".load(path)"))
    require(VersionedLake.latestVersion(spark, path) > 0,
      s"graftlake stream needs an existing lake at $path — seed the " +
        "schema first (commitOverwrite(df.limit(0)))")
    val startAt = parameters.get("startingVersion").map(_.trim.toInt)
    startAt.foreach(v => require(v >= 1,
      s"startingVersion must be >= 1, got $v"))
    val schema = inferSchema(new CaseInsensitiveStringMap(
      scala.jdk.CollectionConverters.MapHasAsJava(
        Map("path" -> path)).asJava))
    (path, schema,
      parameters.get("maxFilesPerTrigger").map(_.trim.toInt), startAt)
  }

  /** The format-level STREAMING SINK
    * (`df.writeStream.format("graftlake")`) — the V1
    * StreamSinkProvider fallback, reducing every micro-batch to the
    * library's EXACTLY-ONCE txn append: `addBatch(batchId, data)` →
    * [[VersionedLake.commitBatchAppend]] with `txn = batchId`, so a
    * replayed batch after recovery dedups in the commit log itself —
    * the same guarantee the hand-written foreachBatch sinks
    * ([[graft.streaming.EventStreams.toVersionedLake]]) carry, now
    * spelled as a format string. Append output mode only (Update/
    * Complete would restate state, which is the keyed verbs' job);
    * hidden-partitioned lakes derive the partition through the
    * recorded spec, plain lakes take the `partitionColumn` option. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming
                            .OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode
        .Append(),
      s"graftlake streaming writes are APPEND-only (txn-deduped " +
        s"commits); got $outputMode — restate state through the " +
        "library's keyed verbs instead")
    require(partitionColumns.isEmpty,
      "graftlake takes its partition column from the " +
        "partitionColumn OPTION (or the lake's recorded hidden " +
        "spec), not partitionBy")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlake needs a path: df.writeStream.format(\"graftlake\")" +
          ".start(path)"))
    val partCol = parameters.get("partitionColumn")
    // txn identity must be scoped to the PIPELINE, not the bare
    // batchId (r15 self-review): batchIds restart at 0 with a fresh
    // checkpoint, and a second query into the same lake would silently
    // dedup its early batches against the first's txns. Delta scopes
    // by txnAppId; here the default scope is the checkpoint location —
    // the WAL that defines what "the same pipeline" means — hashed
    // into the txn's high bits (String.hashCode is stable across
    // JVMs). `txnAppId` overrides for callers who share progress
    // across checkpoints deliberately.
    val scopeKey = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graftlake streaming writes need a txn scope: set " +
          "checkpointLocation (the usual case) or an explicit " +
          "txnAppId option"))
    val scope = (scopeKey.hashCode.toLong & 0x7FFFFFFFL) << 32
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long,
                            data: org.apache.spark.sql.DataFrame)
          : Unit = {
        val txn = scope | (batchId & 0xFFFFFFFFL)
        val b = org.apache.spark.sql.graftglue.GraftGlue.batchFrame(data)
        partCol match {
          case Some(pc) =>
            VersionedLake.commitBatchAppend(b, pc, path, txn = txn)
          case None =>
            HiddenPartitioning.commitBatchAppend(b, path, txn = txn)
        }
        ()
      }
      override def toString: String = s"GraftLakeSink[$path]"
    }
  }

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    require(schema.isEmpty,
      "graftlake streams read the lake's RECORDED schema — drop the " +
        "user-specified schema")
    (shortName(), streamParams(parameters)._2)
  }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val (path, declared, maxFiles, startAt) = streamParams(parameters)
    new GraftLakeStreamSource(sqlContext.sparkSession, path, declared,
      maxFiles, startAt)
  }

  override def supportsExternalMetadata(): Boolean = false

  private def spark: SparkSession = SparkSession.active

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (path, pinned) = GraftLakeSource.resolve(spark, options)
    val v = pinned.getOrElse(VersionedLake.latestVersion(spark, path))
    val full = VersionedLake.readVersion(spark, path, v).schema
    // a HIDDEN-partitioned lake's internal column never surfaces
    // through the format: reads hide it (the HiddenPartitioning read
    // discipline), and hiding it from the WRITE schema is what lets a
    // plain `df.write` — with no derived column — pass Spark's
    // by-name write resolution so the sink can derive it instead
    if (HiddenPartitioning.declared(spark, path)) {
      val pc = HiddenPartitioning.spec(spark, path).partCol
      StructType(full.fields.filterNot(_.name == pc))
    } else full
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (path, pinned) = GraftLakeSource.resolve(spark, opts)
    new GraftLakeTable(path, pinned,
      Option(opts.get("partitionColumn")), schema)
  }
}

object GraftLakeSource {
  /** (lake path, EXPLICITLY pinned version): `versionAsOf` wins, then
    * `timestampAsOf` (the [[VersionedLake.versionAsOf]] rule); None
    * means "latest at scan time" — the un-pinned binding is resolved
    * per scan, never at table/view creation (r13 advice: an eager
    * resolve silently froze un-optioned temp views at creation-time
    * latest). */
  private[sources] def resolve(spark: SparkSession,
                               options: CaseInsensitiveStringMap)
      : (String, Option[Int]) = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graftlake needs a path: spark.read.format(\"graftlake\").load(path)"))
    val pinned = Option(options.get("versionAsOf")).map(_.trim.toInt)
      .orElse(Option(options.get("timestampAsOf"))
        .map(t => VersionedLake.versionAsOf(spark, path, t.trim.toLong)))
    (path, pinned)
  }

  /** Last scan's (live partitions, partitions read) — test/demo
    * introspection of the manifest prune (the plan itself hides it
    * behind the V1 relation). Planning metadata, never row data. */
  val lastScanParts: AtomicReference[Option[(Int, Int)]] =
    new AtomicReference(None)

  /** Boolean connectives over one translation target (a Column, or a
    * partition-value predicate). */
  private final case class Connectives[T](and: (T, T) => T,
                                          or: (T, T) => T, neg: T => T)

  private val columnOps = Connectives[Column](_ && _, _ || _, not)
  private val partOps = Connectives[String => Boolean](
    (a, b) => p => a(p) && b(p), (a, b) => p => a(p) || b(p),
    a => p => !a(p))

  /** THE weakening rule of every pushed-filter translation: a
    * translation must be IMPLIED BY the original filter (admit a
    * superset of its rows/partitions), so
    *  - AND may weaken — drop an untranslatable conjunct, one
    *    translated side still constrains soundly;
    *  - OR needs both branches (each possibly weakened: a weakened
    *    branch still makes the OR a superset) — a dropped branch would
    *    lose its rows (`month='a' OR month='b'` reads two partitions,
    *    r13 verdict #3; a branch that can't translate admits
    *    everything, so the whole OR does);
    *  - NOT negates only an EXACT subtree — `not(weakened)` would
    *    REJECT rows the original accepts (turn "admits extra" into
    *    "prunes extra": silent row loss).
    * `exact` forbids weakening anywhere in the subtree: the only form
    * safe to negate, and the only form safe to DELETE by. `leaf`
    * translates a leaf exactly or not at all. */
  private def translate[T](f: Filter, exact: Boolean, ops: Connectives[T],
                           leaf: Filter => Option[T]): Option[T] = {
    def go(f: Filter, exact: Boolean): Option[T] = f match {
      case And(l, r) =>
        (go(l, exact), go(r, exact)) match {
          case (Some(a), Some(b)) => Some(ops.and(a, b))
          case (one, other) if !exact => one.orElse(other)
          case _ => None
        }
      case Or(l, r) => for { a <- go(l, exact); b <- go(r, exact) }
        yield ops.or(a, b)
      case Not(c) => go(c, exact = true).map(ops.neg)
      case other => leaf(other)
    }
    go(f, exact)
  }

  /** The residual-safe subset of source filters translated to Column
    * predicates for the INNER scan (parquet row-group skipping);
    * untranslatable filters are simply skipped — Spark re-applies
    * every filter above the relation, so this is purely a pushdown
    * optimization, never a correctness dependency ([[translate]]'s
    * rule keeps it one). */
  private[sources] def toColumn(f: Filter): Option[Column] =
    translate(f, exact = false, columnOps, columnLeaf)

  /** Translation with NO weakening anywhere in the subtree — the only
    * form safe to DELETE by ([[GraftLakeTable.deleteWhere]]: a
    * weakened superset would delete rows the WHERE never named). */
  private[sources] def toColumnExact(f: Filter): Option[Column] =
    translate(f, exact = true, columnOps, columnLeaf)

  private def columnLeaf(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case AlwaysTrue() => Some(lit(true))   // truncateTable()'s shape
    case AlwaysFalse() => Some(lit(false))
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _ => None
  }

  /** Partition-value predicate from a pushed filter on the partition
    * column (manifest partition values order lexicographically for
    * the string columns pruning engages on). The returned predicate
    * answers "may this partition hold matching rows" — a SUPERSET of
    * the truth under [[translate]]'s rule; leaves on other columns
    * don't translate. */
  private[sources] def partPredicate(f: Filter, pc: String)
      : Option[String => Boolean] =
    translate(f, exact = false, partOps, partLeaf(_, pc))

  private def partLeaf(f: Filter, pc: String)
      : Option[String => Boolean] = f match {
    case EqualTo(a, v) if a == pc => Some(p => p == String.valueOf(v))
    case In(a, vs) if a == pc =>
      val set = vs.map(String.valueOf).toSet
      Some(set.contains)
    case GreaterThan(a, v) if a == pc => Some(_ > String.valueOf(v))
    case GreaterThanOrEqual(a, v) if a == pc => Some(_ >= String.valueOf(v))
    case LessThan(a, v) if a == pc => Some(_ < String.valueOf(v))
    case LessThanOrEqual(a, v) if a == pc => Some(_ <= String.valueOf(v))
    case _ => None
  }
}

private[sources] final class GraftLakeTable(path: String,
                                            pinned: Option[Int],
                                            partitionColumn: Option[String],
                                            tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String =
    s"graftlake.`$path`@${pinned.fold("latest")(v => s"v$v")}"

  override def schema(): StructType = tableSchema

  // BATCH_WRITE admits the table into DataFrameWriter's v2 write plan
  // (its capability gate checks BATCH_WRITE, not the V1 fallback);
  // V1_BATCH_WRITE + the V1Write returned by the builder then route
  // execution through InsertableRelation (the Kafka/Delta pattern);
  // TRUNCATE legalizes mode("overwrite")'s AlwaysTrue overwrite
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  // the un-pinned binding resolves LATEST here — once per scan, so a
  // cached temp view follows the log instead of freezing at creation
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val v = pinned.getOrElse(
      VersionedLake.latestVersion(SparkSession.active, path))
    new GraftLakeScanBuilder(path, v, partitionColumn, tableSchema)
  }

  /** SQL `DELETE FROM t WHERE p` ([[SupportsDelete]], r14 verdict #5)
    * — the one row-level SQL verb that IS a clean reduction to the
    * library's DV path ([[VersionedLake.commitDeleteWhere]], l23's
    * semantics): matching rows get deletion-vector rows, every data
    * file carries forward by pointer, pinned pre-delete readers are
    * untouched. The translated predicate must be EXACT
    * ([[GraftLakeSource.toColumnExact]] — a weakened superset would
    * delete rows the WHERE never named), declared via
    * [[canDeleteWhere]] so Spark fails untranslatable deletes loudly
    * instead of silently widening them. Filters on the declared
    * partition column also prune WHICH partitions are read and
    * re-minted (the same sound-superset predicate the scan uses), so
    * a partition-scoped delete costs ∝ its partitions.
    * UPDATE / MERGE INTO stay library verbs ([[VersionedLake
    * .commitMerge]]/[[VersionedLake.commitMergeDv]]): without
    * SupportsRowLevelOperations Spark refuses them loudly at analysis
    * — the documented posture (their keyed-delta semantics don't
    * reduce to a predicate). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftLakeSource.toColumnExact(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty,
      s"cannot delete through a time-travelled graftlake relation " +
        s"(${name()}) — history is immutable; drop " +
        "versionAsOf/timestampAsOf to delete at the head")
    val spark = SparkSession.active
    val hidden = HiddenPartitioning.declared(spark, path)
    val pc =
      if (hidden) HiddenPartitioning.spec(spark, path).partCol
      else partitionColumn.getOrElse(throw new IllegalArgumentException(
        "graftlake DELETE needs the partitionColumn option " +
          "(or a hidden-partitioning spec on the lake)"))
    val pred = filters.flatMap(GraftLakeSource.toColumnExact)
      .reduceOption(_ && _).getOrElse(lit(true))
    // one head resolve for prune + commit (the commit's OCC loop
    // still arbitrates any concurrent claim)
    val v = VersionedLake.latestVersion(spark, path)
    // partition prune from filters on the partition column — sound
    // superset, same discipline as the scan; stands down on hidden
    // lakes (manifest values are spec-derived there)
    val parts: Option[Set[String]] =
      if (hidden || !tableSchema.fields.exists(f =>
          f.name == pc && f.dataType == StringType)) None
      else {
        val preds = filters.flatMap(GraftLakeSource.partPredicate(_, pc))
        if (preds.isEmpty) None
        else Some(VersionedLake.manifestFiles(spark, path, v)
          .filter(_.kind == "data").map(_.part).distinct
          .filter(p => preds.forall(_(p))).toSet)
      }
    VersionedLake.commitDeleteWhere(spark, pred, pc, path, parts,
      fromVersion = Some(v))
    ()
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write through a time-travelled graftlake relation " +
        s"(${name()}) — history is immutable; drop " +
        "versionAsOf/timestampAsOf to write at the head")
    // a hidden-partitioned lake DERIVES the partition through its
    // recorded spec (no option needed — the whole point of hidden
    // partitioning); a plain lake requires the partitionColumn option
    val hidden =
      HiddenPartitioning.declared(SparkSession.active, path)
    val pc =
      if (hidden) None
      else Some(partitionColumn.getOrElse(
        throw new IllegalArgumentException(
          "graftlake write needs the partitionColumn option " +
            "(or a hidden-partitioning spec on the lake)")))
    new GraftLakeWriteBuilder(path, pc, info)
  }
}

/** The V1 write fallback (the same pattern Delta used pre-catalog):
  * `mode("append")` → [[VersionedLake.commitAppend]] (or
  * [[VersionedLake.commitBatchAppend]] when a `txn` option rides
  * along — the exactly-once foreachBatch sink THROUGH the format);
  * `mode("overwrite")` → Spark's OverwriteByExpression(AlwaysTrue)
  * lands on [[SupportsTruncate]] → [[VersionedLake.commitOverwrite]].
  * Every route is the library commit path — staging token, constraint
  * validation on staged bytes, OCC claim loop — so a format writer
  * and a concurrent library writer compose exactly like two library
  * writers. */
/** The V1 write fallback's builder. `partCol = Some(c)` appends/
  * overwrites on the caller-named partition column; `None` means the
  * lake is HIDDEN-partitioned and every route derives the value
  * through the recorded spec ([[HiddenPartitioning]]'s wrappers — so
  * the format writer gets the same governed layout as the library
  * sink, and the internal column never appears in the user's frame). */
private[sources] final class GraftLakeWriteBuilder(
    path: String, partCol: Option[String], info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val opts = info.options
          val statsCol = Option(opts.get("statsCol"))
          val commitTs = Option(opts.get("commitTs")).map(_.trim.toLong)
          val txn = Option(opts.get("txn")).map(_.trim.toLong)
          partCol.foreach(pc => require(data.columns.contains(pc),
            s"graftlake write needs partition column $pc in the data"))
          val doReplace = replace || overwrite
          txn.foreach(_ => require(!doReplace,
            "graftlake txn (exactly-once) writes support append only"))
          (partCol, txn) match {
            case (Some(pc), Some(t)) =>
              VersionedLake.commitBatchAppend(data, pc, path, t, commitTs)
            case (Some(pc), None) if doReplace =>
              VersionedLake.commitOverwrite(data, pc, path, statsCol,
                commitTs)
            case (Some(pc), None) =>
              VersionedLake.commitAppend(data, pc, path, statsCol,
                commitTs)
            case (None, Some(t)) =>
              HiddenPartitioning.commitBatchAppend(data, path, t, commitTs)
            case (None, None) if doReplace =>
              HiddenPartitioning.commitOverwrite(data, path, statsCol,
                commitTs)
            case (None, None) =>
              HiddenPartitioning.commitAppend(data, path, statsCol,
                commitTs)
          }
          () // commit version numbers surface via history(), not here
        }
      }
  }
}

private[sources] final class GraftLakeScanBuilder(
    path: String, version: Int, partitionColumn: Option[String],
    full: StructType)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // ALL residual: Spark re-applies row-exact semantics above
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftLakeScan(path, version, partitionColumn, full, required,
      pushed)
}

private[sources] final class GraftLakeScan(
    path: String, version: Int, partitionColumn: Option[String],
    full: StructType, required: StructType, filters: Array[Filter])
    extends V1Scan {

  override def readSchema(): StructType = required

  // manifest-side partition pruning: only for a STRING partition
  // column (values are the written column's string rendering), and
  // only when some pushed filter constrains it. NEVER on a
  // hidden-partitioned lake: its manifest values are spec-DERIVED
  // (month('1997-02-10') = '1997-02'), so pruning a source-column
  // filter against them would silently skip partitions whose rows
  // match — the library's transform-projected reads
  // ([[HiddenPartitioning.readBetween]]/[[HiddenPartitioning.readMatching]])
  // are the pruned path there. Computed once per scan — the
  // statistics estimate and the V1 relation share it.
  private lazy val prunedParts: Seq[String] = partitionColumn match {
    case Some(pc)
      if full.fields.exists(f =>
        f.name == pc && f.dataType == StringType) &&
        !HiddenPartitioning.declared(SparkSession.active, path) =>
      val preds = filters.flatMap(GraftLakeSource.partPredicate(_, pc))
      if (preds.isEmpty) { GraftLakeSource.lastScanParts.set(None); Seq.empty }
      else {
        val live = VersionedLake
          .manifestFiles(SparkSession.active, path, version)
          .filter(_.kind == "data").map(_.part).distinct
        val kept = live.filter(p => preds.forall(_(p)))
        GraftLakeSource.lastScanParts.set(Some((live.size, kept.size)))
        // an empty parts list means ALL to readVersion — a prune
        // that excluded everything passes a never-matching sentinel
        // instead, landing on readVersion's typed-empty path
        if (kept.isEmpty) Seq("\u0000graftlake-none") else kept
      }
    case _ => GraftLakeSource.lastScanParts.set(None); Seq.empty
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val spark = context.sparkSession
    val base =
      VersionedLake.readVersion(spark, path, version, prunedParts)
    val filtered = filters.flatMap(GraftLakeSource.toColumn)
      .foldLeft(base)(_.filter(_))
    val prepared =
      filtered.select(required.fieldNames.toIndexedSeq.map(col): _*)
    val rel = new BaseRelation with TableScan {
      override val sqlContext: SQLContext = context
      override val schema: StructType = required
      override def buildScan(): RDD[Row] = prepared.rdd
    }
    rel.asInstanceOf[T]
  }
}

