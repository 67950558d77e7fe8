package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Executor-side fold of k·n hash positions into an m-bit filter's
  * Long-word array — the build aggregate of [[BloomIndex.ensure]].
  * One O(1) bit-set per position, O(words) merge; the buffer is
  * filter-sized (mBits/8 bytes) regardless of row count, so the
  * groupBy is map-side combined and the DRIVER never sees a bitmap
  * (they flow straight into the distributed sidecar write). */
final class BloomBits(words: Int)
    extends Aggregator[Int, Array[Long], Seq[Long]] {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(b: Array[Long], p: Int): Array[Long] = {
    b(p >>> 6) |= (1L << (p & 63)); b
  }
  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < words) { x(i) |= y(i); i += 1 }
    x
  }
  override def finish(b: Array[Long]): Seq[Long] = b.toSeq
  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    ExpressionEncoder[Seq[Long]]()
}

/** Persistent BLOOM-FILTER file-skipping index over a [[VersionedLake]]
  * — Delta's bloom filter index (`CREATE BLOOMFILTER INDEX`). Zone-map
  * stats (lo/hi, l08/l12) prune RANGE predicates on a clustered
  * column; they are useless for point lookups on an UNCORRELATED
  * column — a `user_id IN (...)` probe against a month-partitioned,
  * orderkey-clustered table opens every file, and at 100 TB that IS
  * the query cost. A per-file Bloom filter answers "might this file
  * contain this value" in metadata: the lookup reads only files whose
  * filter matches (plus any not-yet-indexed files — NEVER a false
  * negative; false positives only cost a wasted scan).
  *
  * Design points, each load-bearing at scale:
  *  - Filters attach to immutable FILES, not versions: a file's bloom
  *    never changes, so [[ensure]] is incremental — it indexes only
  *    files no sidecar covers yet (cost ∝ new files since last
  *    ensure), and carried-forward files reuse their rows across
  *    every version. Idempotent; crash-safe (a re-run re-indexes at
  *    worst, set semantics absorb duplicates).
  *  - Sidecars are parquet under `_log/bloom-*.bfi` (file-count-sized
  *    metadata, like every table format's index), NOT manifest lines:
  *    a scaled filter is KBs per file, which would bloat a text
  *    manifest past usefulness.
  *  - Both the BUILD and the PROBE compute positions through the SAME
  *    engine expression (`xxhash64(value, i) mod m`) — the
  *    [[HiddenPartitioning]] rule: never a driver-side hash
  *    reimplementation that could drift from the executors'.
  *  - The driver NEVER holds a bitmap, on either side. The build
  *    folds positions into the Long-word array executor-side (a typed
  *    [[BloomBits]] Aggregator) and writes sidecars with an ordinary
  *    distributed parquet write — a backfill over a million-file lake
  *    stays a shuffle of index-sized rows, not a driver collect.
  *    Survival is computed IN SPARK (index rows broadcast-joined
  *    against the probe keys): the driver sees only file LISTS
  *    (file-count-sized planning metadata, the manifest discipline).
  *  - Sidecar rows key on the MANIFEST's rel form: the build recovers
  *    it by joining `_metadata.file_path`'s URI-escaped suffix against
  *    the commit's rels mapped through the same Hadoop-Path URI
  *    quoting ([[encodedRel]]), so Hive-escaped partition values
  *    (`%3A` → `%253A` in file_path) can never strand a file as
  *    permanently un-indexed. Zero-row files get an explicit all-zero
  *    filter row (nothing can match one — skipping is exact), so one
  *    [[ensure]] covers every file exactly once.
  *
  * RENAME-proof (r13 verdict #5): [[define]] records the indexed
  * column's STABLE id (the l24 `gid` carried in the recorded schema's
  * field metadata) next to its name, every use resolves the CURRENT
  * logical name by id, and the build reads files through the
  * column-mapped read ([[VersionedLake.mappedFilesWithMeta]]) rather
  * than raw physical names — so `commitRenameColumn` on the indexed
  * column changes nothing: old sidecars stay valid (filters hash
  * VALUES, not names), new files keep indexing, and lookups under the
  * new name stay index-served. A cfg defined before the lake's first
  * commit has no id to record and keeps the name-bound legacy
  * behavior (documented: define after the first commit to get rename
  * immunity).
  *
  * Honest edge: deletion-vectored rows stay in their file's filter
  * DELIBERATELY — the filter attaches to the immutable FILE and
  * serves every version, while DVs are per-version; excluding a
  * currently-dead row would plant a false negative for versions
  * where it is live. Cost: false positives only (the DV fold in
  * [[VersionedLake.readFiles]] still removes the rows).
  */
object BloomIndex {

  /** One filter config per lake: indexed column, filter size in bits
    * (power-of-two not required), hash count, and (when the lake had
    * a recorded schema at define time) the column's stable id. Size m
    * for the expected max DISTINCT values per FILE:
    * fpp ≈ (1 - e^(-k·n/m))^k. */
  final case class Cfg(col: String, mBits: Int = 32768, k: Int = 3,
                       gid: Option[Long] = None) {
    require(mBits % 64 == 0 && mBits > 0, "mBits must be a multiple of 64")
    require(k >= 1 && k <= 8, "k in [1, 8]")
  }

  private def cfgPath(path: String) =
    new Path(s"${path.stripSuffix("/")}/_log/_bloomcfg")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Declare the lake's bloom index (one-time, any point in the
    * lake's life — [[ensure]] backfills existing files). On a lake
    * with a recorded schema the indexed column's stable id is
    * captured, making the index survive renames. */
  def define(spark: SparkSession, path: String, cfg: Cfg): Unit = {
    val f = fs(spark, path)
    require(!f.exists(cfgPath(path)), s"bloom index already defined at $path")
    val gid = cfg.gid.orElse {
      val v = VersionedLake.latestVersion(spark, path)
      if (v == 0) None
      else VersionedLake.readSchema(spark, path, v)
        .flatMap(_.fields.find(_.name == cfg.col))
        .filter(_.metadata.contains("gid"))
        .map(_.metadata.getLong("gid"))
    }
    f.mkdirs(cfgPath(path).getParent)
    val out = f.create(cfgPath(path), false)
    try out.write(
      (s"${cfg.col}\t${cfg.mBits}\t${cfg.k}" +
        gid.fold("")(g => s"\t$g") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The recorded config (loud on an undeclared lake). */
  def cfg(spark: SparkSession, path: String): Cfg = {
    val f = fs(spark, path)
    require(f.exists(cfgPath(path)), s"no bloom index defined at $path")
    val in = f.open(cfgPath(path))
    val line =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    line.split('\t') match {
      case Array(c, m, k) => Cfg(c, m.toInt, k.toInt)
      case Array(c, m, k, g) => Cfg(c, m.toInt, k.toInt, Some(g.toLong))
      case _ => throw new IllegalStateException(
        s"malformed bloom cfg at $path: $line")
    }
  }

  /** The indexed column's CURRENT logical name at version `v`:
    * resolved by stable id when the cfg recorded one (rename-proof),
    * by the defined name otherwise. */
  private def resolveCol(spark: SparkSession, path: String, v: Int,
                         c: Cfg): String =
    c.gid.flatMap { g =>
      VersionedLake.readSchema(spark, path, v)
        .flatMap(_.fields.find(f =>
          f.metadata.contains("gid") && f.metadata.getLong("gid") == g)
          .map(_.name))
    }.getOrElse(c.col)

  /** The engine-side position family both build and probe evaluate:
    * k positions of `c` in an m-bit filter. */
  private def posArray(c: Column, m: Int, k: Int): Column =
    array((0 until k).map(i =>
      pmod(xxhash64(c, lit(i)), lit(m.toLong)).cast("int")): _*)

  private def sidecarDirs(spark: SparkSession, path: String): Seq[String] = {
    val log = new Path(s"${path.stripSuffix("/")}/_log")
    val f = fs(spark, path)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bloom-")
        && st.getPath.getName.endsWith(".bfi"))
      .map(_.getPath.toString).toSeq.sorted
  }

  /** All index rows on disk: (rel, bits array<long>). */
  private def indexRows(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val dirs = sidecarDirs(spark, path)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*)
      // duplicate rows from a crashed/re-run ensure are harmless —
      // identical content, keep one
      .groupBy(col("rel")).agg(first(col("bits")).as("bits")))
  }

  /** The rels already covered by a sidecar. Reads ONLY the rel
    * column (parquet-pruned — the bits payload never loads or
    * shuffles for a coverage check). */
  def indexedRels(spark: SparkSession, path: String): Set[String] = {
    val dirs = sidecarDirs(spark, path)
    if (dirs.isEmpty) Set.empty
    else spark.read.parquet(dirs: _*).select(col("rel")).distinct()
      .collect().map(_.getString(0)).toSet
  } // file-count-sized planning metadata

  private val RelSuffix = "^.*/(data/[^/]+/[^/]+/[^/]+)$".r

  /** The form [[VersionedLake.relExpr]] recovers from
    * `_metadata.file_path` for a manifest rel: `file_path` is the
    * listing Path's URI string, which percent-quotes characters a
    * Hive-escaped partition dir holds literally on disk (`%3A` →
    * `%253A`, spaces → `%20`). Mapping the rel through the SAME
    * Hadoop-Path URI quoting driver-side gives the exact join key the
    * executors will produce — never a hand-rolled decoder that could
    * drift from it (the enrichStats pitfall, r10). */
  private def encodedRel(base: String, rel: String): String =
    new Path(VersionedLake.resolve(base, rel)).toUri.toString match {
      case RelSuffix(s) => s
      case other =>
        throw new IllegalStateException(s"un-splittable lake path $other")
    }

  /** Index every data file of version `v` no sidecar covers yet —
    * incremental by construction (filters attach to immutable files).
    * The whole build is distributed: positions fold into filter words
    * executor-side ([[BloomBits]]) and the sidecar is a distributed
    * parquet write; the driver handles only rel lists. Returns the
    * newly covered rels (every todo file, including zero-row ones —
    * they get the all-zero filter). */
  def ensure(spark: SparkSession, path: String, v: Int): Seq[String] = {
    val c = cfg(spark, path)
    val base = path.stripSuffix("/")
    val live = VersionedLake.manifestFiles(spark, path, v)
      .filter(_.kind == "data").map(_.rel).distinct
    val todo = {
      val have = indexedRels(spark, path)
      live.filterNot(have)
    }
    if (todo.isEmpty) return Seq.empty
    val words = c.mBits / 64
    import spark.implicits._
    val relMap = todo.map(r => (encodedRel(base, r), r)).toDF("enc", "rel")
    // one distributed pass over the new files: k positions per value,
    // OR-folded per file into the filter's Long words (buffer bounded
    // by the filter size, never the row count). The read is the
    // COLUMN-MAPPED, un-DV-folded file read: columns resolve by
    // stable id (the build survives renames) and every physical row
    // enters its file's filter (DVs are per-version; the filter
    // serves all of them)
    val bits = VersionedLake.mappedFilesWithMeta(spark, path, v,
        todo.toSet)
      .select(col("__file").as("enc"),
        explode(posArray(col(resolveCol(spark, path, v, c)),
          c.mBits, c.k)).as("pos"))
      .groupBy(col("enc"))
      .agg(udaf(new BloomBits(words)).apply(col("pos")).as("bits"))
    // enc → manifest rel; a suffix the map can't place would mean the
    // quoting prediction diverged — fail LOUDLY (a silently dropped
    // row here would freeze a file behind an all-zero filter = row
    // loss on every future lookup)
    val mapped = bits.join(broadcast(relMap), Seq("enc"), "left")
      .select(
        when(col("rel").isNull, raise_error(concat(
          lit("bloom ensure: file_path suffix matched no manifest rel: "),
          col("enc"))))
          .otherwise(col("rel")).as("rel"),
        col("bits"))
    // zero-row files emit no positions: cover them with an explicit
    // all-zero filter so ONE ensure indexes every file exactly once
    val empties = relMap
      .join(bits.select(col("enc")), Seq("enc"), "left_anti")
      .select(col("rel"), typedLit(Seq.fill(words)(0L)).as("bits"))
    mapped.unionByName(empties).write
      .parquet(s"$base/_log/bloom-${VersionedLake.uniq()}.bfi")
    todo
  }

  /** (files to read, indexed-file count, skipped-file count) for a
    * point-lookup over `keys` at version `v`: indexed files survive
    * iff SOME key's every position is set; un-indexed files always
    * read (no false negatives, ever). Survival computes in Spark —
    * the driver sees only the surviving list. */
  def prunedRels(spark: SparkSession, path: String, v: Int,
                 keys: DataFrame): (Set[String], Int, Int) = {
    val c = cfg(spark, path)
    val live = VersionedLake.manifestFiles(spark, path, v)
      .filter(_.kind == "data").map(_.rel).toSet
    indexRows(spark, path) match {
      case None => (live, 0, 0)
      case Some(idx) =>
        // membership via a broadcast rels frame, not an isin literal:
        // a million-file lake would otherwise hand Catalyst a
        // million-element expression tree to build per probe
        import spark.implicits._
        val liveIdx = idx.join(
          broadcast(live.toSeq.toDF("rel")), Seq("rel"), "left_semi")
        // the caller's keys carry the CURRENT logical name (resolved
        // by stable id, so a renamed index column keeps probing)
        val probes = keys
          .select(col(resolveCol(spark, path, v, c)).as("__k")).distinct()
          .withColumn("__pos", posArray(col("__k"), c.mBits, c.k))
        val survivors = liveIdx.join(broadcast(probes))
          .filter(expr(
            "forall(__pos, p -> shiftrightunsigned(" +
              "element_at(bits, int(p div 64) + 1), int(p % 64)) % 2 = 1)"))
          .select(col("rel")).distinct()
          .collect().map(_.getString(0)).toSet // matching-files-sized
        val indexed = liveIdx.select(col("rel"))
          .collect().map(_.getString(0)).toSet
        val toRead = survivors ++ (live -- indexed)
        (toRead, indexed.size, (indexed -- survivors).size)
    }
  }

  /** Point-lookup read: bloom-prune the file list, then the exact
    * predicate (a false positive dies in the semi-join; a wrongly
    * skipped file would LOSE rows and fail any equality gate). */
  def lookup(spark: SparkSession, path: String, keys: DataFrame,
             version: Option[Int] = None): DataFrame = {
    val v = version.getOrElse(VersionedLake.latestVersion(spark, path))
    lookup(spark, path, keys, v, prunedRels(spark, path, v, keys)._1)
  }

  /** [[lookup]] over a file set the caller already pruned with
    * [[prunedRels]] (a caller that also reports the prune's counts
    * runs it once): the exact semi-join on the indexed column's
    * current name at `v`, resolved by stable id. */
  def lookup(spark: SparkSession, path: String, keys: DataFrame, v: Int,
             toRead: Set[String]): DataFrame = {
    val cur = resolveCol(spark, path, v, cfg(spark, path))
    VersionedLake.readFiles(spark, path, v, toRead)
      .join(broadcast(keys.select(col(cur)).distinct()),
        Seq(cur), "left_semi")
  }

  /** Fold all sidecars into one, dropping rows for files no retained
    * manifest references — the index's vacuum (run it after
    * [[VersionedLake.vacuum]], and after an OPTIMIZE's [[ensure]] to
    * retire the rewritten-away files' rows). Distributed end-to-end:
    * the fold is a semi-join against a broadcast live-rels frame and
    * the merged sidecar is a distributed write — no bitmap ever
    * reaches the driver. Returns the kept-row count (read back from
    * the written sidecar: the count of what's actually on disk). */
  def compact(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    val dirs = sidecarDirs(spark, path)
    if (dirs.isEmpty) return 0
    val base = path.stripSuffix("/")
    val live = VersionedLake.versions(spark, path).flatMap(v =>
      VersionedLake.manifestFiles(spark, path, v)
        .filter(_.kind == "data").map(_.rel)).distinct
    if (live.isEmpty) { // nothing referenced: drop the whole index
      dirs.foreach(d => f.delete(new Path(d), true))
      return 0
    }
    import spark.implicits._
    val merged = s"$base/_log/bloom-${VersionedLake.uniq()}.bfi"
    indexRows(spark, path).get
      .join(broadcast(live.toDF("rel")), Seq("rel"), "left_semi")
      .write.parquet(merged)
    // an all-dead index can write a part-file-less dir, which a later
    // read can't infer a schema from — drop it and leave no index
    val kept =
      if (!f.listStatus(new Path(merged))
        .exists(_.getPath.getName.endsWith(".parquet"))) {
        f.delete(new Path(merged), true); 0
      } else spark.read.parquet(merged).count().toInt
    dirs.foreach(d => f.delete(new Path(d), true))
    kept
  }
}
