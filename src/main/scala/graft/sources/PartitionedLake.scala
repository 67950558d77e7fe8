package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Scratch

/** Month-partitioned parquet lake layout — the ingest organization for
  * the 100 TB fact table.
  *
  * The reference processes one month per run (PriceCatcher files are
  * monthly, reference: src/main.rs:219-233); the lake mirrors that:
  * `path/month=yyyy-MM/part-*.parquet`. A query filtering on `month`
  * never opens the other partitions' files (partition pruning — visible
  * as PartitionFilters in explain with partitionCount: 1), which is the
  * difference between scanning one month and scanning a decade.
  */
object PartitionedLake {

  /** Write `df` partitioned by the month of `tsCol`. */
  def writeByMonth(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("month", date_format(col(tsCol), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("month").parquet(path)

  /** Run `body` with dynamic partition overwrite, restoring the
    * previous mode after (static mode — the default — would drop every
    * partition not present in the written frame: the classic silent
    * data-loss trap). */
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T =
    Scratch.withConf(spark,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(body)

  /** Streaming-ingest upsert: write one micro-batch partitioned by
    * (month, ingest_batch). Dynamic overwrite replaces ONLY the
    * (month, batch) combinations present in THIS batch — so replaying
    * a batch after a failure rewrites exactly its own files
    * byte-for-byte (idempotent), while different batches landing in
    * the same month ACCUMULATE instead of clobbering each other (the
    * trap in a plain per-month overwrite). This is the standard
    * foreachBatch discipline that turns checkpointed at-least-once
    * delivery into effectively-once lake state on a non-transactional
    * store; readers still prune on `month`, and `ingest_batch` is
    * compacted away by the maintenance path. */
  def upsertBatch(df: DataFrame, tsCol: String, batchId: Long,
                  path: String): Unit =
    withDynamicOverwrite(df.sparkSession) {
      df.withColumn("month", date_format(col(tsCol), "yyyy-MM"))
        .withColumn("ingest_batch", lit(batchId))
        .write.mode("overwrite").partitionBy("month", "ingest_batch")
        .parquet(path)
    }

  /** Batch-keyed upsert for sources WITHOUT a time column (document
    * ingest): one micro-batch lands under `ingest_batch=<id>` and a
    * replayed batch rewrites exactly its own partition — the same
    * effectively-once discipline as [[upsertBatch]], minus the month
    * dimension. */
  def upsertBatchKeyed(df: DataFrame, batchId: Long, path: String): Unit =
    withDynamicOverwrite(df.sparkSession) {
      df.withColumn("ingest_batch", lit(batchId))
        .write.mode("overwrite").partitionBy("ingest_batch")
        .parquet(path)
    }

  /** Rewrite ONLY the `partCol` partitions present in `df` (dynamic
    * overwrite), leaving every other partition's files untouched — the
    * partition-pruned MERGE write for keyed-store maintenance
    * ([[graft.streaming.SnapshotCdc]]). The caller must materialize
    * `df` first if it was derived from the same path. */
  def overwriteBuckets(df: DataFrame, partCol: String,
                       path: String): Unit =
    withDynamicOverwrite(df.sparkSession) {
      df.write.mode("overwrite").partitionBy(partCol).parquet(path)
    }

  /** Data-file count per `partCol` partition — the small-file health
    * metric a compaction decision reads. Driver-side FS listing:
    * metadata-scale (one directory listing per partition value), never
    * row data; at lake scale this is the manifest read every table
    *-maintenance service performs. */
  def partitionFileCounts(spark: SparkSession, path: String,
                          partCol: String): Map[String, Int] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).iterator
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(partCol + "="))
      .map { dir =>
        val value = dir.getPath.getName.stripPrefix(partCol + "=")
        val n = fs.listStatus(dir.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        value -> n
      }.toMap
  }

  /** Whole-lake small-file compaction: rewrite every `partCol`
    * partition into ONE file each. Streaming ingest leaves a partition
    * holding as many files as micro-batches that touched it; every
    * later scan pays one task + one footer per file, so periodic
    * compaction is what keeps a 100 TB lake readable. One shuffle
    * clusters each partition's rows into a single task (hash
    * repartition on the partition column), the partitioned write then
    * emits exactly one file per value; rows never cross partition
    * values, so the rewrite is pure re-layout. Durability: the
    * compacted data is persisted to a sibling temp dir FIRST (outside
    * `path`: the swap overwrites `path`'s partition dirs while reading
    * the copy), because reading and overwriting the same files in one
    * job is unsafe — cached blocks can be evicted or lost mid-write,
    * and recomputation would read half-deleted source files. A partition
    * too large for one task takes a salt column next to `partCol` in
    * the repartition (the q26/q42 discipline) to land several files
    * instead of 1 — single-file is the fixture-scale shape. */
  def compactAll(spark: SparkSession, path: String, partCol: String): Unit = {
    val tmp = s"${path.stripSuffix("/")}__compact_tmp"
    spark.read.parquet(path)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    try
      withDynamicOverwrite(spark) {
        spark.read.parquet(tmp)
          .write.mode("overwrite").partitionBy(partCol).parquet(path)
      }
    finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}
