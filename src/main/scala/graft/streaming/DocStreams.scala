package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.functions.TextFunctions
import graft.operators.{Curate, TextDedup}
import graft.sources.PartitionedLake

/** Streaming document-ingest operators: the PRODUCTION per-ingest form
  * of the curation pipeline — each micro-batch of new documents is
  * tested against the already-curated corpus (never the corpus against
  * itself), survivors append to the corpus store, and the next batch
  * probes the grown corpus. Composes
  * [[graft.operators.Curate.incrementalIndexed]] (the cost-∝-delta
  * probe join) with the st09 lake-ingest replay discipline
  * ([[graft.sources.PartitionedLake.upsertBatchKeyed]]).
  *
  * Scale story (100 TB): alongside the corpus store the ingest
  * maintains a PROBE INDEX at `<corpus>/_probe_index` — one row per
  * kept doc: (doc_id, blk, h, stoks), where `h` is the 32-byte binary
  * [[graft.operators.TextDedup.digest]] and `stoks` the sorted token
  * set — written once at that doc's own ingest (cost ∝ batch) under
  * the same `ingest_batch=` partitioning. Each batch probes ONLY the
  * index: the exact probe scans stored 32-byte digests, the near probe
  * joins the delta's prefix tokens against the stored arrays — corpus
  * TEXT is never re-read, re-hashed, re-tokenized or re-sorted per
  * batch (r15 measured the per-batch index REBUILD as the one
  * corpus-proportional per-ingest cost left; guide §2.3/§8: decide
  * with small rows, move heavy bytes once). The corpus store itself is
  * append-only parquet that is never rewritten.
  *
  * Index format v2: `h` is BinaryType (v1 stored the 64-char hex
  * string), and every index partition carries the [[IndexMarker]]
  * file, written only after that partition's write has committed. Only
  * a MARKED partition counts as indexed: a torn partition (crash
  * between the corpus write and the index write, or mid index write)
  * and a v1 partition both count as missing.
  *
  * Replay safety: both stores key their partitions on `ingest_batch`,
  * and the probe filters to `ingest_batch < batchId` — a replayed
  * batch (restart from checkpoint, at-least-once delivery) never sees
  * its own previous write as a duplicate, recomputes the identical
  * verdicts, and dynamic partition overwrite rewrites exactly its own
  * files in BOTH stores — effectively-once corpus state. A corpus
  * batch with no marked index partition SELF-HEALS one last time: its
  * index rows derive from the corpus text, are written back under
  * their own `ingest_batch=` partition with the marker, and every
  * later batch reads them from the index. The rows are deterministic,
  * so a heal that is itself interrupted and replayed rewrites the same
  * rows. */
object DocStreams {

  /** The per-partition completion marker of index format v2 —
    * `_`-prefixed, so parquet reads of the index never see it. */
  private[graft] val IndexMarker = "_indexed_v2"

  private def probeIndexPath(corpusPath: String): String =
    s"${corpusPath.stripSuffix("/")}/_probe_index"

  private def batchDir(idxPath: String, b: Long): Path =
    new Path(idxPath, s"ingest_batch=$b")

  /** The probe-index row shape, (doc_id, blk, h, stoks): the 32-byte
    * exact-probe digest + the sorted-distinct token set (sorted so the
    * verify stage's merge-intersect count applies). */
  private def indexCols(idCol: String, textCol: String,
                        blockCol: String): Seq[Column] =
    Seq(col(idCol).as("doc_id"), col(blockCol).as("blk"),
      TextDedup.digest(col(textCol)).as("h"),
      sort_array(TextFunctions.tokenSet(col(textCol))).as("stoks"))

  /** The probe-index rows of a raw document frame — the one definition
    * the ingest and [[graft.ExplainProbe]] share. */
  private[graft] def indexRows(docs: DataFrame, idCol: String = "doc_id",
                               textCol: String = "text",
                               blockCol: String = "source"): DataFrame =
    docs.select(indexCols(idCol, textCol, blockCol): _*)

  /** Index partitions below `batchId` that carry the v2 marker. */
  private def markedBatches(fs: FileSystem, idxPath: String,
                            batchId: Long): Set[Long] =
    Option(fs.globStatus(new Path(idxPath, s"ingest_batch=*/$IndexMarker")))
      .fold(Set.empty[Long])(_.iterator
        .map(_.getPath.getParent.getName.stripPrefix("ingest_batch=").toLong)
        .filter(_ < batchId).toSet)

  /** Mark the index partitions of `batches` whose write has committed
    * (a batch that kept no document has no partition to mark); returns
    * the batches marked. */
  private def mark(fs: FileSystem, idxPath: String,
                   batches: Set[Long]): Set[Long] =
    batches.filter { b =>
      val dir = batchDir(idxPath, b)
      fs.exists(dir) && {
        fs.create(new Path(dir, IndexMarker), true).close()
        true
      }
    }

  /** One micro-batch of the incremental-dedup ingest (public so the
    * replay-idempotence property is directly testable, mirroring
    * `PartitionedLake.upsertBatch`'s spec): admit `delta` against the
    * corpus batches BEFORE `batchId`, append only the kept documents —
    * and their probe-index rows — under `ingest_batch=<batchId>`. */
  def ingestBatch(delta: DataFrame, batchId: Long, corpusPath: String,
                  idCol: String = "doc_id", textCol: String = "text",
                  blockCol: String = "source",
                  threshold: Double = 0.5): Unit = {
    val spark = delta.sparkSession
    val idxPath = probeIndexPath(corpusPath)
    val fs = new Path(idxPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // earlier corpus batches, listed through Hadoop FileSystem (a
    // `file:` URI lists like a bare path)
    val corpusBatches = PartitionedLake
      .partitionFileCounts(spark, corpusPath, "ingest_batch")
      .keySet.map(_.toLong).filter(_ < batchId)
    val marked = markedBatches(fs, idxPath, batchId)
    val missing = corpusBatches -- marked
    // heal once: derive the missing batches' rows from corpus text,
    // write them back under their own partitions (dynamic overwrite
    // replaces a torn or v1 partition whole), then mark them
    val healed =
      if (missing.isEmpty) Set.empty[Long]
      else {
        PartitionedLake.overwriteBuckets(
          spark.read.parquet(corpusPath)
            .filter(col("ingest_batch").isin(missing.toSeq: _*))
            .select(indexCols(idCol, textCol, blockCol) :+
              col("ingest_batch"): _*),
          "ingest_batch", idxPath)
        mark(fs, idxPath, missing)
      }
    // the probe reads marked partitions only, each by its own
    // directory, so no v1 or torn file is ever listed or inferred from
    val indexed = (marked ++ healed).toSeq.sorted
    val index =
      if (indexed.isEmpty) indexRows(delta.limit(0), idCol, textCol,
        blockCol) // no prior batch: empty index, right schema
      else spark.read.parquet(indexed.map(batchDir(idxPath, _).toString): _*)
        .select("doc_id", "blk", "h", "stoks")
    // the delta's index rows are read by both probes, the verdict join
    // and the index append — one tokenize/hash pass, checkpointed
    // (released at scope exit; the Checkpoints discipline)
    Checkpoints.withLocal(indexRows(delta, idCol, textCol, blockCol)) {
      dp =>
        // kept ids materialize BEFORE either store write: the verdict
        // lineage reads the index store the second write overwrites
        Checkpoints.withLocal(
          Curate.incrementalIndexed(dp, index, threshold)
            .filter(col("kept")).select(col("doc_id"))) { keptIds =>
          val kept = delta.join(keptIds.select(col("doc_id").as(idCol)),
            Seq(idCol), "left_semi")
          PartitionedLake.upsertBatchKeyed(kept, batchId, corpusPath)
          PartitionedLake.upsertBatchKeyed(
            dp.join(keptIds, Seq("doc_id"), "left_semi"), batchId, idxPath)
          mark(fs, idxPath, Set(batchId))
        }
    }
  }

  /** Streaming incremental dedup ingest: per micro-batch, admit the
    * delta against the corpus at `corpusPath` (exact digest probe +
    * cross-set prefix-filter Jaccard, both against the maintained
    * probe index), append only the kept documents under
    * `ingest_batch=<id>`. Returns the DataStreamWriter; the caller
    * picks trigger/checkpoint. */
  def incrementalDedupIngest(docs: DataFrame, corpusPath: String,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             blockCol: String = "source",
                             threshold: Double = 0.5)
      : DataStreamWriter[Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, corpusPath,
          idCol, textCol, blockCol, threshold)
    }
}
