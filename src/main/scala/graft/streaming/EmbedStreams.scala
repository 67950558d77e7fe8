package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.Similarity
import graft.sources.PartitionedLake

/** Streaming embedding-ingest dedup: the PERSISTED-LSH-INDEX form of
  * [[graft.operators.Similarity.nearDupPairs]] — the embedding-modality
  * analog of [[DocStreams]]' text ingest. The lake keeps two stores
  * under `indexPath`:
  *
  *   bands/ — the sign-LSH band table (id, table, bucket), appended
  *            per ingest batch: each vector is bucketed ONCE, EVER
  *            (a full rebuild re-buckets the corpus per run)
  *   vecs/  — the raw vectors, for the exact-verify stage
  *
  * Each micro-batch probes ONLY its delta against the stored bands
  * (plus intra-delta), exact-verifies candidates, and appends its own
  * band/vector rows — cost ∝ delta × bucket occupancy, never corpus².
  * Because the hyperplane tables are seeded pure functions, the pairs
  * accumulated over any replay order equal a full
  * `nearDupPairs(everything)` — d14 gates that equivalence in batch
  * form; StreamingSpec drives the replay semantics.
  *
  * Replay safety (the [[DocStreams.ingestBatch]] discipline): every
  * probe filters the stores to `ingest_batch < batchId`, so a replayed
  * batch never collides with its own previous write; all three writes
  * are dynamic-partition overwrites of exactly the batch's own
  * partition — effectively-once state.
  */
object EmbedStreams {

  /** Whether `path` holds `ingest_batch=` partitions, listed through
    * Hadoop FileSystem (a `file:` URI lists like a bare path). */
  private def hasBatches(spark: SparkSession, path: String): Boolean =
    PartitionedLake.partitionFileCounts(spark, path, "ingest_batch").nonEmpty

  private def storeOrEmpty(spark: SparkSession, path: String,
                           empty: => DataFrame): DataFrame =
    if (hasBatches(spark, path)) spark.read.parquet(path)
    else empty.withColumn("ingest_batch", lit(-1L))

  /** One micro-batch: probe `delta` against the index accumulated by
    * batches BEFORE `batchId`, write the found near-dup pairs under
    * `pairs/ingest_batch=<batchId>`, and append the delta's band and
    * vector rows to the index. Public so replay idempotence is
    * directly testable. */
  def ingestBatch(delta: DataFrame, batchId: Long, indexPath: String,
                  tables: Seq[Array[Array[Float]]], threshold: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): Unit = {
    val s = delta.sparkSession
    val d = delta.select(col(idCol), col(vecCol))
    val baseBands = storeOrEmpty(s, s"$indexPath/bands",
        Similarity.bandTable(d.limit(0), tables, idCol, vecCol))
      .filter(col("ingest_batch") < batchId)
    val baseVecs = storeOrEmpty(s, s"$indexPath/vecs", d.limit(0))
      .filter(col("ingest_batch") < batchId)
      .select(col(idCol), col(vecCol))
    val pairs = Similarity.probeNearDupDelta(d, baseBands, baseVecs,
      threshold, tables, idCol, vecCol)
    PartitionedLake.upsertBatchKeyed(pairs, batchId, s"$indexPath/pairs")
    PartitionedLake.upsertBatchKeyed(
      Similarity.bandTable(d, tables, idCol, vecCol), batchId,
      s"$indexPath/bands")
    PartitionedLake.upsertBatchKeyed(d, batchId, s"$indexPath/vecs")
  }

  /** TAKEDOWN: purge a set of vector ids from every index store —
    * the right-to-be-forgotten / licensing-retraction path a training
    * pipeline must support: when content is withdrawn, its vectors,
    * its band rows, AND every near-dup pair that references it must
    * physically leave the lake (a pair row is evidence the withdrawn
    * content existed). Afterward the index is indistinguishable from
    * one built without those ids (d15 computes that equivalence).
    *
    * Scale shape: the takedown list broadcasts; only partitions that
    * actually CONTAIN a retracted id are rewritten (dynamic-partition
    * overwrite over the touched `ingest_batch` values — a takedown of
    * 0.01% of ids rewrites ~the batches they landed in, not the
    * index); a partition whose every row is retracted is physically
    * removed (dynamic overwrite can't write an empty partition, and a
    * takedown is a physical delete by definition). Rewritten frames
    * are materialized BEFORE the overwrite (the
    * [[PartitionedLake.overwriteBuckets]] read-then-overwrite rule).
    */
  def retractIds(ids: DataFrame, indexPath: String,
                 idCol: String = "vec_id"): Unit = {
    val s = ids.sparkSession
    val rid = ids.select(col(ids.columns(0)).cast("long").as("__r"))
      .distinct()
    def purge(store: String, keyCols: Seq[String]): Unit = {
      val path = s"$indexPath/$store"
      if (hasBatches(s, path)) {
        val df = s.read.parquet(path)
        val marked = keyCols.foldLeft(df.withColumn("__hit", lit(false))) {
          (acc, k) =>
            acc.join(broadcast(rid), acc(k) === col("__r"), "left")
              .withColumn("__hit", col("__hit") || col("__r").isNotNull)
              .drop("__r")
        }
        Checkpoints.withLocal(marked.filter(col("__hit"))
            .select(col("ingest_batch").cast("long").as("ingest_batch"))
            .distinct()) { touched =>
          if (touched.limit(1).count() > 0)
            Checkpoints.withLocal(marked
                .join(broadcast(touched), Seq("ingest_batch"), "left_semi")
                .filter(!col("__hit")).drop("__hit")) { kept =>
              PartitionedLake.overwriteBuckets(kept, "ingest_batch", path)
              // fully-emptied partitions: nothing remains to dynamic-
              // overwrite them with — remove the partition dirs outright
              val emptied = touched.join(
                  kept.select(col("ingest_batch").cast("long")
                    .as("ingest_batch")).distinct(),
                  Seq("ingest_batch"), "left_anti")
                .collect().map(_.getLong(0)) // takedown-list-sized
              val root = new org.apache.hadoop.fs.Path(path)
              val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
              emptied.foreach(b => fs.delete(
                new org.apache.hadoop.fs.Path(root, s"ingest_batch=$b"), true))
            }
        }
      }
    }
    purge("bands", Seq("id"))
    purge("vecs", Seq(idCol))
    purge("pairs", Seq("id_a", "id_b"))
  }

  /** Streaming form: per micro-batch of new vectors, maintain the
    * persisted LSH index and emit the batch's near-dup pairs. The
    * caller picks trigger/checkpoint. */
  def incrementalEmbedDedup(vectors: DataFrame, indexPath: String,
                            tables: Seq[Array[Array[Float]]],
                            threshold: Double)
      : DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), batchId, indexPath, tables, threshold)
    }

  /** Streaming IVFADC codes MAINTENANCE (st21): each micro-batch of
    * new vectors is assigned + PQ-encoded against the FROZEN index
    * ([[graft.operators.Similarity.encodeIvfAdc]] — the coarse
    * centroids and codebook were trained once per index version, never
    * per batch) and its code rows land as an exactly-once txn-deduped
    * APPEND commit on a [[graft.sources.VersionedLake]] codes table,
    * partitioned by CELL — the IVF-natural layout: a later probe reads
    * only its probed cells' partitions through the manifest. Composes
    * the round's two families: the s18 persisted index gains a
    * streaming ingest path whose cost is ∝ delta (one broadcast-
    * centroid argmin + one broadcast-codebook argmin per vector), and
    * the commit log gives replay idempotence + a readable snapshot per
    * batch. Because the encode is per-row independent, the accumulated
    * codes table is computed-equal to a one-shot encode of everything
    * ingested — the s20 contract. */
  def ivfAdcCodesIngest(vectors: DataFrame,
                        index: Similarity.IvfAdcIndex,
                        codesLakePath: String): DataStreamWriter[Row] =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[Row], batchId: Long) =>
        graft.sources.VersionedLake.commitBatchAppend(
          Similarity.encodeIvfAdc(batch.toDF(), index),
          "cell", codesLakePath, txn = batchId)
        ()
    }
}
