package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.DocStreams

/** Plan inspector for the st11 per-batch probe (which lives inside a
  * foreachBatch drive, so [[Explain]] can't reach it): prints the
  * legacy probe plan (corpus re-read from TEXT per batch —
  * Curate.incremental) and the r16 store-backed plan
  * (Curate.incrementalIndexed over the maintained `_probe_index`
  * parquet — ReadSchema shows hashes + token arrays only, no text,
  * no per-batch tokenize/df/sort of the corpus).
  * Usage: ExplainProbe [sfDir] */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "source")
    val delta = docs.filter(col("doc_id") % 100 >= 80)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val corpus = docs.filter(col("doc_id") % 100 < 80)

    println("===== st11 per-batch probe, LEGACY form (corpus text " +
      "re-read, re-hashed, re-tokenized, re-sorted per batch) =====")
    graft.operators.Curate.incremental(delta, corpus,
      "doc_id", "text", "source", 0.5).explain("formatted")

    // the store-backed form: stage the probe index with the row builder
    // DocStreams.ingestBatch maintains it with, then explain a probe
    val idx = Scratch.path("probe_index_explain", sfDir)
    graft.sources.PartitionedLake.upsertBatchKeyed(
      DocStreams.indexRows(corpus), 0L, idx)
    println("\n===== st11 per-batch probe, INDEXED form (r16: stored " +
      "(doc_id, blk, h, stoks) rows only — no text in any ReadSchema, h a " +
      "32-byte binary digest) =====")
    graft.operators.Curate.incrementalIndexed(DocStreams.indexRows(delta),
      spark.read.parquet(idx).select("doc_id", "blk", "h", "stoks"),
      0.5).explain("formatted")
    spark.stop()
  }
}
