package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface: Column ⇄ Expression
  * conversion moved behind Spark 4's connect/classic split. This is the
  * standard extension-library pattern (a glue file inside the
  * spark.sql package tree; the parquet footer read has its own,
  * `execution.datasources.parquet.GraftFooterGlue`); everything else in
  * this repo lives in `graft.*` and uses only public API.
  */
object GraftGlue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-wrap a batch frame's physical plan as a STREAMING frame
    * (`isStreaming = true`) — the V1 streaming-source contract:
    * `Source.getBatch` must return a streaming Dataset or the
    * engine's assertion trips. The RDD is the batch plan's own
    * `toRdd` (lazy — no job runs here); only the logical flag
    * changes. `internalCreateDataFrame` is the same `private[sql]`
    * entry the built-in V1 sources use. */
  def streamingFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse of [[streamingFrame]] for a V1 `Sink.addBatch`
    * frame: re-wrap the already-planned incremental execution's RDD
    * as a BATCH frame (the ForeachBatchSink pattern) — running
    * actions directly on the streaming-planned Dataset would re-plan
    * it outside the engine's incremental execution. */
  def batchFrame(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Unload every cached state-store provider on this executor. Each
    * stopped streaming query leaves its providers (and their in-memory
    * state maps) loaded until a maintenance cycle notices; a bench
    * harness that drives many queries back to back accumulates them and
    * the heap pressure inflates later runs (measured: the stream-stream
    * join 3× slower at the end of the full suite than in a quiet JVM).
    * Safe to call between queries: the next run reloads from its
    * checkpoint as usual. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}
