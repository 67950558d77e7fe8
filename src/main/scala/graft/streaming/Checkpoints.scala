package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Scoped eager localCheckpoint with an EXPLICIT release — for the
  * read-then-overwrite micro-batch shape (materialize the new state
  * BEFORE truncating the store it was computed from). A bare
  * `localCheckpoint(true)` leaves its block-manager copy behind until
  * the RDD is GC'd; per-batch in a long-running stream those copies
  * accumulate and squeeze every other query in the JVM (the effect
  * [[graft.operators.Graph]] measured at 4× on later queries and
  * solves round-by-round with checkpoint swapping; r15 self-review
  * extended the discipline to the streaming sinks). The release is
  * PRECISE: it unpersists exactly the checkpoint's own RDD (the
  * [[LogicalRDD]] the checkpoint returns), never a global sweep that
  * could hit a concurrent stream's live blocks. The lake's MERGE
  * ([[graft.sources.VersionedLake.commitMerge]]) uses the same scope to
  * evaluate its source once.
  *
  * localCheckpoint rather than persist on purpose: a persisted frame
  * recomputes on block loss, and a recompute DURING the overwrite
  * would read the half-truncated store — silent corruption; a
  * checkpointed frame's lineage is cut, so block loss fails loudly
  * instead. */
private[graft] object Checkpoints {

  /** Eagerly checkpoint `df`, run `use` on the materialized frame,
    * then release the checkpoint blocks (also on failure). The frame
    * must not escape `use`. */
  def withLocal[A](df: DataFrame)(use: DataFrame => A): A = {
    val mat = df.localCheckpoint(true)
    try use(mat)
    finally mat.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => () // not a checkpoint plan: nothing to release
    }
  }
}
