package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.operators.{Cdc, Dedup}
import graft.sources.PartitionedLake

/** Streaming snapshot maintenance — CDC from an EVENT stream onto a
  * keyed store, the MERGE-INTO shape a lakehouse runs continuously:
  * each micro-batch's per-user latest event is normalized into a
  * strict I/U/D changeset against the CURRENT store and applied by the
  * same [[graft.operators.Cdc.applyChanges]] kernel the oracle-gated
  * batch query (q51) uses; only the hash buckets containing changed
  * keys are rewritten (partition-pruned maintenance — the whole point
  * at 100 TB: a batch touching 0.1% of keys rewrites ~0.1% of files).
  *
  * Semantics per batch (ONE change per user — the batch's latest event
  * under the (ts, event_id) total order decides; earlier same-batch
  * events are superseded, the [[Cdc]] one-change-per-key discipline):
  *   - `purchase` → upsert: balance = event value, alive (insert if
  *                  absent, reactivates a tombstone)
  *   - `signup`   → insert if absent; ignored on an existing row
  *   - `click`    → balance = event value iff the account exists AND
  *                  is alive; ignored otherwise
  *   - `error`    → TOMBSTONE an existing row (alive=false, balance
  *                  kept); ignored for unknown users
  *   - `view`     → no-op
  *
  * Deletes are tombstones, not row removal, for two load-bearing
  * reasons: (a) dynamic partition overwrite can only rewrite a
  * partition that appears in the written frame, so a bucket whose last
  * row died would silently keep its stale file if deletes removed
  * rows; (b) it is the real lakehouse practice — readers filter
  * `alive`, and a maintenance job reclaims tombstones out of band.
  *
  * Replay safety: every applied value is ABSOLUTE (balance := event
  * value, alive := constant), inserts are existence-guarded, and
  * tombstones are stable — re-applying a batch against the post-batch
  * store reproduces byte-identical bucket contents, so checkpointed
  * at-least-once delivery yields effectively-once store state
  * (StreamingSpec drives this).
  */
object SnapshotCdc {

  /** Normalize one batch of events into a strict changeset against
    * `snapshot` (columns: user_id, balance, alive) and apply it.
    * Pure DataFrame composition — the store layer is
    * [[applyBatchToStore]]'s concern; the oracle-gated batch twin
    * (q81) chains two of these from an empty snapshot. */
  def applyUserBatch(snapshot: DataFrame, events: DataFrame): DataFrame = {
    val latest = Dedup.latestPerGroup(
      events.select(col("user_id"), col("event_type"), col("value"),
        col("ts"), col("event_id")),
      Seq("user_id"), Seq(col("ts").desc, col("event_id").desc))
      .select(col("user_id"), col("event_type").as("etype"), col("value"))
    val curKeys = snapshot.select(col("user_id"),
      col("alive").as("__cur_alive"), lit(true).as("__ex"))
    val ops = latest.join(curKeys, Seq("user_id"), "left")
      .withColumn("op",
        when(col("etype") === "error", when(col("__ex"), lit("U")))
          .when(col("etype") === "purchase",
            when(col("__ex"), lit("U")).otherwise(lit("I")))
          .when(col("etype") === "signup",
            when(col("__ex"), lit(null)).otherwise(lit("I")))
          .when(col("etype") === "click",
            when(col("__ex") && col("__cur_alive"), lit("U"))))
      .filter(col("op").isNotNull)
      .select(col("user_id"), col("op"), col("etype"), col("value"))
    Cdc.applyChanges(snapshot, ops, "user_id", "op",
      updates = Map(
        "balance" -> when(col("etype") === "error", col("balance"))
          .otherwise(col("value")),
        "alive" -> (col("etype") =!= "error")),
      insertSelect = ins => ins.select(col("user_id"),
        col("value").as("balance"), lit(true).as("alive")))
  }

  /** One micro-batch against the bucket-partitioned store at
    * `storePath`: read ONLY the buckets containing this batch's users,
    * apply, rewrite exactly those buckets. The affected-bucket set is
    * a ≤`nBuckets`-row frame that broadcasts into a semi-join — no
    * driver collect. The applied frame is eagerly materialized
    * (localCheckpoint) before the write because it READS the same
    * partitions the write replaces. */
  def applyBatchToStore(batch: DataFrame, storePath: String,
                        nBuckets: Int = 64): Unit = {
    val s = batch.sparkSession
    // listed through Hadoop FileSystem: a `file:` URI lists like a path
    val hasData = PartitionedLake
      .partitionFileCounts(s, storePath, "bucket").nonEmpty
    val affected = batch
      .select(pmod(col("user_id"), lit(nBuckets.toLong)).as("bucket"))
      .distinct()
    val cur =
      if (hasData)
        s.read.parquet(storePath)
          .join(broadcast(affected), Seq("bucket"), "left_semi")
          .select(col("user_id"), col("balance"), col("alive"))
      else
        batch.select(col("user_id"), col("value").as("balance"))
          .limit(0).withColumn("alive", lit(true))
    Checkpoints.withLocal(applyUserBatch(cur, batch)
        .withColumn("bucket", pmod(col("user_id"), lit(nBuckets.toLong)))) {
      next => PartitionedLake.overwriteBuckets(next, "bucket", storePath)
    }
  }

  /** Streaming entry: the event stream maintaining the store via
    * foreachBatch. Caller picks trigger/checkpoint. */
  def userSnapshotSink(events: DataFrame, storePath: String,
                       nBuckets: Int = 64): DataStreamWriter[Row] =
    events.writeStream.foreachBatch {
      (b: Dataset[Row], _: Long) =>
        applyBatchToStore(b.toDF(), storePath, nBuckets)
    }
}
