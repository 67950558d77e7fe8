package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group-wise dedup operators (SURVEY.md §2.4 A1 and the training-data
  * dedup family of §7.5).
  *
  * A1 is the reference's single real query: "latest price per
  * premise×item", written there as SQLite's non-standard bare-column
  * GROUP BY over an ORDER BY subquery (reference: src/main.rs:254-257),
  * whose surviving row is formally arbitrary. We define *deterministic*
  * semantics instead: a total order (orderBy + caller-supplied
  * tie-breakers) and row_number()==1.
  *
  * Scale notes:
  *  - `latestPerGroup` is a single hash-partition shuffle on the group
  *    keys followed by a per-partition sort — the canonical Spark plan
  *    for top-1-per-group. No global sort (the reference's ORDER BY over
  *    the whole table, src/main.rs:255, would be a full-data sort at
  *    100 TB).
  *  - `latestPerGroupAgg` is the max_by formulation: it enables partial
  *    (map-side) aggregation, so the shuffle carries one row per
  *    group-per-input-partition instead of every row. Prefer it when
  *    groups are large or skewed; prefer the window form when the full
  *    row (many columns) must survive and groups are small.
  *  - Measured crossover (sf0.1, local[32], min-of-2 — the
  *    q02z/q02zw bench extras): on FAT groups (lineitem deduped on
  *    (returnflag, linestatus): 6 groups × ~100k rows) the agg form
  *    wins 2× (0.74 s vs the window form's 1.48 s) because map-side
  *    combine collapses each input partition to ≤6 rows while the
  *    window form shuffles every row into 6 skewed partitions. On the
  *    registered q02/q02b near-distinct (suppkey, partkey) groups the
  *    two forms tie at this scale (1.90 s vs 1.94 s isolated) —
  *    map-side combine buys nothing when groups are ~1 row, and the
  *    window form additionally wins on wide payloads (2.7 s vs 1.2 s
  *    carrying 16 columns, see below). Both stay registered: the
  *    oracle gates both plans; pick by the group-cardinality shape.
  */
object Dedup {

  /** A1, window formulation: keep exactly one row per key group — the
    * first under `order` (append unique tie-breakers for determinism). */
  def latestPerGroup(df: DataFrame, keys: Seq[String],
                     order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A1, aggregate formulation: max_by(struct(payload), orderKey) with
    * partial aggregation. `orderKey` must be a totally-ordering
    * struct/column so ties cannot occur (e.g. struct(date, orderkey)).
    *
    * Pass `payload` explicitly when the caller needs only a few columns:
    * Catalyst cannot prune through the max_by struct buffer, so the
    * default carry-everything form reads and shuffles the FULL row per
    * group-partition (measured 2.7s vs 1.2s at sf0.1 on lineitem's 16
    * columns when only 2 survive to the output). */
  def latestPerGroupAgg(df: DataFrame, keys: Seq[String],
                        orderKey: Column,
                        payload: Seq[String] = Nil): DataFrame = {
    val pay = if (payload.nonEmpty) payload
              else df.columns.filterNot(keys.contains).toSeq
    val grouped = df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(pay.map(col): _*), orderKey).as("__row"))
    pay.foldLeft(grouped)((d, c) => d.withColumn(c, col(s"__row.$c")))
      .drop("__row")
  }
}
