package graft.sources

import org.apache.spark.sql.DataFrame

/** Clustered writes: organize a table's files at write time so later
  * reads skip most of them.
  *
  * Co-located joins need no helper here: writing both sides with
  * Spark's own `bucketBy(n, key).saveAsTable` at the same bucket count
  * lets SortMergeJoin read matching buckets with no Exchange on either
  * side, the Spark-native form of the reference's "co-locate everything
  * in one database file with join-key indexes" (reference:
  * src/main.rs:194-206); ScaleUtilsSpec pins that plan. This object
  * holds the layouts Spark does not build itself: Z-order clustering
  * on two filter columns.
  */
object Bucketing {

  /** Z-order-clustered parquet write: range-partition + sort by the
    * Morton interleave of two filter columns, so every output file's
    * footer (min, max) is tight on BOTH columns and predicates on either
    * dimension prune most files (see [[graft.plans.ZOrder2]] for the
    * layout argument). `numFiles` ≈ table bytes / 128 MB at scale.
    *
    * Each column is first NORMALIZED to a 16-bit range via a linear
    * (min, max) scale — raw interleave degenerates when the dimensions
    * have mismatched bit widths (a key spanning 0..9 contributes only 4
    * meaningful bit planes against a 0..200 key's 8, so every range split
    * lands on the wide key's bits and the narrow column's per-file span
    * stays global — measured, not hypothetical; ZOrderSpec holds the
    * regression). The (min, max) probe is ONE cheap agg job over just the
    * two key columns; for heavily skewed keys substitute quantile-rank
    * normalization (approxQuantile boundaries + binary-search bucketing —
    * same shape Delta's OPTIMIZE ZORDER uses) at the cost of a sampled
    * quantile pass. ZOrderSpec measures the locality this buys.
    */
  def zorderWrite(df: DataFrame, c1: String, c2: String,
                  path: String, numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{col, min, max}
    val r = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
                   min(col(c2)).cast("double"), max(col(c2)).cast("double"))
      .head()
    def scale16(c: String, lo: Double, hi: Double) = {
      val span = if (hi > lo) hi - lo else 1.0
      ((col(c).cast("double") - lo) * (65535.0 / span)).cast("long")
    }
    val zkey = graft.plans.ZOrder2.zorder2(
      scale16(c1, r.getDouble(0), r.getDouble(1)),
      scale16(c2, r.getDouble(2), r.getDouble(3)))
    df.withColumn("_zkey", zkey)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** The skew-proof variant of [[zorderWrite]]: each column is
    * normalized to its QUANTILE RANK (256 approxQuantile cuts →
    * [[graft.plans.RangeBucket]] binary-search codes) before the Morton
    * interleave, so a heavy-tailed key still spreads over the full code
    * range and every z-cell carries ~equal row mass. One sampled
    * quantile pass over the two key columns (single `approxQuantile`
    * call), boundaries broadcast on the expression — this is the
    * range-ID construction Delta's OPTIMIZE ZORDER uses. Prefer this
    * whenever key distributions are unknown; `zorderWrite`'s linear
    * scale only wins when keys are known ~uniform (saves the quantile
    * pass). */
  def zorderWriteQuantile(df: DataFrame, c1: String, c2: String,
                          path: String, numFiles: Int,
                          buckets: Int = 256): Unit = {
    import org.apache.spark.sql.functions.col
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val Array(b1, b2) = df
      .select(col(c1).cast("double").as(c1), col(c2).cast("double").as(c2))
      .stat.approxQuantile(Array(c1, c2), probs, 0.01)
    val zkey = graft.plans.ZOrder2.zorder2(
      graft.plans.RangeBucket.rangeBucket(col(c1).cast("double"), b1)
        .cast("long"),
      graft.plans.RangeBucket.rangeBucket(col(c2).cast("double"), b2)
        .cast("long"))
    df.withColumn("_zkey", zkey)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(path)
  }
}
