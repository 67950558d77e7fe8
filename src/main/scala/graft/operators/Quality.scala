package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Load-time data-quality assertions (SURVEY.md §2.4 A2).
  *
  * The reference enforces dimension-key uniqueness with UNIQUE indexes
  * that abort the load on violation (reference: src/main.rs:198,204 and
  * panic sites src/main.rs:42,57). The Spark-native equivalent is an
  * aggregation assertion: a groupBy-count over the key — one shuffle of
  * (key, partial count) pairs thanks to map-side combine, cheap even at
  * 100 TB because only distinct keys travel.
  *
  * The daily job (`PriceCatcherApp`) does not call it: the artifact's
  * own UNIQUE indexes abort the write, as in the reference
  * (`SqliteFile.write`). This form serves queries over the lake (q04).
  */
object Quality {

  /** DataFrame of keys violating uniqueness (empty ⇒ constraint holds). */
  def duplicateKeys(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Abort-on-duplicate, matching the reference's insert-time panic.
    * Runs one action; call once per dimension at load time. */
  def assertUnique(df: DataFrame, key: String): Unit = {
    val dups = duplicateKeys(df, key).limit(1).collect()
    if (dups.nonEmpty)
      throw new IllegalStateException(
        s"UNIQUE constraint violated on '$key' (e.g. ${dups.head.get(0)}) " +
          "— matching reference abort semantics (src/main.rs:42,57)")
  }
}
