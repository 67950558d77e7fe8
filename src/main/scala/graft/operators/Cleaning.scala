package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Cleaning / coercion projections (SURVEY.md §2.2, P1–P4).
  *
  * Every transform here is a pure Column expression — no UDFs — so the
  * whole cleaning stage stays inside whole-stage codegen and Catalyst can
  * still push partition/row-group pruning *through* it to the parquet
  * scan. That matters at 100 TB: cleaning must not be a codegen fence.
  *
  * Reference semantics being reproduced:
  *  - P1 date truncation: timestamp → first 10 chars "YYYY-MM-DD"
  *    (reference: src/main.rs:23). We keep DateType internally and only
  *    stringify at sink boundaries.
  *  - P2 numeric coercions: string→i64 / string→f64 panic on failure for
  *    the fact table (src/main.rs:24-26); the premise dimension arrives
  *    with a double-typed key that is rounded half-up to i64
  *    (src/main.rs:36).
  *  - P3 null-defaulting: every string trimmed; NULL → "UNKNOWN"
  *    (src/main.rs:32,37-41,50,53-56).
  *  - P4 dirty-row tolerance asymmetry: fact-table coercion failure fails
  *    the job (panic, src/main.rs:24-26) while a bad dimension key just
  *    drops the row with a log (src/main.rs:44).
  *
  * The daily job's three tables are projected once, in
  * [[graft.PriceCatcher]], from these column functions; `cleanPremises`
  * applies them to the reference's raw premise shape (double key, P4).
  */
object Cleaning {

  /** P1 — truncate a timestamp to its civil date (UTC session tz). */
  def truncToDate(c: Column): Column = to_date(c)

  /** P1 at the sink boundary — exact 10-char string form the reference
    * stores (src/main.rs:23). */
  def dateToString(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** P2 — the reference's premise_code coercion: double → round-half-up →
    * i64 (src/main.rs:36; Rust f64::round rounds half away from zero, and
    * codes are non-negative, so half-up matches). Spark's `round` is also
    * HALF_UP for positive values. */
  def roundedCode(c: Column): Column = round(c).cast(LongType)

  /** P2 permissive variant — try_cast semantics: non-numeric → null
    * instead of job failure. Pair with [[dropDirtyRows]] for the
    * dimension path (P4). */
  def tryLong(c: Column): Column = c.cast("string").try_cast("long")

  /** P3 — trim, then default NULL (or all-whitespace → empty is kept as
    * the trimmed value, matching the reference which trims but does not
    * empty-check) to the literal "UNKNOWN" (src/main.rs:37-41). */
  def cleanString(c: Column): Column = coalesce(trim(c), lit("UNKNOWN"))

  /** P4 — dimension tolerance: drop rows whose key failed coercion and
    * surface the dropped count through a named accumulator-free count
    * (computed lazily by the caller if wanted; at scale a second action
    * just for a log line is wasteful, so we leave the count optional). */
  def dropDirtyRows(df: DataFrame, keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull)

  /** Full cleaning of the premises dimension (src/main.rs:31-46):
    * double key rounded to long, bad keys dropped (P4), strings
    * trimmed + UNKNOWN-defaulted (P3). */
  def cleanPremises(raw: DataFrame): DataFrame = {
    val coerced = raw.select(
      roundedCode(col("premise_code")).as("premise_code"),
      cleanString(col("premise")).as("premise"),
      cleanString(col("address")).as("address"),
      cleanString(col("premise_type")).as("premise_type"),
      cleanString(col("state")).as("state"),
      cleanString(col("district")).as("district"))
    dropDirtyRows(coerced, "premise_code")
  }
}
