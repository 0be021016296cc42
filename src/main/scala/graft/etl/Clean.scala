package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** F2/F4/A6 — the cleaning stage: validity filter + exact deduplication.
  *
  * The reference *declares* this stage ("Rows out (valid)", "Removed
  * (invalid)", `dedup_removed` — pages/index.js:180-181,
  * src/mock-data/etl.json:4-6) but never implements it; per SURVEY.md §0.1.2
  * we implement it for real so `dedup_removed = rows_in − rows_out` is
  * actually computed.
  *
  * Validity (F2/F4): row key non-null, email non-null, and a parseable
  * `registered.date` — `try_to_timestamp` returns null on malformed input,
  * reproducing the reference's `isNaN(new Date(...))` gate
  * (src/lib/randomuser.js:105-111) without tripping ANSI mode.
  *
  * Dedup (A6): one row per coalesced id key, kept whole — the key's
  * `first(struct(<all columns>))`, unpacked again. Fixed-width-buffer rule:
  * Spark runs an aggregate on `HashAggregateExec` only when every buffer is
  * fixed-width. A kept row is variable-width, so this is a key-sorted
  * `SortAggregateExec` in any form; the form decides how many buffers the
  * sorts on both sides of the shuffle carry. `dropDuplicates` keeps a
  * `first()` buffer plus a `valueSet` flag per column (fourteen for the
  * seven user columns); the struct form keeps one of each, and since the
  * kept row is one value its fields cannot come from different input rows.
  * At scale this is one exchange on the key; no driver materialization.
  */
object Clean {

  val keyCol = "id.value"

  def validity(df: DataFrame): DataFrame =
    df.filter(
      col(keyCol).isNotNull &&
        col("email").isNotNull &&
        try_to_timestamp(col("registered.date")).isNotNull
    )

  /** Validity filter + exact dedup on the row key. */
  def apply(df: DataFrame): DataFrame = {
    validity(df)
      .groupBy(col(keyCol))
      .agg(first(struct(col("*"))).as("r"))
      .select("r.*")
  }
}
