package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1–A8 — the analytics stage: the whole run-metric record over the raw
  * input, with no keyed sort anywhere in its plan.
  *
  * Reference: `buildMetrics(users)` computes count, two distinct counts and
  * a rounded average in a single sequential forEach
  * (src/lib/randomuser.js:70-123). The declared-but-faked metrics
  * (rows_in/rows_out/dedup_removed/lastUser — etl.json:4-9) are real
  * aggregates here.
  *
  * Fixed-width-buffer rule: Spark runs an aggregate on `HashAggregateExec`
  * only when every aggregation buffer is fixed-width; one variable-width
  * buffer (the string inside A7's `max(struct(ts, name))`) turns the whole
  * aggregate into a `SortAggregateExec`. In a single `agg(...)` that buffer
  * drags the distinct counts' RewriteDistinctAggregates Expand (one copy of
  * every row per distinct group) through two sorts keyed by the distinct
  * columns. So the record is two 1-row aggregates, cross-joined:
  *  - a keyless aggregate holding the variable-width buffer (count, avg,
  *    the struct max) — a keyless `SortAggregateExec` does not sort;
  *  - the three `count_distinct`s, whose buffers are all counts, so their
  *    Expand stays on `HashAggregateExec`.
  * Each side is a column-pruned scan of the raw input.
  */
object Metrics {

  /** A4's derived column (P7): calendar-year difference, NOT a 365-day span
    * (src/lib/randomuser.js:108 compares `currentYear - year(date)`).
    */
  def yearsSince(ts: Column): Column =
    year(current_date()) - year(ts)

  /** The full SURVEY §2.9 metric record as a single-row DataFrame over the
    * *raw* (pre-clean) users, so rows_in and rows_out describe the same
    * input.
    *
    * Column semantics:
    *  - rows_in   = raw count                       (A6, etl.json:4)
    *  - rows_out  = valid distinct-key count        (A6, etl.json:5)
    *  - dedup_removed = rows_in − rows_out          (A6, etl.json:6)
    *  - countries / uniqueCities = exact distinct   (A2/A3, randomuser.js:119-120)
    *  - totalUsers = alias of rows_out              (A1, randomuser.js:118)
    *  - avgRegistrationYears = round(avg,2) over valid timestamps
    *                                                (A4, randomuser.js:105-121)
    *  - lastUser = name of most recently registered (A7, etl.json:9),
    *    tie-broken by name for determinism, via max(struct(ts,name)).
    */
  def compute(raw: DataFrame): DataFrame = {
    val ts = try_to_timestamp(col("registered.date"))
    val valid =
      col("id.value").isNotNull && col("email").isNotNull && ts.isNotNull
    val fullName =
      concat_ws(" ", col("name.first"), col("name.last"))
    val totals = raw.agg(
      count(lit(1)).as("rows_in"),
      coalesce(round(avg(yearsSince(ts)), 2), lit(0.0))
        .as("avgRegistrationYears"),
      max(struct(ts.as("ts"), fullName.as("full_name")))
        .getField("full_name")
        .as("lastUser")
    )
    val distincts = raw.agg(
      count_distinct(when(valid, col("id.value"))).as("rows_out"),
      count_distinct(col("location.country")).as("countries"),
      count_distinct(col("location.city")).as("uniqueCities")
    )
    totals
      .crossJoin(distincts)
      .select(
        col("rows_in"),
        col("rows_out"),
        (col("rows_in") - col("rows_out")).as("dedup_removed"),
        col("countries"),
        col("uniqueCities"),
        col("rows_out").as("totalUsers"),
        col("avgRegistrationYears"),
        col("lastUser")
      )
  }

  /** The reference's *computed* metric set only
    * (src/lib/randomuser.js:117-122), for strict-parity callers.
    */
  def buildMetrics(users: DataFrame): DataFrame = {
    val ts = try_to_timestamp(col("registered.date"))
    users.agg(
      count(lit(1)).as("totalUsers"),
      // F3 — null guards before distinct-count (randomuser.js:99-104):
      // count_distinct ignores nulls natively, identical semantics.
      count_distinct(col("location.country")).as("uniqueCountries"),
      count_distinct(col("location.city")).as("uniqueCities"),
      // A4 incl. the zero-denominator guard (:114-115) via coalesce.
      coalesce(round(avg(yearsSince(ts)), 2), lit(0.0))
        .as("avgRegistrationYears")
    )
  }
}
