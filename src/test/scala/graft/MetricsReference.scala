package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.Metrics

/** The single-aggregate form of `Metrics.compute`: every metric in one
  * `agg(...)` over the raw input. It is the reference the production form
  * (two cross-joined 1-row aggregates) is checked against. It plans as a
  * keyed `SortAggregate`: the variable-width `max(struct(ts, full_name))`
  * buffer forces the distinct counts' Expand through two sorts.
  */
object MetricsReference {

  def compute(raw: DataFrame): DataFrame = {
    val ts = try_to_timestamp(col("registered.date"))
    val valid =
      col("id.value").isNotNull && col("email").isNotNull && ts.isNotNull
    val fullName =
      concat_ws(" ", col("name.first"), col("name.last"))
    raw
      .select(
        col("id.value").as("key"),
        col("location.country").as("country"),
        col("location.city").as("city"),
        ts.as("ts"),
        valid.as("valid"),
        fullName.as("full_name")
      )
      .agg(
        count(lit(1)).as("rows_in"),
        count_distinct(when(col("valid"), col("key"))).as("rows_out"),
        count_distinct(col("country")).as("countries"),
        count_distinct(col("city")).as("uniqueCities"),
        coalesce(round(avg(Metrics.yearsSince(col("ts"))), 2), lit(0.0))
          .as("avgRegistrationYears"),
        max(struct(col("ts"), col("full_name")))
          .getField("full_name")
          .as("lastUser")
      )
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
}
