package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}

import graft.etl.{Clean, Metrics}
import graft.model.{User, UserId, UserLocation, UserName, UserPicture, UserRegistered}

/** Plan shape of the ETL transform, by the fixed-width-buffer rule in the
  * scaladoc of `Metrics` and `Clean`: the metric record never sorts, and
  * Clean's dedup aggregate (which must sort by key, since the kept row is
  * a variable-width buffer) carries that row as one buffer, not one per
  * column.
  */
class EtlPlanShapeSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private def users: DataFrame = {
    val session = spark
    import session.implicits._
    (0 until 200).map { i =>
      User(
        UserId(if (i % 9 == 0) null else "id-" + (i % 70)),
        UserName("F" + i, "L" + i),
        if (i % 11 == 0) null else "a@b.c",
        "555",
        UserLocation(Seq("USA", "Canada", null)(i % 3), "City" + (i % 7)),
        UserRegistered(if (i % 13 == 1) "bad" else f"2021-01-${i % 28 + 1}%02dT00:00:00.000Z"),
        UserPicture("t")
      )
    }.toDF()
  }

  /** The AQE-final plan, after the frame ran. */
  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("Metrics.compute's executed plan has no keyed SortAggregate and no Sort") {
    val dir = java.nio.file.Files.createTempDirectory("etl-plan").toString
    users.write.mode("overwrite").parquet(dir)
    for (input <- Seq(users, spark.read.parquet(dir))) {
      val plan = executed(Metrics.compute(input))
      val keyedSortAggs = collect(plan) {
        case a: SortAggregateExec if a.groupingExpressions.nonEmpty => a
      }
      assert(keyedSortAggs.isEmpty, plan)
      assert(collect(plan) { case s: SortExec => s }.isEmpty, plan)
    }
  }

  test("Clean's keyed aggregate carries exactly one aggregate buffer") {
    val plan = executed(Clean(users))
    val keyed = collect(plan) {
      case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => a
    }
    assert(keyed.nonEmpty, plan)
    keyed.foreach(a => assert(a.aggregateExpressions.size == 1, a))
  }
}
