package graft

import org.apache.spark.sql.functions._

import graft.plans.{GroupedTopK, GroupedTopKExec}

/** The session contract: a session built by [[GraftSession]] pins UTC and
  * `nanosAsLong`, and `GroupedTopK.topK` plans its operator in it. The
  * native expressions need no session setting; every query spec runs them
  * through their typed constructors.
  */
class GraftSessionSpec extends SparkSpecBase {

  test("the session pins UTC and nanosAsLong; topK plans GroupedTopK") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val top = GroupedTopK.topK(spark.range(10).toDF("id"), Seq("id"), Seq(col("id")), 1)
    assert(top.count() == 10)
    assert(top.queryExecution.sparkPlan.exists(_.isInstanceOf[GroupedTopKExec]),
      top.queryExecution.sparkPlan.toString)
  }
}
