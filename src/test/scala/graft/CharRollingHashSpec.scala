package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions.charRollingHash
import graft.functions.TextFeatures

/** The native codegen expression must agree byte-for-byte with the
  * higher-order-builtin formulation it replaces (ASCII corpus contract).
  */
class CharRollingHashSpec extends SparkSpecBase {

  test("native expression equals the higher-order builtin hash") {
    val diff = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(
        charRollingHash(col("text")).as("typed"),
        expr(TextFeatures.charHashSpark("text")).as("builtin")
      )
      .filter(col("typed") =!= col("builtin"))
      .count()
    assert(diff == 0)
  }

  test("null-safe and empty-string behavior") {
    val session = spark
    import session.implicits._
    val out = Seq("", "a", null).toDF("s")
      .select(charRollingHash(col("s")).as("h"))
      .collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out(0).contains(0L))
    assert(out(1).contains(97L))
    assert(out(2).isEmpty)
  }
}
