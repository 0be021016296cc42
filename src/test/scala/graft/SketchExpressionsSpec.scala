package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions.{charRollingHash, minhashSig, simhash32, vecDot}
import graft.functions.TextFeatures

/** The native fused-loop sketch expressions, built through the typed
  * constructors the queries call, must agree bit-for-bit with the
  * higher-order-builtin formulations (which the DuckDB oracle mirrors).
  */
class SketchExpressionsSpec extends SparkSpecBase {

  private def shingleHashes =
    spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sh", expr(s"array_distinct(${TextFeatures.shinglesSpark("ws")})"))
      .withColumn("hs", transform(col("sh"), t => charRollingHash(t)))

  test("minhash_sig equals the builtin transform/array_min formulation") {
    val diff = shingleHashes
      .select(
        minhashSig(col("hs")).as("typed"),
        expr(TextFeatures.minhashSigSpark("hs")).as("builtin")
      )
      .filter(col("typed") =!= col("builtin"))
      .count()
    assert(diff == 0)
  }

  test("simhash32 equals the builtin nested-aggregate formulation") {
    val diff = shingleHashes
      .select(
        simhash32(col("hs")).as("typed"),
        expr(TextFeatures.simhashSpark("hs")).as("builtin")
      )
      .filter(col("typed") =!= col("builtin"))
      .count()
    assert(diff == 0)
  }

  test("vec_dot equals the builtin zip_with/aggregate fold bit-for-bit") {
    // adversarial doubles: mixed magnitudes where float addition order
    // matters — the native loop must reproduce the exact left-fold sum
    val vecs = spark
      .range(2000)
      .selectExpr(
        "transform(sequence(0, 63), i -> CAST(sin(id * 64 + i) * pow(10.0, CAST(i % 7 AS DOUBLE) - 3.0) AS DOUBLE)) AS a",
        "transform(sequence(0, 63), i -> CAST(cos(id * 64 + i) * pow(10.0, CAST(i % 5 AS DOUBLE) - 2.0) AS DOUBLE)) AS b"
      )
    val diff = vecs
      .select(
        vecDot(col("a"), col("b")).as("typed"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)").as("builtin")
      )
      // exact double compare
      .filter(col("typed") =!= col("builtin"))
      .count()
    assert(diff == 0)
  }

  test("vec_dot is null on length mismatch, like zip_with null-padding") {
    // literal operands: constant folding evaluates the interpreted path
    val r = spark
      .range(1)
      .select(
        vecDot(typedLit(Seq(1.0, 2.0)), typedLit(Seq(1.0, 2.0, 3.0))),
        vecDot(expr("array(1.0d, 2.0d)"), expr("array(1.0d, 2.0d, 3.0d)")))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("vec_dot is null when either array holds a null element, like the builtin fold") {
    // codegen path (whole-stage over a range) AND interpreted path (collect
    // of a literal select) must both poison to NULL, matching
    // aggregate(zip_with(...)) where acc + NULL = NULL (ADVICE r4).
    val r = spark
      .range(1)
      .select(
        vecDot(typedLit(Seq(Some(1.0), None, Some(3.0))), typedLit(Seq(1.0, 2.0, 3.0))).as("a"),
        vecDot(typedLit(Seq(1.0, 2.0)), typedLit(Seq(Some(1.0), None))).as("b"),
        expr(
          """aggregate(zip_with(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 2.0d),
            |(x, y) -> x * y), 0.0d, (acc, v) -> acc + v)""".stripMargin).as("builtin"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // and through a non-literal (codegen'd projection over parquet-less range)
    val a = "array(CAST(id AS DOUBLE), IF(id = 2, CAST(NULL AS DOUBLE), 1.0d))"
    val rows = spark
      .range(4)
      .select(vecDot(expr(a), expr("array(1.0d, 1.0d)")).as("d"))
      .collect()
    assert(rows.count(_.isNullAt(0)) == 1)
    assert(rows.filterNot(_.isNullAt(0)).map(_.getDouble(0)).sorted.sameElements(Array(1.0, 2.0, 4.0)))
  }
}
