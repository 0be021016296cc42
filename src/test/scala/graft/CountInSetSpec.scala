package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions.countInSet

/** count_in_set (the r14 fused codegen replacement for the
  * size(filter(ws, t -> array_contains(array(...), t))) lambda stack in
  * the quality / language-ID tier) must agree value-for-value with the
  * higher-order-builtin form it replaces, because the DuckDB oracle
  * mirrors the lambda semantics. The typed constructor the queries call
  * is checked on the real corpus for every literal set the queries use,
  * and on adversarial arrays (null elements — dropped by the lambda form because array_contains
  * returns NULL and filter keeps only TRUE — empty strings, duplicates
  * counted per occurrence, empty array, null input → null).
  */
class CountInSetSpec extends SparkSpecBase {

  /** Every literal set registered queries pass to countInSet. */
  private val Sets = Seq(
    Seq("the", "a", "of", "and", "to", "in", "is", "on"), // Stop
    Seq("el", "la", "de", "que", "y"), // es
    Seq("der", "die", "das", "und", "ist"), // de
    Seq("le", "la", "et", "les", "des") // fr
  )

  private def sqlArray(set: Seq[String]): String = set.map("'" + _ + "'").mkString("array(", ", ", ")")

  private def lambdaForm(ws: String, set: Seq[String]): String =
    s"size(filter($ws, t -> array_contains(${sqlArray(set)}, t)))"

  private def assertAgree(
      df: org.apache.spark.sql.DataFrame, ws: String, set: Seq[String], tag: String): Unit = {
    val bad = df
      .select(
        countInSet(expr(ws), set).as("typed"),
        expr(lambdaForm(ws, set)).as("builtin"))
      .filter(not(col("typed") <=> col("builtin")))
      .count()
    assert(bad == 0, s"$tag: count_in_set($set) diverged from the lambda form on $bad rows")
  }

  test("equal to the lambda form on the real corpus for every registered set") {
    val docs = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(split(col("text"), " ").as("ws"))
    for (set <- Sets) assertAgree(docs, "ws", set, "corpus")
  }

  test("adversarial arrays: nulls dropped, duplicates counted, empties, null input") {
    val session = spark
    import session.implicits._
    val set = Sets.head
    val frames = Seq(
      ("duplicates", "array('the', 'the', 'a', 'zz', 'the')"),
      ("empty-strings", "array('', 'the', '')"),
      ("null-element", "array('the', CAST(NULL AS STRING), 'a')"),
      ("all-null", "array(CAST(NULL AS STRING))"),
      ("empty-array", "CAST(array() AS ARRAY<STRING>)"),
      ("no-match", "array('x', 'y')")
    )
    val base = Seq(1).toDF("one")
    for ((tag, arr) <- frames) assertAgree(base, arr, set, tag)
    // null INPUT → null, exactly as size(filter(NULL, ...)) is null
    val nullArr = "CAST(NULL AS ARRAY<STRING>)"
    val nullRow = base
      .select(
        countInSet(expr(nullArr), set).as("typed"),
        expr(lambdaForm(nullArr, set)).as("builtin"))
      .first()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1),
      s"null input must yield null in both forms, got $nullRow")
  }

  test("duplicate counting is per occurrence, not per distinct match") {
    val session = spark
    import session.implicits._
    val n = Seq(1).toDF("one")
      .select(countInSet(expr("array('the', 'the', 'of')"), Sets.head).as("n"))
      .first().getInt(0)
    assert(n == 3, s"expected 3 occurrences, got $n")
  }

  test("equal sets make equal expressions: semanticEquals and sameResult") {
    val docs = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(split(col("text"), " ").as("ws"))
    def plan(cs: Column*) = docs.select(cs: _*).queryExecution.optimizedPlan
    /** The analyzed expressions of one projection. */
    def projected(cs: Column*): Seq[Expression] =
      docs.select(cs: _*).queryExecution.analyzed
        .collect { case p: Project => p }.head
        .projectList.map { case Alias(c, _) => c }
    // two constructions with equal (not identical) sets
    val Seq(a, b) = projected(
      countInSet(col("ws"), Sets.head).as("a"),
      countInSet(col("ws"), Sets.head.map(w => new String(w))).as("b"))
    assert(a.semanticEquals(b), s"$a vs $b")
    assert(plan(countInSet(col("ws"), Sets.head).as("n"))
      .sameResult(plan(countInSet(col("ws"), Sets.head).as("n"))))
    // two identical calls in one projection are one common subexpression
    val Seq(x, y) = projected(
      countInSet(col("ws"), Sets.head).as("x"), countInSet(col("ws"), Sets.head).as("y"))
    assert(x.semanticEquals(y), s"$x vs $y")
  }
}
