package graft

import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions.{charRollingHash, wordNgramHashes}

/** word_ngram_hashes (the r14 fused codegen replacement for the
  * word-hash transform + let-bound n-gram fold lambda chain) must agree
  * element-for-element — values, order, AND null slots — with the
  * higher-order-builtin composition it replaces, because the DuckDB
  * oracle mirrors the lambda semantics. The typed constructor the
  * queries call is checked on the real corpus for every n the queries
  * use (1, 2, 3, 8) and on adversarial word arrays (short docs,
  * exactly-n docs, empty strings, null elements, empty array).
  */
class NgramHashSpec extends SparkSpecBase {

  /** Checks the native expression against the lambda reference:
    * transform(ws, charRollingHash) as the word hashes `wh`, then
    * hashedNgramsSpark's fold over them.
    */
  private def assertAgree(df: org.apache.spark.sql.DataFrame, ws: String, n: Int, tag: String): Unit = {
    val bad = df
      .select(expr(ws).as("ws"))
      .select(col("ws"), transform(col("ws"), w => charRollingHash(w)).as("wh"))
      .select(
        wordNgramHashes(col("ws"), n).as("typed"),
        expr(DedupReference.hashedNgramsSpark("wh", n)).as("builtin")
      )
      // null-safe elementwise equality including order and null slots
      .filter(not(col("typed") <=> col("builtin")))
      .count()
    assert(bad == 0, s"$tag: word_ngram_hashes(n=$n) diverged from the lambda form on $bad rows")
  }

  test("bit-equal to the lambda composition on the real corpus for n = 1, 2, 3, 8") {
    val docs = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(split(col("text"), " ").as("ws"))
    for (n <- Seq(1, 2, 3, 8)) assertAgree(docs, "ws", n, "corpus")
  }

  test("adversarial word arrays: short, exactly n, empty strings, nulls, empty array") {
    val session = spark
    import session.implicits._
    val frames = Seq(
      ("one-word", "array('alpha')"),
      ("two-words", "array('alpha', 'beta')"),
      ("exactly-3", "array('a', 'b', 'c')"),
      ("exactly-8", "array('a','b','c','d','e','f','g','h')"),
      ("nine", "array('a','b','c','d','e','f','g','h','i')"),
      ("empty-strings", "array('', '', 'x')"),
      ("null-element", "array('a', CAST(NULL AS STRING), 'b', 'c')"),
      ("all-null", "array(CAST(NULL AS STRING))"),
      ("empty-array", "array()")
    )
    val base = Seq(1).toDF("one")
    for ((tag, arr) <- frames; n <- Seq(1, 2, 3, 8)) {
      // empty-array edge: the lambda form's aggregate over [] yields 0,
      // so both sides must produce [0] on the size < n branch
      assertAgree(base.select(expr(arr).as("ws")), "ws", n, tag)
    }
  }

  test("null input array propagates null") {
    val session = spark
    import session.implicits._
    val out = Seq(1).toDF("one")
      .select(wordNgramHashes(expr("CAST(NULL AS ARRAY<STRING>)"), 3).as("typed"))
      .collect()
    assert(out(0).isNullAt(0))
  }
}
