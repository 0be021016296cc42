package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchExpressions
import graft.plans.{GroupedTopK, GroupedTopKExec}
import graft.queries._

/** The session contract: a session built by [[GraftSession]] resolves
  * every SQL name in `SketchExpressions.registrations` through
  * `GraftExtensions` alone, and `GroupedTopK.topK` plans its operator in
  * it; and the queries never look a native function up by name, so a
  * session WITHOUT the names (the benchmark harness builds one like that)
  * returns the same rows.
  */
class GraftSessionSpec extends SparkSpecBase {

  private val names = SketchExpressions.registrations.map(_._1)

  test("the extension alone resolves every registered name; topK plans GroupedTopK") {
    assert(names.map(_.funcName).toSet == Set("char_rolling_hash", "minhash_sig", "simhash32",
      "vec_dot", "word_ngram_hashes", "count_in_set", "graft_bloom_agg", "graft_might_contain"))
    for (id <- names)
      assert(spark.sessionState.functionRegistry.functionExists(id), s"$id does not resolve")
    val r = spark.sql(
      "SELECT char_rolling_hash('a') AS h, count_in_set(array('a', 'b', 'a'), array('a')) AS n, " +
        "size(word_ngram_hashes(array('a', 'b', 'c'), 2)) AS g").first()
    assert(r.getLong(0) == 97L && r.getInt(1) == 2 && r.getInt(2) == 2)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val top = GroupedTopK.topK(spark.range(10).toDF("id"), Seq("id"), Seq(col("id")), 1)
    assert(top.count() == 10)
    assert(top.queryExecution.sparkPlan.exists(_.isInstanceOf[GroupedTopKExec]),
      top.queryExecution.sparkPlan.toString)
  }

  /** Rows of a query, order-independent. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("queries give the same rows in a session without the registered names") {
    val bare = spark.newSession()
    names.foreach(bare.sessionState.functionRegistry.dropFunction)
    intercept[AnalysisException](bare.sql("SELECT char_rolling_hash('a')").collect())
    val cases: Seq[(String, Q.Fn)] = Seq(
      "t_ngram_decontaminate" -> TextQueries.queries("t_ngram_decontaminate"),
      "t_quality_scores" -> TextQueries.queries("t_quality_scores"),
      "t_bloom_decontaminate" -> TextQueries.queries("t_bloom_decontaminate"),
      "t_weighted_sample" -> CurationQueries.queries("t_weighted_sample"),
      "d_minhash_lsh_pairs" -> DedupQueries.queries("d_minhash_lsh_pairs"),
      "o_bloom_pruned_join" -> OperatorQueries.queries("o_bloom_pruned_join"),
      // build before search: the search reads the stored index
      "e_index_build" -> EmbeddingQueries.queries("e_index_build"),
      "e_index_search" -> EmbeddingQueries.queries("e_index_search")
    )
    // every query on the bare session first, then on the main one: each
    // session caches the stored index's file listing, so the session that
    // rebuilds the index last must be the one later suites go on using
    val other = cases.map { case (_, fn) => rows(fn(bare, Sf0001)) }
    val main = cases.map { case (_, fn) => rows(fn(spark, Sf0001)) }
    for ((((name, _), o), m) <- cases.zip(other).zip(main)) {
      assert(m.nonEmpty, s"$name: empty on the main session")
      assert(o == m, s"$name: rows differ without the registered names")
    }
  }
}
