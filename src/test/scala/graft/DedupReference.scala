package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFeatures.P

/** Reference forms of the dedup tier that the engine no longer runs,
  * kept for the specs that check the production forms against them.
  */
object DedupReference {

  /** Spark: word n-gram hashes computed NUMERICALLY from a word-hash
    * array column `wh` (each word char-hashed once upstream): n-gram
    * hash = fold (acc·31 + wordHash) mod P over the n-window. String-free
    * — no per-shingle string allocation and ~n× less char hashing than
    * hashing concatenated shingle strings; values < 2^30 so acc·31 + h
    * stays far from Long overflow. Short docs (< n words) fall back to
    * one whole-document n-gram, mirroring `TextFeatures.ngramsSpark`.
    */
  def hashedNgramsSpark(wh: String, n: Int): String =
    s"CASE WHEN size($wh) < $n THEN array(aggregate($wh, CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % $P)) ELSE transform(sequence(1, size($wh) - ${n - 1}), i -> aggregate(slice($wh, i, $n), CAST(0 AS BIGINT), (acc, h) -> (acc * 31 + h) % $P)) END"

  /** Min-label propagation over an undirected edge list (a, b) →
    * connected-component representative per node: (id, rep). Each round
    * is a join+groupBy; the fixpoint test is a 1-row aggregate (label
    * sum is strictly decreasing until convergence) — no driver-side
    * graph, rounds bounded by component diameter. Nodes with no edges
    * are NOT emitted (callers coalesce to self).
    *
    * Superseded in the registered queries by `DedupQueries.starContract`
    * (same output, O(log² n) rounds instead of diameter); kept as the
    * independent reference StarContractSpec A/Bs against.
    */
  def labelPropagate(edges: DataFrame): DataFrame = {
    val adj = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
    // init fused with round 1: rep = min(self, min neighbor) — one
    // aggregate instead of a distinct + a join round
    var labels = adj
      .groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("rep"))
      .select(col("a").as("id"), col("rep"))
      .localCheckpoint()
    // ADVICE r5: on an empty edge set sum(rep) aggregates to NULL —
    // read it null-safely and return the (empty) labels frame at once
    // instead of NPE-ing in getLong. A corpus with no near-dup pairs is
    // a legal input to every caller (clusters, triangles, split).
    def repSum(): Long = {
      val row = labels.agg(sum(col("rep"))).first()
      if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
    }
    var prevSum = Long.MaxValue
    var curSum = repSum()
    while (curSum != Long.MinValue && curSum < prevSum) {
      val nbrMin = adj
        .join(labels, adj("b") === labels("id"))
        .groupBy(adj("a").as("nid"))
        .agg(min(col("rep")).as("nrep"))
      labels = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(
          col("id"),
          least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep")
        )
        .localCheckpoint()
      prevSum = curSum
      curSum = repSum()
    }
    labels
  }
}
