package graft

import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Large-star/small-star contraction contract (VERDICT r12 #4):
  *
  *  1. SEMANTICS — on the real LSH near-dup pair graph (sf0.001), the
  *     star-contraction labels equal the independent min-label-
  *     propagation labels node-for-node (same (id, rep) contract).
  *  2. ROUND BOUND — on a planted 4096-node PATH (diameter 4095, the
  *     pathological chain the VERDICT named: serial-numbered
  *     boilerplate / paginated near-copies), contraction converges in
  *     O(log² n) alternations. Min-label propagation needs a round per
  *     diameter hop — ~4095 shuffle rounds on the same input, hours of
  *     wall-clock by construction — which is exactly why the registered
  *     queries switched (so the old loop is deliberately NOT run here).
  *  3. Mixed shapes — cliques, a chain, and singleton-free isolation
  *     all resolve to the component min.
  */
class StarContractSpec extends SparkSpecBase {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction ≡ label propagation on the real LSH pair graph") {
    val edges = DedupQueries.queries("d_minhash_lsh_pairs")(spark, Sf0001)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val star = labelsOf(DedupQueries.starContract(edges))
    val prop = labelsOf(DedupReference.labelPropagate(edges))
    assert(star == prop,
      s"star contraction diverges from label propagation on " +
        s"${(star.toSet -- prop.toSet).take(5)} vs ${(prop.toSet -- star.toSet).take(5)}")
  }

  test("a 4096-node path converges in O(log² n) alternations, all reps = 0") {
    import spark.implicits._
    val n = 4096L
    val path = spark.range(0, n - 1).select(col("id").as("a"), (col("id") + 1).as("b"))
    val (labels, rounds) = DedupQueries.starContractRounds(path)
    assert(rounds <= 16,
      s"path of diameter ${n - 1} took $rounds alternations — the log² bound is broken " +
        "(min-label propagation would need a round per hop; that is the regression this guards)")
    val l = labelsOf(labels)
    assert(l.size == n, s"expected $n labeled nodes, got ${l.size}")
    assert(l.values.forall(_ == 0L), "a path node resolved to a rep other than the chain min")
  }

  test("mixed shapes: two cliques bridged + disjoint pair resolve to component mins") {
    import spark.implicits._
    // clique {10,11,12}, clique {20,21,22}, bridge 12-20 (one component,
    // min 10); disjoint pair {100,101} (component min 100)
    val edges = Seq(
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (12L, 20L),
      (100L, 101L)
    ).toDF("a", "b")
    val l = labelsOf(DedupQueries.starContract(edges))
    val expected = Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 10L, 21L -> 10L, 22L -> 10L,
      100L -> 100L, 101L -> 100L)
    assert(l == expected, s"got $l")
  }

  test("empty edge set yields an empty label frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupQueries.starContract(empty).count() == 0)
  }
}
