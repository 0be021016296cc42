package graft

import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, TextQueries}

/** Dedup-tier invariants on sf0.001 (500 docs + planted duplicates). */
class DedupSpec extends SparkSpecBase {

  test("exact dedup counts: planted exact copies are removed") {
    val row = DedupQueries
      .queries("d_exact_dedup_counts")(spark, Sf0001)
      .collect()(0)
    val in = row.getAs[Long]("rows_in")
    val out = row.getAs[Long]("rows_out")
    val removed = row.getAs[Long]("dedup_removed")
    assert(in == out + removed)
    // 72 planted exact copies, plus any accidental text collisions from
    // the truncated near-copies (1 at this SF)
    assert(removed >= 72)
  }

  test("minhash LSH finds every planted high-jaccard near-dup pair") {
    val pairs = DedupQueries
      .queries("d_minhash_lsh_pairs")(spark, Sf0001)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    // exact copies (a, a+2000000) are jaccard 1.0 — must all be found
    val exactPairs = (0L until 500L by 7).map(i => (i, i + 2000000L)).toSet
    assert(exactPairs.subsetOf(pairs))
  }

  test("minhash LSH output equals the exhaustive >=T pair set") {
    // the contract the DuckDB oracle checks: LSH+verify == exact
    val lsh = DedupQueries
      .queries("d_minhash_lsh_pairs")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val ngram = DedupQueries
      .queries("d_ngram_jaccard_pairs")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    // the DF-capped inverted index is exhaustive at this scale, so the
    // two independent candidate generators must converge after verify
    assert(lsh == ngram)
  }

  test("ngram candidates drop a df>>cap stop-shingle before any posting list is collected") {
    import spark.implicits._
    // 40 docs all share stop-shingle 999 (df=40 >> MaxDF=10) — without
    // a pre-collect cap its full 40-doc posting list would materialize
    // in the collect_list buffer (and, pre-r3, expand C(40,2)=780
    // pairs). Docs 0 and 1 additionally share RARE shingle 1 (df=2);
    // every doc has a unique shingle (df=1).
    val sets = (0L until 40L)
      .map { i =>
        val hs = if (i < 2) Seq(999L, 1L, 100L + i) else Seq(999L, 100L + i)
        (i, hs)
      }
      .toDF("doc_id", "hs")
    val cand = DedupQueries.ngramCandidates(sets)
    // r14: the cap is the GroupedTopK bounded heap (≤ MaxDF+1 rows per
    // key at every stage) fused into the single posting pass — the old
    // df-count pre-pass + LeftSemi join must be gone from the plan
    val planStr = cand.queryExecution.executedPlan.toString
    assert(planStr.contains("GroupedTopK"),
      "expected the fused GroupedTopK cap in the candidate plan")
    assert(!planStr.contains("LeftSemi"),
      "the df pre-pass semi-join should have been fused away in r14")
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only the rare-shingle pair survives; the stop-shingle alone must
    // generate zero candidates
    assert(pairs == Set((0L, 1L)))
  }

  test("fused ngram candidates equal the df-pre-pass reference on the real corpus") {
    // A/B the r14 GroupedTopK fusion against the retired two-pass plan
    // (df-count aggregate → rare semi-join → collect_list) on real
    // sf0.001 shingle sets: same kept-shingle set, same pair set.
    import org.apache.spark.sql.functions._
    val sets = DedupQueries.hashedSets(spark, Sf0001)
    val ex = sets.select(col("doc_id"), explode(col("hs")).as("s"))
    val rare = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 10).select(col("s"))
    val reference = ex.join(rare, Seq("s"), "left_semi")
      .groupBy(col("s")).agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(expr(
        "flatten(transform(ds, a -> transform(filter(ds, b -> a < b), b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
    val fused = DedupQueries.ngramCandidates(sets)
    assert(fused.exceptAll(reference).isEmpty && reference.exceptAll(fused).isEmpty)
  }

  test("label propagation on an empty edge set returns empty, no NPE") {
    import spark.implicits._
    // ADVICE r5: sum(rep) over zero rows is NULL — a corpus with no
    // near-dup pairs must yield zero clusters, not a driver crash
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DedupReference.labelPropagate(empty).count() == 0L)
  }

  test("simhash near-dup pairs all have hamming <= 3 and include planted copies") {
    val rows = DedupQueries
      .queries("d_simhash_pairs")(spark, Sf0001)
      .collect()
    assert(rows.forall(_.getAs[Int]("hamming") <= 3))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = (0L until 500L by 7).map(i => (i, i + 2000000L)).toSet
    assert(exactPairs.subsetOf(pairs)) // identical docs: hamming 0
  }

  test("dup clusters equal union-find components of the verified pair graph") {
    val pairs = DedupQueries
      .queries("d_minhash_lsh_pairs")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // reference components via driver-side union-find on the tiny test graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys
      .groupBy(find)
      .map { case (rep, ms) => (rep, ms.size.toLong, ms.max) }
      .toSet

    val clusters = DedupQueries
      .queries("d_dup_clusters")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(clusters == expected)
    // transitive merging really happened: some chain has >= 3 members
    assert(clusters.exists(_._2 >= 3))
  }

  test("quality keeper: member kept per cluster, originals beat exact copies on the tie-break") {
    val keeper = DedupQueries
      .queries("d_quality_keeper")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(keeper.nonEmpty)
    assert(keeper.forall(k => k._5 == k._4 - 1)) // n_discarded = n_docs - 1
    // cluster set and sizes must agree with the independently-tested
    // components query (same pair graph, same contraction)
    val clusters = DedupQueries
      .queries("d_dup_clusters")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toMap
    assert(keeper.map(k => k._1 -> k._4).toMap == clusters)
    // membership: the kept doc belongs to its cluster (union-find over
    // the verified pair graph, as in the clusters test)
    val pairs = DedupQueries
      .queries("d_minhash_lsh_pairs")(spark, Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(keeper.forall(k => find(k._2) == k._1))
    // an exact copy (+2e6) has identical text, hence identical quality —
    // the min-id tie-break must always keep the original
    assert(keeper.forall(_._2 < 2000000L))
    // on pure (original, exact-copy) clusters the kept quality IS the
    // base doc's registered t_quality_scores value
    val baseQ = TextQueries
      .queries("t_quality_scores")(spark, Sf0001)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality"))
      .toMap
    val pureExact = keeper.filter(k => k._4 == 2L && find(k._1 + 2000000L) == k._1)
    assert(pureExact.nonEmpty)
    assert(pureExact.forall(k => k._2 == k._1 && k._3 == baseQ(k._1)))
  }

  test("incremental dedup: verdict counts cover the batch, planted dups classified") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val nBatchRaw = docs.filter(col("doc_id") % 5 === 0).count()
    val nPlantExact = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0).count()
    val nPlantNear = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 === 0).count()
    val nPlantIntra = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 13 === 0).count()
    val byVerdict = DedupQueries
      .queries("d_incremental_dedup")(spark, Sf0001)
      .collect()
      .map(r => r.getAs[String]("verdict") -> r.getAs[Long]("n_docs"))
      .toMap
    // every batch doc gets exactly one verdict
    assert(byVerdict.values.sum == nBatchRaw + nPlantExact + nPlantNear + nPlantIntra)
    // planted exact copies of corpus docs can only be exact_dup_corpus
    assert(byVerdict.getOrElse("exact_dup_corpus", 0L) >= nPlantExact)
    // planted truncated copies land in near_dup_corpus (or exact if the
    // truncation was a no-op on a short doc); intra-batch copies land in
    // dup_in_batch unless their source text also duplicates the corpus
    assert(byVerdict.getOrElse("near_dup_corpus", 0L) >= nPlantNear - 1)
    // intra-batch dups are roughly the plant: a planted copy whose source
    // text also matches the corpus is claimed by the corpus verdicts
    // first (so can undershoot), and a natural near-pair inside batchRaw
    // can add a few (batchRaw is exact-distinct but not near-distinct)
    assert(byVerdict.getOrElse("dup_in_batch", 0L) <= nPlantIntra + 5)
    assert(byVerdict.getOrElse("new", 0L) > 0)
  }
  test("containment: every planted prefix-copy is contained at 1e6; Jaccard alone would miss some") {
    import org.apache.spark.sql.functions._
    val rows = graft.queries.DedupQueries.queries("d_containment_pairs")(spark, Sf0001).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val plantedIds = docs.filter(col("doc_id") % 11 === 0).select("doc_id")
      .collect().map(_.getLong(0) + 3000000L).toSet
    // every planted 20-word-prefix copy appears in a fully-contained pair
    // (as contained_id normally; as container_id when the original is
    // <= 20 words — then the pair is an exact dup and the tie-break
    // orients the smaller id, the original, as contained)
    val fullPairIds = rows
      .filter(_.getAs[Long]("containment_e6") == 1000000L)
      .flatMap(r => Seq(r.getAs[Long]("contained_id"), r.getAs[Long]("container_id"))).toSet
    assert(plantedIds.subsetOf(fullPairIds))
    // the asymmetric metric finds pairs the 0.7-Jaccard gate cannot
    assert(rows.exists(r => r.getAs[Long]("jaccard_e6") < 700000L))
    // orientation: contained side's set is never larger than the container's
    rows.foreach { r =>
      assert(r.getAs[Long]("containment_e6") >= 900000L)
      assert(r.getAs[Long]("containment_e6") <= 1000000L)
    }
  }
}
