package graft

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.SketchExpressions.{bloomAgg, mightContain}

/** Soundness + effectiveness of the explicit bloom-filter semi-join prune
  * (`SketchExpressions.bloomAgg`/`mightContain`, registered query
  * `o_bloom_pruned_join`).
  *
  * Soundness: `mightContain` has NO false negatives — every fact
  * row that truly joins must survive the prune (the survivor set is a
  * superset of the semi-join). Effectiveness: with a selective build side
  * the prune must actually drop rows BEFORE the join (otherwise it's dead
  * weight in the plan). Exact results are covered by the driver oracle
  * (`o_bloom_pruned_join` vs the plain join); this spec pins the two
  * properties the oracle can't see.
  */
class BloomPruneSpec extends SparkSpecBase {

  test("bloom prune keeps every true match and drops non-matching fact rows") {
    val orders = spark.read.parquet(s"$Sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$Sf0001/lineitem.parquet")

    val sel = orders
      .filter(col("o_orderdate").between("1996-03-01", "1996-03-31"))
      .select(col("o_orderkey"))
    val nSel = sel.count()
    assert(nSel > 0, "selective month must match some orders")

    // might_contain demands a constant/scalar-subquery filter operand
    val bloom = sel.agg(bloomAgg(xxhash64(col("o_orderkey")), 1048576L)).scalar()
    val pruned = lineitem
      .select(col("l_orderkey"))
      .filter(mightContain(bloom, xxhash64(col("l_orderkey"))))

    val trueMatches = lineitem
      .join(sel, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"))

    // no false negatives: every truly-joining row survives the prune
    val lost = trueMatches.exceptAll(pruned).count()
    assert(lost == 0, s"bloom prune lost $lost true matches")

    // effectiveness: the prune dropped most of the non-matching fact
    val nFact = lineitem.count()
    val nPruned = pruned.count()
    val nTrue = trueMatches.count()
    assert(nPruned < nFact, "prune must drop some rows")
    assert(nPruned >= nTrue, "prune output is a superset of the semi-join")
    // with a 1 MB bitset over a few dozen keys the FP rate is ~0: the
    // pruned set should be within 1% of the exact semi-join
    assert(
      nPruned - nTrue <= math.max(1L, nFact / 100),
      s"unexpectedly weak prune: $nPruned survivors vs $nTrue true matches of $nFact"
    )
  }

  test("bloom aggregate merges across partitionings deterministically") {
    import spark.implicits._
    def bloom(df: org.apache.spark.sql.DataFrame): Array[Byte] =
      df.agg(bloomAgg(xxhash64(col("k")), 4096L).as("bf")).head().getAs[Array[Byte]]("bf")
    val a = bloom((1L to 1000L).toDF("k"))
    val b = bloom((1L to 1000L).toDF("k").repartition(7))
    // bit-OR merge is commutative/associative: the built filter is
    // partition-order independent — safe as a partial aggregate at scale
    assert(java.util.Arrays.equals(a, b))
    // sized at 8 bits per expected item; the FPP-sizing `Long`
    // constructor gives 88640 bits for 4096 items
    val bits = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a)).bitSize()
    assert(bits == 4096L * 8, s"bloom has $bits bits")
  }
}
