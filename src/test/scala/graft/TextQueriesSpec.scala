package graft

import graft.functions.SketchExpressions.charRollingHash
import graft.queries.TextQueries

/** Invariants for the TF-IDF and decontamination operators on sf0.001. */
class TextQueriesSpec extends SparkSpecBase {

  test("tfidf: exactly 3 ranks per doc, score non-increasing, tie-broken by term") {
    val rows = TextQueries.queries("t_tfidf_top_terms")(spark, Sf0001).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.nonEmpty)
    byDoc.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length) && rs.length <= 3)
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      val scores = ordered.map(_.getAs[Long]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // equal scores must be ordered by term ascending (deterministic)
      ordered.zip(ordered.tail).foreach { case (a, b) =>
        if (a.getAs[Long]("score") == b.getAs[Long]("score"))
          assert(a.getAs[String]("term") < b.getAs[String]("term"))
      }
    }
  }

  test("tfidf: score equals tf * ((N * 1e6) div df) exactly") {
    val n = spark.read.parquet(s"$Sf0001/documents.parquet").count()
    TextQueries.queries("t_tfidf_top_terms")(spark, Sf0001).collect().foreach { r =>
      val expected = r.getAs[Long]("tf") * ((n * 1000000L) / r.getAs[Long]("df"))
      assert(r.getAs[Long]("score") == expected)
    }
  }

  test("heavy hitters: sketch candidate+verify equals the exact GROUP BY/HAVING") {
    import org.apache.spark.sql.functions._
    val rows = TextQueries
      .queries("t_heavy_hitter_words")(spark, Sf0001)
      .collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("n_occurrences")))
    assert(rows.nonEmpty)
    // exact reference computed the naive way (full-vocabulary shuffle)
    val words = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
    val nTotal = words.count()
    val exact = words
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * 500 >= nTotal)
      .collect()
      .map(r => (r.getAs[String]("w"), r.getAs[Long]("n")))
      .toSet
    assert(rows.toSet == exact)
    // and the declared ordering: count desc, word asc on ties
    rows.zip(rows.tail).foreach { case ((wa, na), (wb, nb)) =>
      assert(na > nb || (na == nb && wa < wb))
    }
  }

  test("sequence packing: bins tile each (source, shard); totals preserved") {
    import org.apache.spark.sql.functions._
    val C = 512L
    val docs = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(
        col("source"),
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // plain-Scala reference of the quotient layout over the COMPOSITE
    // shard key (source, doc_id div 256)
    val expected = docs.toSeq
      .groupBy(t => (t._1, t._2 / 256))
      .toSeq
      .flatMap { case ((src, shard), rows) =>
        var cum = 0L
        rows.sortBy(_._2).map { case (_, id, n) =>
          val bin = cum / C; cum += n; (src, shard, bin, id, n)
        }
      }
      .groupBy(t => (t._1, t._2, t._3))
      .map { case ((src, shard, bin), rs) =>
        (src, shard, bin, rs.size.toLong, rs.map(_._5).sum, rs.map(_._4).min, rs.map(_._4).max)
      }
      .toSet
    val got = TextQueries
      .queries("t_sequence_packing")(spark, Sf0001)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == expected)
    // every doc lands in exactly one bin and no token is lost
    assert(got.toSeq.map(_._4).sum == docs.length)
    assert(got.toSeq.map(_._5).sum == docs.map(_._3).sum)
  }

  test("decontamination finds every planted train→test overlap") {
    val rows = TextQueries.queries("t_ngram_decontaminate")(spark, Sf0001).collect()
    val found = rows
      .map(r => (r.getAs[Long]("train_doc_id"), r.getAs[Long]("test_doc_id")))
      .toSet
    // planted: train doc d (d%9==0, not test) contaminated from test doc
    // (d%10)*50 when that doc exists; at sf0.001 only test doc 0 exists
    val docIds = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select("doc_id")
      .collect()
      .map(_.getLong(0))
      .toSet
    val planted = docIds
      .filter(d => d % 50 != 0 && d % 9 == 0 && docIds.contains((d % 10) * 50))
      .map(d => (d, (d % 10) * 50))
    assert(planted.nonEmpty && planted.subsetOf(found))
    // every reported overlap is at least one shared 8-gram
    assert(rows.forall(_.getAs[Long]("n_shared_ngrams") >= 1L))
  }

  test("bigram LM: matches a driver-side reimplementation at sf0.001") {
    val docs = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "source", "text")
      .collect()
      // split(" ", -1) keeps trailing empties like Spark's split(text, ' ')
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1)))
      .filter(_._3.length >= 2)
    val docBi = docs.flatMap { case (id, src, ws) =>
      ws.sliding(2).map(p => ((id, src), (p(0), p(1))))
    }
    val cDoc = docBi.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cBi = docBi.map(_._2).groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cHist = cBi.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val vocab = (cBi.keys.map(_._1) ++ cBi.keys.map(_._2)).toSet.size.toLong
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = cDoc.groupBy(_._1._1).map { case ((id, src), m) =>
      val num = m.map { case (((_, _), bg), c) =>
        c * -math.log((cBi(bg) + 1).toDouble / (cHist(bg._1) + vocab))
      }.sum
      val den = m.values.sum
      (id, src, round6(num / den))
    }
    val expected = perDoc.groupBy(_._2).map { case (src, rs) =>
      val nlls = rs.map(_._3)
      src -> (rs.size.toLong, round6(nlls.sum / nlls.size), nlls.min, nlls.max)
    }
    val got = TextQueries.queries("t_bigram_lm_score")(spark, Sf0001).collect()
    assert(got.length == expected.size && got.nonEmpty)
    got.foreach { r =>
      val (n, avg, mn, mx) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(math.abs(r.getAs[Double]("avg_nll") - avg) <= 2e-6)
      assert(math.abs(r.getAs[Double]("min_nll") - mn) <= 2e-6)
      assert(math.abs(r.getAs[Double]("max_nll") - mx) <= 2e-6)
    }
  }

  test("mixture sampling: quota law, threshold semantics, sqrt re-weighting") {
    import org.apache.spark.sql.functions._
    val out = TextQueries.queries("t_mixture_sampling")(spark, Sf0001).collect()
    assert(out.nonEmpty)
    val nBySource = out.map(r => r.getAs[String]("source") -> r.getAs[Long]("n_s")).toMap
    val nTotal = nBySource.values.sum
    val z = nBySource.values.map(n => math.floor(math.sqrt(n.toDouble) * 1e6).toLong).sum
    // reimplement: quota law + threshold prefilter + rank-take, driver-side
    val hashed = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(col("doc_id"), col("source"), col("n_chars"), charRollingHash(col("text")).as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out.foreach { r =>
      val src = r.getAs[String]("source")
      val nS = nBySource(src)
      val sS = math.floor(math.sqrt(nS.toDouble) * 1e6).toLong
      val quota = math.min(nS, (nTotal / 5) * sS / z)
      assert(r.getAs[Long]("quota") == quota)
      val hCut = math.floor(quota * 1.3e0 / nS * 1000000007e0).toLong
      val taken = hashed
        .filter(d => d._2 == src && d._4 < hCut)
        .sortBy(d => (d._4, d._1))
        .take(quota.toInt)
      assert(r.getAs[Long]("n_taken") == taken.length.toLong)
      assert(r.getAs[Long]("id_checksum") == taken.map(_._1).sum)
      assert(r.getAs[Long]("sampled_chars") == taken.map(_._3).sum)
    }
    // sqrt temperature: sampling FRACTION is non-increasing in source size
    val fracByN = out
      .filter(_.getAs[Long]("quota") > 0)
      .map(r => (r.getAs[Long]("n_s"), r.getAs[Long]("quota").toDouble / r.getAs[Long]("n_s")))
      .sortBy(_._1)
    fracByN.zip(fracByN.tail).foreach { case ((n1, f1), (n2, f2)) =>
      if (n1 < n2) assert(f2 <= f1 + 1e-12)
    }
  }
  test("bloom decontamination equals the broadcast-join decontamination exactly") {
    // the bloom prune is candidates-only: the verify join must erase every
    // false positive, leaving the broadcast plan's exact result
    val a = TextQueries.queries("t_ngram_decontaminate")(spark, Sf0001)
      .collect().map(_.toString).sorted.toSeq
    val b = TextQueries.queries("t_bloom_decontaminate")(spark, Sf0001)
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
  }

  test("source novelty: matches a driver-side recompute of per-source unique-span rates") {
    val P = 1000000007L
    def chash(w: String): Long = w.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
    def spans(t: String): Set[Long] = {
      val wh = t.split(" ", -1).map(chash)
      val gs =
        if (wh.length < 8) Array(wh.foldLeft(0L)((acc, h) => (acc * 31 + h) % P))
        else wh.sliding(8).map(_.foldLeft(0L)((acc, h) => (acc * 31 + h) % P)).toArray
      gs.toSet
    }
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), spans(r.getString(1))))
    val df = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    docs.foreach { case (_, sp) => sp.foreach(h => df(h) += 1) }
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val n = ds.map(_._2.size.toLong).sum
      val novel = ds.map(_._2.count(h => df(h) == 1L).toLong).sum
      src -> ((n, novel))
    }
    val rows = TextQueries.queries("t_source_novelty")(spark, Sf0001).collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, novel) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_spans") == n)
      assert(r.getAs[Long]("n_novel") == novel)
      assert(r.getAs[Long]("novelty_e6") == novel * 1000000L / n)
    }
  }

  test("DSIR importance: raw-pool docs only, descending log-weights, target docs score higher on their own features") {
    val rows = TextQueries.queries("t_dsir_importance")(spark, Sf0001).collect()
    assert(rows.length == 20)
    // target docs (doc_id % 50 = 0) define the model; only the raw pool is scored
    assert(rows.forall(_.getAs[Long]("doc_id") % 50 != 0))
    val ws = rows.map(_.getAs[Double]("dsir_logw"))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b })
    // the selection front is the TOP of the pool: every selected weight is
    // >= the pool median (sanity that ordering wasn't inverted)
    assert(ws.head > ws.last || ws.distinct.length == 1)
  }

  test("CMS: estimate >= exact for every probed word (one-sided error), bounded overestimate") {
    import org.apache.spark.sql.functions._
    val rows = TextQueries.queries("t_cms_frequency")(spark, Sf0001).collect()
    assert(rows.length == 20)
    // the CMS never underestimates — its one defining guarantee
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("n_occurrences"))
      assert(r.getAs[Long]("overestimate") ==
        r.getAs[Long]("cms_estimate") - r.getAs[Long]("n_occurrences"))
    }
    // Markov bound per row: E[over] <= N/1024, and min over 4 independent
    // rows makes a 40x blowout astronomically unlikely — use it as a
    // generous sanity ceiling rather than a tight probabilistic claim
    val nTotal = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")))
      .count()
    rows.foreach(r => assert(r.getAs[Long]("overestimate") <= 40L * nTotal / 1024L))
    // probed words are exactly the exact top-20 (count desc, word asc)
    val exact = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[String]("w"), r.getAs[Long]("n")))
      .sortBy { case (w, n) => (-n, w) }.take(20)
    assert(rows.map(r => (r.getAs[String]("w"), r.getAs[Long]("n_occurrences"))).toSeq == exact.toSeq)
  }

  test("Zipf fit: slope negative, r2 in (0, 1], intercept recovers ln(top frequency) scale") {
    val r = TextQueries.queries("t_zipf_fit")(spark, Sf0001).collect().head
    val slope = r.getAs[Double]("zipf_slope")
    val r2 = r.getAs[Double]("r2")
    // sf0.001's synthetic corpus has only ~31 word types; the 1000 cap
    // binds at bench scales
    assert(r.getAs[Long]("n_types_fit") > 10)
    assert(slope < 0.0) // frequency decreases with rank, always
    assert(r2 > 0.0 && r2 <= 1.0)
    // at rank 1, ln(freq) ~ intercept: within a broad band of the true top count
    val topLn = math.log(
      TextQueries.queries("t_cms_frequency")(spark, Sf0001)
        .collect().head.getAs[Long]("n_occurrences").toDouble)
    assert(math.abs(r.getAs[Double]("zipf_intercept") - topLn) < 0.5 * topLn)
  }
}
