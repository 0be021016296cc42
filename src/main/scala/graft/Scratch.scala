package graft

/** Scratch profiling main (not part of the driver contract). */
object Scratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    if (args.headOption.contains("names")) {
      // print every registered query name (sweep batching reads this —
      // the authoritative list is SparkEntry.queries, not a source grep)
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      spark.stop()
      return
    }
    if (args.headOption.contains("explain")) {
      args.drop(1).foreach { name =>
        println(s"===== $name =====")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("explainExec")) {
      // final AQE plan (ReusedExchange visibility): execute, then print
      args.drop(1).foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        println(s"===== $name (executed) =====")
        println(df.queryExecution.executedPlan.toString.take(20000))
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("dump")) {
      // dump <outDir> <name>... — re-dump single queries into an existing
      // Verify output dir (sfDir via SPARK_GRAFT_SF_DIR), for spot re-checks
      val outDir = args(1)
      args.drop(2).foreach { name =>
        SparkEntry.queries(name)(spark, sfDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(s"[scratch] dumped $name")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("tune")) {
      // print the RangeJoin auto-knobs for the session-interval frame at
      // this SF (dev instrument for VERDICT r10 #1)
      import org.apache.spark.sql.functions._
      val iv = graft.streaming.EventPipeline
        .sessionize(graft.queries.Q.events(spark, sfDir))
        .select(
          col("user_id"),
          unix_micros(col("session_start")).as("s"),
          unix_micros(col("session_end")).as("e"))
        .localCheckpoint()
      val t0 = System.nanoTime()
      val k = graft.operators.RangeJoin.tuneKnobs(iv, "s", "e")
      println(f"[tune] ${(System.nanoTime() - t0) / 1e9}%.3f s  $k  " +
        f"(width=${k.bucketWidth / 60e6}%.2f min)")
      spark.stop()
      return
    }
    if (args.headOption.contains("dixscale")) {
      // VERDICT r13 #4 — engine-side probe-vs-build evidence for the
      // persisted dedup index a decade past sf10, asserting the store's
      // own plant invariants (no oracle). The REGISTERED d_index_probe
      // plant is id-offset-capped at corpus ids < 3e6 (it fails loudly
      // past ~sf60 by design), so this action probes the SAME store
      // through the SAME probeVerdictsOf entry point with a guard-free
      // batch plant whose offsets sit above any corpus domain:
      //   exact copies of every 31st store doc (+1e8 → exact_dup_corpus)
      //   ∪ word-reversed texts of every 41st ≥3-word store doc
      //     (+2e8 → disjoint shingles → 'new').
      // Two batch sizes bound the probe's O(batch) claim directly.
      import org.apache.spark.sql.functions._
      val dq = graft.queries.DedupQueries
      val t0 = System.nanoTime()
      val (docT, bandT) = dq.dedupIndexTables(spark, sfDir, rebuild = true)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val nStore = spark.table(docT).count()
      val base = dq.incBase(spark, sfDir)
      def plant(modCopy: Int, modNew: Int) = {
        val copies = base.filter(col("doc_id") % modCopy === 0)
          .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
        val fresh = base.filter(col("doc_id") % modNew === 0)
          .filter(size(split(col("text"), " ")) >= 3)
          .select((col("doc_id") + 200000000L).as("doc_id"),
            expr("array_join(reverse(split(text, ' ')), ' ')").as("text"))
        (copies.unionAll(fresh).localCheckpoint(),
          copies.count(), fresh.count())
      }
      def probe(tag: String, modCopy: Int, modNew: Int): Unit = {
        val (batch, nCopy, nFresh) = plant(modCopy, modNew)
        val t1 = System.nanoTime()
        val v = dq.probeVerdictsOf(spark, batch, spark.table(docT), spark.table(bandT))
          .groupBy(col("verdict")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val tProbe = (System.nanoTime() - t1) / 1e9
        // plant invariants: every copy (and ONLY the copies) rediscovered
        // as an exact corpus dup; the fresh reversed docs split between
        // 'new' and 'dup_in_batch' — a reversed doc whose SOURCE was a
        // natural near-dup of another picked source is legitimately a
        // within-batch near-dup of that pick's reversal (measured: 121
        // of 97561 at sf100) — and nothing is unaccounted.
        require(v.getOrElse("exact_dup_corpus", 0L) == nCopy,
          s"$tag: ${v.getOrElse("exact_dup_corpus", 0L)} exact dups != $nCopy planted copies ($v)")
        require(v.getOrElse("new", 0L) + v.getOrElse("dup_in_batch", 0L) == nFresh,
          s"$tag: new + in-batch ${v.getOrElse("new", 0L)} + ${v.getOrElse("dup_in_batch", 0L)} != $nFresh fresh docs ($v)")
        require(v.values.sum == nCopy + nFresh, s"$tag: verdicts do not partition the batch ($v)")
        println(f"[dixscale] $tag store=$nStore batch=${nCopy + nFresh} " +
          f"verdicts=$v probe=$tProbe%.1f s build=$tBuild%.1f s probe/build=${tProbe / tBuild}%.4f")
      }
      probe("batch_large", 31, 41)
      probe("batch_small", 311, 411)
      spark.stop()
      return
    }
    val names = if (args.nonEmpty) args.toSeq else Seq("p1_p2_normalize", "a1_a4_mock_metrics")
    for (name <- names; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force analysis+optimization+planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(
        f"[scratch] $name rep$rep: build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f s"
      )
    }
    spark.stop()
  }
}
