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
