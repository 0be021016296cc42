package graft
import java.util.concurrent.{Callable, ExecutionException, FutureTask, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints per-query JSON lines as they complete, then one summary line.
  *
  * The action is a noop-format write (not `.count()`): a bare count lets
  * Catalyst prune every projection, under-measuring real queries; the noop
  * sink executes the full physical plan including all column work, while
  * writing nothing (VERDICT.md r1 "What's wrong").
  *
  * Fail-open design (VERDICT.md r2): each query's time is printed the moment
  * it's measured, and each query is bounded by a wall-clock cap
  * (SPARK_GRAFT_BENCH_CAP seconds per rep, default 60).
  *
  * Measurement hygiene (VERDICT.md r3 "What's wrong" #1/#2 — round 3's
  * 584.9 s total was a harness cascade, not a query regression):
  *   - One untimed global warm-up before the timed loop touches every parquet
  *     table and the noop sink, so the first timed query doesn't absorb the
  *     JVM/codegen/datasource cold start (r3: alphabetically-first query paid
  *     56.6 s of init).
  *   - On cap expiry the worker thread is interrupted (`task.cancel(true)`)
  *     AND `cancelJobGroup` is re-issued in a loop until the thread actually
  *     dies: `cancelJobGroup` only cancels jobs active at that instant, and
  *     an AQE query is many small jobs — a single cancel landing between jobs
  *     leaves a zombie query saturating the shared local[32] scheduler under
  *     every subsequent measurement. Two queries never share the scheduler.
  *   - Reps default to 3 (warm-up rep + median of 3) on this stall-prone
  *     host; the per-rep cap bounds worst-case wall-clock.
  */
object Bench {
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val capSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAP", "60").toLong

    // ---- Untimed global warm-up: pay JVM + codegen + datasource init once.
    val warmT0 = System.nanoTime()
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .limit(32).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $t skipped: ${e.getMessage}")
      }
    }
    // Warm the mock/DSv2 path too — r3 showed driver-side mock queries are
    // just as exposed to cold-start as parquet scans.
    try SparkEntry.queries.get("s2_mock_users").foreach { fn =>
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up mock skipped: ${e.getMessage}")
    }
    System.err.println(s"[bench] warm-up done in ${fmt((System.nanoTime() - warmT0) / 1e9)}s")

    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // Job-group tag set in the worker thread (setJobGroup is thread-local)
      // so a cap expiry can cancel exactly this query's jobs.
      val task = new FutureTask(new Callable[Double] {
        def call(): Double = {
          spark.sparkContext.setJobGroup(name, s"bench $name", interruptOnCancel = true)
          def once(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          if (reps <= 1) once()
          else { once(); val ts = Seq.fill(reps)(once()).sorted; ts(ts.size / 2) }
        }
      })
      val th = new Thread(task, s"bench-$name"); th.setDaemon(true); th.start()
      val budget = capSec * math.max(1, reps + (if (reps > 1) 1 else 0))
      try task.get(budget, TimeUnit.SECONDS)
      catch {
        case _: TimeoutException =>
          // Interrupt the worker AND keep cancelling the job group until the
          // thread is provably dead — never start the next measurement with
          // this query still holding scheduler slots.
          task.cancel(true)
          var waitedMs = 0L
          while (th.isAlive && waitedMs < 30000L) {
            try spark.sparkContext.cancelJobGroup(name)
            catch { case _: Throwable => () }
            th.join(500L); waitedMs += 500L
          }
          if (th.isAlive)
            System.err.println(s"[bench] $name worker still alive after drain — results after this point may be contaminated")
          System.err.println(s"[bench] $name exceeded ${budget}s budget, cancelled")
          -1.0
        case e: Throwable =>
          val cause = e match {
            case ee: ExecutionException if ee.getCause != null => ee.getCause
            case other => other
          }
          System.err.println(s"[bench] $name failed: ${cause.getMessage}")
          -1.0
      }
    }

    // Stateful index families (VERDICT r11 #7): the e_index_*/d_index_*
    // queries serve from persisted warehouse stores with build-on-miss —
    // their first-ever rep pays an index build the warm reps don't (r11:
    // 13.9 s cold vs 3.5 s warm on e_index_search's family). Tag each
    // measurement with whether THIS run's first rep created store tables
    // (cold-build-first-rep) or found them (warm-serve), so bench deltas
    // on these queries are attributable without reading BASELINE prose.
    // The *_build queries rebuild unconditionally every rep by contract.
    val storePrefixes = Seq("graft_ivf_", "graft_pq_", "graft_inc_",
      "graft_rsd_", "graft_dix_", "graft_dxd_", "graft_dxc_", "graft_dsi_")
    def storeTables(): Set[String] =
      spark.catalog.listTables().collect().map(_.name)
        .filter(n => storePrefixes.exists(n.startsWith)).toSet

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val stateful = name.startsWith("e_index") || name.startsWith("d_index") ||
        name == "d_stream_ingest"
      val before = if (stateful) storeTables() else Set.empty[String]
      val sec = measure(name, fn)
      val store =
        if (!stateful) ""
        else if (name.endsWith("_build")) ""","store":"rebuild-per-rep""""
        else if ((storeTables() -- before).nonEmpty) ""","store":"cold-build-first-rep""""
        else ""","store":"warm-serve""""
      // One parseable line per query, flushed immediately: a driver that
      // times out the whole run still gets every completed measurement.
      println(s"""{"metric":"query","name":"$name","value":${fmt(sec)},"unit":"sec"$store}""")
      Console.out.flush()
      name -> sec
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val ok = results.map(_._2).filter(_ >= 0)
    val failed = results.size - ok.size
    // slowest-15 AFTER the full map (VERDICT r10 #6): the driver keeps
    // only the last ~2 KB of output, which the alphabetical per-query map
    // alone overflows — so regression analysis saw just its q/s/t tail.
    // Placing a compact worst-offenders digest (plus failed/sf) after the
    // map keeps the whole performance story inside the visible window.
    val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt(ok.sum)},"unit":"sec","queries":$qs,"failed":$failed,"slowest15":$slow,"sf":"$sfDir"}"""
    )
    Console.out.flush()
    spark.stop()
  }
}
