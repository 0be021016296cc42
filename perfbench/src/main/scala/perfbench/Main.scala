package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutionException, FutureTask, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Row, SparkSession}

/** Closed-loop benchmark harness: one client thread in one JVM at
  * local[nproc] runs one op at a time.
  *
  * Usage (the runner `perfbench/run.py` passes these):
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <corpus dir> --work <scratch dir> --out <records.jsonl>
  *   [--users <rows> --key-slots <n> --null-id-period <n> --bad-date-period <n>]
  * }}}
  *
  * A run sets up (session, inputs prepared `PrepReps` times, untimed
  * warm-up passes numbered up to 0), then runs whole passes from 1 for
  * about `--seconds`, at least `MinPasses`. Each pass starts from an
  * empty warehouse. With `--trace 1` odd passes run with tracing off and
  * even passes with a listener and spans on, so the run measures its own
  * tracing overhead.
  * Every record is kept in memory and written to `--out` at the end;
  * the runner turns them into metrics.
  */
object Main {

  val PrepReps = 3
  /** Untimed warm-up passes: the first pass runs cold (class loading,
    * codegen, JIT), later ones do not.
    */
  val WarmupPasses = 1
  /** Timed passes at least: three, so that the per-op statistics the
    * runner takes over the passes (lower quartile of wall time, median of
    * CPU time) can drop a disturbed execution. A traced run alternates
    * untraced, traced, untraced, so a pass-to-pass trend cancels out of
    * the overhead.
    */
  val MinPasses = 3
  val OpCapSec = 40L

  private val records = mutable.ArrayBuffer.empty[String]
  private def emit(kv: (String, Any)*): Unit = records += Json.obj(kv: _*)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // Epoch nanoseconds, so spans line up with the listener's job times.
    val epochOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def now(): Long = System.nanoTime() + epochOffset

    val warehouse = new File(s"$work/warehouse")
    val etlIn = s"$work/users.parquet"
    val ops: Seq[Op] = workload match {
      case "etl_users" => Workloads.etlOps(spark, etlIn, s"$work/sink")
      case w => Workloads.queryOps(spark, data, w, seed)
    }
    val prep: () => Unit = workload match {
      case "etl_users" =>
        val g = Workloads.UserGen(a("users").toLong, a("key-slots").toLong,
          a("null-id-period").toInt, a("bad-date-period").toInt)
        () => Workloads.writeUsers(spark, g, etlIn)
      case _ =>
        val tables = Seq("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
        () => tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    }

    def wipeWarehouse(): Unit = {
      spark.catalog.listTables().collect().foreach { t =>
        if (t.isTemporary) spark.catalog.dropTempView(t.name)
        else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
      }
      deleteTree(warehouse)
      warehouse.mkdirs()
    }

    val recorder = new Recorder
    var spanId = 0L
    def span(parent: Long, kind: String, name: String, pass: Int, t0: Long, t1: Long): Long = {
      spanId += 1
      emit("t" -> "span", "id" -> spanId, "parent" -> parent, "kind" -> kind,
        "name" -> name, "pass" -> pass, "start_ns" -> t0, "end_ns" -> t1)
      spanId
    }

    /** Run one op on its own thread under a job group, capped at
      * `OpCapSec`; a capped op is cancelled and waited for, so it never
      * overlaps the next op.
      */
    def runOp(op: Op, pass: Int, traced: Boolean, passSpan: Long): Unit = {
      val group = s"perfbench-$pass-${op.name}"
      val times = new Array[Long](3)
      val cpu0 = os.getProcessCpuTime
      val task = new FutureTask(new Callable[Option[(Array[Row], org.apache.spark.sql.types.StructType)]] {
        def call() = {
          sc.setJobGroup(group, op.name, interruptOnCancel = true)
          times(0) = now()
          val act = op.build()
          times(1) = now()
          val out = act()
          times(2) = now()
          out
        }
      })
      val th = new Thread(task, s"perfbench-${op.name}")
      th.setDaemon(true)
      th.start()
      val (status, error, out) =
        try ("ok", "", task.get(OpCapSec, TimeUnit.SECONDS))
        catch {
          case _: TimeoutException =>
            task.cancel(true)
            while (th.isAlive) {
              sc.cancelJobGroup(group)
              th.join(500L)
            }
            ("capped", s"exceeded ${OpCapSec}s", None)
          case e: Throwable =>
            val c = e match {
              case ee: ExecutionException if ee.getCause != null => ee.getCause
              case o => o
            }
            ("failed", String.valueOf(c.getMessage).take(300), None)
        }
      th.join()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val ok = status == "ok"
      println(s"[perfbench] pass $pass ${op.name} $status " + (if (ok) s"${(times(2) - times(0)) / 1e9} s" else error))
      val fp = out.map { case (rows, schema) => (Checksum.of(rows, schema), rows) }
      if (traced && ok) {
        val id = span(passSpan, "op", op.name, pass, times(0), times(2))
        span(id, "build", op.name, pass, times(0), times(1))
        span(id, "action", op.name, pass, times(1), times(2))
      }
      emit(
        "t" -> "op", "pass" -> pass, "name" -> op.name, "module" -> op.module,
        "group" -> group, "status" -> status, "error" -> error, "traced" -> traced,
        "start_ns" -> (if (ok) times(0) else 0L), "end_ns" -> (if (ok) times(2) else 0L),
        "build_s" -> (if (ok) (times(1) - times(0)) / 1e9 else -1.0),
        "action_s" -> (if (ok) (times(2) - times(1)) / 1e9 else -1.0),
        "cpu_s" -> cpu,
        "rows" -> fp.map(_._1.rows).getOrElse(-1L),
        "checksum" -> fp.map(_._1.sum).orNull,
        "schema" -> fp.map(_._1.schema).orNull,
        "row" -> fp.collect { case (p, rows) if p.rows == 1 =>
          val r = rows(0)
          r.schema.fieldNames.zipWithIndex.map { case (f, i) => f -> r.get(i) }.toSeq
        }.orNull,
      )
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      wipeWarehouse()
      if (traced) {
        recorder.pass = pass
        sc.addSparkListener(recorder)
      }
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMillis()
      val t0 = now()
      val passSpan = if (traced) { spanId += 1; spanId } else 0L
      ops.foreach(op => runOp(op, pass, traced, passSpan))
      val t1 = now()
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      val gc = (gcMillis() - gc0) / 1e3
      if (traced) {
        emit("t" -> "span", "id" -> passSpan, "parent" -> 0L, "kind" -> "pass",
          "name" -> workload, "pass" -> pass, "start_ns" -> t0, "end_ns" -> t1)
        Bus.drain(sc)
        sc.removeSparkListener(recorder)
      }
      // Store state after the pass, outside the timed region.
      val tables = spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name)
      val storeRows = tables.map(t => spark.table(s"`$t`").count()).sum
      val files = listFiles(warehouse).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      emit("t" -> "pass", "pass" -> pass, "traced" -> traced, "wall_s" -> (t1 - t0) / 1e9,
        "cpu_s" -> cpu, "gc_s" -> gc, "start_ns" -> t0, "end_ns" -> t1, "store_tables" -> tables.length,
        "store_rows" -> storeRows, "store_files" -> files.length, "store_bytes" -> files.map(_.length).sum)
    }

    // ---- set-up: inputs prepared PrepReps times, then the warm-up passes.
    val prepS = (1 to PrepReps).map { _ =>
      val t0 = System.nanoTime(); prep(); (System.nanoTime() - t0) / 1e9
    }
    val inputBytes = if (workload == "etl_users") listFiles(new File(etlIn)).map(_.length).sum else 0L
    val w0 = System.nanoTime()
    (1 - WarmupPasses to 0).foreach(p => runPass(p, traced = false))
    val warmS = (System.nanoTime() - w0) / 1e9
    emit("t" -> "setup", "session_s" -> sessionS, "prep_s" -> prepS, "warmup_s" -> warmS,
      "cores" -> cpus, "input_bytes" -> inputBytes, "ops" -> ops.map(_.name))

    // ---- timed passes: whole passes while one more would end nearer to
    // `--seconds` than stopping now does.
    val m0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - m0) / 1e9
    var pass = 1
    var last = 0.0
    while (pass <= MinPasses || elapsed + last / 2 < seconds) {
      val t0 = elapsed
      runPass(pass, traced = trace && pass % 2 == 0)
      last = elapsed - t0
      pass += 1
    }
    emit("t" -> "measured", "seconds" -> (System.nanoTime() - m0) / 1e9, "passes" -> (pass - 1))

    if (trace) {
      recorder.jobs.values.foreach { j =>
        emit("t" -> "job", "id" -> j.id, "pass" -> j.pass, "group" -> j.group,
          "start_ns" -> j.start * 1000000L, "end_ns" -> j.end * 1000000L, "ok" -> j.ok,
          "callsite" -> j.callsite, "stages" -> j.stages)
      }
      recorder.stages.values.foreach { s =>
        emit("t" -> "stage", "id" -> s.id, "tasks" -> s.tasks, "failed_tasks" -> s.failed,
          "run_s" -> s.runMs / 1e3, "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
          "sched_delay_s" -> s.schedMs / 1e3, "shuffle_read_bytes" -> s.shuffleRead,
          "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
          "input_bytes" -> s.input, "output_bytes" -> s.output)
      }
      recorder.blocks.groupBy(_._1).foreach { case (p, bs) =>
        emit("t" -> "pins", "pass" -> p, "blocks" -> bs.size, "bytes" -> bs.map(_._2).sum)
      }
    }

    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    emit("t" -> "end", "peak_rss_kb" -> hwm)
    Files.write(Paths.get(a("out")), records.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** Collection time of every JVM collector so far, in milliseconds. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else if (f.isFile) Seq(f)
    else Nil

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON encoder for the harness's records. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case kvs: Seq[_] if kvs.nonEmpty && kvs.forall(_.isInstanceOf[(_, _)] ) =>
      obj(kvs.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
