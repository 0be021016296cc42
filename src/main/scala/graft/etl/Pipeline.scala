package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.{HttpUserSource, MockUserSource}

/** The pipeline runner: ordered Extract → Transform → Load stages driven by
  * a descriptor, with measured per-stage wall-clock and K4 log lines.
  *
  * Reference: the stage list ["extract","transform","load"] is static config
  * (src/mock-data/etl.json:2, consumed pages/index.js:30); stage progress is
  * a cosmetic setTimeout animation (pages/index.js:49-81) and `duration_sec`
  * a fake constant (etl.json:8). Here stages are real lazy lineage segments,
  * progress is data (LogLine records), and duration_sec is measured around
  * the stage actions (SURVEY §2.9 / A8).
  */
object Pipeline {

  /** S3 — the static pipeline descriptor (etl.json:2). */
  val Stages: Seq[String] = Seq("extract", "transform", "load")

  final case class LogLine(ts: String, stage: String, message: String) {
    override def toString: String = Sinks.logLine(ts, stage, message)
  }

  final case class RunResult(
      users: DataFrame,
      metrics: Row,
      logs: Seq[LogLine],
      fallbackUsed: Boolean,
      sourceUrl: String,
      fetchedAt: String,
      durationSec: Double
  )

  /** K3 — the degraded result the reference's SSR path returns when the
    * whole pipeline throws (pages/index.js:293-311): zeroed metrics, empty
    * user set, error surfaced as a log line. Never throws.
    */
  def degraded(spark: SparkSession, error: Throwable): RunResult = {
    import org.apache.spark.sql.functions._
    val zero = spark
      .range(1)
      .select(
        lit(0L).as("rows_in"),
        lit(0L).as("rows_out"),
        lit(0L).as("dedup_removed"),
        lit(0L).as("countries"),
        lit(0L).as("uniqueCities"),
        lit(0L).as("totalUsers"),
        lit(0.0).as("avgRegistrationYears"),
        lit("N/A").as("lastUser")
      )
      .collect()(0)
    val empty = spark
      .createDataFrame(new java.util.ArrayList[Row](), graft.model.Schemas.user)
    RunResult(
      empty,
      zero,
      Seq(LogLine(java.time.Instant.now().toString, "Error", error.getMessage)),
      fallbackUsed = true,
      sourceUrl = "",
      fetchedAt = "",
      durationSec = 0.0
    )
  }

  /** `run` with the reference's outer error semantics: any failure
    * degrades to the zeroed-metrics result instead of throwing.
    */
  def runSafe(
      spark: SparkSession,
      useMock: Boolean = true,
      csvOut: Option[String] = None
  ): RunResult =
    try run(spark, useMock, csvOut)
    catch { case scala.util.control.NonFatal(e) => degraded(spark, e) }

  /** Run the full pipeline. `useMock = true` skips the HTTP attempt (test
    * determinism); false reproduces fetch-then-fallback (S1 semantics).
    */
  def run(
      spark: SparkSession,
      useMock: Boolean = true,
      csvOut: Option[String] = None
  ): RunResult = {
    val t0 = System.nanoTime()
    def now() = java.time.Instant.now().toString
    val logs = Seq.newBuilder[LogLine]

    // Extract
    val src =
      if (useMock)
        HttpUserSource.Result(
          MockUserSource.users(spark),
          fallbackUsed = true,
          sourceUrl = "mock://users",
          fetchedAt = now()
        )
      else HttpUserSource.load(spark)
    logs += LogLine(now(), "Extract", s"source=${src.sourceUrl} fallback=${src.fallbackUsed}")

    // Transform (+ the metric record over the raw input)
    val cleaned = Clean(src.users)
    val metricsRow = Metrics.compute(src.users).collect()(0)
    logs += LogLine(
      now(),
      "Transform",
      s"rows_in=${metricsRow.getAs[Long]("rows_in")} rows_out=${metricsRow.getAs[Long]("rows_out")}"
    )

    // Load
    csvOut.foreach(p => Sinks.writeCsv(cleaned, p))
    logs += LogLine(now(), "Load", s"exported=${csvOut.isDefined}")

    val dur = (System.nanoTime() - t0) / 1e9
    RunResult(
      cleaned,
      metricsRow,
      logs.result(),
      src.fallbackUsed,
      src.sourceUrl,
      src.fetchedAt,
      dur
    )
  }
}
