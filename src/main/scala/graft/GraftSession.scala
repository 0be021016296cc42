package graft

import org.apache.spark.sql.SparkSession

/** The one builder for the engine's local sessions (mains and tests).
  *
  * Every setting here is load-bearing:
  *   - `spark.sql.session.timeZone=UTC`: the NTZ→LTZ event-time cast is a
  *     pure re-tag only in UTC, which oracle hash parity relies on
  *     (`Q.normalizeEventTs`).
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: events.parquet may
  *     carry TIMESTAMP(NANOS), which Spark 4 refuses otherwise; set at
  *     startup, never as a side effect of building a query.
  *   - shuffle partitions = cores, UI off.
  *
  * The engine's own operators need nothing here: native expressions come
  * from `SketchExpressions`' typed constructors, and `GroupedTopK.topK`
  * adds its planner strategy to whichever session it runs in.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
