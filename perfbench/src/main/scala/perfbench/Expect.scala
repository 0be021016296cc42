package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the expected fingerprint of every op from a `graft.Verify` dump
  * that has passed `tools/check_oracle.py`:
  * {{{
  * perfbench.Expect <dump dir> <out.json> <comma-separated clock ops>
  * }}}
  * Ops listed as clock ops read the wall clock; the runner checks them on
  * row count and schema only.
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dump, out, clock) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val names = new File(dump).listFiles().filter(_.isDirectory).map(_.getName).sorted
    val ops = names.toSeq.map { n =>
      val df = spark.read.parquet(s"$dump/$n")
      val p = Checksum.of(df.collect(), df.schema)
      n -> Seq("rows" -> p.rows, "checksum" -> p.sum, "schema" -> p.schema)
    }
    val json = Json.obj("clock_ops" -> clock.split(',').toSeq, "ops" -> ops)
    Files.write(Paths.get(out), (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
