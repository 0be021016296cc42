package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result: row count, a 64-bit
  * checksum that is the wrapping sum of per-row hashes, and the schema.
  *
  * Floating-point values are rounded to nine significant digits before
  * hashing, so a result whose parallel sums land in a different last ulp
  * still matches. Arrays keep their order (it is part of the value); map
  * entries are sorted.
  */
object Checksum {

  final case class Print(rows: Long, sum: String, schema: String)

  def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  def of(rows: Array[Row], schema: StructType): Print = {
    var sum = 0L
    rows.foreach(r => sum += hash64(canon(r)))
    Print(rows.length.toLong, f"$sum%016x", schemaString(schema))
  }

  private def hash64(s: String): Long = {
    val b = s.getBytes(UTF_8)
    val hi = MurmurHash3.bytesHash(b, 0x2b7e1516)
    val lo = MurmurHash3.bytesHash(b, 0x28aed2a6)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.8e", Double.box(d))

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", "|", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
