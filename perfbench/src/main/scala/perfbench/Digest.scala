package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result, computed the same way
  * by `expected.py` over the DuckDB oracle's result.
  *
  * The comparison rules are those of `tools/crosscheck.py`: columns are
  * sorted by name, row order does not matter, NULL equals NULL (and NaN,
  * which pandas also treats as missing), and numbers compare by value, so
  * an integral double equals the same integer.
  *
  * Each value renders to a tagged string; a row is its sorted columns'
  * length-prefixed renderings; the digest is the sum (mod 2^64) of the
  * rows' truncated SHA-256, plus the row count and the column names. */
object Digest {
  final case class Fingerprint(columns: Seq[String], rows: Long, sum: String) {
    def show: String = s"cols=${columns.mkString(",")} rows=$rows sum=$sum"
  }

  private val TwoTo53 = 9007199254740992.0

  def renderDouble(d: Double): String =
    if (d.isNaN) "N"
    else if (!d.isInfinite && d == Math.rint(d) && Math.abs(d) < TwoTo53)
      "I" + d.toLong.toString
    else "F" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def render(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "Bt" else "Bf"
    case i: Byte => "I" + i
    case i: Short => "I" + i
    case i: Int => "I" + i
    case i: Long => "I" + i
    case f: Float => renderDouble(f.toDouble)
    case d: Double => renderDouble(d)
    case d: java.math.BigDecimal => renderDouble(d.doubleValue)
    case d: scala.math.BigDecimal => renderDouble(d.toDouble)
    case s: String => "S" + s
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      "T" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      render(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case b: Array[Byte] => "X" + b.map("%02x".format(_)).mkString
    case r: Row => "R" + join(r.toSeq.map(render))
    case m: scala.collection.Map[_, _] =>
      "M" + join(m.toSeq.map { case (k, x) => join(Seq(render(k), render(x))) }.sorted)
    case s: scala.collection.Seq[_] => "L" + join(s.toSeq.map(render))
    case other => "S" + other.toString
  }

  private def join(parts: Seq[String]): String =
    parts.map(p => s"${p.getBytes(UTF_8).length}:$p").mkString

  def rowHash(rendered: Seq[String]): Long = {
    val h = MessageDigest.getInstance("SHA-256").digest(join(rendered).getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def of(schema: StructType, rows: Array[Row]): Fingerprint = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    var sum = 0L
    rows.foreach { r => sum += rowHash(order.toSeq.map { case (_, i) => render(r.get(i)) }) }
    Fingerprint(order.map(_._1).toSeq, rows.length.toLong, f"$sum%016x")
  }
}
