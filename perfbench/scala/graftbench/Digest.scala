package graftbench

import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Row-order-independent digest of a result, computed the same way by
  * perfbench/oracle.py over DuckDB rows: columns sorted by name, each
  * row rendered canonically and MD5-hashed, the 64-bit hash prefixes
  * summed mod 2^64. Doubles render as their IEEE bits (exact match),
  * timestamps as UTC epoch microseconds, dates as epoch days.
  */
object Digest {
  final case class Result(columns: Seq[String], rows: Long, sum: String)

  def cell(v: Any): String = v match {
    case null => "\u0000N"
    case d: Double => java.lang.Double.doubleToLongBits(d).toString
    case f: Float => java.lang.Double.doubleToLongBits(f.toDouble).toString
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
        .toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal =>
      b.bigDecimal.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): Result = {
    val order = columns.indices.sortBy(i => columns(i))
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => cell(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Result(order.map(columns), rows.length.toLong,
      java.lang.Long.toUnsignedString(sum))
  }
}
