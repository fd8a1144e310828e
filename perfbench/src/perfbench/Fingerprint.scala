package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result fingerprint, of the timed results and (by
  * derive_expected.py, through parquet) of their DuckDB twins alike.
  * Integers are exact, floating and decimal values are rounded to 9
  * significant digits (half-even, on the exact binary value),
  * timestamps are epoch microseconds and dates ISO strings. A row is
  * its values in column-name order joined by U+001F; the fingerprint is
  * the sum mod 2^64 of the first 8 bytes of each row's SHA-256. */
object Fingerprint {
  private val mc = new MathContext(9, RoundingMode.HALF_EVEN)

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.round(mc).stripTrailingZeros.toPlainString

  private def double(x: Double): String =
    if (x.isNaN) "NaN"
    else if (x.isPosInfinity) "Inf"
    else if (x.isNegInfinity) "-Inf"
    else number(new JBigDecimal(x))

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case f: Float => double(f.toDouble)
    case d: Double => double(d)
    case d: JBigDecimal => number(d)
    case d: scala.math.BigDecimal => number(d.bigDecimal)
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString
    case i: java.time.Instant =>
      (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString
    case t: java.time.LocalDateTime => canon(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => (k.toString, canon(x)) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, 16-hex-digit fingerprint). */
  def of(columns: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = columns.indices.sortBy(columns(_))
    val md = MessageDigest.getInstance("SHA-256")
    var total = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\u001f")
      val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
      total += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    (rows.length.toLong, f"$total%016x")
  }
}
