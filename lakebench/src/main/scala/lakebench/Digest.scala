package lakebench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result, computed the same way
  * by `oracle.py` over DuckDB rows, so a Spark result can be checked
  * against the DuckDB oracle without shipping rows between processes.
  *
  * Columns are taken in name order. Each value has a canonical text
  * form (integers and decimals exact, floating point rounded to 7
  * significant digits half-even from its exact binary value,
  * timestamps and dates as epoch microseconds (a date is its
  * midnight, as the oracle's pandas comparison has it), nested
  * values recursively); a row hashes to the first 8 bytes of the MD5 of
  * its canonical text, and the digest is the row count plus the sum of
  * the row hashes modulo 2^64.
  */
object Digest {
  private val Sig = new MathContext(7, RoundingMode.HALF_EVEN)

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md5 = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val text = order.map(i => canon(r.get(i))).mkString("\u001e")
      val h = md5.digest(text.getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    f"${rows.length}:$sum%016x"
  }

  private def num(d: JBigDecimal): String =
    if (d.signum == 0) "n0e0"
    else {
      val s = d.stripTrailingZeros
      s"n${s.unscaledValue}e${-s.scale}"
    }

  private def float(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else num(new JBigDecimal(d).round(Sig))

  def canon(v: Any): String = v match {
    case null => "null"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => num(JBigDecimal.valueOf(x.toLong))
    case x: Short => num(JBigDecimal.valueOf(x.toLong))
    case x: Int => num(JBigDecimal.valueOf(x.toLong))
    case x: Long => num(JBigDecimal.valueOf(x))
    case x: Float => float(x.toDouble)
    case x: Double => float(x)
    case x: JBigDecimal => num(x)
    case x: scala.math.BigDecimal => num(x.bigDecimal)
    case x: java.math.BigInteger => num(new JBigDecimal(x))
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "t" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => "t" + d.toEpochDay * 86400000000L
    case b: Array[Byte] => "b" + b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => "?" + other.toString
  }
}
