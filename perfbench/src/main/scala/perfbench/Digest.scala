package perfbench

import java.math.{MathContext, RoundingMode}
import java.security.MessageDigest
import org.apache.spark.sql.Row

/** Order-insensitive digest of a query result. Floating-point values are
  * rounded to six significant digits first, so results that differ only by
  * summation order digest the same. */
object Digest {
  private val Sig = new MathContext(6, RoundingMode.HALF_EVEN)

  def value(v: Any): String = v match {
    case null                    => "∅"
    case d: Double               => real(d)
    case f: Float                => real(f.toString.toDouble)
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal           => d.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp   => s"ts:${t.getTime / 1000}.${t.getNanos}"
    case d: java.sql.Date        => s"date:${d.toLocalDate}"
    case b: Array[Byte]          => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row                  => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other                   => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toString

  def row(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  /** SHA-256 over the sorted canonical rows. */
  def of(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(row).sorted.foreach { s =>
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}
