package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent result digest, computed the same way by
  * `digest.py` over DuckDB results.
  *
  * Normalisation follows tools/crosscheck.py: columns sorted by name,
  * floating values rounded to 9 decimals, integers as integers, timestamps
  * as epoch microseconds, everything else as text. Each row's canonical
  * text is hashed (SHA-256, first 8 bytes) and the row hashes are summed
  * modulo 2^64, so the digest ignores row order but counts duplicates.
  */
object Digest {

  def of(df: DataFrame): String = {
    val cols = df.columns.sorted
    of(cols.toSeq, df.select(cols.map(df.col).toSeq: _*).collect().toSeq)
  }

  def of(cols: Seq[String], rows: Seq[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      sum += hash64((0 until r.length).map(i => canon(r.get(i))).mkString("\u001f"))
    }
    f"${rows.size}:${hash64(cols.mkString(","))}%016x:$sum%016x"
  }

  private def hash64(s: String): Long =
    java.nio.ByteBuffer.wrap(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))
      .getLong

  private def number(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def real(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN))

  def canon(v: Any): String = v match {
    case null => "\u0000"
    case b: Boolean => b.toString
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: JBigDecimal => number(d)
    case s: String => s
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
