package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** An order-insensitive digest of a query result: the row count and the
  * wrapping sum of per-row hashes. Floating-point values are rounded to
  * six significant digits first, so summation order does not move it. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Fingerprint {
  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => dbl(b.doubleValue)
    case b: scala.math.BigDecimal => dbl(b.toDouble)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case x => x.toString
  }
  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  def of(df: DataFrame): Fingerprint = {
    var n = 0L; var h = 0L
    df.toLocalIterator().forEachRemaining { r =>
      val s = norm(r)
      n += 1
      h += (MurmurHash3.stringHash(s).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
    }
    Fingerprint(n, h)
  }
}
