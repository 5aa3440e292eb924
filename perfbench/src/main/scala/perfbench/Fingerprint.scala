package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a query answer: the row count plus
  * the wrapping sum of a 64-bit hash of every row, over every column.
  * Doubles are rounded to [[SignificantDigits]] first, so a different
  * summation order between runs cannot change the fingerprint.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def json: String = s"""{"rows":$rows,"hash":"${java.lang.Long.toHexString(hash)}"}"""
}

object Fingerprint {

  val SignificantDigits = 9

  def of(rows: Iterable[Row]): Fingerprint = {
    var n = 0L
    var h = 0L
    rows.foreach { r => n += 1; h += rowHash(r) }
    Fingerprint(n, h)
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def roundDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(SignificantDigits))
      .stripTrailingZeros.toPlainString

  /** Canonical text of one value; nested values keep their own order
    * except map entries, which are sorted.
    */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case bytes: Array[Byte] => bytes.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case a: Array[_] => a.map(canon).mkString("[", "\u0001", "]")
    case other => other.toString
  }
}
