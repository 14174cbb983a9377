package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive content digest of a result: the row count plus the
  * wrapping sum of per-row hashes. Doubles are rounded to
  * [[DoubleDigits]] significant digits before hashing (floats to
  * [[FloatDigits]]), so a change in summation order does not move the
  * digest; arrays keep their order, maps are hashed by sorted entry.
  */
object Digest {
  val DoubleDigits = 9
  val FloatDigits = 5

  final case class Value(rows: Long, sum: Long) {
    def render: String = f"$rows%d:$sum%016x"
  }

  def of(df: DataFrame): Value = of(df.collect().toSeq)

  def of(rows: Seq[Row]): Value =
    Value(rows.length.toLong, rows.foldLeft(0L)((acc, r) => acc + rowHash(r)))

  def rowHash(r: Row): Long = {
    val s = norm(r)
    val h1 = MurmurHash3.stringHash(s, 0x5eed)
    val h2 = MurmurHash3.stringHash(s, 0x0b5e55ed)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  private def round(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(new MathContext(digits)).stripTrailingZeros.toString

  /** Canonical text of a value; the digest hashes this. */
  def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => round(d, DoubleDigits)
    case f: Float => round(f.toDouble, FloatDigits)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => (0 until r.length).map(i => norm(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
    case a: Array[_] => a.toSeq.map(norm).mkString("[", ",", "]")
    case other => other.toString
  }
}
