package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** A query result's identity: its row count plus an order-independent
  * hash of its rows, with floating-point values rounded to 9
  * significant digits so summation order cannot change it.
  */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

object Fingerprint {
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros
        .toPlainString
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def ofRows(rows: Iterable[Row]): Fingerprint = {
    var sum = 0L
    var xor = 0L
    var n = 0L
    rows.foreach { r =>
      val s = render(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
      sum += h
      xor ^= h * 0x9e3779b97f4a7c15L
      n += 1
    }
    Fingerprint(n, f"$sum%016x$xor%016x")
  }

  def of(df: DataFrame): Fingerprint = ofRows(df.collect())

  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(":", 2)
    Fingerprint(n.toLong, h)
  }
}
