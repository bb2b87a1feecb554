package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks that run outside the timed passes. */
object Checks {

  /** Row count and an order-insensitive content hash of a query's result.
    * Floating-point values are rounded to 9 significant digits first: a sum
    * over partitions may differ in its last bits from run to run, which is
    * not a wrong answer.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  private def render(r: Row): String = r.toSeq.map(value).mkString("\u0001")

  private def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime / 1000}.${t.getNanos}"
    case t: java.time.Instant => s"ts${t.getEpochSecond}.${t.getNano}"
    case t: java.time.LocalDateTime => s"ts$t"
    case r: Row => "{" + render(r) + "}"
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString
}
