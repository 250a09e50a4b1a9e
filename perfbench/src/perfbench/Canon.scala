package perfbench

import java.math.{BigDecimal => JBig, MathContext, RoundingMode}
import org.apache.spark.sql.Row

/** Result hashing with the canonical form of `tools/check_oracle.py`:
  * each row's values in column-name order, rendered as Python's `str()`
  * renders them (top-level floats as `%.6g`), joined by \x01; rows
  * sorted and joined by \x02; md5 hex of the UTF-8 bytes. */
object Canon {

  def hash(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map { r =>
      order.map(i => top(if (r.isNullAt(i)) null else r.get(i))).mkString("\u0001")
    }.sorted
    md5(lines.mkString("\u0002"))
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def top(v: Any): String = v match {
    case d: Double => g6(d)
    case f: Float => g6(f.toDouble)
    case other => str(other)
  }

  /** Python `str(v)` for the value types a collected Row holds. */
  def str(v: Any): String = v match {
    case null => "None"
    case b: Boolean => if (b) "True" else "False"
    case s: String => s
    case d: Double => repr(d)
    case f: Float => repr(f.toDouble)
    case b: JBig => b.toPlainString
    case t: java.sql.Timestamp => pyDateTime(t.toLocalDateTime) + "+00:00"
    case t: java.time.Instant =>
      pyDateTime(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC)) + "+00:00"
    case t: java.time.LocalDateTime => pyDateTime(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case s: scala.collection.Seq[_] => s.map(reprAny).mkString("[", ", ", "]")
    case r: Row =>
      r.schema.fieldNames.indices.map(i =>
        reprAny(r.schema.fieldNames(i)) + ": " + reprAny(if (r.isNullAt(i)) null else r.get(i)))
        .mkString("{", ", ", "}")
    case other => other.toString
  }

  /** Python `repr(v)`: strings quoted, everything else as `str`. */
  private def reprAny(v: Any): String = v match {
    case s: String =>
      if (s.contains("'") && !s.contains("\"")) "\"" + s + "\""
      else "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    case other => str(other)
  }

  private def pyDateTime(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val us = t.getNano / 1000
    if (us == 0) base else f"$base.$us%06d"
  }

  /** Python `f"{d:.6g}"`. */
  def g6(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val r = new JBig(d).round(new MathContext(6, RoundingMode.HALF_EVEN))
      val exp = r.precision - r.scale - 1
      if (exp < -4 || exp >= 6) sci(r.unscaledValue.abs.toString, exp, r.signum < 0, 2)
      else strip(r.setScale(math.max(0, r.scale), RoundingMode.UNNECESSARY).toPlainString)
    }

  /** Python `repr(d)`: the shortest digits that round-trip. */
  def repr(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0.0" else "0.0")
    else {
      val exact = new JBig(d)
      val r = (1 to 17).iterator
        .map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get.stripTrailingZeros
      val exp = r.precision - r.scale - 1
      if (exp < -4 || exp >= 16) sci(r.unscaledValue.abs.toString, exp, r.signum < 0, 2)
      else {
        val plain = r.toPlainString
        if (plain.contains(".")) plain else plain + ".0"
      }
    }

  private def sci(digits: String, exp: Int, neg: Boolean, expWidth: Int): String = {
    val m = digits.replaceAll("0+$", "")
    val mant = if (m.length <= 1) m else m.head + "." + m.tail
    val e = (if (exp < 0) "-" else "+") + s"%0${expWidth}d".format(math.abs(exp))
    (if (neg) "-" else "") + mant + "e" + e
  }

  private def strip(s: String): String =
    if (s.contains(".")) s.replaceAll("0+$", "").stripSuffix(".") else s
}

/** Sample summaries: the median, and the highest percentile of the
  * ladder that still has at least ten samples beyond it. */
object Stats {
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile `p` of `xs`, and how many samples lie
    * strictly beyond its rank. */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100 * s.length).toInt)
    (s(rank - 1), s.length - rank)
  }

  /** (percentile, value) of the highest ladder rung with >= 10 samples
    * beyond it, or None when there are too few samples for any. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Ladder.reverse.iterator
      .map(p => (p, percentile(xs, p)))
      .collectFirst { case (p, (v, beyond)) if xs.nonEmpty && beyond >= 10 => (p, v) }
}
