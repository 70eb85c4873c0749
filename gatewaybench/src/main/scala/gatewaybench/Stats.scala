package gatewaybench

/** Order statistics and the JSON rendering of a metric map. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def p50(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** p95 is reported only from at least 200 samples. */
  def p95(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 200) Some(quantile(xs, 0.95)) else None

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** {"name": {"value": v, "unit": u}, ...} skipping NaN values */
  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.filterNot(m => m._2.isNaN || m._2.isInfinite)
      .map { case (n, v, u) => s"${str(n)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}
