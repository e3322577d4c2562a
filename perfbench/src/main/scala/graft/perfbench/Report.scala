package graft.perfbench

/** Result-line helpers: statistics and locale-independent JSON. */
object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString match {
      case s if s.contains('E') => v.toString
      case s => s
    }

  /** Linear-interpolated percentile `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest whole percentile with at least ten samples beyond it,
    * or None when the run holds ten samples or fewer. */
  def tailPercentile(n: Int): Option[Int] =
    if (n <= 10) None else Some(math.floor(100.0 * (n - 10) / n).toInt)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + graft.Bench.esc(s) + "\""

  /** One metric entry: `{"value": v, "unit": u}`. */
  def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> str(unit)))
}
