package perfbench

/** Order statistics and the result line the benchmark prints. */
object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** One metric value with its unit. */
  final case class Metric(value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The benchmark's last stdout line: correctness, counts and metrics. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s"${quote(k)}: {\"value\": ${num(m.value)}, \"unit\": ${quote(m.unit)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def jsonString(s: String): String = quote(s)
}
