package perfbench

/** Order statistics and the result line. */
object Stats {

  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def loadAverage: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** A metric as reported: value, unit and how many samples it summarizes. */
  final case class Metric(value: Double, unit: String, samples: Long)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The last stdout line: `correct`, `attempted`, `failed`, `metrics`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) => s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Human report line: every metric with its unit and sample count. */
  def reportLine(workload: String, metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}, \"samples\": ${m.samples}}"
    }
    s"""{"report": ${str(workload)}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
