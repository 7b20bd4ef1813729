package perfbench

/** A named number with its unit. `note` says what the number summarises. */
final case class Metric(name: String, value: Double, unit: String, note: String = "")

object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between the closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p90/p95/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))

  /** Median and tail of timing samples as metrics named `<name>` and
    * `<name>_p<N>`, each noting its sample count. */
  def timing(name: String, xs: Seq[Double], unit: String): Seq[Metric] = {
    val n = s"median of ${xs.size}"
    Metric(name, median(xs), unit, n) +:
      tail(xs).toSeq.map { case (p, v) => Metric(s"${name}_p$p", v, unit, s"p$p of ${xs.size}") }
  }
}
