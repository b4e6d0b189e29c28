package perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 1) of `xs`; NaN when empty. */
  def percentile(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Iterable[Double]): Double = percentile(xs, 0.5)

  /** The percentiles worth reporting, lowest first. */
  val ladder: Seq[Double] = Seq(0.5, 0.9, 0.99, 0.999)

  /** The highest percentile of [[ladder]] that has at least ten of `n`
    * samples beyond it, if any: a tail percentile read from fewer is
    * one or two samples and says nothing. */
  def tailPercentile(n: Int): Option[Double] =
    ladder.filter(p => n * (1.0 - p) >= 10.0 - 1e-9).lastOption
}
