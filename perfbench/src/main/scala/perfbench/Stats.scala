package perfbench

/** Order statistics over latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** The highest percentile that still has at least `beyond` samples
    * above it, as (percentile, value): with n sorted samples that is the
    * sample at 0-based rank n - beyond - 1, so exactly `beyond` samples
    * are larger. None when there are not enough samples.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] =
    if (xs.length <= beyond) None
    else {
      val s = xs.sorted
      val n = s.length
      Some((100.0 * (n - beyond) / n, s(n - beyond - 1)))
    }
}
