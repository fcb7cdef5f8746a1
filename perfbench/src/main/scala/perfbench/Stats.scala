package perfbench

object Stats {
  /** Linearly interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it,
    * or None when the sample is too small for any. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (p >= 50) Some(math.min(p, 99)) else None
  }
}
