package perfbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolation quantile (the common "type 7" definition),
    * `p` in [0, 100].
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 50)

  /** Samples that lie beyond percentile `p` of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n / 100.0 - 1e-6).toInt

  /** The tail: the highest percentile with at least `minBeyond` samples
    * beyond it, `100 * (n - minBeyond) / n` (p75 of 40 samples, p90 of 100).
    * Returns (percentile, value); the median when fewer than `2 * minBeyond`
    * samples put that percentile below it (the record's sample count shows
    * that case).
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): (Double, Double) = {
    val p = math.max(50.0, 100.0 * (xs.size - minBeyond) / xs.size)
    (p, quantile(xs, p))
  }
}
