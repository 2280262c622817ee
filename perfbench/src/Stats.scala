package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolation percentile (the numpy/Python "inclusive" rule):
    * rank p/100 * (n - 1) between the two nearest order statistics.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Samples strictly beyond the p-th percentile's rank. */
  def beyond(n: Int, p: Double): Int =
    n - 1 - math.floor(p / 100.0 * (n - 1)).toInt

  /** Tail percentile only when at least `minBeyond` samples lie beyond it —
    * a p95 over 40 samples is the second-largest value, not a tail.
    */
  def tailPercentile(xs: Seq[Double], p: Double,
                     minBeyond: Int = 10): Option[Double] =
    if (xs.nonEmpty && beyond(xs.size, p) >= minBeyond) Some(percentile(xs, p))
    else None

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
