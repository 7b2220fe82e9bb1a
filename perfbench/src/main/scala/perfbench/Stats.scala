package perfbench

/** Order statistics used for every reported latency. */
object Stats {

  /** The p-th percentile (0 ≤ p ≤ 100) by linear interpolation between the
    * closest ranks — rank = p/100 · (n − 1) over the sorted sample, the
    * same definition as numpy's default. NaN on an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p / 100.0 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.ceil(rank).toInt
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Mean of the slowest tenth of the sample, rounded up and at least two
    * values (or all of a smaller sample). Steadier than one high percentile
    * over the few dozen ops of a run, whose kinds differ several-fold in
    * time. NaN on an empty sample. */
  def tailMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else mean(xs.sorted.takeRight(math.min(xs.size, math.max(2, math.ceil(xs.size / 10.0).toInt))))

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
