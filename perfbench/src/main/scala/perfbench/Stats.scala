package perfbench

/** Order statistics as Python's `statistics` module computes them, so
  * the figures agree with any offline re-analysis of the samples.
  */
object Stats {
  def median(xs: Seq[Double]): Option[Double] = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Option[Double] =
    Option.when(xs.nonEmpty)(math.exp(xs.map(math.log).sum / xs.size))

  /** Linear-interpolated quantile (`statistics.quantiles`, method
    * "inclusive").
    */
  def quantile(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
}
