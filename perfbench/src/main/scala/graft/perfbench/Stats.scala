package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile from 50 to 99 that leaves at least
    * `beyond` samples above it, with its value. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0).toInt >= beyond)
      .map(pc => pc -> quantile(xs, pc / 100.0))
  }
}
