package graft.perfbench

/** Order statistics for per-operation latencies. */
object Stats {
  /** Percentile by linear interpolation between closest ranks (the same
    * rule as numpy's default and Python's `statistics.quantiles`
    * "inclusive" method). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.length - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Highest percentile of the ladder 50, 90, 99, 99.9 that still has at
    * least ten samples beyond it; None when even the median has fewer. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9)
}
