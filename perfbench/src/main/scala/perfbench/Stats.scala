package perfbench

/** Order statistics the benchmark reports. Percentiles interpolate
  * linearly between closest ranks (numpy's default), so p50 of an even
  * count is the mean of the two middle samples. */
object Stats {

  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = values.toArray.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(values: Seq[Double]): Double = percentile(values, 50)

  /** Geometric mean; every value must be positive. */
  def geomean(values: Seq[Double]): Double = {
    require(values.nonEmpty, "geomean of no values")
    require(values.forall(_ > 0), s"geomean needs positive values: $values")
    math.exp(values.map(math.log).sum / values.length)
  }
}
