package graft.perfbench

/** The order statistics every reported timing goes through. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Percentile by linear interpolation between the closest ranks (the
    * usual default, Hyndman and Fan type 7): with few samples the 90th
    * percentile does not collapse onto the single slowest one.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile must be in [0, 100], got $p")
    val s = xs.sorted
    val h = p / 100.0 * (s.length - 1)
    val lo = math.floor(h).toInt
    if (lo + 1 >= s.length) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  /** Samples strictly above the percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  /** `|a - b|` relative to the larger magnitude (0 when both are 0). */
  def relErr(a: Double, b: Double): Double = {
    val m = math.max(math.abs(a), math.abs(b))
    if (m == 0) 0.0 else math.abs(a - b) / m
  }
}
