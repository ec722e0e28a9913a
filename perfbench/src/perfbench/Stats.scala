package perfbench

/** Summary statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail rule: the highest whole percentile that still has at least
    * `beyond` samples ranked above it (nearest-rank definition). With 83
    * samples that is p87, with 133 it is p92. With `beyond` samples or
    * fewer no percentile qualifies, and the maximum is reported instead
    * (percentile 100). Returns (percentile, value).
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) (100, s.last)
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, s(rank - 1))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Clip intervals to a window. */
  def clip(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
}
