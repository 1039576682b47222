package perfbench

/** Order statistics used by every workload's report. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The tail: the highest-percentile sample that still has at least
    * `beyond` samples above it, i.e. the (beyond+1)-th largest, with its
    * percentile rank (share of samples at or below it). With `beyond` or
    * fewer samples none qualifies, and the largest is returned. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val i = if (s.length > beyond) s.length - 1 - beyond else s.length - 1
    (s(i), (i + 1).toDouble / s.length)
  }

  def sum(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)
}
