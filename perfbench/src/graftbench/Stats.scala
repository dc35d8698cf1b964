package graftbench

/** Aggregates the benchmark reports. Every timing is a median or a
  * geometric mean over many operations, never a single timed call.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"gmean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Nearest-rank percentile p (0 < p < 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p < 100)
    val s = xs.sorted
    s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** A percentile is only reported when at least ten samples lie beyond
    * it; below that it is a maximum in disguise.
    */
  def hasTail(n: Int, p: Double): Boolean = n - math.ceil(p / 100 * n).toInt >= 10
}
