package perfbench

/** Order statistics that always travel with their sample count.
  *
  * Percentiles use the nearest-rank rule: the p-th percentile of n sorted
  * samples is the value at rank ceil(p/100 * n). `beyond` is the number of
  * samples strictly above that rank, so a reader can tell whether a tail
  * figure rests on enough samples (a p99 needs at least ten beyond it,
  * i.e. n >= 1000).
  */
final case class Pct(p: Double, value: Double, n: Int) {
  def beyond: Int = n - Stats.rank(p, n)
}

object Stats {

  /** 1-based nearest rank of the p-th percentile among n samples. */
  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n).toInt))

  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, s"p$p of an empty sample")
    val s = xs.sorted
    Pct(p, s(rank(p, s.length) - 1), s.length)
  }

  /** Median with the usual even-length mean (used for per-query medians
    * over a handful of passes, where nearest rank would pick a side).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach {
      case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else if (b > curE) curE = b
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
