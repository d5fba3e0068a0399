package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Median of `xs` (mean of the middle two for an even count); 0 when
    * empty, which is how a layer the run did not exercise reads. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Int): Int = n - math.ceil(n * p / 100.0).toInt

  /** The highest whole percentile, at most 95, that still has 10 of `n`
    * samples beyond it; None when even the median leaves fewer. */
  def tailPercentile(n: Int): Option[Int] = (95 to 51 by -1).find(p => beyond(n, p) >= 10)

  /** Nearest-rank `p`-th percentile of `xs`; 0 when empty. */
  def percentile(xs: Seq[Double], p: Int): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply(math.max(1, math.ceil(xs.size * p / 100.0).toInt) - 1)

  /**
   * The tail percentile that `n` samples support (see [[tailPercentile]])
   * and its value over `xs`. A run passes the sample count its window is
   * sure to hold, so every run reports the same percentile, however many
   * requests it fitted. Without such a percentile the tail is the median.
   */
  def tail(xs: Seq[Double], n: Int): (Int, Double) = tailPercentile(n) match {
    case Some(q) => (q, percentile(xs, q))
    case None => (50, median(xs))
  }
}
