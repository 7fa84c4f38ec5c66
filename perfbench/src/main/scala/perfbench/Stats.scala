package perfbench

/** Order statistics and ratios behind every reported metric. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail of a latency sample: the value at the highest nearest-rank
    * percentile that still has at least `beyond` samples above it.
    */
  final case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  /** With n samples the value at 1-based rank r has n - r samples beyond
    * it, so the highest rank with `beyond` samples past it is n - beyond,
    * which is the (100 (n - beyond) / n)-th percentile. None when the sample
    * is too small to have such a rank.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n <= beyond) None
    else {
      val rank = n - beyond
      Some(Tail(100.0 * rank / n, xs.sorted.apply(rank - 1), n, beyond))
    }
  }

  /** A ratio with its base; the base must be positive. */
  def ratio(part: Double, base: Double): Double = {
    require(base > 0, s"ratio with non-positive base $base")
    part / base
  }

  /** Labels kept by pruning over labels the dataset holds. */
  def keptRatio(labelsKept: Long, labelsTotal: Long): Double = ratio(labelsKept.toDouble, labelsTotal.toDouble)

  /** Bytes under the dataset directory over the logical bytes the generator
    * produced for the rows the dataset holds.
    */
  def storedPerUserByte(storedBytes: Long, userBytes: Long): Double =
    ratio(storedBytes.toDouble, userBytes.toDouble)

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
