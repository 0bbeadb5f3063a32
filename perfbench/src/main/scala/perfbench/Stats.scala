package perfbench

/** Order statistics for the reported timings. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the usual "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Candidate tail percentiles, highest first: 0.999, 0.99, then every
    * 5% from 0.95 down to the median.
    */
  val TailGrid: Seq[Double] = Seq(0.999, 0.99) ++ (95 to 50 by -5).map(_ / 100.0)

  /** The highest percentile on [[TailGrid]] that leaves at least `beyond`
    * samples above it. With fewer than `2 * beyond` samples no percentile
    * qualifies and the median is the tail (the artifact records the sample
    * count, so such a tail reads as what it is).
    */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailGrid.find(p => n * (1 - p) >= beyond - 1e-9).getOrElse(0.5)

  final case class Timing(p50: Double, tail: Double, tailPct: Double, n: Int)

  def timing(xs: Seq[Double]): Timing = {
    val p = tailPercentile(xs.length)
    Timing(median(xs), quantile(xs, p), p, xs.length)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Summed length of the union of half-open intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
