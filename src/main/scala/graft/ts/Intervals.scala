package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra — the reference's `Range` class
  * (hostore/utils/range/range.py:1-80): overlap, intersection, difference
  * and sweep-line union. Two forms:
  *   - a plain Scala value type for driver-side small-N work (mirrors the
  *     reference exactly);
  *   - a window-based in-DataFrame union for merging millions of intervals
  *     per key at scale (sort within key + running max of end — one
  *     shuffle on the key).
  */
object Intervals {

  /** Closed interval [start, end] on a long axis (epoch seconds or any
    * ordered scalar). Cites hostore/utils/range/range.py:1-80.
    */
  final case class Range(start: Long, end: Long) {
    require(start <= end, s"Range start $start > end $end")
    def overlaps(o: Range): Boolean = start <= o.end && o.start <= end
    def contains(x: Long): Boolean  = start <= x && x <= end
    def includes(o: Range): Boolean = start <= o.start && o.end <= end
    /** Intersection; None when disjoint or shorter than `minDelta`. */
    def intersection(o: Range, minDelta: Long = 0L): Option[Range] = {
      val s = math.max(start, o.start); val e = math.min(end, o.end)
      if (s <= e && e - s >= minDelta) Some(Range(s, e)) else None
    }
  }

  object Range {
    /** Sweep-line union of possibly-overlapping ranges
      * (reference `Range.combine`). O(n log n) driver-side.
      */
    def combine(ranges: Seq[Range]): Seq[Range] =
      ranges.sortBy(r => (r.start, r.end)).foldLeft(List.empty[Range]) {
        case (acc @ (h :: t), r) if r.start <= h.end =>
          Range(h.start, math.max(h.end, r.end)) :: t
        case (acc, r) => r :: acc
      }.reverse

    /** Complement of `covered` within [lo, hi] — the missing ranges
      * (reference `difference_missing`). Drops gaps shorter than minDelta.
      */
    def missing(covered: Seq[Range], lo: Long, hi: Long, minDelta: Long = 0L): Seq[Range] = {
      val merged = combine(covered)
      val gaps = scala.collection.mutable.ListBuffer.empty[Range]
      var cursor = lo
      merged.foreach { r =>
        if (r.start > cursor && r.start - cursor >= minDelta) gaps += Range(cursor, math.min(r.start, hi))
        cursor = math.max(cursor, r.end)
      }
      if (cursor < hi && hi - cursor >= minDelta) gaps += Range(cursor, hi)
      gaps.toList
    }
  }

  /** In-DataFrame interval union per key: merge overlapping/touching
    * [startCol, endCol] rows into maximal islands. Classic sweep as
    * windows: an interval starts a new island iff its start exceeds the
    * running max end of all earlier intervals in its key group.
    * One shuffle (window + groupBy share the partitioning).
    * Output: (keys..., merged_start, merged_end, n_merged).
    */
  def unionIntervals(
      df: DataFrame,
      keys: Seq[String],
      startCol: String = "start",
      endCol: String = "end"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(startCol), col(endCol))
    val prevMax = max(col(endCol)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    // pinned window exchange (r22, see ShuffleWidth): the sweep ran as
    // one 288 ms task at sf0.1 when AQE coalesced the few-MB exchange.
    // Measured a win in BOTH host regimes (quiet 0.533->0.373, contended
    // 0.686->0.629 same-day back-to-back) — unlike the window pins that
    // were reverted as quiet-only wins (OPTIMIZATION_r22.md). With no keys
    // the window needs ONE partition, which a round-robin pin cannot give,
    // so the pin would only add a second exchange.
    val pinned =
      if (keys.isEmpty) df
      else df.repartition(graft.functions.ShuffleWidth.pinned(df.sparkSession), keys.map(col): _*)
    val flagged = pinned
      .withColumn("__new", when(prevMax.isNull || col(startCol) > prevMax, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged
      .groupBy((keys.map(col) :+ col("__island")): _*)
      .agg(
        min(col(startCol)).as("merged_start"),
        max(col(endCol)).as("merged_end"),
        count(lit(1)).as("n_merged"))
      .drop("__island")
  }

  /** Point-in-interval range join: each point row (keys, ptCol) matched to
    * every interval row (keys, startCol, endCol) with start <= pt <= end.
    *
    * Spark plans a raw BETWEEN join predicate as a broadcast-nested-loop /
    * cartesian — O(points x intervals) comparisons per key, the classic
    * 100 TB trap. This is the binned equi-join instead: intervals explode
    * into the fixed-width bins they cover, points compute their single
    * bin, and the join runs on (keys, bin) with the exact BETWEEN check as
    * a post-filter — shuffle keys stay short, AQE can skew-split hot bins,
    * and cost is O(matches + intervals x avg_bins). `binWidth` trades
    * interval fan-out against bin selectivity: pick ~ the median interval
    * length (an interval explodes into len/binWidth + 1 bins; all points
    * in a bin compare against only that bin's intervals).
    *
    * Output: every point column + the interval's (startCol, endCol) — one
    * row per (point, matching interval); points matching nothing drop
    * (inner semantics).
    */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      keys: Seq[String],
      ptCol: String,
      startCol: String = "start",
      endCol: String = "end",
      binWidth: Long = 3600L): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // integer `div` (not double /): exact, and monotone — any pt in
    // [start, end] lands in a bin the interval covers, so the equi-join
    // never loses a match and the BETWEEN post-filter is exact
    val binned = intervals.withColumn("__bin",
      explode(sequence(expr(s"$startCol div $binWidth"), expr(s"$endCol div $binWidth"))))
    val pts = points.withColumn("__bin", expr(s"$ptCol div $binWidth"))
    pts.join(binned, keys :+ "__bin")
      .filter(col(startCol) <= col(ptCol) && col(ptCol) <= col(endCol))
      .drop("__bin")
  }
}
