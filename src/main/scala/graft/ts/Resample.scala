package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Splitting / trimming / normalization / resampling over long-form series —
  * the reference's pandas-level series ops: `split_ts`
  * (utils/timeseries.py:105-133), bounds-NaN trim
  * (chunk_timeserie_store.py:884-885), `slice_with_delay`
  * (utils/utils.py:11-15), `ts_normalize` (utils/timeseries.py:263-266),
  * `pd_min_freq` (:249-260), `upsample_using_reference_serie` (:166-225).
  *
  * Everything is windows + projections: no custom expressions needed, all
  * codegen'd, and every window partitions by the series key so the work
  * distributes across series.
  */
object Resample {

  /** Split a series at `at`: rows strictly before, and rows at/after,
    * optionally clamped to [lo, hi] bounds first (reference `split_ts`,
    * utils/timeseries.py:105-133). Two filters over one scan each —
    * Catalyst pushes both to the source.
    */
  def splitTs(
      df: DataFrame,
      at: Column,
      tsCol: String = "ts",
      lo: Option[Column] = None,
      hi: Option[Column] = None): (DataFrame, DataFrame) = {
    var base = df
    lo.foreach(b => base = base.filter(col(tsCol) >= b))
    hi.foreach(b => base = base.filter(col(tsCol) <= b))
    (base.filter(col(tsCol) < at), base.filter(col(tsCol) >= at))
  }

  /** Drop leading/trailing null values per key — keep rows between the
    * first and last non-null timestamp (reference
    * `first_valid_index:last_valid_index`). Interior nulls survive.
    *
    * Shape at scale: per-key bounds via ONE partial-aggregating groupBy
    * (distributed across the series' partitions), joined back — AQE
    * broadcasts the tiny bounds side, so the fact rows are never
    * shuffled, sorted, or buffered. The previous whole-partition window
    * put each key's ENTIRE series in one task — a single hot series of
    * 100M points would pin one reducer.
    */
  def trimBounds(df: DataFrame, keys: Seq[String], tsCol: String = "ts", valueCol: String = "value"): DataFrame = {
    val validTs = when(col(valueCol).isNotNull, col(tsCol))
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(validTs).as("__lo"), max(validTs).as("__hi"))
    df.join(bounds, keys)
      .filter(col(tsCol) >= col("__lo") && col(tsCol) <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Cut the first `delaySecs` of each key's series, measured from its own
    * first timestamp (reference `slice_with_delay`, applied per version
    * before combining — hostore.py:262-263). Same agg+join shape as
    * [[trimBounds]] — no whole-series window.
    */
  def sliceWithDelay(df: DataFrame, keys: Seq[String], delaySecs: Long, tsCol: String = "ts"): DataFrame = {
    val sec = expr("make_dt_interval(0, 0, 0, 1)")
    val bounds = df.groupBy(keys.map(col): _*).agg(min(col(tsCol)).as("__min_ts"))
    df.join(bounds, keys)
      .filter(col(tsCol) >= col("__min_ts") + sec * delaySecs)
      .drop("__min_ts")
  }

  /** Min-max normalize per key (reference `ts_normalize`): (v-min)/(max-min);
    * constant series → null (pandas yields 0/0 = NaN; we surface SQL null).
    * Same agg+join shape as [[trimBounds]] — no whole-series window.
    */
  def normalize(df: DataFrame, keys: Seq[String], valueCol: String = "value", outCol: String = "value_norm"): DataFrame = {
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("__nlo"), max(col(valueCol)).as("__nhi"))
    df.join(bounds, keys)
      .withColumn(outCol,
        when(col("__nhi") > col("__nlo"),
          (col(valueCol) - col("__nlo")) / (col("__nhi") - col("__nlo")))
          .otherwise(lit(null)))
      .drop("__nlo", "__nhi")
  }

  /** Minimum step between consecutive timestamps per key, in exact
    * microseconds (reference `pd_min_freq` — frequency inference).
    * Integer epoch-micros arithmetic: exact, engine-portable (no
    * floating-point or boundary-crossing `date_diff` semantics).
    * Output: (keys..., min_step_us).
    */
  def minFreq(df: DataFrame, keys: Seq[String], tsCol: String = "ts"): DataFrame = {
    val w  = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val us = unix_micros(col(tsCol).cast("timestamp")) // NTZ→TS is identity under UTC session tz
    df.withColumn("__step", us - lag(us, 1).over(w))
      .groupBy(keys.map(col): _*)
      .agg(min(col("__step")).as("min_step_us"))
  }

  /** Forward-fill `valueCol` per key along time — the as-of alignment
    * primitive underlying the reference's upsample (`ffill`,
    * utils/timeseries.py:196). `last(_, ignoreNulls)` over an unbounded
    * preceding window is Spark's native ffill.
    */
  def ffill(df: DataFrame, keys: Seq[String], tsCol: String = "ts", valueCol: String = "value", outCol: String = "value_ffill"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Hot-series [[ffill]]: identical semantics, no whole-series window
    * task (same bucket-carry construction as `Asof.asofJoinSplit`). The
    * fill for a row is the last non-null at-or-before it, which is either
    * inside the row's own time bucket — a window partitioned by
    * (keys, bucket), so a monster series parallelizes across buckets — or
    * the last non-null of an EARLIER bucket: one `max_by` edge per
    * (key, bucket), a strictly-previous running `last` over those edges
    * (one row per bucket — metadata-sized), joined back as the
    * `coalesce` fallback. Buckets with only nulls still receive the
    * carry through the all-buckets spine.
    */
  def ffillSplit(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      outCol: String = "value_ffill",
      splitSeconds: Long = 30L * 86400L): DataFrame = {
    require(splitSeconds > 0, s"splitSeconds must be positive, got $splitSeconds")
    val bUs = splitSeconds * 1000000L
    val withB = df.withColumn("__b",
      floor(unix_micros(col(tsCol).cast("timestamp")) / bUs))
    val edges = withB.filter(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ col("__b")): _*)
      .agg(max_by(col(valueCol), col(tsCol)).as("__edge"))
    val allB = withB.select((keys.map(col) :+ col("__b")): _*).distinct()
      .join(edges, keys :+ "__b", "left")
    val wc = Window.partitionBy(keys.map(col): _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = allB
      .withColumn("__carry", last(col("__edge"), ignoreNulls = true).over(wc))
      .select((keys.map(col) :+ col("__b") :+ col("__carry")): _*)
    val wkb = Window.partitionBy((keys :+ "__b").map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(carries, keys :+ "__b", "left")
      .withColumn(outCol,
        coalesce(last(col(valueCol), ignoreNulls = true).over(wkb), col("__carry")))
      .drop("__b", "__carry")
  }

  /** Time-weighted linear interpolation of INTERIOR nulls per key —
    * `Series.interpolate(method='time')`, the gap-filling step between
    * find-holes and any model that needs a dense curve. Two keyed
    * windows (the bracketing non-null neighbors looking back and
    * forward), then a codegen'd lerp on exact epoch-micros weights —
    * irregular spacing handled by construction. Leading/trailing nulls
    * stay null (no extrapolation — that would invent data the reference
    * never had); non-null rows pass through exactly. Adds `outCol`.
    */
  def interpolate(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      outCol: String = "value_interp"): DataFrame = {
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val back = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tsOf = when(col(valueCol).isNotNull, us)
    df
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(back))
      .withColumn("__pt", last(tsOf, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(fwd))
      .withColumn("__nt", first(tsOf, ignoreNulls = true).over(fwd))
      .withColumn(outCol,
        when(col(valueCol).isNotNull, col(valueCol))
          .otherwise(when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              ((us - col("__pt")).cast("double") / (col("__nt") - col("__pt")).cast("double")))))
      .drop("__pv", "__pt", "__nv", "__nt")
  }

  /** Hot-series [[interpolate]]: identical semantics, no whole-series
    * window task (the same bucket-carry construction as [[ffillSplit]] /
    * `Asof.asofJoinSplit`, extended to BOTH directions). A null row's
    * bracketing non-null neighbors are either inside its own time bucket —
    * windows partitioned by (keys, bucket), so a monster series
    * parallelizes across buckets — or the last/first non-null point of an
    * adjacent bucket: one `max_by`/`min_by` (value, micros) edge struct
    * per (key, bucket), a strictly-previous running `last` and a
    * strictly-next running `first` over those edges (one row per bucket —
    * metadata-sized), joined back as the `coalesce` fallback on each side.
    * Value and timestamp travel in ONE struct so a carry can never pair a
    * value with another point's time. All-null buckets still receive both
    * carries through the all-buckets spine.
    */
  def interpolateSplit(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      outCol: String = "value_interp",
      splitSeconds: Long = 30L * 86400L): DataFrame = {
    require(splitSeconds > 0, s"splitSeconds must be positive, got $splitSeconds")
    val bUs = splitSeconds * 1000000L
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val tsOf = when(col(valueCol).isNotNull, us)
    val withB = df.withColumn("__b", floor(us / bUs))
    val edge = struct(col(valueCol).as("v"), us.as("t"))
    val edges = withB.filter(col(valueCol).isNotNull)
      .groupBy((keys.map(col) :+ col("__b")): _*)
      .agg(max_by(edge, col(tsCol)).as("__lastE"),
           min_by(edge, col(tsCol)).as("__firstE"))
    val allB = withB.select((keys.map(col) :+ col("__b")): _*).distinct()
      .join(edges, keys :+ "__b", "left")
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(col("__b").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(col("__b").asc)
      .rowsBetween(1, Window.unboundedFollowing)
    val carries = allB
      .withColumn("__prevC", last(col("__lastE"), ignoreNulls = true).over(wPrev))
      .withColumn("__nextC", first(col("__firstE"), ignoreNulls = true).over(wNext))
      .select((keys.map(col) :+ col("__b") :+ col("__prevC") :+ col("__nextC")): _*)
    val back = Window.partitionBy((keys :+ "__b").map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy((keys :+ "__b").map(col): _*).orderBy(col(tsCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    withB.join(carries, keys :+ "__b", "left")
      .withColumn("__pv", coalesce(last(col(valueCol), ignoreNulls = true).over(back),
        col("__prevC").getField("v")))
      .withColumn("__pt", coalesce(last(tsOf, ignoreNulls = true).over(back),
        col("__prevC").getField("t")))
      .withColumn("__nv", coalesce(first(col(valueCol), ignoreNulls = true).over(fwd),
        col("__nextC").getField("v")))
      .withColumn("__nt", coalesce(first(tsOf, ignoreNulls = true).over(fwd),
        col("__nextC").getField("t")))
      .withColumn(outCol,
        when(col(valueCol).isNotNull, col(valueCol))
          .otherwise(when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              ((us - col("__pt")).cast("double") / (col("__nt") - col("__pt")).cast("double")))))
      .drop("__b", "__prevC", "__nextC", "__pv", "__pt", "__nv", "__nt")
  }

  /** Distribute a coarse series over a fine grid proportionally to a
    * reference profile (reference `upsample_using_reference_serie`,
    * utils/timeseries.py:166-225):
    *   - `df` carries per-key fine-grained rows with a coarse-period id
    *     column (`periodCol`), the forward-filled coarse value (`featCol`)
    *     and the fine reference profile (`refCol`);
    *   - output = feat * ref / mean(ref over period); zero-mean periods
    *     copy feat flat (the reference's mean==0 branch);
    *   - `addLast` (reference hardcodes True, utils/timeseries.py:180,
    *     :190-206): each period's ref-mean ALSO includes the NEXT period's
    *     first fine point. The appended row's own output is overwritten by
    *     its home period's pass (later `ds_out[...]` assignment wins,
    *     :215), so only the mean is affected — which is exactly what we
    *     compute. A NaN mean (empty/all-null ref incl. appended point)
    *     passes pandas' `ref_mean != 0` and yields NaN output → SQL null,
    *     NOT the flat-copy branch.
    *
    * Shape at scale: one partial aggregation to per-period stats (tiny —
    * one row per coarse period per key), a lead() window over those stats,
    * and an equi-join back on (keys, period) that AQE broadcasts when the
    * period table is small. No window over the fine rows at all.
    */
  def upsampleWithProfile(
      df: DataFrame,
      keys: Seq[String],
      periodCol: String,
      featCol: String,
      refCol: String,
      outCol: String = "value",
      tsCol: String = "ts",
      addLast: Boolean = true): DataFrame = {
    if (!addLast) {
      val w = Window.partitionBy((keys.map(col) :+ col(periodCol)): _*)
      val meanRef = avg(col(refCol)).over(w)
      return df.withColumn(outCol,
        when(meanRef === 0.0 || meanRef.isNull, col(featCol))
          .otherwise(col(featCol) * col(refCol) / meanRef))
    }
    val grpKeys = keys.map(col) :+ col(periodCol)
    // per-period stats; first_ref via min-struct = ref at the period's
    // earliest fine timestamp (pandas df_next.iloc[0])
    val groups = df.groupBy(grpKeys: _*).agg(
      sum(col(refCol)).as("__sum_ref"),
      count(col(refCol)).as("__cnt_ref"),
      min(struct(col(tsCol), col(refCol).as("__r"))).getField("__r").as("__first_ref"),
      min(col(tsCol)).as("__min_ts"))
    val wk = Window.partitionBy(keys.map(col): _*).orderBy(col("__min_ts"))
    val withNext = groups.withColumn("__next_ref", lead(col("__first_ref"), 1).over(wk))
    val denom = col("__cnt_ref") + when(col("__next_ref").isNotNull, lit(1L)).otherwise(lit(0L))
    val mr = when(denom === 0, lit(null))
      .otherwise((coalesce(col("__sum_ref"), lit(0.0)) + coalesce(col("__next_ref"), lit(0.0))) / denom)
    val means = withNext.withColumn("__mr", mr)
      .select((grpKeys :+ col("__mr")): _*)
    df.join(means, keys :+ periodCol, "left")
      .withColumn(outCol,
        when(col("__mr") === 0.0, col(featCol))
          .otherwise(col(featCol) * col(refCol) / col("__mr")))
      .drop("__mr")
  }

  /** Period OHLC downsampling — pandas `resample(unit).ohlc()` over the
    * long form: per (keys…, period) the first/max/min/last values plus
    * the sample count. One aggregation; open/close ride the same
    * min/max-struct trick as [[upsampleWithProfile]]'s first_ref (the
    * (ts, value) struct orders lexicographically, so duplicate
    * timestamps tie-break identically in Spark and the DuckDB twin's
    * `list(value ORDER BY ts, value)`). The shuffle carries one row per
    * period per key; nothing buffers more than its aggregation state.
    *
    * Output: (keys…, period, open, high, low, close, n).
    */
  def ohlc(
      df: DataFrame,
      keys: Seq[String],
      unit: String,
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame = {
    val grpKeys = keys.map(col) :+ date_trunc(unit, col(tsCol)).as("period")
    df.filter(col(valueCol).isNotNull)
      .groupBy(grpKeys: _*)
      .agg(
        min(struct(col(tsCol), col(valueCol).as("__v"))).getField("__v").as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(struct(col(tsCol), col(valueCol).as("__v"))).getField("__v").as("close"),
        count(lit(1)).as("n"))
  }
}
