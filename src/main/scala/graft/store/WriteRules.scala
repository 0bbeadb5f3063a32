package graft.store

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType, TimestampNTZType}

/** The write rules ChunkStore, VersionedStore and TimeseriesStore share —
  * the reference applies one set to its three store flavors: points are
  * normalized before they are stored (`_normalize_serie`,
  * chunk_timeserie_store.py:699-743), business keys are unique and NOT
  * NULL, and a bulk insert refuses series that already exist. Every
  * write is one pre-write [[probe]] at most, then one commit; a rewrite
  * is one [[merge]].
  */
private[graft] object WriteRules {

  val NullKey = "null key values are not allowed"

  /** Whether a point is kept: a non-null `ts` and a non-null, non-NaN
    * `value`.
    */
  def kept(ts: Column, value: Column): Column = value.isNotNull && !isnan(value) && ts.isNotNull

  /** `rows` with `ts` cast to TIMESTAMP_NTZ and `value` to double, and
    * only the [[kept]] points; other columns ride along. Lazy: an empty
    * result (the reference's `_normalize_serie → None` skip) is left to
    * each writer's own probe or write job.
    */
  def points(rows: DataFrame): DataFrame =
    rows.withColumn("ts", col("ts").cast(TimestampNTZType))
      .withColumn("value", col("value").cast(DoubleType))
      .filter(kept(col("ts"), col("value")))

  /** A one-series write names every business key, nothing else, and no
    * null value (a NULL key matches no stored row, so a rewrite keyed on
    * it would keep none). Checked before any job.
    */
  def requireFullKey(attrs: Map[String, Any], keys: Seq[String]): Unit = {
    require(attrs != null, "ts_attributes is null")
    val missing = keys.filterNot(attrs.contains)
    require(missing.isEmpty, s"all business keys must be specified; missing: ${missing.mkString(",")}")
    val unknown = attrs.keys.filterNot(keys.contains)
    require(unknown.isEmpty, s"unknown attrs: ${unknown.mkString(",")}")
    require(attrs.values.forall(_ != null), NullKey)
  }

  /** `rows` with the in-plan null-key refusal of a batch write: `ts` and
    * `value` are computed through an `assert_true` over the `keys`, which
    * is null when the row's keys are all set and fails the task
    * otherwise. The first job that reads the batch therefore refuses it,
    * and nothing commits before that job ends. The guard sits in BOTH
    * columns so that whichever normalization-filter conjunct a dropped row
    * evaluates first, it evaluates a guarded column: a null-keyed row whose
    * value is also null or NaN still refuses the batch, under any
    * conjunct order. Pair with [[rethrowNullKey]].
    */
  def guardKeys(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val guard = assert_true(!keys.map(col(_).isNull).reduce(_ || _), lit(NullKey))
    rows.withColumns(Map("ts" -> when(guard.isNull, col("ts")), "value" -> when(guard.isNull, col("value"))))
  }

  /** Surface a failed [[guardKeys]] guard as the contract's
    * IllegalArgumentException (what [[requireFullKey]] throws for a
    * one-series write): it arrives wrapped in SparkException layers at the
    * action. Matched precisely: the cause must be Spark's own raise_error
    * surface (a SparkThrowable whose condition is USER_RAISED_EXCEPTION,
    * what a failed `assert_true` throws) carrying the guard's message, so an
    * unrelated failure whose message merely contains the text is never
    * recast and masked.
    */
  def rethrowNullKey[T](f: => T): T =
    try f catch {
      case e: Throwable if Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
          case st: org.apache.spark.SparkThrowable =>
            st.getCondition == "USER_RAISED_EXCEPTION" && String.valueOf(st.getMessage).contains(NullKey)
          case _ => false
        } => throw new IllegalArgumentException(NullKey)
    }

  /** `rows` with each business key column set to its `attrs` value, cast
    * to the key's type.
    */
  def withKey(rows: DataFrame, attrs: Map[String, Any], keySchema: StructType): DataFrame =
    keySchema.fields.foldLeft(rows)((d, f) => d.withColumn(f.name, lit(attrs(f.name)).cast(f.dataType)))

  /** The rows whose columns equal `attrs` (true when empty). */
  def keyFilter(attrs: Map[String, Any]): Column =
    attrs.map { case (k, v) => col(k) === lit(v) }.reduceOption(_ && _).getOrElse(lit(true))

  /** The pre-write probe: the distinct rows of the union of `frames`, in
    * ONE job — a per-partition set fold with no exchange, the shape of
    * ChunkStore's dtype probe (a `distinct().collect()` plans two or three
    * AQE jobs). Each frame selects only the few facts its write needs, so
    * the set stays metadata-sized. A batch's in-plan [[guardKeys]] guard
    * fails this job first, as the contract's IllegalArgumentException.
    */
  def probe(frames: DataFrame*): Set[Row] =
    rethrowNullKey(frames.reduce(_ unionAll _).rdd.aggregate(Set.empty[Row])(_ + _, _ ++ _))

  /** The fresh-group merge of every rewrite: the `fresh` rows (tagged
    * `__new`) and the `stored` ones cross ONE exchange on `exchange`, then
    * one window per `group`, ordered by (ts, new first), adds
    *  - `__fresh`: the group holds a fresh row;
    *  - `__first`: the row is its group's first;
    *  - `__dup`: the row repeats its predecessor's `ts`, so a group holding
    *    a fresh row keeps one row per `ts`, the fresh one where both exist,
    *    by dropping `__dup` rows (`combine_first`, reference
    *    `_update_chunk_with_existing`, chunk_timeserie_store.py:782-813);
    *  - each of `whole`'s aggregates, over the whole group.
    * When the window's partitioning and order are the write's own, the
    * commit's repartition and sort are planned away, so the rewrite is a
    * shuffle-map job and the write job. Filtered branches would each push
    * their filter below the exchange and plan an exchange of their own, so
    * a caller decides each row with one filter over these columns.
    */
  def merge(fresh: Option[DataFrame], stored: DataFrame, exchange: Seq[Column], group: Seq[Column],
      whole: Map[String, Column] = Map.empty): DataFrame = {
    val tagged = stored.withColumn("__new", lit(false))
    val rows = fresh.fold(tagged)(_.withColumn("__new", lit(true)).unionByName(tagged))
    val ordered = Window.partitionBy(group: _*).orderBy(col("ts"), col("__new").desc)
    val all = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows.repartition(exchange: _*).withColumns(
      whole.map { case (c, agg) => c -> agg.over(all) } ++ Map(
        "__fresh" -> max(col("__new")).over(all),
        "__first" -> (row_number().over(ordered) === 1),
        "__dup"   -> coalesce(lag(col("ts"), 1).over(ordered) === col("ts"), lit(false))))
  }
}
