package graft.store

import graft.ts.Combine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import WriteRules.{keyFilter, requireFullKey}

/** Non-chunked keyed time-series store — the Spark re-expression of the
  * reference's `TimeseriesStore` (hostore/models/timeserie_store.py:16-156):
  * one series per unique business-key tuple, whole-series writes, no
  * chunking, no tombstones, no sync.
  *
  * Layout: ONE long-form parquet table `(keys..., ts, value)` partitioned
  * by the business keys — each series is its own partition directory, so
  * a keyed read prunes to one directory (what the reference's unique
  * constraint + index give it), `set_ts` rewrites exactly one series (the
  * reference re-encodes the whole blob per set — same granularity), and
  * `clear` retires whole series directories. Partial key filters (incl.
  * Django `__`-lookups) prune on the partition columns.
  *
  * Every write is one [[PartitionCommit]], the commit of every store: the
  * content is written as fresh files, then one atomic manifest swap makes
  * them live and retires the replaced series' old files. A read sees one
  * commit, and a frame stays valid through one later commit. Each mode
  * costs the fewest jobs it allows: the write job carries each
  * observation, and only a plain insert and an existing-store `setManyTs`
  * probe before writing. Every mutator runs under the store's
  * [[WriterLock]], as ChunkStore's do: the exists-probe + combine-first +
  * commit in `setTs` is a read-modify-write exactly like the reference's
  * locked upsert.
  *
  * Error contract mirrors the reference's ValueError surface
  * (timeserie_store.py:118-141, tests_timeseries_store.py:86-133):
  * update+replace exclusive; set over an existing series without a flag
  * refused; flat get with zero or multiple matches refused; an all-null
  * series is skipped (returns false), not written.
  *
  * For chunked storage, tombstoned deletes, and incremental sync, use
  * [[ChunkStore]] — this facade exists so a reference user migrating a
  * plain `TimeseriesStore` model has a 1:1 class to land on.
  */
class TimeseriesStore(
    val spark: SparkSession,
    val path: String,
    val keySchema: StructType) {

  val keys: Seq[String] = keySchema.fields.map(_.name).toSeq
  require(keys.nonEmpty, "TimeseriesStore needs at least one business key")

  def schema: StructType = StructType(
    keySchema.fields.toSeq ++ Seq(
      StructField("ts", TimestampNTZType),
      StructField("value", DoubleType)))

  /** One partition directory per series, rows in ts order. */
  private val layout = PartitionCommit.Layout(path, schema, keys, Seq("ts"))

  def load(): DataFrame = PartitionCommit.load(spark, path, schema, PartitionCommit.liveFiles(path))

  def exists(attrs: Map[String, Any]): Boolean =
    !load().filter(keyFilter(attrs)).isEmpty

  /** Write one series under `attrs` (reference `set_ts`,
    * timeserie_store.py:97-141): `update` merges new.combine_first(existing),
    * `replace` swaps the series wholesale, neither flag over an existing
    * series is refused (ValueError parity → IllegalArgumentException).
    * An empty / all-null series is skipped; returns false (the reference
    * logs and returns without writing): stored rows stay as they were.
    */
  def setTs(
      attrs: Map[String, Any],
      series: DataFrame,
      update: Boolean = false,
      replace: Boolean = false): Boolean = WriterLock.withLock(path) {
    if (update && replace)
      throw new IllegalArgumentException("update and replace are mutually exclusive")
    requireFullKey(attrs, keys)
    val s = WriteRules.points(series.select("ts", "value"))
    // the input-side emptiness check rides the write job as an observation
    val rows = org.apache.spark.sql.Observation()
    val counted = s.observe(rows, count(lit(1)).as("n"))
    def wrote = Option(rows.get("n")).exists(_.asInstanceOf[Long] > 0L)
    if (update || replace) {
      // no pre-write probe: `update` is new.combine_first(existing), the
      // identity when the series is absent; all-null input rewrites the
      // series as it was. `replace` replaces the series only when the
      // write job saw a row — empty input writes and replaces nothing, the
      // reference's empty-series skip.
      val content = if (replace) counted
        else Combine.combineFirst(Seq(counted, load().filter(keyFilter(attrs)).select("ts", "value")), Nil)
      PartitionCommit.commit(layout, Some(attach(attrs, content)), if (update || wrote) Seq(keys.map(attrs)) else Nil)
      wrote
    } else {
      // Plain insert: ONE probe job answers both pre-write questions —
      // "did any input row survive normalization?" and "does this key
      // already exist?" — where an s.isEmpty + exists() pair costs two
      // scheduler round-trips (the r12/r13 store-write job-floor
      // finding). Each union branch contributes at most one marker row;
      // the input side is checked FIRST so an empty series still skips
      // quietly even when the key exists (reference ordering: the
      // empty-skip precedes the exists refusal). The refusal must run
      // BEFORE the write (an insert beside the existing series would
      // duplicate it). A store with no series skips the exists side.
      val sProbe = s.limit(1).select(lit("s").as("side"))
      val probe = (if (PartitionCommit.liveFiles(path).nonEmpty)
          sProbe.unionAll(load().filter(keyFilter(attrs)).limit(1).select(lit("e").as("side")))
        else sProbe)
        .collect().map(_.getString(0)).toSet
      if (!probe("s")) false
      else if (probe("e"))
        throw new IllegalArgumentException(
          s"Trying save over existing ts without update or replace option: $attrs")
      else {
        PartitionCommit.commit(layout, Some(attach(attrs, s)), Nil)
        true
      }
    }
  }

  private def attach(attrs: Map[String, Any], content: DataFrame): DataFrame =
    WriteRules.withKey(content, attrs, keySchema).select(schema.fieldNames.map(col): _*)

  /** Bulk insert of many series in ONE write — the batch analogue
    * of [[setTs]], mirroring the chunked store's `set_many_ts` contract
    * (chunk_timeserie_store.py:419-449, adapted to the non-chunked
    * layout): insert-only (any series whose key tuple already exists is
    * refused wholesale — IntegrityError parity, the caller clears
    * upstream), null key values refused, null/NaN rows dropped (a series
    * that loses every row is simply absent, as `_normalize_serie → None`
    * skips it).
    *
    * `many` is long form `(keys..., ts, value)`. Where N sequential
    * [[setTs]] calls run N parquet writes (and N existence probes),
    * this plans ONE commit that lands every new series directory in a
    * single write job — the shape that matters when backfilling millions
    * of series.
    */
  def setManyTs(many: DataFrame): Unit = WriterLock.withLock(path) {
    // Key columns are coerced to the store schema (setTs parity):
    // mismatched key dtypes would write parquet with wrong physical types
    // that the schema'd reads cannot decode.
    val s = WriteRules.points(WriteRules.guardKeys(many, keys).select(
      (keys.map(k => col(k).cast(keySchema(k).dataType).as(k)) :+ col("ts") :+ col("value")): _*))
    // EXISTING STORE: the duplicate probe must run before the write (an
    // insert beside a clashing series would duplicate it); the null-key
    // guard and the surviving-row count ride it, and an empty batch stops
    // there. FRESH STORE (first backfill): no duplicate is possible, so the
    // guard rides the write job; an empty batch writes no file and
    // publishes nothing — the reference's empty-series skip.
    val rows = org.apache.spark.sql.Observation()
    val counted = s.observe(rows, count(lit(1)).as("n"))
    val existing = PartitionCommit.liveFiles(path).nonEmpty
    WriteRules.rethrowNullKey {
      if (existing) WriteRules.refuseExisting(counted, load(), keys)
      if (!existing || Option(rows.get("n")).exists(_.asInstanceOf[Long] > 0L))
        PartitionCommit.commit(layout, Some(counted), Nil)
    }
  }

  /** Read series matching (possibly partial) `filters`, Django
    * `__`-lookups accepted — the list form of the reference `get_ts`
    * (timeserie_store.py:59-95): long form `(keys..., ts, value)` ordered
    * by (keys..., ts); the key columns play the entry-attribute dict.
    */
  def getTs(filters: Map[String, Any] = Map.empty): DataFrame =
    load().filter(Lookups.validated(filters, keys))
      .select((keys.map(col) :+ col("ts") :+ col("value")): _*)
      .orderBy((keys.map(col) :+ col("ts")): _*)

  /** `get_ts(flat=True)`: exactly one series must match — zero or
    * multiple raise (ValueError parity). Returns (ts, value) ordered.
    */
  def getTsFlat(filters: Map[String, Any]): DataFrame = {
    val found = load().filter(Lookups.validated(filters, keys)) // one generation for check and read
    val matched = found.select(keys.map(col): _*).distinct().limit(2).collect()
    if (matched.isEmpty)
      throw new IllegalArgumentException(s"No serie found for key $filters")
    if (matched.length > 1)
      throw new IllegalArgumentException(s"Multiple series found for key $filters")
    found.select(col("ts"), col("value")).orderBy("ts")
  }

  /** Delete matching series (reference `clear`, timeserie_store.py:144-156):
    * each matched series is one partition directory, retired whole by a
    * commit with no content — no rewrite of anything else.
    */
  def clear(filters: Map[String, Any]): Unit = WriterLock.withLock(path) {
    val victims = load().filter(Lookups.validated(filters, keys))
      .select(keys.map(col): _*).distinct().collect()
    PartitionCommit.commit(layout, None, victims.map(_.toSeq).toSeq)
  }
}
