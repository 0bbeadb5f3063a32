package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * commit, and a frame stays valid through one later commit. `setTs` is
  * `setManyTs` of one series through one write body ([[write]]): which
  * series exist comes from the manifest's live directories, so only an
  * insert that could clash probes before writing, and an update is one
  * merge, a shuffle-map job and the write job. Every mutator runs under
  * the store's [[WriterLock]], as ChunkStore's do: an update's merge +
  * commit is a read-modify-write exactly like the reference's locked
  * upsert.
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
    * logs and returns without writing): stored rows stay as they were, and
    * nothing is committed.
    */
  def setTs(
      attrs: Map[String, Any],
      series: DataFrame,
      update: Boolean = false,
      replace: Boolean = false): Boolean = WriterLock.withLock(path) {
    if (update && replace)
      throw new IllegalArgumentException("update and replace are mutually exclusive")
    requireFullKey(attrs, keys)
    write(WriteRules.withKey(WriteRules.points(series.select("ts", "value")), attrs, keySchema), Some(attrs),
      update, replace)
  }

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
    * [[setTs]] calls run N parquet writes, this plans ONE commit that
    * lands every new series directory in a single write job — the shape
    * that matters when backfilling millions of series.
    */
  def setManyTs(many: DataFrame): Unit = WriterLock.withLock(path) {
    // Key columns are coerced to the store schema (setTs parity):
    // mismatched key dtypes would write parquet with wrong physical types
    // that the schema'd reads cannot decode.
    write(WriteRules.points(WriteRules.guardKeys(many, keys).select(
      (keys.map(k => col(k).cast(keySchema(k).dataType).as(k)) :+ col("ts") :+ col("value")): _*)), None,
      update = false, replace = false): Unit
  }

  /** The one write body: the normalized `fresh` rows `(keys..., ts,
    * value)` of the one series `attrs` names, or of a batch (`attrs`
    * None), in one commit. Whether a series exists is whether its
    * partition directory is live in the manifest: no job.
    *  - Insert: when a series of the input may clash (the one series' own
    *    directory is live, or any is for a batch), ONE [[WriteRules.probe]]
    *    of the input's key tuples runs first. No tuple: the input is empty
    *    and skipped, before any refusal (the reference's order). A live
    *    tuple refuses the input. Otherwise the rows are written as they
    *    are, and a batch's null-key guard rides the probe or the write.
    *  - Replace: the rows are written, and the series' old files leave
    *    only when the write job saw a row.
    *  - Update: the fresh rows and the series' stored rows go through
    *    [[WriteRules.merge]], exchanged and grouped on the keys, so the
    *    commit's own repartition and sort are planned away. A group
    *    without a fresh row writes nothing, so an empty input commits
    *    nothing.
    * Returns whether the input held a point.
    */
  private def write(fresh: DataFrame, attrs: Option[Map[String, Any]], update: Boolean, replace: Boolean): Boolean =
    WriteRules.rethrowNullKey {
      val live = PartitionCommit.liveDirs(path)
      def isLive(tuple: Seq[Any]) = live(PartitionCommit.partitionDir(layout, tuple))
      val one = attrs.map(a => keys.map(a))
      val found = Option.when(!update && !replace && one.fold(live.nonEmpty)(isLive))(
        WriteRules.probe(fresh.select(keys.map(col): _*)).map(_.toSeq))
      if (found.exists(_.isEmpty)) false
      else {
        if (found.exists(_.exists(isLive)))
          throw attrs.fold[RuntimeException](new IllegalStateException(
            "set_many_ts: some series already exist (IntegrityError parity)"))(a => new IllegalArgumentException(
            s"Trying save over existing ts without update or replace option: $a"))
        // the input-side emptiness check rides the write job as an observation
        val rows = org.apache.spark.sql.Observation()
        val counted = fresh.select(schema.fieldNames.map(col): _*).observe(rows, count(lit(1)).as("n"))
        def wrote = Option(rows.get("n")).exists(_.asInstanceOf[Long] > 0L)
        val content = if (!update) counted
          else WriteRules.merge(Some(counted), load().filter(keyFilter(attrs.get)), keys.map(col), keys.map(col))
            .filter(col("__fresh") && !col("__dup")).select(schema.fieldNames.map(col): _*)
        PartitionCommit.commit(layout, Some(content), if ((update || replace) && wrote) one.toSeq else Nil)
        wrote
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
    val victims = WriteRules.probe(load().filter(Lookups.validated(filters, keys)).select(keys.map(col): _*))
    PartitionCommit.commit(layout, None, victims.toSeq.map(_.toSeq))
  }
}
