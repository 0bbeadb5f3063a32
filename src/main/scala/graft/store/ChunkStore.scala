package graft.store

import graft.ts.Grid
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Cast, InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import WriteRules.{keyFilter, requireFullKey}

/** Parquet-backed chunked time-series store — the Spark re-expression of
  * the reference's `TimeseriesChunkStore`
  * (hostore/models/chunk_timeserie_store.py:180-899).
  *
  * Layout: ONE long-form parquet table per store, schema
  * `(businessKeys..., ts, value, is_deleted, updated_at)` partitioned by
  * `chunk_index` (year or year*12+month-1 in the store tz). What the
  * reference does with per-row lz4 blobs + a covering index, Parquet gives
  * natively: chunk pruning = partition pruning on `chunk_index`
  * (reference `_filter_interval` :855-861), key lookups = row-group
  * min/max skipping (we sort within partitions by the business keys at
  * write), compression = column encodings. Timestamps are stored (not
  * elided like the reference's start_ts+freq rebuild) but delta-encode to
  * almost nothing at fixed frequency.
  *
  * Series are persisted SPARSE (null points dropped); density is
  * reconstructed on read via the calendar grid. Observable behavior is
  * identical to the reference's dense padding because reads default to
  * bounds-NaN trimming (chunk_timeserie_store.py:884-885) — see
  * SURVEY.md §7.4(3).
  *
  * Tombstones: a soft-deleted series keeps one row per previously-occupied
  * chunk with `is_deleted=true, ts/value = null` and a fresh `updated_at`
  * (reference ChunkQuerySet.delete :30-52, EMPTY_DATA :27) so incremental
  * sync can propagate deletions.
  *
  * Writes: every write (insert, update, replace, delete, compaction,
  * sync import) is one [[PartitionCommit]]: the new content of the
  * affected chunk partitions is written as fresh files, then one atomic
  * manifest swap makes them live and retires the partitions' old files
  * (none for an insert); see [[rewrite]] for the one shape of a rewrite.
  *
  * Concurrency: one writer at a time per store, enforced by an advisory
  * [[WriterLock]] around every mutator (the reference's row-lock upsert,
  * `select_for_update` at chunk_timeserie_store.py:789, re-expressed at
  * store granularity over the partition commit; reentrant, so composed
  * mutators lock once). Readers take no lock and never block. A read sees
  * one commit, and a frame stays valid through one later commit: each
  * read resolves the manifest once and scans that generation's files,
  * which stay on disk until the commit after the next one. A [[getTs]]
  * or [[getManyTs]] frame is materialized at call time and depends on no
  * file.
  */
class ChunkStore(
    val spark: SparkSession,
    val path: String,
    val keySchema: StructType,
    val config: StoreConfig = StoreConfig()) {

  import ChunkStore._

  val keys: Seq[String] = keySchema.fields.map(_.name).toSeq

  /** Chunk partitions, rows sorted by (keys..., ts) within each — key
    * lookups skip row groups on the min/max statistics.
    */
  private[graft] val layout = PartitionCommit.Layout(path, schema, Seq("chunk_index"), keys :+ "ts")

  private def chunkIndexCol(ts: Column): Column = config.chunkAxis match {
    case YearAxis      => Grid.chunkIndexYearly(ts, config.tz)
    case YearMonthAxis => Grid.chunkIndexMonthly(ts, config.tz)
  }

  /** Full long-form schema, keys first. `dtype` records the source value
    * type of the write (Spark simpleString, e.g. "bigint") so reads can
    * restore it — the reference stores dtype per chunk row and casts back
    * on read (chunk_timeserie_store.py:187,776; int round-trip in
    * tests/tests_basics.py:29). Pre-dtype store files read it as null
    * (= double, the historical behavior).
    */
  def schema: StructType = StructType(
    keySchema.fields.toSeq ++ Seq(
      StructField("chunk_index", IntegerType),
      StructField("ts", TimestampNTZType),
      StructField("value", DoubleType),
      StructField("dtype", StringType),
      StructField("is_deleted", BooleanType, nullable = false),
      StructField("updated_at", TimestampNTZType)))

  /** Register this store as a SQL view: live rows only (tombstones
    * filtered), long-form schema — after this, `spark.sql("SELECT ... FROM
    * <name>")` works against the store with partition pruning intact,
    * which is the migration path for SQL-first users of the reference.
    * The view is a frame like any read: it sees the commit current at
    * registration and stays valid through one later commit, so register
    * it again after writing.
    */
  def createOrReplaceView(name: String): Unit =
    load().filter(!col("is_deleted") && col("ts").isNotNull)
      .drop("is_deleted")
      .createOrReplaceTempView(name)

  /** Current store content; empty frame with the right schema when the
    * store has never been written.
    */
  def load(): DataFrame = PartitionCommit.load(spark, path, schema, PartitionCommit.liveFiles(path))

  /** Partition pruning: literal chunk_index bound for an instant, like the
    * reference's `_filter_interval` (chunk_timeserie_store.py:855-861).
    */
  private def chunkOf(z: java.time.ZonedDateTime): Int = config.chunkAxis match {
    case YearAxis      => Grid.chunkRangeYearly(z, z, config.tz)._1
    case YearMonthAxis => Grid.chunkRangeMonthly(z, z, config.tz)._1
  }

  /** [[WriteRules.points]] of `rows`, recording as `dtype` the value type
    * BEFORE the double coercion, so reads can cast back (reference dtype
    * round-trip).
    */
  private def normalized(rows: DataFrame): DataFrame =
    WriteRules.points(rows.withColumn("dtype", lit(rows.schema("value").dataType.simpleString)))

  def exists(attrs: Map[String, Any]): Boolean =
    !load().filter(keyFilter(attrs) && !col("is_deleted")).isEmpty

  /** Write one series under `attrs`. Mirrors `set_ts`
    * (chunk_timeserie_store.py:309-373): plain insert refuses a series
    * with a live row, and a chunk holding the series' tombstone (the
    * reference's unique `(keys..., chunk_index)` chunk row; `update`
    * writes a deleted series again), and is forbidden when sync is
    * enabled; `update` merges
    * new.combine_first(existing) in each chunk the series gets a new point
    * in, and leaves its other chunks as they are; `replace` hard-replaces
    * those chunks and tombstones the series' other chunks. Returns false
    * when the series was skipped (empty/all-null). Jobs: the [[chunks]]
    * probe, then the write (update and replace: [[rewrite]]'s two jobs).
    */
  def setTs(
      attrs: Map[String, Any],
      series: DataFrame,
      update: Boolean = false,
      replace: Boolean = false,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)): Boolean = WriterLock.withLock(path) {
    require(!(update && replace), "update and replace are mutually exclusive")
    requireFullKey(attrs, keys)
    if (config.syncEnabled && !update && !replace)
      throw new IllegalStateException("plain insert is forbidden on a sync-enabled store; use update or replace")
    val newRows = finishRows(WriteRules.withKey(normalized(series.select("ts", "value")), attrs, keySchema), now)
    // the new points' chunks, and this series' stored ones (replace: its
    // tombstone scope; insert: the existence refusal)
    val probe = chunks(Some(newRows), Option.when(!update)(load().filter(keyFilter(attrs))))
    val fresh = probe.collect { case (c, None) => c }
    if (fresh.isEmpty) false // empty / all-null series: skipped
    else {
      if (!update && !replace && probe.exists { case (c, deleted) => deleted.exists(!_ || fresh(c)) })
        throw new IllegalStateException(s"series already exists for $attrs (IntegrityError parity)")
      if (update || replace) rewrite(probe.map(_._1), Some(newRows), if (replace) keyFilter(attrs) else lit(false), now)
      else PartitionCommit.commit(layout, Some(newRows), Nil)
      true
    }
  }

  /** Bulk insert of many series (reference `set_many_ts`,
    * chunk_timeserie_store.py:418-455): insert-only, forbidden when sync
    * is enabled, null key values refused, and the whole batch refused when
    * a series of it has a live row or its tombstone in a chunk the batch
    * writes ([[setTs]]'s insert rule). `many` carries the full long form
    * (businessKeys..., ts, value) already unioned — one write job; the
    * null-key refusal rides the duplicate probe, a distributed join, so
    * the batch's series are never collected.
    */
  def setManyTs(
      many: DataFrame,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)): Unit = WriterLock.withLock(path) {
    if (config.syncEnabled)
      throw new IllegalStateException("set_many_ts is forbidden on a sync-enabled store")
    val rows = finishRows(normalized(WriteRules.guardKeys(many, keys)), now)
    val stored = load().select((keys.map(col) :+ col("chunk_index").as("__ci") :+ col("is_deleted")): _*).distinct()
    WriteRules.rethrowNullKey {
      if (!rows.select((keys :+ "chunk_index").map(col): _*).distinct().join(stored, keys)
          .filter(!col("is_deleted") || col("chunk_index") === col("__ci")).isEmpty)
        throw new IllegalStateException("set_many_ts: some series already exist (IntegrityError parity)")
      PartitionCommit.commit(layout, Some(rows), Nil)
    }
  }

  /** Bulk upsert of MANY series — `set_ts(update=True)` per series, and
    * the micro-batch sink of streaming ingest
    * (graft.streaming.StreamIngest.ingestToStore). `rows` carries
    * (businessKeys..., ts, value). In each (series, chunk) the batch has a
    * point for, new points win per ts (`combine_first`), the tombstone
    * goes, and the rows take `now` and the batch dtype; every other
    * (series, chunk) of the touched chunk partitions, a batch series' own
    * included, is rewritten verbatim, so a pull fetches only what changed.
    * Jobs: the
    * [[chunks]] probe (an empty or all-null batch writes nothing; a null
    * key value fails it, IllegalArgumentException), then [[rewrite]]'s.
    */
  def upsertManyTs(
      rows: DataFrame,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)): Unit = WriterLock.withLock(path) {
    val newRows  = finishRows(normalized(WriteRules.guardKeys(rows, keys)), now)
    val affected = chunks(Some(newRows), None).map(_._1)
    if (affected.nonEmpty) rewrite(affected, Some(newRows), lit(false), now)
  }

  /** Read one series (reference `get_ts`,
    * chunk_timeserie_store.py:375-416): all keys required, tombstones
    * excluded, chunk-range pruning from the requested interval, inclusive
    * time slice, leading/trailing-null trim. Returns the long-form
    * (ts, value) frame ordered by ts.
    *
    * The one-spec case of [[getManyTs]]'s driver read ([[liveRead]],
    * [[local]]), plus the dtype cast and the dense grid: the frame is
    * materialized at call time, as the reference's `get_ts` returns an
    * in-memory series, so it depends on no file and no later commit can
    * change it. A sparse frame is a local relation: its `collect` or
    * `show` runs no Spark job. [[yieldManyTs]] remains the distributed
    * read.
    *
    * The stored `dtype` is restored on egress (reference
    * chunk_timeserie_store.py:776: blob values are cast back to the chunk
    * row's recorded dtype) — an int series round-trips as ints. The value
    * type comes from the series' own live rows in the slice: chunks written
    * with different dtypes fall back to double (one frame, one value type),
    * and a pre-dtype chunk (null dtype — historically double data) counts
    * AS double, so a series mixing legacy and typed chunks can never be
    * silently truncated by a non-double cast. Other series sharing its
    * files play no part.
    *
    * `dropBoundsNa=false` (reference get_ts's flag,
    * chunk_timeserie_store.py:376,884-885): the reference PERSISTS each
    * chunk as the full store-freq grid NaN-padded over its chunk calendar
    * (`_normalize_index` + `_chunk`, :707-754), and the undropped read is
    * `pd.concat` of the surviving chunks' grids (:413) — per STORED chunk,
    * nothing for an absent chunk. An incremental series whose writes left
    * a hole (update=True writes for Jan then Mar — no Feb row exists)
    * comes back with the hole OMITTED, not null-filled. This engine
    * stores sparsely (equivalent under the default) and reconstructs that
    * form in the plan, on the grid [[yieldManyTs]] uses (see [[series]]),
    * over the same driver-read rows: each surviving chunk explodes its own
    * chunk calendar (restarting at the chunk's DST-correct local start,
    * exactly the reference's per-chunk blob grid), sliced, then a left
    * join of the values, sorted in one partition (the slice is one series,
    * so `ts` is unique: no range exchange). Its jobs run at collect.
    * One documented divergence: a wholly-null INTERIOR month of a single
    * write is stored by the reference as an all-NaN blob (its write-span
    * padding) but dropped here (null rows are never stored), so that
    * month's slots are absent from our dense read; the reference's own
    * `yield_many_ts` assumes chunk contiguity (it crashes on a hole,
    * :488-491), so the stored-chunks-only shape is the one the reference
    * reliably exhibits.
    */
  def getTs(
      attrs: Map[String, Any],
      start: Option[java.time.ZonedDateTime] = None,
      end: Option[java.time.ZonedDateTime] = None,
      dropBoundsNa: Boolean = true): DataFrame = {
    val read = liveRead(Seq(attrs), start, end)
    val dtype = read.schema.fieldIndex("dtype")
    val valueType = read.rows.map(r => if (r.isNullAt(dtype)) "double" else r.getUTF8String(dtype).toString)
      .distinct match {
      case Seq(t) => DataType.fromDDL(t)
      case _      => DoubleType
    }
    // the sparse frame is the series' points; the dense grid is built over
    // them and their chunks
    if (dropBoundsNa) local(read, Seq("ts"), valueType)
    else series(local(read, keys :+ "chunk_index" :+ "ts", valueType), start, end, dropBoundsNa = false)
      .select("ts", "value").coalesce(1).sortWithinPartitions("ts")
  }

  /** Keyed multi-series read: the sparse [[getTs]] of every full-key spec
    * of `attrsList` (duplicates read once, absent or deleted keys read
    * nothing) as one `(keys..., ts, value)` frame ordered by
    * `(keys..., ts)`; values are not cast back to the stored dtype. The
    * reference has no such call (its callers loop `get_ts`); this is that
    * loop as ONE driver read ([[liveRead]]): the frame is materialized at
    * call time, and neither the call nor its `collect` or `show` runs a
    * Spark job, nor does an empty spec list.
    *
    * Scale contract: the result must fit in driver memory, as the
    * reference's in-memory series must. A read that does not is
    * [[yieldManyTs]], the distributed streaming read, with `__in` lookups
    * on the keys; on a store of several keys those lookups select every
    * combination of the listed values, a superset of a tuple list.
    */
  def getManyTs(
      attrsList: Seq[Map[String, Any]],
      start: Option[java.time.ZonedDateTime] = None,
      end: Option[java.time.ZonedDateTime] = None): DataFrame =
    local(liveRead(attrsList, start, end), keys :+ "ts", DoubleType)

  /** The live rows of the full-key `specs` in `[start, end]`, read on the
    * driver from the current generation's files ([[PartitionCommit.read]])
    * with the one live filter of every read ([[live]]): files outside the
    * slice's chunk range are never opened, and the key and `ts` bounds are
    * pushed into the Parquet readers. The specs enter as `key IN (values)`
    * per key, which the readers take as filters and which is exact for
    * one spec or one key; several specs of a store of several keys add
    * the exact tuple membership ([[tupleIn]]). No spec opens no file.
    */
  private[graft] def liveRead(
      specs: Seq[Map[String, Any]],
      start: Option[java.time.ZonedDateTime],
      end: Option[java.time.ZonedDateTime]): PartitionCommit.Read = {
    specs.foreach(requireFullKey(_, keys))
    val tuples = specs.map(a => keys.map(a)).distinct
    val perKey = keySchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      col(f.name).isin(tuples.map(_(i)).distinct.map(lit(_).cast(f.dataType)): _*)
    }
    val exact = Option.when(keys.length > 1 && tuples.length > 1)(tupleIn(keySchema.fields.toSeq, tuples))
    PartitionCommit.read(spark, layout, if (specs.isEmpty) Nil else PartitionCommit.liveFiles(path),
      live((perKey ++ exact).reduce(_ && _), start, end))
  }

  /** The rows of `read` as one local frame, marked analyzed so that the
    * analyzer does not walk its rows: sorted by `(keys..., ts)` in Spark's
    * ascending order (nulls first, the order `orderBy` gives), projected
    * to `columns` then `value`, cast to `valueType`.
    */
  private def local(read: PartitionCommit.Read, columns: Seq[String], valueType: DataType): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(read.schema)
    val byName = attrs.map(a => a.name -> a).toMap
    val order = new InterpretedOrdering((keys :+ "ts").map(c => SortOrder(byName(c), Ascending)), attrs)
    val project = UnsafeProjection.create(columns.map(byName) :+ Cast(byName("value"), valueType), attrs)
    val fields = columns.map(read.schema(_)) :+ StructField("value", valueType)
    GraftColumnBridge.ofAnalyzed(spark, LocalRelation(DataTypeUtils.toAttributes(StructType(fields)),
      read.rows.sorted(order).map(project(_).copy())))
  }

  /** The `column` statistics of every row group of the live `files`
    * (store-relative), read from their Parquet footers on the driver: no
    * job. None when a file cannot be read, or one of its row groups lacks
    * the column, its statistics or their null count.
    */
  private def footerStats(files: Seq[String], column: String): Option[Seq[Statistics[_]]] =
    try {
      val found = files.flatMap { f =>
        val reader = ParquetFileReader.open(new LocalInputFile(new java.io.File(path, f).toPath))
        try reader.getFooter.getBlocks.asScala.toSeq.map(_.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getStatistics).filter(st => st != null && st.isNumNullsSet))
        finally reader.close()
      }
      Option.when(found.forall(_.isDefined))(found.flatten)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One chunk's store-freq calendar as an in-plan timestamp sequence —
    * the reference's per-chunk blob grid (`_normalize_index` date_range
    * sliced by `_chunk`, chunk_timeserie_store.py:735-754): inclusive of
    * the chunk's DST-correct local start, exclusive of the next chunk's.
    */
  private def chunkCalendar(ci: Column): Column = {
    val step = expr("make_dt_interval(0, 0, 0, 1)") * config.freqSecs
    def startOf(idx: Column): Column = {
      val local = config.chunkAxis match {
        case YearAxis      => make_timestamp_ntz(idx, lit(1), lit(1), lit(0), lit(0), lit(0))
        case YearMonthAxis => make_timestamp_ntz((idx / 12).cast("int"), pmod(idx, lit(12)) + 1,
          lit(1), lit(0), lit(0), lit(0))
      }
      convert_timezone(lit(config.tz), lit("UTC"), local)
    }
    sequence(startOf(ci), startOf(ci + 1) - step, step)
  }

  /** Streaming grouped read (reference `yield_many_ts`,
    * chunk_timeserie_store.py:457-517): partial key filters allowed,
    * Django `__`-lookups accepted (the reference strips lookup suffixes
    * before validating names, `_check_attrs` :889-899, and forwards the
    * raw dict to objects.filter(**filters)), tombstones out, optional
    * [start, end] slice with chunk pruning, ordered by (keys..., ts). The
    * dense form (`dropBoundsNa=false`, reference :459,488-491) is the
    * [[getTs]] grid per key. Long form needs no reassembly; Spark's
    * sort-based shuffle plays the reference's buffered iterator.
    */
  def yieldManyTs(
      filters: Map[String, Any] = Map.empty,
      start: Option[java.time.ZonedDateTime] = None,
      end: Option[java.time.ZonedDateTime] = None,
      dropBoundsNa: Boolean = true): DataFrame =
    series(load().filter(live(Lookups.validated(filters, keys), start, end)), start, end, dropBoundsNa)
      .orderBy((keys.map(col) :+ col("ts")): _*)

  /** The live rows that `pred` selects inside `[start, end]` — the one
    * interval filter of every read (reference `_filter_interval`,
    * chunk_timeserie_store.py:855-861): tombstones and null points out,
    * literal chunk_index bounds prune partitions.
    */
  private def live(pred: Column, start: Option[java.time.ZonedDateTime],
      end: Option[java.time.ZonedDateTime]): Column =
    (Seq(pred, !col("is_deleted"), col("ts").isNotNull) ++ bounds(start, end, pruned = true)).reduce(_ && _)

  /** The inclusive `[start, end]` bounds on `ts`. With `pruned`, each bound
    * also carries its instant's literal chunk_index bound, a partition
    * filter.
    */
  private def bounds(start: Option[java.time.ZonedDateTime], end: Option[java.time.ZonedDateTime],
      pruned: Boolean): Seq[Column] = {
    def bound(z: java.time.ZonedDateTime, cmp: (Column, Column) => Column): Column = {
      val onTs = cmp(col("ts"), lit(toNtz(z)))
      if (pruned) cmp(col("chunk_index"), lit(chunkOf(z))) && onTs else onTs
    }
    start.map(z => bound(z, _ >= _)).toSeq ++ end.map(z => bound(z, _ <= _))
  }

  /** The `(keys..., ts, value)` rows of the live slice `df`: its points,
    * or with `dropBoundsNa = false` the dense form — per series, each
    * STORED chunk's own store-freq grid (the reference's per-chunk blob
    * grids; an absent middle chunk contributes nothing, see [[getTs]] for
    * the hole semantics), sliced to `[start, end]`, with the points
    * left-joined on. One row per distinct (key, chunk) explodes only its
    * own chunk's calendar: no driver-side collection and no whole-span
    * arrays.
    */
  private def series(df: DataFrame, start: Option[java.time.ZonedDateTime],
      end: Option[java.time.ZonedDateTime], dropBoundsNa: Boolean): DataFrame = {
    val points = df.select((keys.map(col) :+ col("ts") :+ col("value")): _*)
    if (dropBoundsNa) points
    else {
      val grid = df.select((keys.map(col) :+ col("chunk_index").as("__ci")): _*).distinct()
        .withColumn("ts", explode(chunkCalendar(col("__ci"))))
        .select((keys.map(col) :+ col("ts")): _*)
      bounds(start, end, pruned = false).foldLeft(grid)(_ filter _).join(points, keys :+ "ts", "left")
    }
  }

  /** Small-file compaction: rewrite the given (default: all live) chunk
    * partitions through the partition commit —
    * each partition comes out as a single sorted file instead of one file
    * per historical insert/update. Returns the number of partitions
    * compacted. Run it as maintenance after many incremental writes;
    * readers see the same rows.
    */
  def compact(partitions: Option[Seq[Int]] = None): Int =
    PartitionCommit.compact(layout, load(), partitions).length

  /** Policy form of [[compact]]: rewrite only the chunk partitions whose
    * live-file count exceeds `maxFilesPerPartition` (inserts add a file
    * per touched partition; streaming ingest compounds it batch after
    * batch). File counts come from the manifest — no data scan for
    * partitions already compact. Explicit
    * call, not a write hook: schedule it after bulk loads / on a timer
    * next to a streaming ingest. Returns the partitions compacted.
    */
  def compactIfNeeded(maxFilesPerPartition: Int = 8): Seq[Int] =
    PartitionCommit.compactCrowded(layout, load(), maxFilesPerPartition)

  /** Latest non-null timestamp across matching series, None when empty
    * (reference `get_max_horodate`, chunk_timeserie_store.py:519-539).
    * The max-chunk candidate comes from the manifest's live partitions
    * (the reference's max-chunk index shortcut, :531 — the same list
    * `compactIfNeeded` uses), so the common case scans exactly ONE
    * pruned partition instead of aggregating max(chunk_index) over every
    * partition first. A partition can be empty FOR THE FILTERS (other
    * series' chunks, tombstones), so walk downward; after `probeLimit`
    * misses fall back to the two-pass aggregation rather than issuing a
    * job per remaining partition.
    */
  def maxHorodate(filters: Map[String, Any] = Map.empty): Option[java.time.LocalDateTime] = {
    val live = load().filter(keyFilter(filters) && !col("is_deleted") && col("value").isNotNull)
    val probeLimit = 3
    val candidates = PartitionCommit.partitions(path, "chunk_index").sorted(Ordering[Int].reverse)
    for (p <- candidates.take(probeLimit)) {
      // literal chunk_index predicate → PartitionFilters: one-partition scan
      val r = live.filter(col("chunk_index") === lit(p)).agg(max("ts")).head()
      if (!r.isNullAt(0)) return Some(r.getAs[java.time.LocalDateTime](0))
    }
    if (candidates.length <= probeLimit) None
    else {
      // the newest partitions held nothing for these filters — one
      // bounded fallback over the rest, not a job per partition
      val rest = live.filter(col("chunk_index") < lit(candidates(probeLimit - 1)))
      val maxChunk = rest.agg(max("chunk_index")).head()
      if (maxChunk.isNullAt(0)) None
      else {
        val r = rest.filter(col("chunk_index") === maxChunk.getInt(0)).agg(max("ts")).head()
        if (r.isNullAt(0)) None else Some(r.getAs[java.time.LocalDateTime](0))
      }
    }
  }

  /** Max `updated_at` under filters; empty → 2000-01-01 in store tz
    * (reference `last_updated_at`, chunk_timeserie_store.py:288-307).
    * With no filters (every pull starts here) it is the max of the live
    * files' `updated_at` footer statistics, with no job, unless a footer
    * does not prove it ([[footerStats]], micros NTZ): then the aggregation.
    */
  def lastUpdatedAt(filters: Map[String, Any] = Map.empty): java.time.LocalDateTime = {
    val files = PartitionCommit.liveFiles(path)
    val micros = LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)
    val footers = Option.when(filters.isEmpty)(footerStats(files, "updated_at")).flatten
      .filter(_.forall(_.`type`.getLogicalTypeAnnotation == micros))
    val latest = footers match {
      case Some(stats) => stats.filter(_.hasNonNullValue).map(_.genericGetMax.asInstanceOf[Long]).maxOption
        .map(org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime)
      case None => Option(PartitionCommit.load(spark, path, schema, files).filter(keyFilter(filters))
        .agg(max("updated_at")).head().getAs[java.time.LocalDateTime](0))
    }
    latest.getOrElse(java.time.ZonedDateTime.of(2000, 1, 1, 0, 0, 0, 0, java.time.ZoneId.of(config.tz))
      .withZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime)
  }

  def maxChunkIndex(): Option[Int] = {
    val r = load().filter(!col("is_deleted")).agg(max("chunk_index")).head()
    if (r.isNullAt(0)) None else Some(r.getInt(0))
  }

  /** Soft delete matching series (reference ChunkQuerySet.delete with
    * keep_tracking — chunk_timeserie_store.py:30-52): every chunk of a
    * matched series collapses to one tombstone row with fresh
    * `updated_at`; the other series in those chunk partitions are
    * rewritten verbatim. Hard delete (keepTracking=false) physically
    * removes the rows and is refused when sync is enabled. Jobs: the
    * [[chunks]] probe of the matched rows, then [[rewrite]]'s if any.
    */
  def delete(
      filters: Map[String, Any],
      keepTracking: Boolean = true,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)): Unit = WriterLock.withLock(path) {
    if (!keepTracking && config.syncEnabled)
      throw new IllegalStateException("hard delete is forbidden on a sync-enabled store")
    val hit = keyFilter(filters)
    val affected = chunks(None, Some(load().filter(hit))).map(_._1)
    if (affected.nonEmpty) rewrite(affected, None, hit, now, keepTracking)
  }

  // ---- write-path internals -------------------------------------------

  /** Add chunk_index / is_deleted / updated_at and order columns. Frames
    * without a dtype column (internal rebuilds of already-double rows)
    * default to "double".
    */
  private def finishRows(s: DataFrame, now: java.time.LocalDateTime): DataFrame = {
    val withD = if (s.columns.contains("dtype")) s else s.withColumn("dtype", lit("double"))
    withD.withColumn("chunk_index", chunkIndexCol(col("ts")))
      .withColumn("is_deleted", lit(false))
      .withColumn("updated_at", lit(now))
      .select(schema.fieldNames.map(col): _*)
  }

  /** The pre-write [[WriteRules.probe]]: the distinct `chunk_index` of
    * the rows of `fresh` (with None) and of `stored` (with whether the row
    * is a tombstone), in ONE job.
    */
  private def chunks(fresh: Option[DataFrame], stored: Option[DataFrame]): Set[(Int, Option[Boolean])] =
    WriteRules.probe((fresh.map(_.select(col("chunk_index"), lit(null).cast(BooleanType))) ++
      stored.map(_.select(col("chunk_index"), col("is_deleted")))).toSeq: _*)
      .map(r => r.getInt(0) -> Option.unless(r.isNullAt(1))(r.getBoolean(1)))

  /** The one write body of update, upsert, replace and delete: one commit
    * of the `affected` chunk partitions, whose stored rows and the `fresh`
    * rows go through [[WriteRules.merge]], exchanged on `chunk_index` and
    * grouped per (chunk_index, keys...) in the write's sort order, so the
    * rewrite is a shuffle-map job and the write job. Per group:
    *  - a group holding a fresh row keeps one row per `ts`, the fresh one
    *    where both exist (per series, as the reference's `set_ts`), drops
    *    its tombstones and its stored rows `retire` selects (replace), and
    *    takes `now` and the fresh rows' dtype;
    *  - a group of stored rows `retire` selects collapses to one tombstone
    *    (reference EMPTY_DATA, chunk_timeserie_store.py:27) stamped `now`,
    *    or without `keepTracking` is dropped;
    *  - every other group is written verbatim.
    */
  private def rewrite(affected: Set[Int], fresh: Option[DataFrame], retire: Column,
      now: java.time.LocalDateTime, keepTracking: Boolean = true): Unit = {
    val stored = load().filter(col("chunk_index").isin(affected.toSeq: _*))
    val (isNew, isFresh) = (col("__new"), col("__fresh"))
    val retired = coalesce(retire, lit(false))
    val tomb = !isFresh && retired
    val keep = when(isFresh, !col("__dup") && (isNew || !retired && !col("is_deleted") && col("ts").isNotNull))
      .otherwise(!tomb || lit(keepTracking) && col("__first"))
    val content = WriteRules.merge(fresh, stored, Seq(col("chunk_index")), col("chunk_index") +: keys.map(col),
        Map("__dtype" -> max(when(isNew, col("dtype")))))
      .filter(keep)
      .select(schema.fieldNames.map {
        case c @ ("ts" | "value") => when(!tomb, col(c)).as(c)
        case "dtype"      => when(isFresh, col("__dtype")).when(!tomb, col("dtype")).as("dtype")
        case "is_deleted" => (col("is_deleted") || tomb).as("is_deleted")
        case "updated_at" => when(isFresh || tomb, lit(now)).otherwise(col("updated_at")).as("updated_at")
        case c            => col(c)
      }: _*)
    PartitionCommit.commit(layout, Some(content), affected.toSeq.map(Seq(_)))
  }
}

object ChunkStore {
  /** Engine-UTC wall time of an instant, as LocalDateTime — `lit(...)` of
    * it is a TIMESTAMP_NTZ literal with no JVM-default-tz dependence (a
    * java.sql.Timestamp would re-interpret the wall time in JVM tz).
    */
  private[store] def toNtz(z: java.time.ZonedDateTime): java.time.LocalDateTime =
    z.withZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime

  /** `struct(fields...) IN (tuples...)` with the tuples as literals, each
    * value cast to its field's type — a driver-side spec list as one plan
    * predicate, with no spec-side job. No tuple matches no row.
    */
  private[graft] def tupleIn(fields: Seq[StructField], tuples: Seq[Seq[Any]]): Column =
    struct(fields.map(f => col(f.name)): _*).isin(tuples.distinct.map(t => struct(fields.zip(t).map {
      case (f, v) => lit(v).cast(f.dataType).as(f.name)
    }: _*)): _*)
}
