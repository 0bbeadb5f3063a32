package graft.store

import graft.ts.Combine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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
  * constraint + index give it), `set_ts` rewrites exactly one series via
  * dynamic partition overwrite (the reference re-encodes the whole blob
  * per set — same granularity), and `clear` is a directory drop. Partial
  * key filters (incl. Django `__`-lookups) prune on the partition columns.
  *
  * Writes go through [[PartitionCommit]], the commit path of every store,
  * with the fewest jobs each mode allows: replace and insert write their
  * prepared content directly (their content never reads the store);
  * update and an existing-store `setManyTs` checkpoint once, and their
  * observations ride that job. Every mutator runs under the store's
  * [[WriterLock]], as ChunkStore's do: the exists-probe + combine-first +
  * partition overwrite in `setTs` is a read-modify-write exactly like the
  * reference's locked upsert.
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
  private val layout = PartitionCommit.Layout(path, keys, Seq("ts"))

  def load(): DataFrame = PartitionCommit.load(spark, path, schema)

  /** Write content that does not read the store: no checkpoint needed. */
  private def write(content: DataFrame): Unit =
    PartitionCommit.overwrite(layout, PartitionCommit.prepare(layout, content))

  def exists(attrs: Map[String, Any]): Boolean =
    !load().filter(keyFilter(attrs)).isEmpty

  /** Write one series under `attrs` (reference `set_ts`,
    * timeserie_store.py:97-141): `update` merges new.combine_first(existing),
    * `replace` swaps the series wholesale, neither flag over an existing
    * series is refused (ValueError parity → IllegalArgumentException).
    * An empty / all-null series is skipped; returns false (the reference
    * logs and returns without writing).
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
    if (update) setTsUpdate(attrs, s)
    else if (replace) {
      // `replace` needs NO pre-write probe job at all (r16): it never
      // cares whether the series existed (the partition overwrite IS the
      // replace), and the input-side emptiness check rides the write job
      // as an Observation — a dynamic overwrite whose content has zero
      // rows writes no partition dirs and commits nothing, which is
      // exactly the reference's empty-series skip. One job total.
      val obs = org.apache.spark.sql.Observation()
      write(attach(attrs, s.observe(obs, count(lit(1)).as("n"))))
      Option(obs.get("n")).exists(_.asInstanceOf[Long] > 0L)
    } else {
      // Plain insert: ONE probe job answers both pre-write questions —
      // "did any input row survive normalization?" and "does this key
      // already exist?" — where an s.isEmpty + exists() pair costs two
      // scheduler round-trips (the r12/r13 store-write job-floor
      // finding). Each union branch contributes at most one marker row;
      // the input side is checked FIRST so an empty series still skips
      // quietly even when the key exists (reference ordering: the
      // empty-skip precedes the exists refusal). The refusal must run
      // BEFORE the write (the overwrite would clobber the existing
      // series), so unlike replace this probe cannot ride the write job.
      // A store with no series partitions skips the exists side.
      val sProbe = s.limit(1).select(lit("s").as("side"))
      val probe = (if (PartitionCommit.hasPartitions(path))
          sProbe.unionAll(load().filter(keyFilter(attrs)).limit(1).select(lit("e").as("side")))
        else sProbe)
        .collect().map(_.getString(0)).toSet
      if (!probe("s")) false
      else if (probe("e"))
        throw new IllegalArgumentException(
          s"Trying save over existing ts without update or replace option: $attrs")
      else {
        write(attach(attrs, s))
        true
      }
    }
  }

  /** `update` needs NO pre-write probe at all: `new.combine_first(existing)`
    * with an absent series is the identity, so `existed` never changes the
    * plan, and the input-side emptiness check rides the merge's
    * checkpoint job as an Observation (the merge reads the partition it
    * overwrites, so it must be checkpointed — see [[PartitionCommit]]).
    * One job decides skip-vs-write AND computes the merge; nothing is
    * written when every input row was null/NaN (reference skip
    * semantics).
    */
  private def setTsUpdate(attrs: Map[String, Any], s: DataFrame): Boolean = {
    val obs = org.apache.spark.sql.Observation()
    val existing = load().filter(keyFilter(attrs)).select(col("ts"), col("value"))
    // single-key combine: both frames are one series, keyed by a
    // constant — reuse the ordered-coalesce machinery with no keys
    val content = Combine.combineFirst(
      Seq(s.observe(obs, count(lit(1)).as("n")).withColumn("__k", lit(1)),
          existing.withColumn("__k", lit(1))), Seq("__k"))
      .drop("__k")
    PartitionCommit.checkpointed(PartitionCommit.prepare(layout, attach(attrs, content))) { staged =>
      val wrote = Option(obs.get("n")).exists(_.asInstanceOf[Long] > 0L)
      if (wrote) PartitionCommit.overwrite(layout, staged)
      wrote
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
    * this plans ONE write whose dynamic-partition overwrite lands every
    * new series directory in a single job — the shape that matters when
    * backfilling millions of series.
    */
  def setManyTs(many: DataFrame): Unit = WriterLock.withLock(path) {
    // The null-key refusal is an in-plan guard on the job that first
    // reads the batch: `assert_true` evaluates to null when the row is
    // clean and fails the task otherwise, and nothing commits before that
    // job ends, so a poisoned batch aborts with nothing written. The guard
    // is fused into BOTH the ts and value projections so that whichever
    // normalization-filter conjunct a dropped row evaluates first, it
    // evaluates a guarded column — a null-keyed row whose value is also
    // null/NaN still refuses the batch (setTs parity: the key check runs
    // before the series filter), under any conjunct reordering. Key
    // columns are coerced to the store schema (setTs parity): mismatched
    // key dtypes would write parquet with wrong physical types that the
    // schema'd reads cannot decode.
    val guard = assert_true(!keys.map(col(_).isNull).reduce(_ || _), lit(WriteRules.NullKey))
    val s = WriteRules.points(many.select(
      (keys.map(k => col(k).cast(keySchema(k).dataType).as(k)) :+
        when(guard.isNull, col("ts")).as("ts") :+
        when(guard.isNull, col("value")).as("value")): _*))
    rethrowNullKey {
      if (PartitionCommit.hasPartitions(path)) {
        // EXISTING-STORE path: the duplicate probe must run BEFORE the
        // write (an overwrite would clobber the clashing series), and it
        // needs the normalized batch twice (probe + write) — so the batch
        // is checkpointed once, prepare() first so the partition-shaping
        // shuffle rides that job, and both read the blocks. The guard and
        // the surviving-row count ride the same job.
        val rowObs = org.apache.spark.sql.Observation()
        PartitionCommit.checkpointed(PartitionCommit.prepare(layout,
            s.observe(rowObs, count(lit(1)).as("n")))) { staged =>
          WriteRules.refuseExisting(staged, load(), keys)
          if (Option(rowObs.get("n")).exists(_.asInstanceOf[Long] > 0L))
            PartitionCommit.overwrite(layout, staged.select(schema.fieldNames.map(col): _*))
        }
      } else {
        // FRESH-STORE path (first backfill): no duplicate probe is
        // possible, so the guard rides the write job itself. An
        // empty/all-null batch writes zero rows: the overwrite commits no
        // partition directories — the reference's empty-series skip.
        write(s.select(schema.fieldNames.map(col): _*))
      }
    }
  }

  /** Surface the in-plan null-key guard as the contract's
    * IllegalArgumentException (what [[WriteRules.requireFullKey]] throws
    * for a one-series write): a failed `assert_true` arrives wrapped in
    * SparkException layers at the action — unwrap, rethrow the contract's
    * IllegalArgumentException. Matched precisely (ADVICE r21): the cause
    * must be Spark's own raise_error surface (a SparkThrowable whose
    * condition is USER_RAISED_EXCEPTION — what a failed `assert_true`
    * throws) carrying this guard's message, so an unrelated failure whose
    * message merely CONTAINS the text can never be recast and masked.
    */
  private def rethrowNullKey[T](f: => T): T =
    try f catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          c match {
            case st: org.apache.spark.SparkThrowable
                if st.getCondition == "USER_RAISED_EXCEPTION" &&
                  c.getMessage != null && c.getMessage.contains(WriteRules.NullKey) =>
              throw new IllegalArgumentException(WriteRules.NullKey)
            case _ =>
          }
          c = c.getCause
        }
        throw e
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
    val cond = Lookups.validated(filters, keys)
    val matched = load().filter(cond)
      .select(keys.map(col): _*).distinct().limit(2).collect()
    if (matched.isEmpty)
      throw new IllegalArgumentException(s"No serie found for key $filters")
    if (matched.length > 1)
      throw new IllegalArgumentException(s"Multiple series found for key $filters")
    load().filter(cond).select(col("ts"), col("value")).orderBy("ts")
  }

  /** Delete matching series (reference `clear`, timeserie_store.py:144-156):
    * each matched series is one partition directory — a directory drop,
    * no rewrite of anything else.
    */
  def clear(filters: Map[String, Any]): Unit = WriterLock.withLock(path) {
    val victims = load().filter(Lookups.validated(filters, keys))
      .select(keys.map(col): _*).distinct().collect()
    victims.foreach { r =>
      PartitionCommit.deleteRecursively(new java.io.File(path, partitionDir(r)))
    }
  }

  /** The partition directory a key tuple lives in, using Spark's own
    * partition-path escaping so special characters round-trip.
    */
  private def partitionDir(r: org.apache.spark.sql.Row): String =
    keys.zipWithIndex.map { case (k, i) =>
      s"${ExternalCatalogUtils.escapePathName(k)}=${ExternalCatalogUtils.escapePathName(String.valueOf(r.get(i)))}"
    }.mkString("/")
}
