package graft.store

import graft.ts.{Combine, Resample}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned whole-series store — the Spark re-expression of the
  * reference's `Store` model (hostore/models/hostore.py:23-432): series
  * keyed by (prm, client_id) with integer write versions, reads that fold
  * versions newest-first with `combine_first`, optional per-version delay
  * slicing, and gap analytics on the combined result.
  *
  * Layout: long-form parquet `(prm, client_id, version, ts, value,
  * created_at)` hash-partitioned on `bucket = murmur3(prm) mod numBuckets`.
  * The bucket column is what keeps single-series writes O(bucket), not
  * O(store): every write is one [[PartitionCommit]] (the commit of every
  * store) — upsert/clear/compact replace only the affected buckets' files,
  * versioned and first writes add files and replace nothing — and
  * single-prm reads prune to one bucket. A read sees one commit, and a
  * frame stays valid through one later commit. The
  * bucket is computed driver-side (every write path receives the prm as a
  * Scala value), so no hash-expression parity with Catalyst is needed.
  *
  * `setLc` is `setManyLc` of one series: one write body, one probe job
  * and one commit for any number of series. Every mutator runs under the
  * store's [[WriterLock]], as ChunkStore's do: the probe + commit is a
  * read-modify-write exactly like the reference's locked upsert
  * (hostore.py:354-366), and without exclusion two concurrent versioned
  * writes could claim the same version number.
  */
class VersionedStore(
    val spark: SparkSession,
    val path: String,
    val numBuckets: Int = 32,
    val extraSchema: StructType = StructType(Nil)) {

  /** User-declared extra business attributes (the reference's subclass
    * fields, set via `attributes_to_set` — hostore.py:326,354-366).
    */
  def extraKeys: Seq[String] = extraSchema.fieldNames.toSeq

  def schema: StructType = StructType(Seq(
    StructField("prm", StringType),
    StructField("client_id", IntegerType),
    StructField("version", IntegerType)) ++
    extraSchema.fields ++ Seq(
    StructField("ts", TimestampNTZType),
    StructField("value", DoubleType),
    StructField("created_at", TimestampNTZType),
    StructField("bucket", IntegerType)))

  private[graft] def bucketOf(prm: String): Int =
    Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(prm), numBuckets)

  /** Bucket partitions; no row order within a bucket. */
  private[graft] val layout = PartitionCommit.Layout(path, schema, Seq("bucket"), Nil)

  def load(): DataFrame = PartitionCommit.load(spark, path, schema, PartitionCommit.liveFiles(path))

  /** The rows of the `prms`, pruned to their bucket partitions. */
  private def prmsIn(prms: Seq[String]): Column =
    col("bucket").isin(prms.map(bucketOf).distinct: _*) && col("prm").isin(prms: _*)

  /** Row count under filters (reference `Store.count`, hostore.py:39-43) —
    * counts distinct (prm, version) pairs, the analogue of blob rows.
    */
  def count(clientId: Int, prms: Option[Seq[String]] = None): Long = {
    var df = load().filter(col("client_id") === clientId)
    prms.foreach(ps => df = df.filter(prmsIn(ps)))
    df.select("prm", "version").distinct().count()
  }

  /** The `update_or_create` match (hostore.py:354) of the `prms`:
    * `clientId` and every attribute of `attrs`, a null attribute matching
    * NULL as Django's `filter(kind=None)` does.
    */
  private def matching(prms: Seq[String], clientId: Int, attrs: Map[String, Any]): Column =
    attrs.foldLeft(prmsIn(prms) && col("client_id") === clientId) {
      case (c, (k, v)) => c && (col(k) <=> lit(v))
    }

  /** Write a series (reference `set_lc`, hostore.py:321-370):
    *  - versioning=false upserts — `update_or_create` matched on
    *    (client_id, prm, **attributes_to_set) (:354), a NULL attribute
    *    matching NULL, re-expressed as a rewrite of the prm's bucket
    *    partition only;
    *  - versioning=true appends with `max(version)+1` scoped to
    *    (client_id, prm) plus the `versioningBy` subset of
    *    `attributesToSet` (:356-363; 'prm' is mandatory in versionning_by);
    *  - `attributesToSet` fills the store's declared `extraSchema` columns
    *    (the reference's subclass business fields).
    * All-null series are skipped. Returns false when skipped. It is
    * [[setManyLc]] of this one series: a probe job, then one commit.
    */
  def setLc(
      prm: String,
      clientId: Int,
      series: DataFrame,
      versioning: Boolean = false,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC),
      versioningBy: Seq[String] = Seq("prm"),
      attributesToSet: Map[String, Any] = Map.empty): Boolean =
    write(Map(prm -> series), clientId, versioning, now, versioningBy, attributesToSet)(prm)

  /** The one write body of [[setLc]] and [[setManyLc]]: ONE
    * [[WriteRules.probe]] over the batch's kept points and its prms'
    * stored rows in scope gives each prm three facts — whether it has a
    * kept point, whether an `update_or_create` match exists (upsert), and
    * its max version in the `versioningBy` scope (versioning) — then ONE
    * commit lands the whole batch: the new entries are added, and the
    * buckets holding a match of a written prm are rewritten without it.
    * A prm without a kept point is skipped and keeps its entries. The
    * batch is atomic, which is stronger than the reference's loop: a
    * failure anywhere in it writes nothing.
    */
  private def write(
      series: Map[String, DataFrame],
      clientId: Int,
      versioning: Boolean,
      now: java.time.LocalDateTime,
      versioningBy: Seq[String],
      attributesToSet: Map[String, Any]): Map[String, Boolean] = WriterLock.withLock(path) {
    require(versioningBy.contains("prm"), "'prm' is mandatory in versioningBy (hostore.py:356)")
    val unknown = attributesToSet.keySet.filterNot(extraKeys.contains)
    require(unknown.isEmpty, s"attributesToSet not in extraSchema: ${unknown.mkString(",")}")
    val points = series.map { case (prm, df) => prm -> WriteRules.points(df.select("ts", "value")) }
    val prms = series.keys.toSeq
    // _filters = prm + (attributes_to_set ∩ versionning_by) when versioning
    val scope = if (versioning) attributesToSet.filter { case (k, _) => versioningBy.contains(k) } else attributesToSet
    val facts = WriteRules.probe((points.toSeq.map { case (prm, s) =>
      s.select(lit(prm).as("prm"), lit(true), lit(null).cast(IntegerType))
    } :+ load().filter(matching(prms, clientId, scope)).select(col("prm"), lit(false), col("version"))): _*)
    val kept = facts.collect { case Row(prm: String, true, _) => prm }
    val stored = facts.collect { case Row(prm: String, false, v: Int) => prm -> v }
    if (kept.nonEmpty) {
      val matched = if (versioning) Nil else stored.map(_._1).filter(kept).toSeq
      val next = stored.groupMapReduce(_._1)(_._2 + 1)(math.max)
      val rows = kept.toSeq.map { prm =>
        extraKeys.foldLeft(points(prm)) { (d, k) =>
          d.withColumn(k, lit(attributesToSet.getOrElse(k, null)).cast(extraSchema(k).dataType))
        }.withColumns(Map(
          "prm"        -> lit(prm),
          "client_id"  -> lit(clientId),
          "version"    -> lit(if (versioning) next.getOrElse(prm, 0) else 0),
          "created_at" -> lit(now), // LocalDateTime → NTZ literal, JVM-tz-proof
          "bucket"     -> lit(bucketOf(prm))))
          .select(schema.fieldNames.map(col): _*)
      }.reduce(_ unionByName _)
      // upsert: rewrite ONLY the matched prms' bucket partitions — each
      // minus the update_or_create matches, plus the new rows
      val hit = matched.map(bucketOf).distinct
      val content = if (hit.isEmpty) rows
        else load().filter(col("bucket").isin(hit: _*) && !matching(matched, clientId, attributesToSet)).unionByName(rows)
      PartitionCommit.commit(layout, Some(content), hit.map(Seq(_)))
    }
    prms.map(prm => prm -> kept(prm)).toMap
  }

  def exists(prm: String, clientId: Int, attributesToSet: Map[String, Any] = Map.empty): Boolean =
    !load().filter(matching(Seq(prm), clientId, attributesToSet)).isEmpty

  /** Small-file compaction (ChunkStore.compact's sibling): every
    * versioned or first `setLc` adds a file to the prm's bucket, so a
    * hot bucket accumulates one file per historical write. Rewrite the
    * given (default: all) bucket partitions through the partition commit
    * — each comes out as one file. Readers see the same rows.
    */
  def compact(buckets: Option[Seq[Int]] = None): Int =
    PartitionCommit.compact(layout, load(), buckets).length

  /** Policy form: rewrite only buckets whose live-file count exceeds
    * `maxFilesPerBucket`, from the manifest — no data scan for buckets
    * already compact. Returns the buckets compacted.
    */
  def compactIfNeeded(maxFilesPerBucket: Int = 8): Seq[Int] =
    PartitionCommit.compactCrowded(layout, load(), maxFilesPerBucket)

  /** Version-combined read (reference `get_lc`, hostore.py:218-268) with
    * the full option surface:
    *  - `version=Some(n)` → only that version (hostore.py:241-242);
    *  - `combinedVersions=false` → entries returned uncombined, version
    *    column retained (hostore.py:259 guard);
    *  - `customFilters` → extra ORM-style filters incl. `__`-lookups
    *    (hostore.py:240 `**custom_filters`);
    *  - `combinedBy` / `orderBy` → grouping and fold order of the
    *    combine_first (hostore.py:219-220; `-col` = descending, Django
    *    order_by syntax); queryset order IS the fold order (:258-267);
    *  - `delaySecs` → per-version `slice_with_delay` before the fold
    *    (hostore.py:262-263).
    */
  def getLc(
      prm: String,
      clientId: Int,
      delaySecs: Option[Long] = None,
      combinedVersions: Boolean = true,
      version: Option[Int] = None,
      customFilters: Map[String, Any] = Map.empty,
      combinedBy: Seq[String] = Seq("prm", "client_id"),
      orderBy: Seq[String] = Seq("-version")): DataFrame =
    read(prmsIn(Seq(prm)) && col("client_id") === clientId,
      delaySecs, combinedVersions, version, customFilters, combinedBy, orderBy)
      .orderBy("ts")

  /** Multi-series combined read (reference `get_many_lc`,
    * hostore.py:270-317) — one job for all prms, not a loop. Same option
    * surface as `getLc` minus `version=` (the reference omits it too).
    */
  def getManyLc(
      prms: Seq[String],
      clientId: Int,
      delaySecs: Option[Long] = None,
      combinedVersions: Boolean = true,
      customFilters: Map[String, Any] = Map.empty,
      combinedBy: Seq[String] = Seq("prm", "client_id"),
      orderBy: Seq[String] = Seq("-version")): DataFrame =
    read(prmsIn(prms) && col("client_id") === clientId,
      delaySecs, combinedVersions, None, customFilters, combinedBy, orderBy)

  private def read(
      base: Column,
      delaySecs: Option[Long],
      combinedVersions: Boolean,
      version: Option[Int],
      customFilters: Map[String, Any],
      combinedBy: Seq[String],
      orderBy: Seq[String]): DataFrame = {
    var df = load().filter(base)
    version.foreach(v => df = df.filter(col("version") === v))
    Lookups.compile(customFilters).foreach(c => df = df.filter(c))
    delaySecs.foreach(d => df = Resample.sliceWithDelay(df, Seq("prm", "client_id", "version"), d))
    if (!combinedVersions)
      df.select((Seq("prm", "client_id", "version") ++ extraKeys ++ Seq("ts", "value")).map(col): _*)
    else
      Combine.combineOrdered(df, combinedBy, orderCols(orderBy))
  }

  /** Django `order_by` tokens → (column, ascending) (`"-version"` = desc). */
  private def orderCols(orderBy: Seq[String]): Seq[(String, Boolean)] =
    orderBy.map(o => if (o.startsWith("-")) (o.drop(1), false) else (o, true))

  /** Bulk `set_lc` over a map of series (reference `set_many_lc`,
    * hostore.py:372-394, a loop over set_lc): the same per-series
    * semantics in one probe job and ONE commit, whatever the number of
    * series. The batch is atomic, which is stronger than the reference's
    * loop: a series that fails at run time leaves the store as it was,
    * where the loop keeps the series before it. Returns per-prm write
    * outcomes (false = skipped all-null).
    */
  def setManyLc(
      series: Map[String, DataFrame],
      clientId: Int,
      versioning: Boolean = false,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)): Map[String, Boolean] =
    write(series, clientId, versioning, now, Seq("prm"), Map.empty)

  /** Per-prm missing periods over the version-combined data in [sd, ed]
    * at `freqSecs` (reference `find_holes`, hostore.py:162-216): absent
    * prms yield the whole range; holes widen by `marginSecs`
    * (freq_margin). ONE Spark job for all prms — the reference chunks the
    * prm list by 50 to bound client memory, which the DataFrame form
    * doesn't need. Output: (prm, hole_start, hole_end).
    */
  def findHoles(
      clientId: Int,
      sd: java.time.LocalDateTime,
      ed: java.time.LocalDateTime,
      freqSecs: Long,
      prms: Option[Seq[String]] = None,
      marginSecs: Long = 0L,
      customFilters: Map[String, Any] = Map.empty,
      combinedBy: Seq[String] = Seq("prm", "client_id"),
      orderBy: Seq[String] = Seq("-version")): DataFrame = {
    import spark.implicits._
    val ps = prms.getOrElse(
      load().filter(col("client_id") === clientId)
        .select("prm").distinct().collect().map(_.getString(0)).toSeq)
    val data = getManyLc(ps, clientId, customFilters = customFilters,
      combinedBy = combinedBy, orderBy = orderBy)
    graft.ts.Gaps.holes(data.select("prm", "ts", "value"), Seq("prm"),
      sd, ed, freqSecs, marginSecs, requestedKeys = Some(ps.toDF("prm")))
  }

  /** Reference `find_groups` (hostore.py:45-160): cluster prms by their
    * missing ranges within [start, end] and ALSO return the combined data,
    * like the reference's `(groups, data)` pair. Per prm, missing =
    *  - the full range when the prm is absent or has no live point in the
    *    slice (such prms are dropped from the returned data —
    *    `keys_to_pop`, hostore.py:139-158);
    *  - boundary complement gaps of its available range, kept only when
    *    >= `minDelta` (reference `dra.difference_missing(drr,
    *    min_delta=freq)`, :146-147; default minDelta = freq);
    *  - interior gaps between consecutive live points (the sparse-long-form
    *    equivalent of the reference's null islands over the stored dense
    *    index, :150-156);
    * all merged per prm (`Range.combine` → window interval-union), then
    * prms grouped per merged range. Returns
    * (groups: (hole_start, hole_end, member_keys, n_keys),
    *  data: the sliced version-combined long form minus popped prms).
    */
  def findGroups(
      prms: Seq[String],
      clientId: Int,
      start: java.time.LocalDateTime,
      end: java.time.LocalDateTime,
      freqSecs: Long,
      minDeltaSecs: Option[Long] = None,
      combinedBy: Seq[String] = Seq("prm", "client_id"),
      orderBy: Seq[String] = Seq("-version")): (DataFrame, DataFrame) = {
    import spark.implicits._
    val minDelta = minDeltaSecs.getOrElse(freqSecs)
    val lo  = lit(start)
    val hi  = lit(end)
    val sec = expr("make_dt_interval(0, 0, 0, 1)")
    def secsDiff(a: Column, b: Column): Column =
      (unix_micros(b.cast("timestamp")) - unix_micros(a.cast("timestamp"))) / 1000000L
    val sliced = getManyLc(prms, clientId, combinedBy = combinedBy, orderBy = orderBy)
      .filter(col("ts") >= lo && col("ts") <= hi)
    val live = sliced.filter(col("value").isNotNull)
    val avail = live.groupBy("prm").agg(min("ts").as("dra_sd"), max("ts").as("dra_ed"))
    // absent prms + prms with no live point in range → full range
    val empties = prms.toDF("prm").join(avail, Seq("prm"), "left_anti")
      .select(col("prm"), lo.as("start"), hi.as("end"))
    val leading = avail.filter(secsDiff(lo, col("dra_sd")) >= minDelta)
      .select(col("prm"), lo.as("start"), col("dra_sd").as("end"))
    val trailing = avail.filter(secsDiff(col("dra_ed"), hi) >= minDelta)
      .select(col("prm"), col("dra_ed").as("start"), hi.as("end"))
    // interior: a gap of >= 2 steps between consecutive live points means
    // the slots in between are missing — [prev + freq, ts - freq]
    val wk = org.apache.spark.sql.expressions.Window.partitionBy(col("prm")).orderBy(col("ts"))
    val interior = live
      .withColumn("__prev", lag(col("ts"), 1).over(wk))
      .filter(col("__prev").isNotNull && secsDiff(col("__prev"), col("ts")) >= 2 * freqSecs)
      .select(col("prm"),
        (col("__prev") + sec * freqSecs).as("start"),
        (col("ts") - sec * freqSecs).as("end"))
    val missing = empties.unionByName(leading).unionByName(trailing).unionByName(interior)
    val groups = graft.ts.Intervals.unionIntervals(missing, Seq("prm"), "start", "end")
      .groupBy(col("merged_start").as("hole_start"), col("merged_end").as("hole_end"))
      .agg(sort_array(collect_list(col("prm"))).as("member_keys"),
        org.apache.spark.sql.functions.count(lit(1)).as("n_keys"))
    val data = sliced.join(avail.select("prm"), Seq("prm"), "left_semi")
    (groups, data)
  }

  /** Export every stored version entry as the reference's exact
    * persisted form: the DB row there is one feather-v2 lz4 blob per
    * (prm, client_id, version, attrs) holding the series as a one-column
    * DataFrame named after the prm (`df.to_feather(buf,
    * compression='lz4')`, hostore.py:347-353). A migrating user can
    * hand these rows to a live reference deployment — or diff them
    * against its table — byte-format-compatibly. One shuffle (the
    * version-entry groupBy); blobs are encoded map-side after it.
    * Output: (prm, client_id, version, extraKeys..., data binary).
    */
  def exportBlobs(clientId: Int, prms: Option[Seq[String]] = None): DataFrame = {
    var df = load().filter(col("client_id") === clientId)
    // bucket pruning, like count(): a prm-list export reads only the prms'
    // bucket partitions, not every directory of the store
    prms.foreach(ps => df = df.filter(prmsIn(ps)))
    val groupCols = Seq("prm", "client_id", "version") ++ extraKeys
    df.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("ts"), col("value")))).as("__pts"))
      .select((groupCols.map(col) :+
        graft.functions.FeatherBlob.feather_encode(col("prm"), col("__pts")).as("data")): _*)
  }

  /** Inverse of [[exportBlobs]] — decode reference blob rows
    * (`prm, client_id, version, extraKeys..., data`) back to the long
    * form this store holds, exactly like the reference read path
    * (`pd.read_feather` + index fix, hostore.py:247-255). NaN wire
    * positions are holes and yield no row; the store's extraSchema
    * attributes ride along so version entries distinguished only by an
    * extra key stay distinct. Feed the result to [[setLc]]/[[setManyLc]]
    * per prm (the reference client's ingest step) or compare directly
    * against [[load]]. Output: (prm, client_id, version, extraKeys...,
    * ts, value).
    */
  def decodeBlobs(blobs: DataFrame): DataFrame = {
    val entryCols = Seq("prm", "client_id", "version") ++ extraKeys
    blobs
      .withColumn("__d", graft.functions.FeatherBlob.feather_decode(col("data")))
      .select((entryCols.map(col) :+ explode(col("__d.points")).as("p")): _*)
      .filter(!isnan(col("p.value")))
      .select((entryCols.map(col) :+ col("p.ts").as("ts") :+ col("p.value").as("value")): _*)
  }

  /** Requested prms with no stored data — the left-anti side of
    * `find_groups` (hostore.py:120-124).
    */
  def absentPrms(prms: Seq[String], clientId: Int): DataFrame = {
    import spark.implicits._
    prms.toDF("prm").join(
      load().filter(col("client_id") === clientId).select("prm").distinct(),
      Seq("prm"), "left_anti")
  }

  /** Delete by prms / version / client (reference `clear`/`clear_all`,
    * hostore.py:396-432). With a prm list only the prms' bucket partitions
    * are rewritten; a store-wide clear (no prms) rewrites every bucket. A
    * bucket left empty leaves the live set at once, and its directory goes
    * with the next commit.
    */
  def clear(clientId: Int, prms: Option[Seq[String]] = None, version: Option[Int] = None): Unit = WriterLock.withLock(path) {
    var hit: Column = col("client_id") === clientId
    prms.foreach(ps => hit = hit && col("prm").isin(ps: _*))
    version.foreach(v => hit = hit && col("version") === v)
    val affected = prms.fold(PartitionCommit.partitions(path, "bucket"))(_.map(bucketOf).distinct)
    if (affected.nonEmpty)
      PartitionCommit.commit(layout, Some(load().filter(col("bucket").isin(affected: _*)).filter(!hit)),
        affected.map(Seq(_)))
  }
}
