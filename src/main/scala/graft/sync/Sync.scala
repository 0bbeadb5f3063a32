package graft.sync

import graft.store.{ChunkStore, PartitionCommit, WriteRules, WriterLock}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, TimestampNTZType}

/** Incremental store↔store replication — the batch re-expression of the
  * reference's pull-based sync (hostore/utils/ts_sync.py:60-296 +
  * chunk_timeserie_store.py:545-695). The HTTP transport is out of scope
  * (SURVEY.md §2.1 S8); the dataflow it feeds — updates listing, chunk
  * export, atomic chunk import, tombstone propagation, resumable pull — is
  * re-expressed as deterministic batch jobs between two Parquet store
  * roots.
  */
object Sync {

  /** Wire dtype names are the reference's numpy names ("float64",
    * "int64", ...); the store records Spark simpleStrings ("double",
    * "bigint", ...). Unknown names pass through unchanged.
    */
  private def sparkToNumpy(c: Column): Column =
    when(c === "double", "float64").when(c === "float", "float32")
      .when(c === "bigint", "int64").when(c === "int", "int32")
      .when(c === "smallint", "int16").when(c === "tinyint", "int8")
      .otherwise(c)

  private def numpyToSpark(c: Column): Column =
    when(c === "float64", "double").when(c === "float32", "float")
      .when(c === "int64", "bigint").when(c === "int32", "int")
      .when(c === "int16", "smallint").when(c === "int8", "tinyint")
      .otherwise(c)

  /** Chunk-level change listing (reference `updates_queryset` /
    * `list_updates`, chunk_timeserie_store.py:545-607): one row per
    * (businessKeys..., chunk_index) with `updated_at >= since` (GTE — the
    * boundary row re-fetches, which is what makes pull idempotent and
    * crash-resumable), ordered `(updated_at, keys, chunk_index)` for
    * deterministic pagination, metadata only: [[listing]] without its wire
    * columns, so Catalyst prunes their aggregates and keeps `ts`, `value`
    * and `dtype` out of the scan.
    */
  def updates(
      store: ChunkStore,
      since: java.time.LocalDateTime,
      filters: Map[String, Any] = Map.empty): DataFrame =
    listing(store, since, filters).drop("dtype", "start_ts")
      .orderBy((col("updated_at") +: store.keys.map(col) :+ col("chunk_index")): _*)

  /** Wire-shaped updates listing for the HTTP endpoint: the reference's
    * `/updates/` rows carry `dtype` and `start_ts` alongside the tracking
    * fields (ts_sync.py:102-113 serializes `dtype`/`start_ts`/
    * `updated_at`/`is_deleted` per chunk row). The whole [[listing]] in
    * [[updates]] order.
    */
  private[sync] def wireUpdates(
      store: ChunkStore,
      since: java.time.LocalDateTime,
      filters: Map[String, Any]): DataFrame =
    listing(store, since, filters)
      .orderBy((col("updated_at") +: store.keys.map(col) :+ col("chunk_index")): _*)

  /** The one unordered updates aggregation, in one pass: per
    * (businessKeys..., chunk_index) with `updated_at >= since`, the
    * tracking fields `updated_at` and `is_deleted`, plus the wire fields
    * `dtype` (the wire, numpy, name) and `start_ts` (the chunk's min live
    * timestamp, null for tombstone chunks, whose rows have no ts). `pull`
    * stages it without the wire fields and lets each page's top-K do the
    * ordering, so no global sort is ever materialized.
    */
  private def listing(
      store: ChunkStore,
      since: java.time.LocalDateTime,
      filters: Map[String, Any]): DataFrame =
    store.load().filter(WriteRules.keyFilter(filters))
      .groupBy((store.keys.map(col) :+ col("chunk_index")): _*)
      .agg(
        max(col("updated_at")).as("updated_at"),
        max(when(col("is_deleted"), 1).otherwise(0)).cast("boolean").as("is_deleted"),
        sparkToNumpy(first(col("dtype"), ignoreNulls = true)).as("dtype"),
        min(col("ts")).as("start_ts"))
      .filter(col("updated_at") >= lit(since)) // LocalDateTime → NTZ literal, JVM-tz-proof

  /** The spec set as one literal predicate: `chunk_index IN (…)` (a
    * partition filter, so a scan lists only the named chunk partitions)
    * and the `(businessKeys..., chunk_index)` membership of each row. Each
    * spec row starts with `(keys..., chunk_index)` in store key order;
    * trailing fields are ignored, so a collected updates listing row is a
    * spec as it is. Literals are cast to the store's key types.
    */
  private def specPredicates(store: ChunkStore, specs: Seq[Row]): (Column, Column) = {
    val fields = store.keySchema.fields.toSeq :+ StructField("chunk_index", IntegerType)
    (col("chunk_index").isin(specs.map(_.get(fields.length - 1)).distinct: _*),
      ChunkStore.tupleIn(fields, specs.map(r => fields.indices.map(r.get))))
  }

  /** Payload fetch for a spec set (reference `export_chunks`,
    * chunk_timeserie_store.py:609-631): the full store rows of the named
    * (businessKeys..., chunk_index) series-chunks. The specs are already
    * on the driver (one sync page), so they enter the plan as literals —
    * no spec-side job, and the scan reads only the named chunk partitions.
    */
  def exportChunks(store: ChunkStore, specs: Seq[Row]): DataFrame = {
    val (inPartitions, isSpec) = specPredicates(store, specs)
    store.load().filter(inPartitions && isSpec)
  }

  /** The `/pack/` wire envelope (reference sync ViewSet,
    * ts_sync.py:119-144): one JSON object per chunk —
    * `{"blob": base64(lz4-frame(float64-LE values)), "attrs": {keys...,
    * chunk_index}, "meta": {dtype, start_ts, is_deleted, updated_at}}` —
    * exactly what the reference server returns for an export_chunks spec
    * and what its client feeds to import_chunks. The blob is the chunk's
    * DENSE value array: the reference normalizes every series to the
    * store frequency grid on write and rebuilds the index reader-side
    * from (start_ts, freq), so holes must travel as NaN positions, not
    * absent rows. Densification is one pass per chunk: the per-chunk
    * groupBy collects the `(epoch-micros, value)` points and
    * [[graft.functions.ScatterGrid]] scatters them onto the NaN-filled
    * grid from the chunk's first point, failing the job on an off-grid or
    * duplicate point. One shuffle (the groupBy), blobs built after it.
    *
    * Returns (keys..., chunk_index, envelope_json) — one wire row per
    * chunk, keys kept alongside for addressing; `envelope_json` alone is
    * the reference-parity payload. Timestamps are ISO-8601 naive UTC with
    * microseconds.
    */
  def packEnvelope(store: ChunkStore, specs: Seq[Row]): DataFrame = {
    val keys = store.keys
    val freqUs = store.config.freqSecs * 1000000L
    val us = unix_micros(col("ts").cast("timestamp")) // NTZ→TS identity under UTC session tz
    val grouped = exportChunks(store, specs)
      .groupBy((keys.map(col) :+ col("chunk_index")): _*)
      .agg(
        min(col("ts")).as("__start"),
        // tombstone rows (null ts) stay out: a tombstone chunk packs the
        // reference's empty payload with a null start_ts
        collect_list(when(col("ts").isNotNull, struct(us.as("us"), col("value")))).as("__points"),
        max(col("updated_at")).as("updated_at"),
        max(when(col("is_deleted"), 1).otherwise(0)).cast("boolean").as("is_deleted"),
        first(col("dtype"), ignoreNulls = true).as("__dtype"))
    val values = graft.functions.Lz4Blob.scatter_grid(col("__points"), freqUs)
    val isoTs = (c: Column) =>
      date_format(c.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    grouped.select(
      (keys.map(col) :+ col("chunk_index") :+
        to_json(struct(
          base64(graft.functions.Lz4Blob.chunk_payload(values)).as("blob"),
          struct((keys.map(col) :+ col("chunk_index")): _*).as("attrs"),
          struct(
            // wire dtype uses the reference's numpy names; the blob itself
            // is always float64-LE (the reference's storage form too)
            coalesce(sparkToNumpy(col("__dtype")), lit("float64")).as("dtype"),
            isoTs(col("__start")).as("start_ts"),
            col("is_deleted").as("is_deleted"),
            isoTs(col("updated_at")).as("updated_at")).as("meta"))).as("envelope_json")): _*)
  }

  /** Parse a wire ISO timestamp column into the store's NTZ-in-UTC form.
    *
    * Accepts every spelling a tolerant server/client emits (mirrors
    * [[SyncHttp.parseTs]], the driver-side twin): naive
    * ('2024-06-01T12:30:15.123456'), fraction-less ('...T00:00:00Z' —
    * DRF/pandas isoformat omits the fraction when microseconds are 0),
    * short fractions (isoformat emits 3 digits for millisecond values),
    * and any offset spelling (Z, +00:00, +0000, +02, -05:30). Genuine
    * offsets are converted to UTC wall time by interval arithmetic on the
    * NTZ value — no session-timezone dependence — so
    * '...T12:30:15.123456+02:00' lands as 10:30:15.123456 UTC, exactly
    * what parseTs produces on the driver. Anything unparseable nulls out
    * (detectable), never silently shifts — including offsets outside
    * ZoneOffset's domain (magnitude beyond ±18:00, or minute/second
    * fields over 59), which parseTs rejects by throwing.
    */
  private[sync] def wireTs(c: Column): Column = {
    // FULL-string shape check first: without it, an unrecognized tail
    // (e.g. a seconds-bearing offset the extractor missed) would be
    // silently DROPPED and the value stored shifted — the exact failure
    // mode this function replaced. Anything outside the shape nulls out.
    val offAlt = "Z|[+-][0-9]{2}(:[0-9]{2}(:[0-9]{2})?)?|[+-][0-9]{4}"
    val shape = "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}" +
      s"(\\.[0-9]{1,6})?($offAlt)?$$"
    val base = regexp_extract(c, "^([0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})", 1)
    val frac = regexp_extract(c, "^[0-9-]+T[0-9:]+\\.([0-9]{1,6})", 1) // "" when absent
    val off = regexp_extract(c, s"($offAlt)$$", 1)                     // "" when naive
    val offH = when(off === "" || off === "Z", lit(0))
      .otherwise(substring(off, 2, 2).cast("int"))
    val offMStr = regexp_extract(off, "^[+-][0-9]{2}:?([0-9]{2})", 1)
    val offM = when(offMStr === "", lit(0)).otherwise(offMStr.cast("int"))
    val offSStr = regexp_extract(off, "^[+-][0-9]{2}:[0-9]{2}:([0-9]{2})$", 1)
    val offS = when(offSStr === "", lit(0)).otherwise(offSStr.cast("int"))
    val offMag = offH * 3600 + offM * 60 + offS
    val offSecs = (when(off.startsWith("-"), lit(-1)).otherwise(lit(1)) *
      offMag).cast("decimal(18,6)")
    // Offset bounds mirror the driver twin [[SyncHttp.parseTs]]
    // (OffsetDateTime/ZoneOffset): magnitude capped at ±18:00, minute and
    // second fields 0-59. The shape regex only constrains digit COUNT, so
    // without this a bogus '+25:00' or '+9900' would silently shift the
    // value — the exact failure class this function excludes; parseTs
    // throws on the same inputs, so both twins reject.
    val offValid = offMag <= 18 * 3600 && offM <= 59 && offS <= 59
    // regexp_extract returns "" (not null) on no-match; guard with a lazy
    // CASE so garbage nulls out instead of tripping ANSI parse errors.
    val ntz = when(!c.rlike(shape) || base === "" || !offValid,
      lit(null).cast("timestamp_ntz"))
      .otherwise(to_timestamp_ntz(
        concat(base, lit("."), rpad(frac, 6, "0")),
        lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
    ntz - make_dt_interval(lit(0), lit(0), lit(0), offSecs)
  }

  /** Inverse of [[packEnvelope]] — parse a `/pack/` payload back into
    * full store rows ready for [[importChunks]] (the reference client's
    * `import_chunks(payload)` step, ts_sync.py:239-247). Timestamps are
    * rebuilt as `start_ts + i*freq` exactly like the reference reader;
    * NaN positions are wire holes and yield no row (the store's long form
    * holds holes as absent rows); an empty blob with `is_deleted` is a
    * tombstone row with null ts/value.
    */
  def unpackEnvelope(store: ChunkStore, envelopes: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val keys = store.keys
    val freqUs = store.config.freqSecs * 1000000L
    val envSchema = StructType(Seq(
      StructField("blob", StringType),
      StructField("attrs", StructType(
        store.keySchema.fields.toSeq :+ StructField("chunk_index", IntegerType))),
      StructField("meta", StructType(Seq(
        StructField("dtype", StringType),
        StructField("start_ts", StringType),
        StructField("is_deleted", BooleanType),
        StructField("updated_at", StringType))))))
    val naive = wireTs _
    val parsed = envelopes
      .select(from_json(col("envelope_json"), envSchema).as("e"))
      .select(
        col("e.attrs.*"),
        graft.functions.Lz4Blob.chunk_values(unbase64(col("e.blob"))).as("__vals"),
        naive(col("e.meta.start_ts")).as("__start"),
        col("e.meta.is_deleted").as("is_deleted"),
        naive(col("e.meta.updated_at")).as("updated_at"),
        col("e.meta.dtype").as("__wire_dtype"))
    val live = parsed
      .select((keys.map(col) :+ col("chunk_index") :+ col("is_deleted") :+ col("updated_at") :+
        numpyToSpark(col("__wire_dtype")).as("dtype") :+
        col("__start") :+ posexplode(col("__vals")).as(Seq("__pos", "value"))): _*)
      .filter(!isnan(col("value")))
      .withColumn("ts", timestamp_micros(
        unix_micros(col("__start").cast("timestamp")) + col("__pos") * freqUs).cast("timestamp_ntz"))
    val tombstones = parsed.filter(size(col("__vals")) === 0)
      .select((keys.map(col) :+ col("chunk_index") :+ col("is_deleted") :+ col("updated_at") :+
        lit(null).cast(StringType).as("dtype") :+
        lit(null).cast(TimestampNTZType).as("ts") :+ lit(null).cast(DoubleType).as("value")): _*)
    live.select(store.schema.fieldNames.map(col): _*)
      .unionByName(tombstones.select(store.schema.fieldNames.map(col): _*))
  }

  /** Atomic batch upsert of full chunk rows into `store` (reference
    * `import_chunks`, chunk_timeserie_store.py:633-695): rows match on
    * (businessKeys..., chunk_index); matched series-chunks are fully
    * replaced (data AND metadata incl. `updated_at`, so the client mirrors
    * the server's clock — ts_sync semantics), unmatched inserted. A batch
    * with a null/missing chunk_index is rejected BEFORE any write — the
    * whole batch rolls back, like the reference's transaction
    * (tests/test_import_chunks.py:31-51). One metadata job collects the
    * batch's distinct (businessKeys..., chunk_index) specs, then the
    * spec-driven import below commits.
    */
  def importChunks(store: ChunkStore, batch: DataFrame): Unit =
    importChunks(store, batch,
      batch.select((store.keys :+ "chunk_index").map(col): _*).distinct().collect().toSeq)

  /** [[importChunks]] for a batch whose (businessKeys..., chunk_index)
    * specs the caller already holds on the driver (a sync page, the
    * envelopes a client received) — the one commit body. `specs` must
    * name every series-chunk in `batch`: each named chunk's stored rows
    * are replaced by the batch's, through the literal spec predicate (no
    * job before the commit's own). Empty specs are a no-op; a null
    * chunk_index rejects the whole batch before any write.
    */
  private[sync] def importChunks(store: ChunkStore, batch: DataFrame, specs: Seq[Row]): Unit =
    // Mutates outside the store's public mutators (direct partition
    // commit), so it takes the store's writer lock itself — the
    // atomic-batch guarantee (reference transaction.atomic,
    // chunk_timeserie_store.py:633-695) must hold against concurrent
    // local writers too.
    WriterLock.withLock(store.path) {
      val ci = store.keys.length
      if (specs.exists(_.isNullAt(ci)))
        throw new IllegalArgumentException("import_chunks: chunk_index missing — whole batch rejected")
      if (specs.nonEmpty) {
        val (inPartitions, isSpec) = specPredicates(store, specs)
        val untouched = store.load().filter(inPartitions && !isSpec)
        PartitionCommit.commit(store.layout,
          Some(untouched.unionByName(batch.select(store.schema.fieldNames.map(col): _*))),
          specs.map(_.getInt(ci)).distinct.map(Seq(_)))
      }
    }

  /** Full pull (reference `TimeseriesChunkStoreSyncClient.pull`,
    * ts_sync.py:204-261): since = client's local high-water mark;
    * page through the server's updates; apply tombstones locally (the
    * tombstone row itself is imported, carrying the SERVER's updated_at —
    * so a re-pull does not re-fetch it); import live chunks in batches.
    * Page-at-a-time import keeps the crash-resume property: pages already
    * imported persist, and the `>= since` overlap re-fetches at most the
    * boundary row.
    * Returns the number of chunk specs applied.
    */
  def pull(
      client: ChunkStore,
      server: ChunkStore,
      filters: Map[String, Any] = Map.empty,
      pageSize: Int = 200): Long = {
    require(client.config.syncEnabled && server.config.syncEnabled,
      "sync requires ALLOW_CLIENT_SERVER_SYNC on both stores")
    require(pageSize >= 1, "pageSize must be >= 1")
    val keys  = client.keys
    val since = client.lastUpdatedAt(filters)
    // Stage the listing ONCE: the full-store aggregation behind the
    // updates listing runs a single time and materializes (localCheckpoint
    // cuts the lineage, so page reads hit the materialized blocks, never
    // the store). Pagination is KEYSET, not offset: the reference's
    // deterministic `(updated_at, pk)` listing order
    // (chunk_timeserie_store.py:560) is exactly a keyset, so each page is
    // `(updated_at, keys..., chunk_index) > last_seen` + a distributed
    // top-K (TakeOrderedAndProject: per-partition heads merged on the
    // driver) — no global sort, no single-partition window, at any
    // listing size. The page rows collected for the keyset ARE the spec
    // list export and import take as literals, so the collect is work the
    // page import needed anyway (pageSize metadata rows, never payload).
    // Released after the last page (`Dataset.unpersist` does not free a
    // local checkpoint's blocks; unpersisting its `LogicalRDD`'s RDD does).
    val staged = listing(server, since, filters).drop("dtype", "start_ts").localCheckpoint()
    try {
      var applied  = 0L
      var lastSeen: Option[Row] = None
      var more     = true
      while (more) {
        // Both live chunks and tombstones transfer as full row sets: a
        // tombstone chunk's rows ARE its tombstone row, so one import path
        // covers both (reference splits them only because of the two-step
        // HTTP protocol). Page-at-a-time import keeps crash-resume: pages
        // already imported persist; `>= since` re-fetches the boundary row.
        val pageRows = pageFrame(staged, keys, lastSeen, pageSize).collect().toSeq
        if (pageRows.isEmpty) more = false
        else {
          importChunks(client, exportChunks(server, pageRows), pageRows)
          applied += pageRows.length
          lastSeen = Some(pageRows.last)
          more = pageRows.length == pageSize
        }
      }
      applied
    } finally staged.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    }
  }

  /** One keyset page of the staged listing: rows strictly after
    * `lastSeen` in `(updated_at, keys..., chunk_index)` order, limited to
    * `pageSize`. Struct comparison gives the lexicographic `>` in one
    * codegen'd predicate; `orderBy().limit()` plans as
    * TakeOrderedAndProject (distributed per-partition top-K), never a
    * global sort or window — PlanSpec pins this shape.
    */
  private[graft] def pageFrame(
      staged: DataFrame,
      keys: Seq[String],
      lastSeen: Option[Row],
      pageSize: Int): DataFrame = {
    val ordNames = "updated_at" +: keys :+ "chunk_index"
    val after = lastSeen match {
      case None => lit(true)
      case Some(r) =>
        struct(ordNames.map(col): _*) >
          struct(ordNames.map(n => lit(r.getAs[Any](n)).as(n)): _*)
    }
    staged.filter(after).orderBy(ordNames.map(col): _*).limit(pageSize)
  }
}
