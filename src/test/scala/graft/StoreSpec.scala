package graft

import graft.store._
import graft.sync.Sync
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ChunkStore / VersionedStore / Sync behavior matrix — the Scala analogue
  * of the reference's scenario-matrix tests
  * (hostore/tests/test_chunk_timeserie_store.py:73-401,
  * test_chunk_timeserie_sync.py:79-261, tests_basics.py).
  */
class ChunkStoreSpec extends SparkSpec {
  import spark.implicits._

  private val keySchema = StructType(Seq(
    StructField("version", IntegerType), StructField("kind", StringType)))

  private def hourly(start: String, hours: Int, f: Int => Option[Double]): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), f(i))).toDF("ts", "value")
  }

  private def newStore(tz: String = "Europe/Paris", axis: ChunkAxis = YearMonthAxis,
      sync: Boolean = false): ChunkStore =
    new ChunkStore(spark, tmpDir("chunk"), keySchema,
      StoreConfig(freq = "1h", tz = tz, chunkAxis = axis, syncEnabled = sync))

  private val attrs = Map[String, Any]("version" -> 0, "kind" -> "k1")
  private val now0  = ldt("2024-06-01T00:00")

  // matrix: chunk axis × tz (reference test_chunk_timeserie_store.py:326-364)
  for (axis <- Seq(YearAxis, YearMonthAxis); tz <- Seq("Europe/Paris", "UTC")) {
    test(s"roundtrip $axis/$tz: write spanning chunk boundary, read back") {
      val st = newStore(tz, axis)
      val s = hourly("2024-01-30T00:00", 24 * 5, i => Some(i.toDouble)) // spans Jan→Feb
      assert(st.setTs(attrs, s, now = now0))
      val back = st.getTs(attrs).collect()
      assert(back.length === 24 * 5)
      assert(back.head.getDouble(1) === 0.0 && back.last.getDouble(1) === (24 * 5 - 1).toDouble)
      if (axis == YearMonthAxis) assert(st.maxChunkIndex().get === 2024 * 12 + 2 - 1)
    }
  }

  test("all-null series is skipped on write") {
    val st = newStore()
    assert(!st.setTs(attrs, hourly("2024-01-01T00:00", 5, _ => None), now = now0))
    assert(!st.exists(attrs))
  }

  test("dtype round-trip: int series reads back as ints, double stays double") {
    val st = newStore()
    val t0 = java.time.LocalDateTime.parse("2024-01-30T00:00")
    // long-typed input spanning a chunk boundary (Jan→Feb)
    val ints = (0 until 24 * 5).map(i => (t0.plusHours(i.toLong), i.toLong * 10)).toDF("ts", "value")
    assert(st.setTs(attrs, ints, now = now0))
    val back = st.getTs(attrs)
    assert(back.schema("value").dataType === org.apache.spark.sql.types.LongType)
    val rows = back.collect()
    assert(rows.head.getLong(1) === 0L && rows.last.getLong(1) === (24 * 5 - 1).toLong * 10)
    // a double series in the same store is untouched
    val attrs2 = Map[String, Any]("version" -> 0, "kind" -> "k2")
    assert(st.setTs(attrs2, hourly("2024-01-30T00:00", 5, i => Some(i + 0.5)), now = now0))
    assert(st.getTs(attrs2).schema("value").dataType ===
      org.apache.spark.sql.types.DoubleType)
    // update with a DOUBLE write flips the merged chunks' dtype: mixed
    // chunk dtypes fall back to double (one frame, one value type)
    val upd = Seq((t0.plusHours(1L), 99.5)).toDF("ts", "value")
    assert(st.setTs(attrs, upd, update = true, now = now0.plusHours(1)))
    assert(st.getTs(attrs).schema("value").dataType ===
      org.apache.spark.sql.types.DoubleType)
  }

  // ADVICE r10 (medium): a series mixing pre-dtype chunks (null dtype —
  // historically double data) with one typed chunk must NOT cast the whole
  // series to the typed chunk's dtype — that silently truncates fractional
  // legacy values. Null dtype counts as double, forcing the fallback.
  test("mixed legacy(null-dtype)/typed chunks fall back to double on read") {
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-10T00:00")
    val ints = (0 until 24).map(i => (t0.plusHours(i.toLong), i.toLong)).toDF("ts", "value")
    // simulate a pre-dtype store file: same series, February chunk,
    // fractional values, dtype null — appended the way a legacy writer
    // laid files out (partitioned by chunk_index, no dtype recorded, no
    // manifest), before the store's first commit, which adopts it
    val t1 = java.time.LocalDateTime.parse("2024-02-10T00:00")
    val legacy = (0 until 24).map(i => (t1.plusHours(i.toLong), i + 0.5)).toDF("ts", "value")
      .withColumn("version", lit(0)).withColumn("kind", lit("k1"))
      .withColumn("chunk_index", lit(2024 * 12 + 1))
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .withColumn("dtype", lit(null).cast(StringType))
      .withColumn("is_deleted", lit(false))
      .withColumn("updated_at", lit(now0).cast(TimestampNTZType))
      .select(st.schema.fieldNames.map(col): _*)
    legacy.write.mode("append").partitionBy("chunk_index").parquet(st.path)
    assert(st.setTs(attrs, ints, update = true, now = now0)) // chunk 2024-01, dtype=bigint
    val back = st.getTs(attrs)
    assert(back.schema("value").dataType === DoubleType)
    val vals = back.collect().map(_.getDouble(1))
    assert(vals.length === 48 && vals.takeRight(24).head === 0.5) // fractions intact
  }

  // Reference get_ts(drop_bounds_na=False) parity: the reference persists
  // each chunk NaN-padded over the full chunk calendar
  // (chunk_timeserie_store.py:730-741), so the undropped read returns the
  // dense store-freq grid over the stored chunk span. We store sparsely
  // and must reconstruct exactly that.
  test("getTs dropBoundsNa=false: dense chunk-span grid, NaN bounds as null rows") {
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-15T00:00")
    val s = (0 until 24 * 10).map(i => (t0.plusHours(i.toLong), i.toDouble)).toDF("ts", "value")
    assert(st.setTs(attrs, s, now = now0)) // Jan 15 .. Jan 24 — one chunk (2024-01)
    val dense = st.getTs(attrs, dropBoundsNa = false).collect()
    assert(dense.length === 31 * 24) // full January grid
    assert(dense.head.getAs[java.time.LocalDateTime]("ts") === ldt("2024-01-01T00:00"))
    assert(dense.head.isNullAt(1) && dense.last.isNullAt(1)) // padded bounds
    assert(dense(14 * 24).getDouble(1) === 0.0)              // first written point
    // the default read is unchanged: sparse, trimmed
    assert(st.getTs(attrs).count() === 24 * 10)
    // inclusive slice applies on the dense grid (reference _finish_serie
    // slices AFTER the reindex)
    val z = java.time.ZoneOffset.UTC
    val sliced = st.getTs(attrs,
      start = Some(java.time.ZonedDateTime.of(2024, 1, 10, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2024, 1, 16, 0, 0, 0, 0, z)),
      dropBoundsNa = false).collect()
    assert(sliced.length === 6 * 24 + 1) // inclusive both ends
    assert(sliced.head.isNullAt(1) && sliced.last.getDouble(1) === 24.0)
  }

  // Differential check of the driver-side reads: on a Europe/Paris store
  // holding every kind of chunk a write leaves (a DST-crossing series, a
  // soft-deleted one, a replaced one, an updated one, a bigint one, and a
  // chunk partition of several files), the sparse getTs and getManyTs
  // equal the distributed yieldManyTs of the same series, row for row, on
  // every slice, and so does getManyTs of several specs, of a duplicated
  // spec, of an absent key, of the tombstoned series and of two tuples of
  // the two-key store whose per-key values also name two unrequested
  // series (one of them stored). The dense digests (rows, non-null values,
  // hash of the rows' text) were recorded from the distributed getTs the
  // driver read replaced, on the same fixture.
  test("driver-read getTs equals getManyTs on every slice; dense rows unchanged") {
    val st = newStore(tz = "Europe/Paris")
    def key(k: String) = Map[String, Any]("version" -> 0, "kind" -> k)
    def hours(from: String, n: Int, v: Int => Double) = hourly(from, n, i => Some(v(i)))
    val w0 = ldt("2024-06-01T00:00")
    assert(st.setTs(key("upd"), hours("2024-10-01T00:00", 24 * 5, _ => 1.0), now = w0))
    assert(st.setTs(key("upd"), hours("2024-10-03T00:00", 24 * 31, _ => 2.0), update = true, now = w0.plusHours(1)))
    assert(st.setTs(key("rep"), hours("2024-10-10T00:00", 24 * 26, i => i.toDouble), now = w0.plusHours(2)))
    assert(st.setTs(key("rep"), hours("2024-10-25T00:00", 24 * 3, i => -i.toDouble), replace = true, now = w0.plusHours(3)))
    assert(st.setTs(key("gone"), hours("2024-10-01T00:00", 24 * 3, _ => 7.0), now = w0.plusHours(4)))
    st.delete(key("gone"), now = w0.plusHours(5))
    // two plain inserts after the rewrites: the October partition holds
    // several files
    assert(st.setTs(key("dst"), hours("2024-10-20T00:00", 24 * 20, i => i + 0.5), now = w0.plusHours(6)))
    val t0 = ldt("2024-10-15T00:00")
    assert(st.setTs(key("big"), (0 until 24 * 31).map(i => (t0.plusHours(i.toLong), i.toLong * 3)).toDF("ts", "value"),
      now = w0.plusHours(7)))
    assert(liveFiles(st.path).filter(_._1.endsWith(s"=${2024 * 12 + 9}")).values.head.length >= 2)
    val other = Map[String, Any]("version" -> 1, "kind" -> "upd")
    assert(st.setTs(other, hours("2024-10-26T00:00", 24 * 3, i => -i.toDouble), now = w0.plusHours(8)))
    val z = java.time.ZoneId.of("Europe/Paris")
    def at(s: String) = Some(java.time.LocalDateTime.parse(s).atZone(z))
    val slices = Seq(
      "open-ended"        -> (None, None),
      "within one chunk"  -> (at("2024-10-21T00:00"), at("2024-10-24T12:00")),
      "crossing chunks"   -> (at("2024-10-28T00:00"), at("2024-11-03T00:00")),
      "the DST day"       -> (at("2024-10-27T00:00"), at("2024-10-27T23:00")),
      "empty"             -> (at("2024-10-22T10:15"), at("2024-10-22T10:45")),
      "past the last"     -> (at("2025-01-01T00:00"), None),
      "start only"        -> (at("2024-11-02T00:00"), None),
      "end only"          -> (None, at("2024-10-05T00:00")))
    def points(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[java.time.LocalDateTime]("ts"), r.getAs[Number]("value").doubleValue)).toSeq
    def digest(rows: Array[org.apache.spark.sql.Row]) =
      (rows.length, rows.count(!_.isNullAt(1)), rows.map(r => s"${r.get(0)}=${r.get(1)}").mkString(",").hashCode)
    val dense = for (k <- Seq("upd", "rep", "gone", "dst", "big"); (name, (a, b)) <- slices) yield {
      val reference = points(st.yieldManyTs(key(k), a, b).collect())
      assert(points(st.getTs(key(k), a, b).collect()) === reference, s"getTs $k $name")
      assert(points(st.getManyTs(Seq(key(k)), a, b).collect()) === reference, s"getManyTs $k $name")
      (k, name) -> digest(st.getTs(key(k), a, b, dropBoundsNa = false).collect())
    }
    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => (r.getAs[Int]("version"), r.getAs[String]("kind"),
      r.getAs[java.time.LocalDateTime]("ts"), r.getAs[Number]("value").doubleValue)).toSeq
    val specLists = Seq(
      "several"    -> Seq(key("upd"), key("dst"), key("big")),
      "duplicated" -> Seq(key("dst"), key("upd"), key("dst")),
      "absent"     -> Seq(key("absent"), key("upd")),
      "tombstoned" -> Seq(key("gone"), key("rep")),
      "two-key"    -> Seq(other, key("dst")))
    for ((list, specs) <- specLists; (name, (a, b)) <- slices) {
      // the distributed read of each distinct spec, in (keys..., ts) order
      val reference = specs.distinct.sortBy(s => (s("version").asInstanceOf[Int], s("kind").toString))
        .flatMap(s => keyed(st.yieldManyTs(s, a, b).collect()))
      assert(keyed(st.getManyTs(specs, a, b).collect()) === reference, s"$list $name")
    }
    val parentDense = Map(
      ("upd", "open-ended") -> (1465,792,635483143),
      ("upd", "within one chunk") -> (85,85,1108625323),
      ("upd", "crossing chunks") -> (145,145,-1367815878),
      ("upd", "the DST day") -> (25,25,-1885646545),
      ("upd", "empty") -> (0,0,0),
      ("upd", "past the last") -> (0,0,0),
      ("upd", "start only") -> (696,25,-1305267141),
      ("upd", "end only") -> (97,95,1405973172),
      ("rep", "open-ended") -> (745,72,-676529265),
      ("rep", "within one chunk") -> (0,0,0),
      ("rep", "crossing chunks") -> (96,1,-923587301),
      ("rep", "the DST day") -> (25,25,1558098903),
      ("rep", "empty") -> (0,0,0),
      ("rep", "past the last") -> (0,0,0),
      ("rep", "start only") -> (0,0,0),
      ("rep", "end only") -> (0,0,0),
      ("gone", "open-ended") -> (0,0,0),
      ("gone", "within one chunk") -> (0,0,0),
      ("gone", "crossing chunks") -> (0,0,0),
      ("gone", "the DST day") -> (0,0,0),
      ("gone", "empty") -> (0,0,0),
      ("gone", "past the last") -> (0,0,0),
      ("gone", "start only") -> (0,0,0),
      ("gone", "end only") -> (0,0,0),
      ("dst", "open-ended") -> (1465,480,-479456645),
      ("dst", "within one chunk") -> (85,85,-629313731),
      ("dst", "crossing chunks") -> (145,145,-1582441538),
      ("dst", "the DST day") -> (25,25,-2097088226),
      ("dst", "empty") -> (0,0,0),
      ("dst", "past the last") -> (0,0,0),
      ("dst", "start only") -> (696,169,-1608047535),
      ("dst", "end only") -> (0,0,0),
      ("big", "open-ended") -> (1465,744,-364311345),
      ("big", "within one chunk") -> (85,85,1465285661),
      ("big", "crossing chunks") -> (145,145,-736028468),
      ("big", "the DST day") -> (25,25,571110830),
      ("big", "empty") -> (0,0,0),
      ("big", "past the last") -> (0,0,0),
      ("big", "start only") -> (696,313,2671117),
      ("big", "end only") -> (0,0,0))
    assert(dense.toMap === parentDense)
  }

  test("getTs dense grid is DST-correct in a non-UTC store (chunk starts at local midnight)") {
    val st = newStore(tz = "Europe/Paris")
    val t0 = java.time.LocalDateTime.parse("2024-03-10T00:00") // UTC wall
    val s = (0 until 24).map(i => (t0.plusHours(i.toLong), 1.0)).toDF("ts", "value")
    assert(st.setTs(attrs, s, now = now0))
    val dense = st.getTs(attrs, dropBoundsNa = false).collect()
    // March chunk in Paris: local midnight Mar 1 = 23:00 UTC Feb 29; the
    // month has a spring-forward day, so the grid has 31*24 - 1 slots
    assert(dense.head.getAs[java.time.LocalDateTime]("ts") === ldt("2024-02-29T23:00"))
    assert(dense.length === 31 * 24 - 1)
    assert(dense.last.getAs[java.time.LocalDateTime]("ts") === ldt("2024-03-31T21:00"))
  }

  test("yieldManyTs dropBoundsNa=false: per-key dense chunk-span grids in one frame") {
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-15T00:00")
    val a = (0 until 24 * 5).map(i => (t0.plusHours(i.toLong), 1.0)).toDF("ts", "value")
    // second key spans Jan -> Feb (two chunks)
    val b = (0 until 24 * 25).map(i => (t0.plusHours(i.toLong), 2.0)).toDF("ts", "value")
    assert(st.setTs(attrs, a, now = now0))
    assert(st.setTs(Map("version" -> 0, "kind" -> "k2"), b, now = now0))
    val dense = st.yieldManyTs(dropBoundsNa = false)
    val byKind = dense.collect().groupBy(_.getAs[String]("kind"))
    assert(byKind("k1").length === 31 * 24)              // full January
    assert(byKind("k2").length === (31 + 29) * 24)       // Jan + leap February
    assert(byKind("k2").count(_.isNullAt(3)) === (31 + 29) * 24 - 24 * 25) // pads are null
    // sparse default unchanged
    assert(st.yieldManyTs().count() === 24 * 5 + 24 * 25)
    // agrees with the single-series dense read
    val one = st.getTs(attrs, dropBoundsNa = false).collect().map(r =>
      (r.getAs[java.time.LocalDateTime]("ts"), if (r.isNullAt(1)) null else r.getDouble(1)))
    val many = byKind("k1").sortBy(_.getAs[java.time.LocalDateTime]("ts").toString).map(r =>
      (r.getAs[java.time.LocalDateTime]("ts"), if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(many.toSeq === one.toSeq)
  }

  test("dense reads grid STORED chunks only: an incremental hole stays a hole") {
    // reference parity (chunk_timeserie_store.py:406-413): get_ts concats
    // the surviving chunks' per-chunk grids — a middle chunk that was
    // never written (update=True appends for Jan then Mar) contributes
    // NOTHING; the hole must come back omitted, not null-filled
    val st = newStore(tz = "UTC")
    val jan = (0 until 24 * 5).map(i =>
      (java.time.LocalDateTime.parse("2024-01-15T00:00").plusHours(i.toLong), 1.0)).toDF("ts", "value")
    val mar = (0 until 24 * 5).map(i =>
      (java.time.LocalDateTime.parse("2024-03-10T00:00").plusHours(i.toLong), 3.0)).toDF("ts", "value")
    assert(st.setTs(attrs, jan, now = now0))
    assert(st.setTs(attrs, mar, update = true, now = now0))
    val dense = st.getTs(attrs, dropBoundsNa = false).collect()
    assert(dense.length === (31 + 31) * 24) // Jan + Mar grids, NO February
    val months = dense.map(_.getAs[java.time.LocalDateTime]("ts").getMonthValue).toSet
    assert(months === Set(1, 3))
    // multi-series read agrees
    val many = st.yieldManyTs(dropBoundsNa = false).collect()
    assert(many.length === (31 + 31) * 24)
    assert(many.map(_.getAs[java.time.LocalDateTime]("ts").getMonthValue).toSet === Set(1, 3))
  }

  test("bigint getTs: no job at call time or at collect; the frame outlives its files") {
    val st = newStore(tz = "UTC")
    val ints = (0 until 48).map(i =>
      (java.time.LocalDateTime.parse("2024-01-10T00:00").plusHours(i.toLong), i.toLong))
      .toDF("ts", "value")
    assert(st.setTs(attrs, ints, now = now0))
    var read: DataFrame = null
    assert(jobsDuring { read = st.getTs(attrs) } === 0)
    // materialized at call time: no later commit, nor the loss of every
    // file, changes the frame
    st.delete(attrs, keepTracking = false, now = now0.plusHours(1))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st.path))
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = read.collect() } === 0)
    assert(read.schema("value").dataType === LongType)
    assert(rows.map(_.getLong(1)).toSeq === (0 until 48).map(_.toLong))
    assert(jobsDuring(read.show(3)) === 0)
  }

  test("double getTs: no job at call time or at collect") {
    val st = newStore(tz = "UTC")
    assert(st.setTs(attrs, hourly("2024-01-30T00:00", 24 * 5, i => Some(i + 0.5)), now = now0))
    var read: DataFrame = null
    assert(jobsDuring { read = st.getTs(attrs) } === 0, "the rows are read on the driver")
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = read.collect() } === 0, "a local frame collects without a job")
    assert(read.schema("value").dataType === DoubleType)
    assert(rows.map(_.getDouble(1)).toSeq === (0 until 24 * 5).map(_ + 0.5))
  }

  test("double getTs over more than 32 live files: no job at call time or at collect") {
    val st = newStore(tz = "UTC")
    // one point a month for 40 months: 40 chunk partitions, one file each —
    // past the 32 root paths Spark would list with a job of its own
    val t0 = ldt("2020-01-15T00:00")
    assert(st.setTs(attrs, (0 until 40).map(m => (t0.plusMonths(m.toLong), m + 0.5)).toDF("ts", "value"),
      now = now0))
    assert(liveFiles(st.path).values.map(_.length).sum === 40)
    var read: DataFrame = null
    assert(jobsDuring { read = st.getTs(attrs) } === 0)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = read.collect() } === 0)
    assert(rows.map(_.getDouble(1)).toSeq === (0 until 40).map(_ + 0.5))
  }

  test("getTs never opens a file outside the slice's chunk range") {
    val st = newStore(tz = "UTC")
    assert(st.setTs(attrs, hourly("2024-01-30T00:00", 24 * 5, i => Some(i + 0.5)), now = now0))
    // the January file, still listed as live, becomes garbage
    val jan = liveFiles(st.path).collectFirst { case (d, Seq(f)) if d.endsWith(s"=${2024 * 12}") => f }.get
    java.nio.file.Files.write(java.nio.file.Paths.get(st.path, jan), "not parquet".getBytes)
    val z = java.time.ZoneOffset.UTC
    val feb = st.getTs(attrs, start = Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, z)))
    assert(feb.collect().map(_.getDouble(1)).toSeq === (48 until 24 * 5).map(_ + 0.5))
    assert(st.liveRead(Seq(attrs), Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, z)), None).files
      .forall(_.startsWith(s"chunk_index=${2024 * 12 + 1}/")))
    intercept[Exception](st.getTs(attrs))
  }

  test("upsertManyTs and setManyTs refuse a null key value; stored rows untouched") {
    val st = newStore(tz = "UTC")
    assert(st.setTs(attrs, hourly("2024-01-10T00:00", 24, i => Some(i.toDouble)), now = now0))
    val stored = st.load().collect().toSet
    // a parquet-backed batch, as a pipeline's is: the guard fails a job
    val dir = tmpDir("nullkey")
    Seq[(Int, String, java.time.LocalDateTime, Double)](
      (0, "b", ldt("2024-01-10T00:00"), 2.0), (0, null, ldt("2024-01-10T01:00"), 3.0))
      .toDF("version", "kind", "ts", "value").write.parquet(dir)
    val batch = spark.read.parquet(dir)
    intercept[IllegalArgumentException](st.upsertManyTs(batch, now = now0.plusHours(1)))
    assert(st.load().collect().toSet === stored)
    intercept[IllegalArgumentException](st.setManyTs(batch, now = now0.plusHours(2)))
    assert(st.load().collect().toSet === stored)
  }

  test("double dense getTs: no job at call time, at most three at collect") {
    val st = newStore(tz = "UTC")
    assert(st.setTs(attrs, hourly("2024-01-30T00:00", 24 * 5, i => Some(i + 0.5)), now = now0))
    var read: DataFrame = null
    assert(jobsDuring { read = st.getTs(attrs, dropBoundsNa = false) } === 0,
      "the rows are read on the driver and the grid is built in the plan: no job")
    var rows = Array.empty[org.apache.spark.sql.Row]
    val atCollect = jobsDuring { rows = read.collect() }
    assert(atCollect <= 3, s"dense collect ran $atCollect jobs")
    assert(rows.length === (31 + 29) * 24) // January and leap February grids
    assert(rows.count(!_.isNullAt(1)) === 24 * 5)
  }

  test("dense bigint getTs reads back bigint") {
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-10T00:00")
    val ints = (0 until 24).map(i => (t0.plusHours(i.toLong), i.toLong * 3)).toDF("ts", "value")
    assert(st.setTs(attrs, ints, now = now0))
    val dense = st.getTs(attrs, dropBoundsNa = false)
    assert(dense.schema("value").dataType === LongType)
    var rows = Array.empty[org.apache.spark.sql.Row]
    val atCollect = jobsDuring { rows = dense.collect() }
    assert(atCollect <= 3, s"dense collect ran $atCollect jobs")
    assert(rows.length === 31 * 24)
    assert(rows.filterNot(_.isNullAt(1)).map(_.getLong(1)).toSeq === (0 until 24).map(_.toLong * 3))
  }

  // The value type comes from the series' own live rows: other series
  // sharing its files, their dtypes and tombstones play no part.
  test("footer dtype: a double and a bigint series in one chunk file each read their own dtype") {
    val st = newStore(tz = "UTC")
    val attrs2 = Map[String, Any]("version" -> 0, "kind" -> "k2")
    val t0 = java.time.LocalDateTime.parse("2024-01-10T00:00")
    assert(st.setTs(attrs, hourly("2024-01-10T00:00", 24, i => Some(i + 0.5)), now = now0))
    val ints = (0 until 24).map(i => (t0.plusHours(i.toLong), i.toLong * 3)).toDF("ts", "value")
    assert(st.setTs(attrs2, ints, update = true, now = now0)) // rewrites the chunk: one file
    assert(liveFiles(st.path).values.map(_.length).sum === 1)
    var big, dbl: DataFrame = null
    var bigRows, dblRows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { big = st.getTs(attrs2) } === 0)
    assert(jobsDuring { bigRows = big.collect() } === 0)
    assert(big.schema("value").dataType === LongType)
    assert(bigRows.map(_.getLong(1)).toSeq === (0 until 24).map(_.toLong * 3))
    assert(jobsDuring { dbl = st.getTs(attrs) } === 0, "a double series sharing a file with a bigint one")
    assert(jobsDuring { dblRows = dbl.collect() } === 0)
    assert(dbl.schema("value").dataType === DoubleType)
    assert(dblRows.map(_.getDouble(1)).toSeq === (0 until 24).map(_ + 0.5))
  }

  test("footer dtype: a bigint store holding tombstones reads back bigint") {
    val st = newStore(tz = "UTC")
    val gone = Map[String, Any]("version" -> 0, "kind" -> "gone")
    val t0 = java.time.LocalDateTime.parse("2024-01-30T00:00")
    val ints = (0 until 24 * 3).map(i => (t0.plusHours(i.toLong), i.toLong)).toDF("ts", "value")
    assert(st.setTs(attrs, ints, now = now0))
    assert(st.setTs(gone, ints, now = now0))
    st.delete(Map("kind" -> "gone"), now = now0.plusHours(1)) // null-dtype tombstones in both chunks
    assert(st.load().filter(col("is_deleted")).count() === 2)
    val back = st.getTs(attrs)
    assert(back.schema("value").dataType === LongType)
    assert(back.collect().map(_.getLong(1)).toSeq === (0 until 24 * 3).map(_.toLong))
    assert(st.getTs(gone).collect().isEmpty)
  }

  test("footer dtype: a never-written store and a slice past the last chunk read empty double") {
    val fresh = newStore(tz = "UTC")
    var empty: DataFrame = null
    assert(jobsDuring { empty = fresh.getTs(attrs) } === 0)
    assert(jobsDuring(assert(empty.collect().isEmpty)) === 0)
    assert(empty.schema("value").dataType === DoubleType)
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-10T00:00")
    assert(st.setTs(attrs, (0 until 24).map(i => (t0.plusHours(i.toLong), i.toLong)).toDF("ts", "value"),
      now = now0))
    val z = java.time.ZoneOffset.UTC
    var past: DataFrame = null
    assert(jobsDuring {
      past = st.getTs(attrs, start = Some(java.time.ZonedDateTime.of(2024, 3, 1, 0, 0, 0, 0, z)),
        end = Some(java.time.ZonedDateTime.of(2024, 3, 31, 0, 0, 0, 0, z)))
    } === 0, "no file in the slice's chunk range is read")
    assert(jobsDuring(assert(past.collect().isEmpty)) === 0)
    assert(past.schema("value").dataType === DoubleType)
  }

  test("footer dtype: a parquet file written without a dtype column reads back as double") {
    val st = newStore(tz = "UTC")
    val t0 = java.time.LocalDateTime.parse("2024-01-10T00:00")
    val ints = (0 until 24).map(i => (t0.plusHours(i.toLong), i.toLong)).toDF("ts", "value")
    // February: a file from a writer that knew no dtype column at all,
    // planted before the store's first commit, which adopts it
    val t1 = java.time.LocalDateTime.parse("2024-02-10T00:00")
    (0 until 24).map(i => (t1.plusHours(i.toLong), i + 0.5)).toDF("ts", "value")
      .withColumn("version", lit(0)).withColumn("kind", lit("k1"))
      .withColumn("chunk_index", lit(2024 * 12 + 1))
      .withColumn("ts", col("ts").cast(TimestampNTZType))
      .withColumn("is_deleted", lit(false))
      .withColumn("updated_at", lit(now0).cast(TimestampNTZType))
      .write.mode("append").partitionBy("chunk_index").parquet(st.path)
    assert(st.setTs(attrs, ints, update = true, now = now0)) // chunk 2024-01, dtype=bigint
    val z = java.time.ZoneOffset.UTC
    val feb = st.getTs(attrs, start = Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, z)))
    assert(feb.schema("value").dataType === DoubleType)
    assert(feb.collect().map(_.getDouble(1)).toSeq === (0 until 24).map(_ + 0.5))
    val all = st.getTs(attrs)
    assert(all.schema("value").dataType === DoubleType)
    assert(all.collect().map(_.getDouble(1)).toSeq === (0 until 24).map(_.toDouble) ++ (0 until 24).map(_ + 0.5))
  }

  test("dtype survives the sync wire: packEnvelope -> unpackEnvelope -> import") {
    val st = newStore(sync = true)
    val t0 = java.time.LocalDateTime.parse("2024-03-01T00:00")
    val ints = (0 until 48).map(i => (t0.plusHours(i.toLong), i.toLong)).toDF("ts", "value")
    assert(st.setTs(attrs, ints, update = true, now = now0))
    val specs = st.load().select("version", "kind", "chunk_index").distinct().collect().toSeq
    val wire = graft.sync.Sync.packEnvelope(st, specs)
    assert(wire.select(get_json_object(col("envelope_json"), "$.meta.dtype")).head().getString(0)
      === "int64")
    val dst = newStore(sync = true)
    graft.sync.Sync.importChunks(dst, graft.sync.Sync.unpackEnvelope(dst, wire.select("envelope_json")))
    assert(dst.getTs(attrs).schema("value").dataType === org.apache.spark.sql.types.LongType)
    assert(dst.getTs(attrs).collect().map(_.getLong(1)).toSeq === (0 until 48).map(_.toLong))
  }

  test("partial attrs raise; unknown attrs raise; update+replace raise") {
    val st = newStore()
    val s = hourly("2024-01-01T00:00", 3, i => Some(i.toDouble))
    assertThrows[IllegalArgumentException](st.setTs(Map("version" -> 0), s))
    assertThrows[IllegalArgumentException](st.setTs(attrs + ("bogus" -> 1), s))
    assertThrows[IllegalArgumentException](st.setTs(attrs, s, update = true, replace = true))
  }

  test("a null key value is refused before any job in update and replace mode; stored rows untouched") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 24, _ => Some(1.0)), now = now0)
    st.setTs(attrs + ("kind" -> "k2"), hourly("2024-01-01T00:00", 24, _ => Some(2.0)), now = now0)
    val before = st.load().collect().toSet
    val nullKey = Map[String, Any]("version" -> 0, "kind" -> null)
    for ((update, replace) <- Seq((true, false), (false, true))) {
      val jobs = jobsDuring(assertThrows[IllegalArgumentException](st.setTs(nullKey,
        hourly("2024-01-01T00:00", 3, _ => Some(9.0)), update, replace, now0.plusHours(1))))
      assert(jobs === 0, s"update=$update replace=$replace")
      assert(st.load().collect().toSet === before, s"update=$update replace=$replace")
    }
  }

  test("plain insert over existing raises (IntegrityError parity)") {
    val st = newStore()
    val s = hourly("2024-01-01T00:00", 3, i => Some(i.toDouble))
    st.setTs(attrs, s, now = now0)
    assertThrows[IllegalStateException](st.setTs(attrs, s, now = now0))
  }

  // The reference's chunk row is unique on (keys..., chunk_index), so a
  // plain insert into a chunk holding the series' tombstone is an
  // IntegrityError; update is the way to write a deleted series again.
  test("plain insert into a chunk holding the series' tombstone raises; update writes it again") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 3, _ => Some(1.0)), now = now0)
    st.delete(Map("kind" -> "k1"), now = now0.plusHours(1))
    val before = st.load().collect().toSet
    assertThrows[IllegalStateException](st.setTs(attrs, hourly("2024-01-10T00:00", 3, _ => Some(2.0)),
      now = now0.plusHours(2)))
    val batch = hourly("2024-01-10T00:00", 3, _ => Some(2.0)).withColumn("version", lit(0)).withColumn("kind", lit("k1"))
    assertThrows[IllegalStateException](st.setManyTs(batch, now = now0.plusHours(2)))
    assert(st.load().collect().toSet === before)
    // another month holds no tombstone of the series: a plain insert lands
    assert(st.setTs(attrs, hourly("2024-02-10T00:00", 3, _ => Some(3.0)), now = now0.plusHours(3)))
    assert(st.setTs(attrs, hourly("2024-01-10T00:00", 3, _ => Some(2.0)), update = true, now = now0.plusHours(4)))
    assert(st.getTs(attrs).collect().map(_.getDouble(1)).toSeq === Seq(2.0, 2.0, 2.0, 3.0, 3.0, 3.0))
    val jan = Sync.updates(st, now0.plusHours(4)).collect().map(r => (r.getAs[Int]("chunk_index"), r.getAs[Boolean]("is_deleted")))
    assert(jan.toSeq === Seq((2024 * 12, false)))
  }

  test("update merges new.combine_first(existing) per chunk") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 5, i => Some(1.0)), now = now0)
    // overwrite hours 2-3 with 9.0; combine_first → new wins where present
    st.setTs(attrs, hourly("2024-01-01T02:00", 2, _ => Some(9.0)), update = true,
      now = now0.plusHours(1))
    val back = st.getTs(attrs).collect().map(_.getDouble(1)).toSeq
    assert(back === Seq(1.0, 1.0, 9.0, 9.0, 1.0))
  }

  // The reference's set_ts(update=True) is per series: a series whose
  // batch points miss one of its chunks leaves that chunk alone, even when
  // another series of the batch rewrites the same chunk partition.
  test("upsertManyTs re-stamps only the (series, chunk) pairs that get a new point") {
    val st = newStore(tz = "UTC")
    val (oct, nov) = (2024 * 12 + 9, 2024 * 12 + 10)
    st.upsertManyTs(Seq((0, "A", ldt("2024-10-05T00:00"), 1L), (0, "B", ldt("2024-10-05T00:00"), 2L))
      .toDF("version", "kind", "ts", "value"), now0)
    val now1 = now0.plusHours(1)
    st.upsertManyTs(Seq((0, "A", ldt("2024-11-05T00:00"), 3.0), (0, "B", ldt("2024-10-05T01:00"), 4.0),
      (0, "B", ldt("2024-11-05T00:00"), 5.0)).toDF("version", "kind", "ts", "value"), now1)
    val listed = Sync.updates(st, now1).collect().map(r => (r.getAs[String]("kind"), r.getAs[Int]("chunk_index")))
    assert(listed.toSet === Set(("B", oct), ("A", nov), ("B", nov)))
    val aOct = st.load().filter(col("kind") === "A" && col("chunk_index") === oct)
      .select("updated_at", "dtype").as[(java.time.LocalDateTime, String)].collect().toSeq
    assert(aOct === Seq((now0, "bigint")))
    assert(st.getTs(Map("version" -> 0, "kind" -> "B")).collect().map(_.getDouble(1)).toSeq === Seq(2.0, 4.0, 5.0))
  }

  test("each write on a store holding data runs at most three jobs") {
    val st = newStore(tz = "UTC")
    val k2 = attrs + ("kind" -> "k2")
    st.setTs(attrs, hourly("2024-01-01T00:00", 24 * 40, _ => Some(1.0)), now = now0) // Jan+Feb
    st.setTs(k2, hourly("2024-01-01T00:00", 24, _ => Some(2.0)), now = now0)
    val batch = hourly("2024-01-20T00:00", 24 * 20, _ => Some(3.0))
      .withColumn("version", lit(0)).withColumn("kind", lit("k1"))
    val writes = Seq[(String, () => Any)](
      "upsertManyTs" -> (() => st.upsertManyTs(batch, now0.plusHours(1))),
      "setTs update" -> (() => st.setTs(k2, hourly("2024-01-01T12:00", 24, _ => Some(4.0)), update = true,
        now = now0.plusHours(2))),
      "setTs replace" -> (() => st.setTs(attrs, hourly("2024-02-01T00:00", 24, _ => Some(5.0)), replace = true,
        now = now0.plusHours(3))),
      "delete" -> (() => st.delete(Map("kind" -> "k2"), now = now0.plusHours(4))))
    val jobs = writes.map { case (name, write) => name -> jobsDuring(write()) }
    assert(jobs.forall(_._2 <= 3), jobs.mkString(", "))
    assert(st.getTs(attrs).collect().map(_.getDouble(1)).toSeq === Seq.fill(24)(5.0))
    assert(st.getTs(k2).collect().isEmpty)
  }

  test("lastUpdatedAt with no filters reads the footers: the aggregate's value and no job") {
    val st = newStore(tz = "UTC", sync = true)
    st.setTs(attrs, hourly("2024-01-20T00:00", 24 * 20, _ => Some(1.0)), update = true, now = now0)
    st.setTs(attrs + ("kind" -> "k2"), hourly("2024-01-01T00:00", 24, _ => Some(2.0)), update = true,
      now = now0.plusHours(1))
    st.delete(Map("kind" -> "k1"), now = now0.plusHours(2))
    assert(st.load().filter(col("is_deleted")).count() === 2)
    val manifest = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(st.path, "_manifest"))
    assert(manifest.toArray.exists(_.toString.startsWith("- ")), "the delete retired files still on disk")
    val aggregate = st.load().agg(max("updated_at")).head().getAs[java.time.LocalDateTime](0)
    var fromFooters: java.time.LocalDateTime = null
    assert(jobsDuring { fromFooters = st.lastUpdatedAt() } === 0)
    assert(fromFooters === aggregate && aggregate === now0.plusHours(2))
    assert(st.lastUpdatedAt(Map("kind" -> "k2")) === now0.plusHours(1))
  }

  test("replace hard-replaces overlapped chunks, tombstones the rest") {
    val st = newStore(tz = "UTC", axis = YearMonthAxis)
    st.setTs(attrs, hourly("2024-01-01T00:00", 24, i => Some(1.0)), now = now0)  // Jan
    st.setTs(attrs, hourly("2024-02-01T00:00", 24, i => Some(2.0)), update = true, now = now0) // Feb
    // replace with March-only data → Jan+Feb tombstoned
    st.setTs(attrs, hourly("2024-03-01T00:00", 24, i => Some(3.0)), replace = true,
      now = now0.plusHours(2))
    val back = st.getTs(attrs).collect()
    assert(back.length === 24 && back.forall(_.getDouble(1) === 3.0))
    // tombstones visible to sync metadata with fresh updated_at
    val upd = Sync.updates(st, now0.plusHours(1))
    assert(upd.filter(col("is_deleted")).count() === 2)
  }

  test("second series in same chunk partition is preserved on update") {
    val st = newStore(tz = "UTC")
    val attrs2 = Map[String, Any]("version" -> 0, "kind" -> "k2")
    st.setTs(attrs, hourly("2024-01-01T00:00", 3, i => Some(1.0)), now = now0)
    st.setTs(attrs2, hourly("2024-01-01T00:00", 3, i => Some(5.0)), now = now0)
    st.setTs(attrs, hourly("2024-01-01T00:00", 3, i => Some(2.0)), update = true, now = now0)
    assert(st.getTs(attrs2).collect().map(_.getDouble(1)).toSeq === Seq(5.0, 5.0, 5.0))
    assert(st.getTs(attrs).collect().map(_.getDouble(1)).toSeq === Seq(2.0, 2.0, 2.0))
  }

  test("getTs slices inclusive and prunes by chunk range") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 24 * 60, i => Some(i.toDouble)), now = now0)
    val z = java.time.ZoneOffset.UTC
    val out = st.getTs(attrs,
      start = Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2024, 2, 2, 0, 0, 0, 0, z))).collect()
    assert(out.length === 25) // inclusive both ends
    assert(out.head.getAs[java.time.LocalDateTime]("ts") === ldt("2024-02-01T00:00"))
  }

  test("bounds-trim on read: leading/trailing nulls dropped, interior kept") {
    val st = newStore(tz = "UTC")
    // write sparse: values only at hours 2..5 with a hole at 3 (persisted sparse)
    val s = hourly("2024-01-01T00:00", 8,
      i => if (i >= 2 && i <= 5 && i != 3) Some(i.toDouble) else None)
    st.setTs(attrs, s, now = now0)
    val back = st.getTs(attrs).collect()
    assert(back.head.getAs[java.time.LocalDateTime]("ts") === ldt("2024-01-01T02:00"))
    assert(back.last.getAs[java.time.LocalDateTime]("ts") === ldt("2024-01-01T05:00"))
  }

  test("maxHorodate / lastUpdatedAt semantics") {
    val st = newStore(tz = "UTC")
    assert(st.maxHorodate() === None)
    // empty store default: 2000-01-01 in store tz (UTC here)
    assert(st.lastUpdatedAt() === ldt("2000-01-01T00:00"))
    st.setTs(attrs, hourly("2024-01-01T00:00", 10, i => Some(i.toDouble)), now = now0)
    assert(st.maxHorodate().get === ldt("2024-01-01T09:00"))
    assert(st.lastUpdatedAt() === now0)
  }

  // Directory-listing shortcut (reference max-chunk shortcut,
  // chunk_timeserie_store.py:531): the newest partitions may hold nothing
  // for the filters (other series, tombstones) — walk down, then fall
  // back to one bounded aggregation, never a job per partition.
  test("maxHorodate walks down past foreign/tombstoned chunks; falls back when deep") {
    val st = newStore(tz = "UTC")
    val attrsB = Map[String, Any]("version" -> 0, "kind" -> "k2")
    // series A: Jan-May (5 chunks); series B: Jan only
    st.setTs(attrs, hourly("2024-01-01T00:00", 24, i => Some(1.0)), now = now0)
    for (m <- 2 to 5)
      st.setTs(attrs, hourly(f"2024-$m%02d-01T00:00", 24, i => Some(1.0)), update = true, now = now0)
    st.setTs(attrsB, hourly("2024-01-01T00:00", 10, i => Some(2.0)), now = now0)
    // B's max sits 4 partitions below the newest → probe misses + fallback
    assert(st.maxHorodate(Map("kind" -> "k2")).get === ldt("2024-01-01T09:00"))
    assert(st.maxHorodate().get === ldt("2024-05-01T23:00"))
    // no matching series at all → None through the fallback
    assert(st.maxHorodate(Map("kind" -> "nope")) === None)
    // tombstoned series: delete A → its 5 chunks are tombstone-only; the
    // walk-down + fallback must land on B's Jan max
    st.delete(Map("kind" -> "k1"), keepTracking = true, now = now0.plusHours(1))
    assert(st.maxHorodate().get === ldt("2024-01-01T09:00"))
  }

  test("maxHorodate common case: one pruned-partition probe, no full max(chunk_index) pass") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-30T00:00", 24 * 5, i => Some(i.toDouble)), now = now0) // Jan+Feb
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val storePath = st.path
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val p = qe.executedPlan.toString
        // suites share the session and may run in parallel — only THIS
        // store's scans count
        if (p.contains(storePath)) plans.add(p)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(st.maxHorodate().get === ldt("2024-02-03T23:00"))
      // listener bus is async — wait for quiescence
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && plans.size != last) {
        last = plans.size; Thread.sleep(300)
      }
      val all = scala.jdk.CollectionConverters.IteratorHasAsScala(plans.iterator()).asScala.toList
      assert(!all.exists(_.contains("max(chunk_index")),
        "directory shortcut must not aggregate max(chunk_index) over the store")
      assert(all.exists(p => p.contains("max(ts") && p.contains("PartitionFilters")),
        "the probe scan must carry a chunk_index PartitionFilter")
    } finally spark.listenerManager.unregister(listener)
  }

  test("soft delete tombstones; hard delete forbidden when sync enabled") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 5, i => Some(1.0)), now = now0)
    st.delete(Map("kind" -> "k1"), keepTracking = true, now = now0.plusHours(1))
    assert(st.getTs(attrs).collect().isEmpty)
    assert(st.load().filter(col("is_deleted")).count() === 1)
    val sst = newStore(tz = "UTC", sync = true)
    assertThrows[IllegalStateException](sst.delete(Map("kind" -> "x"), keepTracking = false))
  }

  // VERDICT r1 ADVICE: dynamic partition overwrite never touches a
  // partition with zero surviving rows — a hard delete that empties a
  // chunk must remove its directory explicitly.
  test("hard delete of the only series physically empties the store") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-30T00:00", 24 * 5, i => Some(i.toDouble)), now = now0) // Jan+Feb chunks
    st.delete(Map("kind" -> "k1"), keepTracking = false, now = now0.plusHours(1))
    assert(st.load().count() === 0)
    assert(st.getTs(attrs).collect().isEmpty)
    // store stays writable after full emptying
    assert(st.setTs(attrs, hourly("2024-03-01T00:00", 3, i => Some(9.0)), now = now0.plusHours(2)))
    assert(st.getTs(attrs).count() === 3)
  }

  test("hard delete of one series keeps the co-located series intact") {
    val st = newStore(tz = "UTC")
    st.setTs(Map("version" -> 0, "kind" -> "a"), hourly("2024-01-01T00:00", 4, i => Some(1.0)), now = now0)
    st.setTs(Map("version" -> 0, "kind" -> "b"), hourly("2024-01-01T00:00", 4, i => Some(2.0)), now = now0)
    st.delete(Map("kind" -> "a"), keepTracking = false, now = now0.plusHours(1))
    assert(st.load().filter(col("kind") === "a").count() === 0)
    assert(st.getTs(Map("version" -> 0, "kind" -> "b")).count() === 4)
  }

  test("setManyTs bulk-inserts many series in one job; duplicates refused") {
    val st = newStore(tz = "UTC")
    val many = Seq(
      (0, "a", "2024-01-01T00:00", 1.0), (0, "a", "2024-01-01T01:00", 2.0),
      (0, "b", "2024-01-01T00:00", 3.0))
      .map { case (v, k, t, x) => (v, k, java.time.LocalDateTime.parse(t), x) }
      .toDF("version", "kind", "ts", "value")
    st.setManyTs(many, now = now0)
    assert(st.yieldManyTs().count() === 3)
    assertThrows[IllegalStateException](st.setManyTs(many, now = now0))
  }

  test("SQL view over the store: live rows, pruning-friendly schema") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 5, i => Some(i.toDouble)), now = now0)
    st.delete(Map("kind" -> "nope"), now = now0) // no-op delete keeps view clean
    st.createOrReplaceView("lc_store")
    val out = spark.sql(
      "SELECT kind, count(*) AS n, round(sum(value), 2) AS s FROM lc_store GROUP BY 1").head()
    assert(out.getString(0) === "k1" && out.getLong(1) === 5L && out.getDouble(2) === 10.0)
    val cols = spark.table("lc_store").columns.toSeq
    assert(cols.contains("chunk_index") && !cols.contains("is_deleted"))
  }

  test("yieldManyTs: partial filters, ordered stream") {
    val st = newStore(tz = "UTC")
    st.setTs(Map("version" -> 0, "kind" -> "a"), hourly("2024-01-01T00:00", 3, i => Some(1.0)), now = now0)
    st.setTs(Map("version" -> 0, "kind" -> "b"), hourly("2024-01-01T00:00", 3, i => Some(2.0)), now = now0)
    val all = st.yieldManyTs(Map("version" -> 0)).collect()
    assert(all.length === 6)
    assert(all.map(_.getString(1)).toSeq === Seq("a", "a", "a", "b", "b", "b"))
  }

  test("getManyTs: one driver read serves a spec list, sliced") {
    val st = newStore(tz = "UTC")
    for (k <- Seq("a", "b", "c"))
      st.setTs(Map("version" -> 0, "kind" -> k), hourly("2024-01-01T00:00", 24, i => Some(i.toDouble)), now = now0)
    val specs = Seq(
      Map[String, Any]("version" -> 0, "kind" -> "a"),
      Map[String, Any]("version" -> 0, "kind" -> "c"))
    val z = java.time.ZonedDateTime.of(2024, 1, 1, 6, 0, 0, 0, java.time.ZoneOffset.UTC)
    val out = st.getManyTs(specs, start = Some(z)).collect()
    assert(out.map(_.getString(1)).toSet === Set("a", "c"))
    assert(out.length === 2 * 18) // hours 06..23 for each of the 2 series
    // partial attrs in a spec raise, like getTs
    assertThrows[IllegalArgumentException](st.getManyTs(Seq(Map[String, Any]("version" -> 0))))
  }

  test("getManyTs of no spec: an empty frame with the read's schema, and no job") {
    val st = newStore(tz = "UTC")
    st.setTs(attrs, hourly("2024-01-01T00:00", 24, i => Some(i.toDouble)), now = now0)
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobsDuring { rows = st.getManyTs(Seq.empty).collect() } === 0)
    assert(rows.isEmpty)
    assert(st.getManyTs(Seq.empty).schema === st.getManyTs(Seq(attrs)).schema)
    assert(newStore(tz = "UTC").getManyTs(Seq.empty).collect().isEmpty)
  }

  for (n <- Seq(1, 4, 50))
    test(s"getManyTs of $n spec${if (n > 1) "s" else ""}: no job at call time, at collect or at show; the frame outlives its files") {
      val st = newStore(tz = "UTC")
      val t0 = ldt("2024-01-31T00:00")
      st.setManyTs((0 until 50).flatMap(k => (0 until 48).map(i => (0, f"k$k%02d", t0.plusHours(i.toLong), k + i / 100.0)))
        .toDF("version", "kind", "ts", "value"), now = now0)
      val specs = (0 until n).map(k => Map[String, Any]("version" -> 0, "kind" -> f"k$k%02d"))
      var read: DataFrame = null
      assert(jobsDuring { read = st.getManyTs(specs) } === 0, "the rows are read on the driver")
      var rows = Array.empty[org.apache.spark.sql.Row]
      assert(jobsDuring { rows = read.collect() } === 0, "a local frame collects without a job")
      assert(jobsDuring(read.show(3)) === 0)
      val want = (0 until n).flatMap(k => (0 until 48).map(i => (0, f"k$k%02d", t0.plusHours(i.toLong), k + i / 100.0)))
      def tuples(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getInt(0), r.getString(1), r.getAs[java.time.LocalDateTime](2), r.getDouble(3))).toSeq
      assert(tuples(rows) === want)
      // materialized at call time: the loss of every file changes nothing
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(st.path))
      assert(jobsDuring { rows = read.collect() } === 0)
      assert(tuples(rows) === want)
    }

  test("getManyTs never opens a file outside the slice's chunk range") {
    val st = newStore(tz = "UTC")
    val (k2, k3) = (Map[String, Any]("version" -> 0, "kind" -> "k2"), Map[String, Any]("version" -> 1, "kind" -> "k3"))
    for (k <- Seq(attrs, k2, k3))
      assert(st.setTs(k, hourly("2024-01-30T00:00", 24 * 5, i => Some(i + 0.5)), now = now0))
    // a January file, still listed as live, becomes garbage
    val jan = liveFiles(st.path).collectFirst { case (d, fs) if d.endsWith(s"=${2024 * 12}") => fs.head }.get
    java.nio.file.Files.write(java.nio.file.Paths.get(st.path, jan), "not parquet".getBytes)
    val feb = Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, java.time.ZoneOffset.UTC))
    val rows = st.getManyTs(Seq(k3, attrs), start = feb).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).distinct.toSeq === Seq((0, "k1"), (1, "k3")))
    assert(rows.map(_.getDouble(3)).toSeq === Seq.fill(2)((48 until 24 * 5).map(_ + 0.5)).flatten)
    assert(st.liveRead(Seq(k3, attrs), feb, None).files.forall(_.startsWith(s"chunk_index=${2024 * 12 + 1}/")))
    intercept[Exception](st.getManyTs(Seq(k3, attrs)))
  }

  // Every write leaves one `updated_at` per (series, chunk), tombstones
  // included: the reference's chunk row carries one. Each write path runs
  // on a plain and on a sync-enabled store (where the path is allowed)
  // holding two series over January and February, stamped `now0`, and
  // touches part of a chunk, so a write that stamped only its own rows
  // would leave two values.
  private def oneStampPerChunk(st: ChunkStore): Unit = {
    val mixed = st.load().groupBy("version", "kind", "chunk_index")
      .agg(countDistinct("updated_at").as("stamps")).filter(col("stamps") =!= 1).collect()
    assert(mixed.isEmpty, mixed.mkString(", "))
  }

  private val stampPaths: Seq[(String, Boolean, ChunkStore => Unit)] = {
    val now1 = now0.plusHours(1)
    val b = Map[String, Any]("version" -> 0, "kind" -> "b")
    val c = Map[String, Any]("version" -> 1, "kind" -> "c")
    Seq(
      ("setTs insert", false, st => assert(st.setTs(c, hourly("2024-01-20T00:00", 24 * 20, i => Some(i.toDouble)), now = now1))),
      ("setTs update", true, st => assert(st.setTs(attrs, hourly("2024-02-02T00:00", 12, _ => Some(9.0)), update = true, now = now1))),
      ("setTs replace", true, st => assert(st.setTs(b, hourly("2024-02-02T00:00", 12, _ => Some(9.0)), replace = true, now = now1))),
      ("setManyTs", false, st => st.setManyTs(Seq((1, "c", ldt("2024-01-31T00:00"), 1.0), (1, "d", ldt("2024-02-03T00:00"), 2.0))
        .toDF("version", "kind", "ts", "value"), now = now1)),
      ("upsertManyTs", true, st => st.upsertManyTs(Seq((0, "k1", ldt("2024-01-31T03:00"), 5.0), (0, "b", ldt("2024-02-04T00:00"), 6.0),
        (1, "c", ldt("2024-02-04T00:00"), 7.0)).toDF("version", "kind", "ts", "value"), now = now1)),
      ("delete", true, st => {
        st.delete(attrs, now = now1)
        if (!st.config.syncEnabled) st.delete(b, keepTracking = false, now = now1.plusHours(1))
      }),
      ("compact", true, st => {
        assert(st.setTs(b, hourly("2024-01-31T00:00", 3, _ => Some(4.0)), update = true, now = now1))
        assert(st.compact() === 2)
      }),
      ("Sync.importChunks", true, st => {
        val source = newStore(sync = true)
        assert(source.setTs(attrs, hourly("2024-01-31T00:00", 3, _ => Some(8.0)), update = true, now = now1))
        assert(source.setTs(c, hourly("2024-01-31T00:00", 3, _ => Some(8.0)), update = true, now = now1.plusHours(1)))
        Sync.importChunks(st, source.load())
      }))
  }

  for ((name, onSync, write) <- stampPaths)
    test(s"one updated_at per (series, chunk) after $name") {
      for (sync <- Seq(false, true) if onSync || !sync) {
        val st = newStore(sync = sync)
        for (k <- Seq(attrs, Map[String, Any]("version" -> 0, "kind" -> "b")))
          assert(st.setTs(k, hourly("2024-01-25T00:00", 24 * 20, i => Some(i.toDouble)), update = true, now = now0))
        val before = st.load().collect().toSet
        write(st)
        assert(st.load().collect().toSet != before || name == "compact", s"$name wrote nothing")
        oneStampPerChunk(st)
      }
    }

  test("compact: many incremental writes collapse to one file per chunk partition") {
    val dir = tmpDir("chunk")
    val st = new ChunkStore(spark, dir, keySchema,
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis))
    // 4 plain inserts (appends) into the same Jan-2024 chunk → several
    // parquet files accumulate in the partition dir
    for (i <- 0 until 4)
      st.setTs(Map("version" -> 0, "kind" -> s"k$i"),
        hourly("2024-01-01T00:00", 6, j => Some(j.toDouble)), now = now0.plusHours(i))
    def nFiles = liveFiles(dir).values.map(_.length).sum // one chunk partition
    val before = nFiles
    assert(before > 1)
    val rowsBefore = st.yieldManyTs().count()
    assert(st.compact() === 1)
    assert(nFiles === 1)
    // the retired files stay for one commit, no more: live plus one retired generation
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(onDisk.filter(_.toString.endsWith(".parquet")).count() <= nFiles + before)
    finally onDisk.close()
    assert(st.yieldManyTs().count() === rowsBefore) // readers see the same rows
  }

  test("compactIfNeeded: only partitions over the file threshold rewrite") {
    val dir = tmpDir("chunk")
    val st = new ChunkStore(spark, dir, keySchema,
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis))
    // Jan chunk: 4 appends (many files); Feb chunk: 1 append (compact already)
    for (i <- 0 until 4)
      st.setTs(Map("version" -> 0, "kind" -> s"k$i"),
        hourly("2024-01-01T00:00", 6, j => Some(j.toDouble)), now = now0.plusHours(i))
    st.setTs(Map("version" -> 0, "kind" -> "feb"),
      hourly("2024-02-01T00:00", 6, j => Some(j.toDouble)), now = now0)
    def files(prefix: String) = liveFiles(dir)(prefix).length
    val febDir = liveFiles(dir).keys.toSeq.sorted
    assert(febDir.length === 2)
    val Seq(jan, feb) = febDir.toSeq
    val febBefore = files(feb)
    val rowsBefore = st.yieldManyTs().count()
    val compacted = st.compactIfNeeded(maxFilesPerPartition = 2)
    assert(compacted.length === 1) // only the Jan partition crossed the threshold
    assert(files(jan) === 1)
    assert(files(feb) === febBefore) // untouched partition keeps its files
    assert(st.yieldManyTs().count() === rowsBefore)
    assert(st.compactIfNeeded(maxFilesPerPartition = 2) === Seq.empty) // idempotent
  }

  // Django __-lookup matrix on yield_many_ts filters (reference
  // `_check_attrs` strips suffixes, chunk_timeserie_store.py:889-899).
  test("yieldManyTs: __-lookup filters (gte/lt/in); unknown base field raises") {
    val st = newStore(tz = "UTC")
    for ((v, k, value) <- Seq((0, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)))
      st.setTs(Map("version" -> v, "kind" -> k), hourly("2024-01-01T00:00", 2, _ => Some(value)), now = now0)
    assert(st.yieldManyTs(Map("version__gte" -> 1)).select("kind").distinct().count() === 2)
    assert(st.yieldManyTs(Map("version__lt" -> 1)).select("kind").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("a"))
    assert(st.yieldManyTs(Map("kind__in" -> Seq("a", "c"))).select("kind").distinct().count() === 2)
    assert(st.yieldManyTs(Map("version__gte" -> 1, "kind__in" -> Seq("b"))).count() === 2)
    val e = intercept[IllegalArgumentException](st.yieldManyTs(Map("nope__gte" -> 1)))
    assert(e.getMessage.contains("nope"))
  }

  test("yieldManyTs: string and range lookups (contains/startswith/iexact/range)") {
    val st = newStore(tz = "UTC")
    for ((v, k, value) <- Seq((0, "alpha", 1.0), (1, "beta", 2.0), (2, "Alto", 3.0)))
      st.setTs(Map("version" -> v, "kind" -> k), hourly("2024-01-01T00:00", 2, _ => Some(value)), now = now0)
    def kinds(f: Map[String, Any]): Seq[String] =
      st.yieldManyTs(f).select("kind").distinct().collect().map(_.getString(0)).toSeq.sorted
    assert(kinds(Map("kind__contains" -> "lt")) === Seq("Alto"))
    assert(kinds(Map("kind__startswith" -> "al")) === Seq("alpha"))
    assert(kinds(Map("kind__istartswith" -> "al")) === Seq("Alto", "alpha"))
    assert(kinds(Map("kind__endswith" -> "a")) === Seq("alpha", "beta"))
    assert(kinds(Map("kind__iexact" -> "ALTO")) === Seq("Alto"))
    assert(kinds(Map("kind__icontains" -> "ALT")) === Seq("Alto"))
    assert(kinds(Map("version__range" -> (1, 2))) === Seq("Alto", "beta"))
    val e = intercept[IllegalArgumentException](
      graft.store.Lookups.compileOne("version__range", 3))
    assert(e.getMessage.contains("range"))
    val u = intercept[IllegalArgumentException](
      graft.store.Lookups.compileOne("kind__regex", "x"))
    assert(u.getMessage.contains("unsupported"))
  }
}

class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def series(start: String, n: Int, v: Double): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until n).map(i => (t0.plusHours(i), v)).toDF("ts", "value")
  }

  test("compactIfNeeded: only buckets over the file threshold rewrite") {
    val dir = tmpDir("vstore")
    val st = new VersionedStore(spark, dir)
    // 4 versioned appends to one prm -> 4+ files in its bucket; a second
    // prm (different bucket for the default 64 buckets) gets 1 append
    for (i <- 0 until 4)
      st.setLc("hot_prm", 1, series("2024-01-01T00:00", 3, i.toDouble), versioning = true)
    st.setLc("cold_prm", 1, series("2024-01-01T00:00", 3, 9.0), versioning = true)
    val hotBucket = st.bucketOf("hot_prm")
    val coldBucket = st.bucketOf("cold_prm")
    assert(hotBucket !== coldBucket, "test prms landed in one bucket; pick different names")
    def files(b: Int) = liveFiles(dir)(s"bucket=$b").length
    // one append can emit several files (one per write task), so size the
    // threshold off the single-append bucket: cold sits AT it, hot (4
    // appends) is far over
    val coldBefore = files(coldBucket)
    val hotRows = st.getLc("hot_prm", 1).collect()
    val compacted = st.compactIfNeeded(maxFilesPerBucket = coldBefore)
    assert(compacted === Seq(hotBucket))
    assert(files(hotBucket) === 1)
    assert(files(coldBucket) === coldBefore)
    // same combined read after compaction (newest version still wins)
    assert(st.getLc("hot_prm", 1).collect().map(_.getAs[Double]("value")).toSeq
      === hotRows.map(_.getAs[Double]("value")).toSeq)
    assert(st.count(1) === 5)
    assert(st.compactIfNeeded(maxFilesPerBucket = coldBefore) === Seq.empty)
  }

  test("versioned writes increment; combined read: newest wins, older fills") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    st.setLc("prm1", 1, series("2024-01-01T00:00", 5, 1.0), versioning = true)
    st.setLc("prm1", 1, series("2024-01-01T03:00", 5, 2.0), versioning = true)
    val out = st.getLc("prm1", 1).collect()
    assert(out.length === 8)
    assert(out.map(_.getAs[Double]("value")).toSeq === Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0))
    assert(st.count(1) === 2)
  }

  test("exportBlobs: one feather-lz4 blob per version entry; decodeBlobs inverts it") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    st.setLc("prm_a", 1, series("2024-01-01T00:00", 6, 1.5), versioning = true)
    st.setLc("prm_a", 1, series("2024-01-01T02:00", 4, 2.5), versioning = true)
    st.setLc("prm_b", 1, series("2024-03-01T00:00", 3, -9.0))
    st.setLc("prm_c", 2, series("2024-04-01T00:00", 2, 7.0)) // other client: excluded
    val blobs = st.exportBlobs(1)
    val metas = blobs.select("prm", "version").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(metas === Set(("prm_a", 0), ("prm_a", 1), ("prm_b", 0)))
    // the blob IS the reference's stored form: feather magic + series name = prm
    val row = blobs.filter(col("prm") === "prm_b").collect()(0)
    val data = row.getAs[Array[Byte]]("data")
    assert(new String(data.take(6), "ASCII") === "ARROW1")
    val dec = Seq(Tuple1(data)).toDF("b")
      .select(graft.functions.FeatherBlob.feather_decode(col("b")).as("d"))
      .select(col("d.name")).collect()(0).getString(0)
    assert(dec === "prm_b")
    // decodeBlobs(exportBlobs) == stored long form
    val back = st.decodeBlobs(blobs)
      .orderBy("prm", "version", "ts").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getAs[java.time.LocalDateTime]("ts"), r.getDouble(4)))
    val orig = st.load().filter(col("client_id") === 1)
      .select("prm", "client_id", "version", "ts", "value")
      .orderBy("prm", "version", "ts").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getAs[java.time.LocalDateTime]("ts"), r.getDouble(4)))
    assert(back.toSeq === orig.toSeq)
  }

  test("exportBlobs/decodeBlobs carry extraSchema attributes; prm-list export prunes buckets") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val st = new VersionedStore(spark, tmpDir("vstore"),
      extraSchema = StructType(Seq(StructField("region", StringType))))
    // same (prm, version) twice, distinguished only by the extra key
    st.setLc("p", 1, series("2024-01-01T00:00", 3, 1.0),
      attributesToSet = Map("region" -> "fr"))
    st.setLc("p", 1, series("2024-01-01T00:00", 3, 2.0),
      attributesToSet = Map("region" -> "de"))
    val blobs = st.exportBlobs(1, prms = Some(Seq("p")))
    assert(blobs.count() === 2)
    val back = st.decodeBlobs(blobs)
    assert(back.columns.contains("region"), "extra keys must survive decode")
    val byRegion = back.groupBy("region").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRegion === Map("fr" -> 3L, "de" -> 3L))
    // bucket pruning: the prm filter must carry the bucket predicate
    val p = blobs.queryExecution.optimizedPlan.toString
    assert(p.contains("bucket"), s"expected bucket pruning in plan\n${p.take(500)}")
  }

  test("delay slice cuts each version's start before combining") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    // reference tests_slice_with_delay.py: v0 from Jan 1 (value 1), v1 from Jan 2 (value 2)
    st.setLc("p", 1, series("2024-01-01T00:00", 48, 1.0), versioning = true)
    st.setLc("p", 1, series("2024-01-02T00:00", 24, 2.0), versioning = true)
    val out = st.getLc("p", 1, delaySecs = Some(6 * 3600L)).collect()
    // v1 covers Jan2 06:00+, v0 covers Jan1 06:00..Jan2 23:00 at priority 2
    assert(out.head.getAs[java.time.LocalDateTime]("ts") === ldt("2024-01-01T06:00"))
    val atJan2 = out.filter(_.getAs[java.time.LocalDateTime]("ts") == ldt("2024-01-02T06:00"))
    assert(atJan2.head.getAs[Double]("value") === 2.0)
    val atJan2Early = out.filter(_.getAs[java.time.LocalDateTime]("ts") == ldt("2024-01-02T03:00"))
    assert(atJan2Early.head.getAs[Double]("value") === 1.0) // v1's first 6h cut → v0 fills
  }

  test("non-versioned upsert rewrites; clear by version") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    st.setLc("p", 1, series("2024-01-01T00:00", 3, 1.0))
    st.setLc("p", 1, series("2024-01-01T00:00", 3, 9.0)) // upsert replaces
    assert(st.getLc("p", 1).collect().map(_.getAs[Double]("value")).toSeq === Seq(9.0, 9.0, 9.0))
    st.clear(1, prms = Some(Seq("p")))
    assert(st.getLc("p", 1).collect().isEmpty)
  }

  test("absentPrms = requested minus stored (anti-join)") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    st.setLc("p1", 1, series("2024-01-01T00:00", 2, 1.0))
    assert(st.absentPrms(Seq("p1", "p2"), 1).collect().map(_.getString(0)).toSeq === Seq("p2"))
  }

  test("all-null series skipped") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    val nulls = Seq((java.time.LocalDateTime.parse("2024-01-01T00:00"), Option.empty[Double]))
      .toDF("ts", "value")
    assert(!st.setLc("p", 1, nulls))
  }

  // Bucket-partitioned writes: a single-series upsert rewrites only the
  // prm's own bucket partition — the other bucket's files are bit-for-bit
  // untouched (no whole-store rewrite).
  test("single-series upsert rewrites only the prm's bucket partition") {
    val dir = tmpDir("vstore")
    val st = new VersionedStore(spark, dir, numBuckets = 8)
    val pa = "p1"
    val pb = (2 to 100).map("p" + _).find(p => st.bucketOf(p) != st.bucketOf(pa)).get
    st.setLc(pa, 1, series("2024-01-01T00:00", 3, 1.0))
    st.setLc(pb, 1, series("2024-01-01T00:00", 3, 2.0))
    def pbFiles = liveFiles(dir)(s"bucket=${st.bucketOf(pb)}").toSet
    val before = pbFiles
    st.setLc(pa, 1, series("2024-01-01T00:00", 3, 9.0)) // upsert → rewrite pa's bucket only
    assert(pbFiles === before)
    assert(st.getLc(pa, 1).collect().map(_.getAs[Double]("value")).toSeq === Seq(9.0, 9.0, 9.0))
    assert(st.getLc(pb, 1).collect().map(_.getAs[Double]("value")).toSeq === Seq(2.0, 2.0, 2.0))
    // clear by prm list also stays inside the bucket
    st.clear(1, prms = Some(Seq(pa)))
    assert(pbFiles === before)
    assert(st.getLc(pa, 1).collect().isEmpty)
  }

  // Reference set_many_lc + find_holes (hostore.py:372-394, 162-216).
  test("setManyLc bulk writes; findHoles: per-prm holes, absent prm = whole range") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    val outcomes = st.setManyLc(Map(
      "p1" -> series("2024-01-01T02:00", 8, 1.0), // covers 02:00-09:00
      "p2" -> Seq((java.time.LocalDateTime.parse("2024-01-01T00:00"), Option.empty[Double]))
        .toDF("ts", "value")), 1) // all-null → skipped
    assert(outcomes === Map("p1" -> true, "p2" -> false))
    val hs = st.findHoles(1,
        java.time.LocalDateTime.parse("2024-01-01T00:00"),
        java.time.LocalDateTime.parse("2024-01-01T09:00"), 3600L,
        prms = Some(Seq("p1", "p2")))
      .collect().map(r => (r.getString(0),
        r.getAs[java.time.LocalDateTime]("hole_start"),
        r.getAs[java.time.LocalDateTime]("hole_end"))).toSet
    def t(s: String) = java.time.LocalDateTime.parse(s)
    assert(hs === Set(
      ("p1", t("2024-01-01T00:00"), t("2024-01-01T01:00")), // leading missing slots
      ("p2", t("2024-01-01T00:00"), t("2024-01-01T09:00")))) // absent → whole range
  }

  // One write body: a batch is one probe and one commit whatever its size,
  // so its files all come from one write job.
  test("setManyLc of 1 and of 20 series: the same jobs, at most three, and one commit each") {
    val dir = tmpDir("vstore")
    val st = new VersionedStore(spark, dir, numBuckets = 8)
    val many = (1 to 20).map("p" + _)
    def batch(prms: Seq[String], v: Double) = prms.map(_ -> series("2024-01-01T00:00", 3, v)).toMap
    st.setManyLc(batch(many, 1.0), 1)
    val jobId = """part-\d+-([0-9a-f-]{36})""".r
    // jobs of `write`, and the write jobs of the live files it added
    def commits(write: => Any): (Int, Set[String]) = {
      val before = PartitionCommit.liveFiles(dir).toSet
      val jobs = jobsDuring(write)
      (jobs, (PartitionCommit.liveFiles(dir).toSet -- before).map(jobId.findFirstMatchIn(_).get.group(1)))
    }
    for (versioning <- Seq(false, true)) {
      val one = commits(st.setManyLc(batch(Seq("p1"), 2.0), 1, versioning))
      val twenty = commits(st.setManyLc(batch(many, 3.0), 1, versioning))
      assert(one._1 === twenty._1 && twenty._1 <= 3, s"versioning=$versioning: $one, $twenty")
      assert(one._2.size === 1 && twenty._2.size === 1, s"versioning=$versioning: $one, $twenty")
    }
    assert(st.getManyLc(many, 1).collect().map(_.getAs[Double]("value")).toSet === Set(3.0))
    assert(st.count(1) === 41) // p1: versions 0-2; every other prm: 0-1
    val setLc = Seq(
      jobsDuring(st.setLc("p1", 1, series("2024-01-01T00:00", 3, 4.0))),
      jobsDuring(st.setLc("p1", 1, series("2024-01-01T00:00", 3, 5.0), versioning = true)),
      jobsDuring(st.setLc("new", 1, series("2024-01-01T00:00", 3, 6.0))))
    assert(setLc.forall(_ <= 3), setLc)
  }

  test("a setManyLc batch whose last series fails at run time leaves the store unchanged") {
    val dir = tmpDir("vstore")
    val st = new VersionedStore(spark, dir, numBuckets = 8)
    val prms = (1 to 5).map("p" + _)
    st.setManyLc(prms.map(_ -> series("2024-01-01T00:00", 3, 1.0)).toMap, 1)
    val (rows, files) = (st.load().collect().toSet, liveFiles(dir))
    // the series a loop over the map reaches last: it writes every other one first
    val last = prms.map(_ -> 0).toMap.keys.last
    // a range source keeps the failure at run time (the optimizer would fold a local relation)
    val failing = spark.range(3).select(
      (lit(ldt("2024-01-01T00:00")) + make_dt_interval(lit(0), col("id").cast("int"))).cast(TimestampNTZType).as("ts"),
      when(col("id") === 2, raise_error(lit("injected failure"))).otherwise(lit(9.0)).as("value"))
    val batch = prms.map(p => p -> (if (p == last) failing else series("2024-01-01T00:00", 3, 9.0))).toMap
    val e = intercept[Exception](st.setManyLc(batch, 1, versioning = true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected failure")))
    assert(st.load().collect().toSet === rows)
    assert(liveFiles(dir) === files)
  }

  test("a versioned setManyLc gives each prm its own max version + 1 in its client's scope") {
    val st = new VersionedStore(spark, tmpDir("vstore"), numBuckets = 8)
    def put(prm: String, client: Int) = st.setLc(prm, client, series("2024-01-01T00:00", 2, 1.0), versioning = true)
    put("a", 1); put("a", 1); put("b", 1)
    put("b", 2); put("b", 2); put("b", 2) // another client's versions are out of scope
    st.setManyLc(Seq("a", "b", "c").map(_ -> series("2024-01-01T00:00", 2, 2.0)).toMap, 1, versioning = true)
    val versions = st.load().filter(col("client_id") === 1).select("prm", "version").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(versions === Set(("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1), ("c", 0)))
    assert(st.getManyLc(Seq("a", "b", "c"), 1).collect().map(_.getAs[Double]("value")).toSet === Set(2.0))
  }

  // Reference set_lc versionning_by + attributes_to_set (hostore.py:321-366):
  // extra subclass fields fill declared columns; version counters scope to
  // prm + the versionning_by subset; upsert matches update_or_create keys.
  test("setLc versioningBy + attributesToSet: scoped versions, attr-matched upsert") {
    val extra = StructType(Seq(StructField("kind", StringType)))
    val st = new VersionedStore(spark, tmpDir("vstore"), extraSchema = extra)
    def put(kind: String, v: Double) = st.setLc("p", 1, series("2024-01-01T00:00", 2, v),
      versioning = true, versioningBy = Seq("prm", "kind"),
      attributesToSet = Map("kind" -> kind))
    put("a", 1.0); put("a", 2.0) // kind=a versions 0, 1
    put("b", 9.0)                // kind=b starts at its own version 0
    val raw = st.getLc("p", 1, combinedVersions = false)
    assert(raw.columns.contains("kind"))
    val perKind = raw.select("kind", "version").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(perKind === Set(("a", 0), ("a", 1), ("b", 0)))
    // combined per (prm, kind): kind=a newest (2.0) wins, kind=b is 9.0
    val comb = st.getLc("p", 1, combinedBy = Seq("prm", "kind"))
    assert(comb.filter(col("kind") === "a").collect().map(_.getAs[Double]("value")).toSeq
      === Seq(2.0, 2.0))
    // non-versioned upsert matches on (prm, client, kind): only kind=a replaced
    st.setLc("p", 1, series("2024-01-01T00:00", 2, 7.0), attributesToSet = Map("kind" -> "a"))
    val after = st.getLc("p", 1, combinedBy = Seq("prm", "kind"))
    assert(after.filter(col("kind") === "a").collect().map(_.getAs[Double]("value")).toSeq
      === Seq(7.0, 7.0))
    assert(after.filter(col("kind") === "b").collect().map(_.getAs[Double]("value")).toSeq
      === Seq(9.0, 9.0))
    // unknown attribute refused; versioningBy must include prm
    assertThrows[IllegalArgumentException](
      st.setLc("p", 1, series("2024-01-01T00:00", 1, 1.0), attributesToSet = Map("nope" -> 1)))
    assertThrows[IllegalArgumentException](
      st.setLc("p", 1, series("2024-01-01T00:00", 1, 1.0), versioning = true,
        versioningBy = Seq("kind")))
  }

  // update_or_create(kind=None) matches IS NULL (hostore.py:354): a null
  // attribute upserts its own entry and is a distinct sibling of kind="x".
  test("setLc with a null attribute upserts one entry") {
    val st = new VersionedStore(spark, tmpDir("vstore"),
      extraSchema = StructType(Seq(StructField("kind", StringType))))
    val nullKind = Map[String, Any]("kind" -> null)
    st.setLc("p", 1, series("2024-01-01T00:00", 4, 1.0), attributesToSet = nullKind)
    st.setLc("p", 1, series("2024-01-01T00:00", 4, 2.0), attributesToSet = nullKind)
    assert(st.load().count() === 4)
    assert(st.getLc("p", 1).collect().map(_.getAs[Double]("value")).toSeq === Seq.fill(4)(2.0))
  }

  test("setLc upsert of one attribute value keeps the null-attribute sibling") {
    val st = new VersionedStore(spark, tmpDir("vstore"),
      extraSchema = StructType(Seq(StructField("kind", StringType))))
    st.setLc("p", 1, series("2024-01-01T00:00", 4, 1.0), attributesToSet = Map("kind" -> null))
    st.setLc("p", 1, series("2024-01-01T00:00", 4, 5.0), attributesToSet = Map("kind" -> "x"))
    st.setLc("p", 1, series("2024-01-01T00:00", 4, 6.0), attributesToSet = Map("kind" -> "x"))
    val byKind = st.load().groupBy("kind").agg(sum("value")).collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(byKind === Map(None -> 4.0, Some("x") -> 24.0))
  }

  // Reference find_groups (hostore.py:45-160): groups by merged missing
  // ranges + combined data return with empty prms popped.
  test("findGroups: boundary min_delta, interior gaps, absent/empty prms, data return") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    // range [00:00, 10:00] hourly, minDelta default = freq = 3600
    // p1: live 01:00..09:00 but missing 04:00-05:00 (interior gap);
    //     leading gap [00:00, 01:00] = 1h >= minDelta → kept;
    //     trailing gap [09:00, 10:00] kept.
    val p1pts = (Seq(1, 2, 3, 6, 7, 8, 9)).map(h =>
      (java.time.LocalDateTime.parse("2024-01-01T00:00").plusHours(h), 1.0))
    st.setLc("p1", 1, p1pts.toDF("ts", "value"))
    // p2: full coverage 00:00..10:00 → no missing ranges at all
    st.setLc("p2", 1, series("2024-01-01T00:00", 11, 2.0))
    // p3: data entirely OUTSIDE the range → popped from data, full range
    st.setLc("p3", 1, series("2025-06-01T00:00", 3, 3.0))
    val (groups, data) = st.findGroups(Seq("p1", "p2", "p3", "p4"), 1,
      java.time.LocalDateTime.parse("2024-01-01T00:00"),
      java.time.LocalDateTime.parse("2024-01-01T10:00"), 3600L)
    val g = groups.collect().map(r => (
      r.getAs[java.time.LocalDateTime]("hole_start"),
      r.getAs[java.time.LocalDateTime]("hole_end"),
      r.getAs[scala.collection.Seq[String]]("member_keys").toSeq)).toSet
    def t(s: String) = java.time.LocalDateTime.parse(s)
    assert(g === Set(
      (t("2024-01-01T00:00"), t("2024-01-01T10:00"), Seq("p3", "p4")), // absent/empty
      (t("2024-01-01T00:00"), t("2024-01-01T01:00"), Seq("p1")),       // leading
      (t("2024-01-01T04:00"), t("2024-01-01T05:00"), Seq("p1")),       // interior
      (t("2024-01-01T09:00"), t("2024-01-01T10:00"), Seq("p1"))))      // trailing
    // data: p3 (empty in range) and p4 (absent) popped
    assert(data.select("prm").distinct().collect().map(_.getString(0)).toSet === Set("p1", "p2"))
    // minDelta above the boundary gap length suppresses leading/trailing
    val (g2, _) = st.findGroups(Seq("p1"), 1,
      java.time.LocalDateTime.parse("2024-01-01T00:00"),
      java.time.LocalDateTime.parse("2024-01-01T10:00"), 3600L,
      minDeltaSecs = Some(2 * 3600L))
    val holes2 = g2.collect().map(r => (
      r.getAs[java.time.LocalDateTime]("hole_start"),
      r.getAs[java.time.LocalDateTime]("hole_end"))).toSet
    assert(holes2 === Set((t("2024-01-01T04:00"), t("2024-01-01T05:00"))))
  }

  // Reference get_lc option surface (hostore.py:218-268): version=,
  // combined_versions=False, custom_filters, order_by.
  test("get_lc knobs: version select / uncombined / custom filters / fold order") {
    val st = new VersionedStore(spark, tmpDir("vstore"))
    st.setLc("p", 1, series("2024-01-01T00:00", 3, 1.0), versioning = true) // v0: 00-02h
    st.setLc("p", 1, series("2024-01-01T01:00", 3, 2.0), versioning = true) // v1: 01-03h

    // version=N returns only that version's points
    val v0 = st.getLc("p", 1, version = Some(0)).collect()
    assert(v0.map(_.getAs[Double]("value")).toSeq === Seq(1.0, 1.0, 1.0))

    // combined_versions=False keeps entries apart, version column retained
    val raw = st.getLc("p", 1, combinedVersions = false)
    assert(raw.columns.contains("version"))
    assert(raw.count() === 6)

    // default (-version): newest wins → 00h:1, 01h:2, 02h:2, 03h:2
    assert(st.getLc("p", 1).collect().map(_.getAs[Double]("value")).toSeq
      === Seq(1.0, 2.0, 2.0, 2.0))

    // order_by=('version',): oldest wins → 00h:1, 01h:1, 02h:1, 03h:2
    assert(st.getLc("p", 1, orderBy = Seq("version")).collect()
      .map(_.getAs[Double]("value")).toSeq === Seq(1.0, 1.0, 1.0, 2.0))

    // custom_filters with a Django __-lookup
    val hi = st.getLc("p", 1, customFilters = Map("version__gte" -> 1)).collect()
    assert(hi.map(_.getAs[Double]("value")).toSeq === Seq(2.0, 2.0, 2.0))
  }
}

class SyncSpec extends SparkSpec {
  import spark.implicits._

  private val keySchema = StructType(Seq(
    StructField("version", IntegerType), StructField("kind", StringType)))

  private def syncStore(): ChunkStore =
    new ChunkStore(spark, tmpDir("sync"), keySchema,
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis, syncEnabled = true))

  private def hourly(start: String, hours: Int, v: Double): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), v)).toDF("ts", "value")
  }

  private val a1 = Map[String, Any]("version" -> 0, "kind" -> "a")
  private val a2 = Map[String, Any]("version" -> 0, "kind" -> "b")
  private val t0 = ldt("2024-06-01T00:00")

  test("full pull mirrors server; incremental pull only moves fresh chunks; tombstones propagate") {
    val server = syncStore(); val client = syncStore()
    server.setTs(a1, hourly("2024-01-15T00:00", 24 * 40, 1.0), update = true, now = t0) // Jan+Feb
    server.setTs(a2, hourly("2024-01-01T00:00", 24, 2.0), update = true, now = t0)
    // initial pull: a1 spans Jan 15 + 40d → Jan+Feb chunks; a2 → Jan chunk
    val n1 = Sync.pull(client, server, pageSize = 2)
    assert(n1 === 3)
    assert(client.yieldManyTs().count() === server.yieldManyTs().count())
    // idempotent re-pull: gte semantics re-list the boundary rows, content unchanged
    val n2 = Sync.pull(client, server)
    assert(n2 === 3)
    assert(client.yieldManyTs().count() === server.yieldManyTs().count())
    // server-side update of one chunk → pull moves just it (plus boundary)
    server.setTs(a2, hourly("2024-01-01T00:00", 24, 9.0), update = true, now = t0.plusHours(5))
    Sync.pull(client, server)
    assert(client.getTs(a2).collect().map(_.getDouble(1)).forall(_ === 9.0))
    // tombstone propagation
    server.delete(Map("kind" -> "a"), keepTracking = true, now = t0.plusHours(6))
    Sync.pull(client, server)
    assert(client.getTs(a1).collect().isEmpty)
    assert(client.load().filter(col("is_deleted")).count() === 2)
  }

  // An upsert merges only the (series, chunk) pairs it has a point for: a
  // deleted series' tombstone in a chunk partition the batch rewrites, but
  // gives that series no point in, must survive, or no client hears of the
  // delete.
  test("an upsert keeps the tombstone of a deleted series' untouched chunk, and the pull carries it") {
    val server = syncStore(); val client = syncStore()
    val (oct, nov) = (ldt("2024-10-05T00:00"), ldt("2024-11-05T00:00"))
    server.upsertManyTs(Seq((0, "X", oct, 1.0), (0, "Y", oct, 2.0)).toDF("version", "kind", "ts", "value"), t0)
    Sync.pull(client, server)
    server.delete(Map("kind" -> "X"), now = t0.plusHours(1))
    server.upsertManyTs(Seq((0, "X", nov, 3.0), (0, "Y", oct, 2.5)).toDF("version", "kind", "ts", "value"),
      t0.plusHours(2))
    Sync.pull(client, server)
    def live(st: ChunkStore): Set[(String, java.time.LocalDateTime, Double)] =
      st.yieldManyTs().select("kind", "ts", "value").as[(String, java.time.LocalDateTime, Double)].collect().toSet
    assert(live(server) === Set(("X", nov, 3.0), ("Y", oct, 2.5)))
    assert(live(client) === live(server))
  }

  test("updates listing is gte-since, ordered, metadata-shaped") {
    val server = syncStore()
    server.setTs(a1, hourly("2024-01-01T00:00", 24, 1.0), update = true, now = t0)
    server.setTs(a2, hourly("2024-01-01T00:00", 24, 1.0), update = true, now = t0.plusHours(1))
    assert(Sync.updates(server, t0).count() === 2)              // gte includes boundary
    assert(Sync.updates(server, t0.plusHours(1)).count() === 1)
    val cols = Sync.updates(server, t0).columns.toSeq
    assert(cols === Seq("version", "kind", "chunk_index", "updated_at", "is_deleted"))
  }

  test("import_chunks validates before any write (atomic batch)") {
    val client = syncStore()
    val batch = Seq((0, "a", null.asInstanceOf[Integer], ldt("2024-01-01T00:00"), 1.0, false, t0))
      .toDF("version", "kind", "chunk_index", "ts", "value", "is_deleted", "updated_at")
    assertThrows[IllegalArgumentException](Sync.importChunks(client, batch))
    assert(client.load().count() === 0) // nothing written
  }

  test("plain insert / set_many / hard delete forbidden on sync-enabled store") {
    val st = syncStore()
    assertThrows[IllegalStateException](st.setTs(a1, hourly("2024-01-01T00:00", 3, 1.0), now = t0))
    assertThrows[IllegalStateException](
      st.setManyTs(Seq((0, "a", ldt("2024-01-01T00:00"), 1.0)).toDF("version", "kind", "ts", "value")))
  }

  // Crash-resume (reference test_chunk_timeserie_sync.py:223-261): pages
  // already imported persist; a fresh pull starts from the local
  // high-water mark and completes the mirror (gte re-fetches at most the
  // boundary row).
  test("crash between pages: partial import + fresh pull = full mirror") {
    val server = syncStore(); val client = syncStore()
    // three chunks with DISTINCT updated_at so resume has a real watermark
    server.setTs(a1, hourly("2024-01-01T00:00", 24, 1.0), update = true, now = t0)
    server.setTs(a2, hourly("2024-02-01T00:00", 24, 2.0), update = true, now = t0.plusHours(1))
    server.setTs(Map("version" -> 0, "kind" -> "c"),
      hourly("2024-03-01T00:00", 24, 3.0), update = true, now = t0.plusHours(2))
    // simulate a crash after one page: import only the first listed chunk
    val firstPage = Sync.updates(server, client.lastUpdatedAt()).limit(1).collect().toSeq
    Sync.importChunks(client, Sync.exportChunks(server, firstPage))
    assert(client.load().select("kind", "chunk_index").distinct().count() === 1)
    // resume: fresh pull completes the mirror; the already-imported chunk
    // is at the since-boundary so at most it re-transfers (idempotent)
    Sync.pull(client, server, pageSize = 1)
    assert(client.yieldManyTs().count() === server.yieldManyTs().count())
    assert(client.yieldManyTs().except(server.yieldManyTs()).isEmpty)
  }

  test("page size never changes the outcome (1 / 2 / 200 parity)") {
    val server = syncStore()
    server.setTs(a1, hourly("2024-01-15T00:00", 24 * 40, 1.0), update = true, now = t0) // 2 chunks
    server.setTs(a2, hourly("2024-01-01T00:00", 24, 2.0), update = true, now = t0)
    for (ps <- Seq(1, 2, 200)) {
      val client = syncStore()
      assert(Sync.pull(client, server, pageSize = ps) === 3)
      assert(client.yieldManyTs().count() === server.yieldManyTs().count())
      assert(client.yieldManyTs().except(server.yieldManyTs()).isEmpty)
    }
  }

  // The updates listing (a full-server-store aggregation) must run ONCE per
  // pull, not once per page — pages slice the staged (localCheckpoint'ed)
  // frame. Counted by executed-plan signature: only the listing aggregates
  // max(updated_at) over the server path (exportChunks' distinct has no
  // max; client-side aggregations scan the client path).
  test("pull stages the updates listing once (no per-page re-aggregation)") {
    val server = syncStore(); val client = syncStore()
    server.setTs(a1, hourly("2024-01-15T00:00", 24 * 40, 1.0), update = true, now = t0) // Jan+Feb
    server.setTs(a2, hourly("2024-01-01T00:00", 24, 2.0), update = true, now = t0)
    val serverPath = server.path
    val listingAggs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("max(updated_at") && plan.contains(serverPath))
          listingAggs.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Sync.pull(client, server, pageSize = 1) === 3) // 3 chunks → 3 pages
      // the listener bus is async — wait for quiescence
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && listingAggs.get() != last) {
        last = listingAggs.get(); Thread.sleep(500)
      }
      assert(listingAggs.get() === 1)
      assert(client.yieldManyTs().count() === server.yieldManyTs().count())
    } finally spark.listenerManager.unregister(listener)
  }
}
