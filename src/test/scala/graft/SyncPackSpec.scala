package graft

import graft.store.{ChunkStore, StoreConfig}
import graft.sync.Sync
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `/pack/` wire envelope parity (reference sync ViewSet,
  * ts_sync.py:119-144): base64 lz4-frame blob + attrs + meta JSON per
  * chunk, dense-grid values with NaN holes, tombstones as empty
  * payloads — and the full wire round-trip driving a client store to
  * the server's state through nothing but envelope JSON strings.
  */
class SyncPackSpec extends SparkSpec {
  import spark.implicits._

  private val keySchema = StructType(Seq(
    StructField("version", IntegerType), StructField("kind", StringType)))

  private def newStore(): ChunkStore =
    new ChunkStore(spark, tmpDir("pack"), keySchema,
      StoreConfig(freq = "1h", tz = "UTC", syncEnabled = true))

  private def hourly(start: String, hours: Int, f: Int => Option[Double]): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), f(i))).toDF("ts", "value")
  }

  private val now0 = ldt("2024-06-01T00:00")

  private def allSpecs(st: ChunkStore): Seq[Row] =
    st.load().select((st.keys.map(col) :+ col("chunk_index")): _*).distinct().collect().toSeq

  test("pack -> unpack is the identity on live rows (holes travel as NaN grid positions)") {
    val st = newStore()
    // interior holes at i % 5 == 2 → absent rows in the store, NaN on the wire
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-30T00:00", 24 * 4, i => if (i % 5 == 2) None else Some(i.toDouble)), update = true, now = now0)
    st.setTs(Map("version" -> 1, "kind" -> "b"),
      hourly("2024-02-10T00:00", 48, i => Some(i * 0.5)), update = true, now = now0)
    val wire = Sync.packEnvelope(st, allSpecs(st)).select("envelope_json")
    val back = Sync.unpackEnvelope(st, wire)
    val key = Seq("version", "kind", "chunk_index", "ts")
    val orig = st.load().filter(!col("is_deleted"))
      .select((key.map(col) :+ col("value")): _*).orderBy(key.map(col): _*).collect()
    val got = back.filter(!col("is_deleted"))
      .select((key.map(col) :+ col("value")): _*).orderBy(key.map(col): _*).collect()
    assert(got.length === orig.length)
    orig.zip(got).foreach { case (a, b) => assert(a === b) }
  }

  test("envelope JSON carries the reference wire shape; blob is base64 LZ4-frame") {
    val st = newStore()
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 5, i => Some(i + 0.25)), update = true, now = now0)
    val env = Sync.packEnvelope(st, allSpecs(st)).select("envelope_json").collect()(0).getString(0)
    // parse with Spark's own JSON reader to assert structure
    val parsed = Seq(env).toDF("j").select(
      get_json_object(col("j"), "$.blob").as("blob"),
      get_json_object(col("j"), "$.attrs.version").as("v"),
      get_json_object(col("j"), "$.attrs.kind").as("k"),
      get_json_object(col("j"), "$.attrs.chunk_index").as("ci"),
      get_json_object(col("j"), "$.meta.dtype").as("dtype"),
      get_json_object(col("j"), "$.meta.start_ts").as("start_ts"),
      get_json_object(col("j"), "$.meta.is_deleted").as("del"),
      get_json_object(col("j"), "$.meta.updated_at").as("upd")).collect()(0)
    assert(parsed.getString(1) === "0" && parsed.getString(2) === "a")
    assert(parsed.getString(3) === (2024 * 12 + 0).toString)
    assert(parsed.getString(4) === "float64")
    assert(parsed.getString(5) === "2024-01-01T00:00:00.000000")
    assert(parsed.getString(6) === "false" && parsed.getString(7) != null)
    val blob = java.util.Base64.getDecoder.decode(parsed.getString(0))
    // LZ4 frame magic 0x184D2204 LE — what python lz4.frame reads
    assert(blob.take(4).toSeq === Seq(0x04, 0x22, 0x4d, 0x18).map(_.toByte))
    // 5 hourly values → 40 raw bytes once decompressed
    val vals = Seq(Tuple1(blob)).toDF("b")
      .select(graft.functions.Lz4Blob.chunk_values(col("b"))).collect()(0).getSeq[Double](0)
    assert(vals === Seq(0.25, 1.25, 2.25, 3.25, 4.25))
  }

  test("tombstoned chunk packs an empty payload and unpacks to a tombstone row") {
    val st = newStore()
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 24, i => Some(1.0)), update = true, now = now0)           // Jan
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-02-01T00:00", 24, i => Some(2.0)), replace = true,
      now = now0.plusHours(1))                                              // Jan → tombstone
    val wire = Sync.packEnvelope(st, allSpecs(st))
    val tomb = wire.filter(col("chunk_index") === 2024 * 12)
      .select("envelope_json").collect()(0).getString(0)
    val blob = java.util.Base64.getDecoder.decode(
      Seq(tomb).toDF("j").select(get_json_object(col("j"), "$.blob")).collect()(0).getString(0))
    val empty = Seq(Tuple1(blob)).toDF("b")
      .select(graft.functions.Lz4Blob.chunk_values(col("b"))).collect()(0).getSeq[Double](0)
    assert(empty.isEmpty, "tombstone payload decompresses to zero values")
    val back = Sync.unpackEnvelope(st, wire.select("envelope_json"))
    val tombRows = back.filter(col("is_deleted")).collect()
    assert(tombRows.length === 1)
    assert(tombRows(0).getAs[Any]("ts") === null && tombRows(0).getAs[Any]("value") === null)
  }

  test("unpack parses DRF-shaped timestamps: fraction-less tz-suffixed and short fractions") {
    // a reference (DRF/pandas isoformat) server omits the fraction when
    // microseconds are zero — typical for chunk-boundary start_ts — and
    // suffixes aware datetimes with Z/+00:00. The ADVICE r15 failure
    // mode: a strict 6-digit pattern silently nulled __start/updated_at
    // on exactly those values.
    val st = newStore()
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-30T00:00", 48, i => Some(i.toDouble)), update = true, now = now0)
    val wire = Sync.packEnvelope(st, allSpecs(st)).select("envelope_json")
    val baseline = Sync.unpackEnvelope(st, wire)
      .select("version", "kind", "chunk_index", "ts", "value", "updated_at")
      .orderBy("chunk_index", "ts").collect()
    assert(baseline.nonEmpty && baseline.forall(r => r.getAs[Any]("updated_at") != null))
    // our own wire always writes .000000-at-zero-micros — rewrite both
    // meta timestamps into the DRF spellings and re-unpack
    def rewritten(repl: String): DataFrame =
      wire.select(regexp_replace(col("envelope_json"), "\\.000000\"", repl + "\"")
        .as("envelope_json"))
    for (repl <- Seq("Z", "+00:00", ".000Z", ".000+00:00")) {
      val got = Sync.unpackEnvelope(st, rewritten(repl))
        .select("version", "kind", "chunk_index", "ts", "value", "updated_at")
        .orderBy("chunk_index", "ts").collect()
      assert(got.sameElements(baseline), s"spelling '$repl' changed the unpacked rows")
    }
  }

  test("off-grid points fail the pack job instead of vanishing from the wire") {
    val st = newStore()
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    // 00:00 and 00:30 into a 1h-freq store: the blob grid cannot hold 00:30
    val offGrid = Seq((t0, Some(1.0)), (t0.plusMinutes(30), Some(2.0)))
      .toDF("ts", "value")
    st.setTs(Map("version" -> 0, "kind" -> "a"), offGrid, update = true, now = now0)
    val ex = intercept[Exception] {
      Sync.packEnvelope(st, allSpecs(st)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("off the")), s"got: ${messages(ex)}")
  }

  test("full wire sync: server -> envelopes -> importChunks drives client to server state") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-30T00:00", 24 * 3, i => if (i % 7 == 3) None else Some(i.toDouble)), update = true, now = now0)
    server.setTs(Map("version" -> 2, "kind" -> "z"),
      hourly("2024-03-01T00:00", 12, i => Some(-i.toDouble)), update = true, now = now0)
    val wire = Sync.packEnvelope(server, allSpecs(server)).select("envelope_json")
    // the wire frame is plain JSON strings — nothing else crosses
    Sync.importChunks(client, Sync.unpackEnvelope(client, wire))
    val cols = Seq("version", "kind", "chunk_index", "ts", "value")
    def live(st: ChunkStore) = st.load().filter(!col("is_deleted"))
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect()
    val s = live(server)
    val c = live(client)
    assert(c.length === s.length && c.sameElements(s))
  }

  test("envelope_json is byte-identical to the pinned wire bytes (mixed live/tombstone)") {
    val st = newStore()
    WireFixture.write(st, now0)
    val got = Sync.packEnvelope(st, allSpecs(st)).orderBy("version", "kind", "chunk_index")
      .select("envelope_json").collect().map(_.getString(0)).toSeq
    assert(got === WireFixture.envelopes)
  }

  test("a 2,976-point month with gaps round-trips through pack -> unpack") {
    val st = new ChunkStore(spark, tmpDir("pack"), keySchema,
      StoreConfig(freq = "15min", tz = "UTC", syncEnabled = true))
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    val month = (0 until 2976).map(i => (t0.plusMinutes(15L * i),
      if (i != 0 && i != 2975 && (i % 97 < 13 || i % 41 == 7)) None else Some(i * 0.125)))
      .toDF("ts", "value")
    st.setTs(Map("version" -> 0, "kind" -> "m"), month, update = true, now = now0)
    val wire = Sync.packEnvelope(st, allSpecs(st)).select("envelope_json")
    val blob = wire.select(unbase64(get_json_object(col("envelope_json"), "$.blob")).as("b"))
      .select(graft.functions.Lz4Blob.chunk_values(col("b"))).collect()(0).getSeq[Double](0)
    assert(blob.length === 2976)
    val stored = st.load().count()
    assert(blob.count(!_.isNaN) === stored && stored < 2976)
    val cols = Seq("version", "kind", "chunk_index", "ts", "value", "is_deleted", "updated_at")
    def rows(d: DataFrame) = d.select(cols.map(col): _*).orderBy("ts").collect().toSeq
    assert(rows(Sync.unpackEnvelope(st, wire)) === rows(st.load()))
  }

  test("the /pack/ scan prunes to the named chunk partitions") {
    val st = newStore()
    WireFixture.write(st, now0)
    val feb = allSpecs(st).filter(_.getInt(2) == 2024 * 12 + 1)
    val packed = Sync.packEnvelope(st, feb)
    val scans = packed.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.partitionFilters.exists(_.references.exists(_.name == "chunk_index")),
      s"no chunk_index partition filter: ${s.partitionFilters}"))
    assert(packed.count() === 2)
  }
}

/** A small store mixing a tombstone chunk, a live chunk with a hole and a
  * series spanning two chunks, with the `/pack/` envelopes and `/updates/`
  * pages the wire carries for it — pinned byte for byte, as the
  * map-and-lookup grid fill produced them before the one-pass scatter.
  */
object WireFixture {
  def write(st: ChunkStore, now0: java.time.LocalDateTime): Unit = {
    val spark = st.spark
    import spark.implicits._
    def hourly(start: String, hours: Int, f: Int => Option[Double]): DataFrame = {
      val t0 = java.time.LocalDateTime.parse(start)
      (0 until hours).map(i => (t0.plusHours(i), f(i))).toDF("ts", "value")
    }
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-10T00:00", 6, i => Some(i + 0.5)), update = true, now = now0)
    st.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-02-03T00:00", 5, i => if (i == 2) None else Some(i * 2.0)), replace = true,
      now = now0.plusHours(1))
    st.setTs(Map("version" -> 1, "kind" -> "b"),
      hourly("2024-01-31T20:00", 8, i => if (i % 3 == 1) None else Some(-i * 0.25)), update = true,
      now = now0.plusHours(2))
  }

  /** `envelope_json` per chunk, in (version, kind, chunk_index) order. */
  val envelopes: Seq[String] = Seq(
    """{"blob":"BCJNGGBwcwAAAAA=","attrs":{"version":0,"kind":"a","chunk_index":24288},"meta":{"dtype":"float64","is_deleted":true,"updated_at":"2024-06-01T01:00:00.000000"}}""",
    """{"blob":"BCJNGGBwcxgAAAAaAAEAEkAPACL4fwgAoBhAAAAAAAAAIEAAAAAA","attrs":{"version":0,"kind":"a","chunk_index":24289},"meta":{"dtype":"float64","start_ts":"2024-02-03T00:00:00.000000","is_deleted":false,"updated_at":"2024-06-01T01:00:00.000000"}}""",
    """{"blob":"BCJNGGBwcxQAAAAZAAEAIvh/DwCg4L8AAAAAAADovwAAAAA=","attrs":{"version":1,"kind":"b","chunk_index":24288},"meta":{"dtype":"float64","start_ts":"2024-01-31T20:00:00.000000","is_deleted":false,"updated_at":"2024-06-01T02:00:00.000000"}}""",
    """{"blob":"BCJNGGBwcw8AAAARAAEAoPS/AAAAAAAA+L8AAAAA","attrs":{"version":1,"kind":"b","chunk_index":24289},"meta":{"dtype":"float64","start_ts":"2024-02-01T01:00:00.000000","is_deleted":false,"updated_at":"2024-06-01T02:00:00.000000"}}""")

  /** `/updates/` bodies (since 2000-01-01) by `(limit, offset)`. */
  val updates: Map[(Int, Int), String] = Map(
    (2, 0) -> """{"count":4,"next":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=2&offset=2","previous":null,"results":[{"attrs":{"version":0,"kind":"a"},"chunk_index":24288,"dtype":null,"start_ts":null,"updated_at":"2024-06-01T01:00:00.000000","is_deleted":true},{"attrs":{"version":0,"kind":"a"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-03T00:00:00.000000","updated_at":"2024-06-01T01:00:00.000000","is_deleted":false}]}""",
    (2, 2) -> """{"count":4,"next":null,"previous":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=2&offset=0","results":[{"attrs":{"version":1,"kind":"b"},"chunk_index":24288,"dtype":"float64","start_ts":"2024-01-31T20:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false},{"attrs":{"version":1,"kind":"b"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-01T01:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false}]}""",
    (3, 0) -> """{"count":4,"next":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=3&offset=3","previous":null,"results":[{"attrs":{"version":0,"kind":"a"},"chunk_index":24288,"dtype":null,"start_ts":null,"updated_at":"2024-06-01T01:00:00.000000","is_deleted":true},{"attrs":{"version":0,"kind":"a"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-03T00:00:00.000000","updated_at":"2024-06-01T01:00:00.000000","is_deleted":false},{"attrs":{"version":1,"kind":"b"},"chunk_index":24288,"dtype":"float64","start_ts":"2024-01-31T20:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false}]}""",
    (3, 3) -> """{"count":4,"next":null,"previous":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=3&offset=0","results":[{"attrs":{"version":1,"kind":"b"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-01T01:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false}]}""",
    (2, 4) -> """{"count":4,"next":null,"previous":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=2&offset=2","results":[]}""",
    (2, 9) -> """{"count":4,"next":null,"previous":"/ts/updates/?since=2000-01-01T00%3A00%3A00.000000&limit=2&offset=7","results":[]}""",
    (9, 0) -> """{"count":4,"next":null,"previous":null,"results":[{"attrs":{"version":0,"kind":"a"},"chunk_index":24288,"dtype":null,"start_ts":null,"updated_at":"2024-06-01T01:00:00.000000","is_deleted":true},{"attrs":{"version":0,"kind":"a"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-03T00:00:00.000000","updated_at":"2024-06-01T01:00:00.000000","is_deleted":false},{"attrs":{"version":1,"kind":"b"},"chunk_index":24288,"dtype":"float64","start_ts":"2024-01-31T20:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false},{"attrs":{"version":1,"kind":"b"},"chunk_index":24289,"dtype":"float64","start_ts":"2024-02-01T01:00:00.000000","updated_at":"2024-06-01T02:00:00.000000","is_deleted":false}]}""")
}
