package graft

import graft.store._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** TimeseriesStore facade — the non-chunked store's error contract and
  * lifecycle, mirroring the reference scenario matrix
  * (hostore/tests/tests_timeseries_store.py:54-176).
  */
class TimeseriesStoreSpec extends SparkSpec {
  import spark.implicits._

  private val keySchema = StructType(Seq(
    StructField("year", IntegerType), StructField("kind", StringType)))

  private def newStore(): TimeseriesStore =
    new TimeseriesStore(spark, tmpDir("tstore"), keySchema)

  private def hourly(start: String, hours: Int, f: Int => Option[Double]): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), f(i))).toDF("ts", "value")
  }

  private val a2020 = Map[String, Any]("year" -> 2020, "kind" -> "a")
  private val b2020 = Map[String, Any]("year" -> 2020, "kind" -> "b")
  private val a2024 = Map[String, Any]("year" -> 2024, "kind" -> "a")

  test("set + get roundtrip; partial filters list multiple series") {
    val st = newStore()
    assert(st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(i + 1.0))))
    assert(st.setTs(b2020, hourly("2020-01-01T00:00", 3, i => Some((i + 1) * 10.0))))
    assert(st.setTs(a2024, hourly("2024-01-01T00:00", 3, i => Some((i + 1) * 11.0))))
    // flat get: exactly one match
    val flat = st.getTsFlat(a2020).collect()
    assert(flat.map(_.getDouble(1)).toSeq === Seq(1.0, 2.0, 3.0))
    // list get with partial attrs: both kind='a' series, keys attached
    val listed = st.getTs(Map("kind" -> "a")).collect()
    assert(listed.map(_.getInt(0)).distinct.toSeq === Seq(2020, 2024))
    assert(listed.length === 6)
    // django lookup filters prune too
    assert(st.getTs(Map("year__gte" -> 2024)).count() === 3)
  }

  test("flat get raises on zero and on multiple matches (ValueError parity)") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(1.0)))
    st.setTs(a2024, hourly("2024-01-01T00:00", 3, i => Some(2.0)))
    assertThrows[IllegalArgumentException](st.getTsFlat(Map("kind" -> "z")))
    assertThrows[IllegalArgumentException](st.getTsFlat(Map("kind" -> "a")))
    // non-flat get with no match: empty, no raise
    assert(st.getTs(Map("kind" -> "z")).count() === 0)
  }

  test("set over existing without update/replace raises; original preserved") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(1.0)))
    assertThrows[IllegalArgumentException](
      st.setTs(a2020, hourly("2020-01-01T03:00", 3, i => Some(9.0))))
    assert(st.getTsFlat(a2020).collect().map(_.getDouble(1)).toSeq === Seq(1.0, 1.0, 1.0))
  }

  test("update + replace mutually exclusive; unknown/missing/null keys raise") {
    val st = newStore()
    val s = hourly("2020-01-01T00:00", 3, i => Some(1.0))
    assertThrows[IllegalArgumentException](st.setTs(a2020, s, update = true, replace = true))
    assertThrows[IllegalArgumentException](st.setTs(Map("year" -> 2020), s))
    assertThrows[IllegalArgumentException](st.setTs(a2020 + ("bogus" -> 1), s))
    assertThrows[IllegalArgumentException](st.setTs(Map("year" -> 2020, "kind" -> null), s))
  }

  test("replace swaps the series wholesale") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(1.0)))
    st.setTs(a2020, hourly("2020-01-01T02:00", 4, i => Some(9.0)), replace = true)
    val back = st.getTsFlat(a2020).collect()
    assert(back.length === 4)
    assert(back.head.getAs[java.time.LocalDateTime]("ts") === ldt("2020-01-01T02:00"))
    assert(back.forall(_.getDouble(1) === 9.0))
  }

  test("update = new.combine_first(existing): new wins on overlap, old fills elsewhere") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 4, i => Some(1.0)))
    st.setTs(a2020, hourly("2020-01-01T02:00", 4, i => Some(9.0)), update = true)
    val back = st.getTsFlat(a2020).collect().map(_.getDouble(1)).toSeq
    assert(back === Seq(1.0, 1.0, 9.0, 9.0, 9.0, 9.0))
  }

  test("all-null / empty series skipped (returns false, nothing written)") {
    val st = newStore()
    assert(!st.setTs(a2020, hourly("2020-01-01T00:00", 3, _ => None)))
    assert(!st.exists(a2020))
    assert(!st.setTs(a2020, Seq.empty[(java.time.LocalDateTime, Double)].toDF("ts", "value")))
  }

  test("all-null update and replace over a stored series return false and keep its rows") {
    val st = newStore()
    assert(st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(i.toDouble))))
    val stored = st.getTsFlat(a2020).collect().toSeq
    val files = liveFiles(st.path)
    assert(!st.setTs(a2020, hourly("2020-01-01T01:00", 3, _ => None), update = true))
    assert(st.getTsFlat(a2020).collect().toSeq === stored)
    assert(liveFiles(st.path) === files, "an all-null update commits nothing")
    assert(!st.setTs(a2020, hourly("2020-01-01T01:00", 3, _ => None), replace = true))
    assert(st.getTsFlat(a2020).collect().toSeq === stored)
    assert(liveFiles(st.path) === files, "an all-null replace commits nothing")
  }

  test("replace and update find the series' directory whatever the key values' Scala types") {
    // an Int for a double key and a string for a timestamp key: the
    // directory is named from the key columns' own values
    val st = new TimeseriesStore(spark, tmpDir("tstore"), StructType(Seq(
      StructField("rate", DoubleType), StructField("since", TimestampNTZType), StructField("kind", StringType))))
    val k = Map[String, Any]("rate" -> 1, "since" -> "2020-01-01 00:00:00", "kind" -> "a/b c")
    assert(st.setTs(k, hourly("2020-01-01T00:00", 3, i => Some(i.toDouble))))
    assert(st.setTs(k, hourly("2020-01-01T00:00", 2, _ => Some(9.0)), replace = true))
    assert(st.getTs().collect().map(_.getDouble(4)).toSeq === Seq(9.0, 9.0))
    assert(st.setTs(k, hourly("2020-01-01T02:00", 1, _ => Some(7.0)), update = true))
    assert(st.getTs().collect().map(_.getDouble(4)).toSeq === Seq(9.0, 9.0, 7.0))
  }

  test("setManyTs lands many series in one write; read-back per series ordered") {
    val st = newStore()
    val many = (for {
      (year, kind) <- Seq((2020, "a"), (2020, "b"), (2024, "a"))
      i <- 0 until 3
    } yield (year, kind, ldt("2020-01-01T00:00").plusHours(i), (i + 1).toDouble))
      .toDF("year", "kind", "ts", "value")
    st.setManyTs(many)
    assert(st.getTs().count() === 9)
    assert(st.getTsFlat(b2020).collect().map(_.getDouble(1)).toSeq === Seq(1.0, 2.0, 3.0))
    // null/NaN rows dropped, a series reduced to nothing is absent
    st.clear(Map.empty)
    val withNulls = Seq(
      (2020, "a", ldt("2020-01-01T00:00"), Some(1.0)),
      (2020, "a", ldt("2020-01-01T01:00"), None),
      (2020, "b", ldt("2020-01-01T00:00"), None))
      .toDF("year", "kind", "ts", "value")
    st.setManyTs(withNulls)
    assert(st.getTsFlat(a2020).count() === 1)
    assert(!st.exists(b2020))
  }

  test("setManyTs coerces key column dtypes to the store schema") {
    val st = newStore()
    // LongType year column against the IntegerType key: must cast and
    // land (setTs parity), not stage mismatched parquet that dies on the
    // schema'd read-back
    val many = Seq(
      (2020L, "a", ldt("2020-01-01T00:00"), 1.0),
      (2020L, "a", ldt("2020-01-01T01:00"), 2.0))
      .toDF("year", "kind", "ts", "value")
    st.setManyTs(many)
    assert(st.getTsFlat(a2020).collect().map(_.getDouble(1)).toSeq === Seq(1.0, 2.0))
  }

  test("setManyTs refuses existing series (IntegrityError parity) and null keys") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 2, i => Some(1.0)))
    val batch = Seq(
      (2020, "a", ldt("2021-01-01T00:00"), 9.0),
      (2024, "a", ldt("2021-01-01T00:00"), 9.0))
      .toDF("year", "kind", "ts", "value")
    assertThrows[IllegalStateException](st.setManyTs(batch))
    // nothing from the refused batch leaked; original untouched
    assert(!st.exists(a2024))
    assert(st.getTsFlat(a2020).collect().map(_.getDouble(1)).toSeq === Seq(1.0, 1.0))
    val nullKey = Seq((2020, null: String, ldt("2021-01-01T00:00"), 1.0))
      .toDF("year", "kind", "ts", "value")
    assertThrows[IllegalArgumentException](st.setManyTs(nullKey))
    // a null-keyed row refuses the batch even when its VALUE is also
    // null/NaN — key validation runs before row normalization
    val nullKeyNanValue = Seq(
      (2024, "b", ldt("2021-01-01T00:00"), 1.0),
      (2020, null: String, ldt("2021-01-01T00:00"), Double.NaN))
      .toDF("year", "kind", "ts", "value")
    assertThrows[IllegalArgumentException](st.setManyTs(nullKeyNanValue))
    assert(!st.exists(Map("year" -> 2024, "kind" -> "b")))
  }

  test("setManyTs on a FRESH store refuses null keys via the in-plan guard") {
    // ADVICE r21: the existing null-key tests seed the store via setTs
    // first, exercising only the existing-store checkpoint path — this
    // one drives the fresh-store write whose refusal is the assert_true
    // guard fused into the write job (nothing staged before commit).
    val ldt = (s: String) => java.time.LocalDateTime.parse(s)
    val st = newStore()
    val nullKey = Seq(
      (2020, "a", ldt("2021-01-01T00:00"), 1.0),
      (2020, null: String, ldt("2021-01-01T00:00"), 2.0))
      .toDF("year", "kind", "ts", "value")
    val e = intercept[IllegalArgumentException](st.setManyTs(nullKey))
    assert(e.getMessage.contains("null key values are not allowed"))
    // the poisoned batch aborted before job commit: nothing written,
    // including the clean rows that shared the batch
    assert(st.getTs().count() === 0)
    // null-key + NaN-value parity: the guard rides BOTH projected
    // columns, so the refusal precedes row normalization dropping the row
    val nullKeyNan = Seq(
      (2024, "b", ldt("2021-01-01T00:00"), 1.0),
      (2020, null: String, ldt("2021-01-01T00:00"), Double.NaN))
      .toDF("year", "kind", "ts", "value")
    assertThrows[IllegalArgumentException](st.setManyTs(nullKeyNan))
    assert(st.getTs().count() === 0)
  }

  test("write job counts: fresh and existing setManyTs, setTs update and replace, clear") {
    val st = newStore()
    // parquet-backed batches, as a pipeline's are: a local Seq would let
    // the optimizer fold the normalization filter away before any job
    def batch(kind: String, v: Option[Double]) = {
      val dir = tmpDir("tstore-batch")
      Seq((2020, kind, ldt("2021-01-01T00:00"), v), (2020, kind, ldt("2021-01-01T01:00"), v))
        .toDF("year", "kind", "ts", "value").write.parquet(dir)
      spark.read.parquet(dir)
    }
    val (a, b, c) = (batch("a", Some(1.0)), batch("b", Some(2.0)), batch("c", None))
    val jobs = Seq(
      "setManyTs fresh" -> jobsDuring(st.setManyTs(a)),
      "setManyTs existing" -> jobsDuring(st.setManyTs(b)),
      "setManyTs existing, all null" -> jobsDuring(st.setManyTs(c)),
      "setTs update" -> jobsDuring(st.setTs(a2020, hourly("2021-01-01T01:00", 2, _ => Some(3.0)),
        update = true)),
      "setTs replace" -> jobsDuring(st.setTs(b2020, hourly("2021-01-01T00:00", 2, _ => Some(4.0)),
        replace = true)),
      "clear" -> jobsDuring(st.clear(Map("kind" -> "a")))).toMap
    // a probe only where an insert may clash, and an update is one merge
    assert(jobs === Map("setManyTs fresh" -> 2, "setManyTs existing" -> 3,
      "setManyTs existing, all null" -> 1, "setTs update" -> 2, "setTs replace" -> 2,
      "clear" -> 1))
    assert(!st.exists(Map("kind" -> "c")))
    assert(st.getTs().collect().map(r => (r.getString(1), r.getDouble(3))).toSeq ===
      Seq(("b", 4.0), ("b", 4.0)))
  }

  test("clear removes matching series only; partial + lookup filters work") {
    val st = newStore()
    st.setTs(a2020, hourly("2020-01-01T00:00", 3, i => Some(1.0)))
    st.setTs(b2020, hourly("2020-01-01T00:00", 3, i => Some(2.0)))
    st.setTs(a2024, hourly("2024-01-01T00:00", 3, i => Some(3.0)))
    st.clear(Map("kind" -> "a"))
    assert(st.getTs(Map("kind" -> "a")).count() === 0)
    assert(st.getTsFlat(b2020).count() === 3)
    // store stays writable after clear
    assert(st.setTs(a2020, hourly("2020-02-01T00:00", 2, i => Some(7.0))))
    assert(st.getTsFlat(a2020).count() === 2)
    // full clear (empty filters = everything), then write again
    st.clear(Map.empty)
    assert(st.getTs().count() === 0)
    assert(st.setTs(b2020, hourly("2020-03-01T00:00", 2, i => Some(4.0))))
    assert(st.getTsFlat(b2020).collect().map(_.getDouble(1)).toSeq === Seq(4.0, 4.0))
  }
}
