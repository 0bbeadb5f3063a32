package graft

import graft.store._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Load-shape smoke — the analogue of the reference's perf harness
  * (hostore/tests/test_chunk_timeserie_store_perf.py `LoadYear_light`:
  * many series × a year of hourly points, written in ONE bulk job and
  * read back grouped). Asserts correctness of the bulk path at a
  * non-trivial size and prints wall times (no timing asserts — same
  * policy as the reference, which @skips its load cases in CI).
  */
class StoreLoadSpec extends SparkSpec {
  import spark.implicits._

  test("bulk write + grouped read: 40 series x 1 year hourly (350k points)") {
    val st = new ChunkStore(spark, tmpDir("load"),
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis))
    val nSeries = 40
    val hours   = 24 * 365
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    val many = spark.range(nSeries.toLong * hours).select(
      concat(lit("s"), (col("id") % nSeries)).as("kind"),
      (lit(java.sql.Timestamp.valueOf(t0)).cast("timestamp_ntz")
        + expr("make_dt_interval(0, 0, 0, 1)") * (expr(s"id DIV $nSeries") * 3600)).as("ts"),
      (col("id") % 1000).cast("double").as("value"))

    val w0 = System.nanoTime()
    st.setManyTs(many, now = t0)
    val wSecs = (System.nanoTime() - w0) / 1e9

    val r0 = System.nanoTime()
    val back = st.yieldManyTs()
    val n = back.count()
    val rSecs = (System.nanoTime() - r0) / 1e9
    info(f"bulk write: $wSecs%.1fs, grouped read: $rSecs%.1fs for $n points")
    assert(n === nSeries.toLong * hours)
    // partition layout: 12 month chunks
    assert(st.maxChunkIndex().get === 2024 * 12 + 12 - 1)
    // single-series read with pruning stays correct at this size
    val z = java.time.ZoneOffset.UTC
    val one = st.getTs(Map("kind" -> "s7"),
      start = Some(java.time.ZonedDateTime.of(2024, 6, 1, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2024, 6, 30, 23, 0, 0, 0, z)))
    assert(one.count() === 24 * 30)
    // dense drop_bounds_na=False form at the same size: every key's full
    // 2024 chunk span (leap year), built by the bounded per-chunk explode
    val d0 = System.nanoTime()
    val denseN = st.yieldManyTs(dropBoundsNa = false).count()
    info(f"dense grid read: ${(System.nanoTime() - d0) / 1e9}%.1fs for $denseN rows")
    assert(denseN === nSeries.toLong * 366 * 24)
  }

  // VersionedStore policy compaction under realistic churn (VERDICT r10
  // item 7, mirroring ChunkStore's compaction coverage): every versioned
  // setLc appends one file to the prm's bucket directory, so a hot prm
  // accumulates a file per write — compactIfNeeded must bound the count
  // from a directory listing alone, leave already-compact buckets
  // untouched, and change NOTHING a reader sees.
  test("VersionedStore.compactIfNeeded bounds files under write churn; reads unchanged") {
    val st = new VersionedStore(spark, tmpDir("vchurn"), numBuckets = 4)
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    def series(base: Double) =
      (0 until 24).map(i => (t0.plusHours(i.toLong), base + i)).toDF("ts", "value")
    for (v <- 0 until 12) {
      assert(st.setLc("prm_hot", 1, series(v * 100.0), versioning = true,
        now = t0.plusMinutes(v.toLong)))
      assert(st.setLc("prm_other", 1, series(v * 10.0), versioning = true,
        now = t0.plusMinutes(v.toLong)))
    }
    def bucketFiles(): Map[String, Int] = liveFiles(st.path).map { case (b, fs) => b -> fs.length }
    assert(bucketFiles().values.max > 8, s"churn should pile up files: ${bucketFiles()}")
    val before = st.getLc("prm_hot", 1).collect().toSeq
    assert(before.nonEmpty)
    val compacted = st.compactIfNeeded(maxFilesPerBucket = 4)
    assert(compacted.nonEmpty)
    val after = bucketFiles()
    assert(after.values.forall(_ <= 4), s"all buckets bounded after compaction: $after")
    // idempotent: a second pass finds nothing over threshold
    assert(st.compactIfNeeded(maxFilesPerBucket = 4).isEmpty)
    // readers see the exact same combined result (newest version wins)
    val got = st.getLc("prm_hot", 1).collect().toSeq
    assert(got === before)
    assert(got.head.getAs[Double]("value") === 11 * 100.0)
  }
}
