package graft.tools

import graft.store.{ChunkStore, StoreConfig, YearMonthAxis}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One-off throughput measurement at the REFERENCE's heavy load shape
  * (hostore/tests/test_chunk_timeserie_store_perf.py:130-138,
  * `LoadMonth_heavy`: 1,000 series × 3 years @ 15 min ≈ 105M points,
  * chunk axis (year, month)) — the reference prints wall times without
  * publishing numbers; this records ours for SCALE.md. Not a suite test
  * (minutes of wall): `runMain graft.tools.LoadHeavy [outDir] [nSeries]`.
  */
object LoadHeavy {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("loadheavy").toString + "/store")
    val nSeries = args.lift(1).map(_.toInt).getOrElse(1000)
    val spark = graft.GraftSession()

    val st = new ChunkStore(spark, dir,
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "15min", tz = "UTC", chunkAxis = YearMonthAxis))
    val steps = 3 * 365 * 24 * 4 // 3 years @ 15 min
    val t0 = java.time.LocalDateTime.parse("2021-01-01T00:00")
    val many = spark.range(nSeries.toLong * steps).select(
      concat(lit("s"), (col("id") % nSeries)).as("kind"),
      (lit(t0) + expr("make_dt_interval(0, 0, 0, 1)")
        * (expr(s"id DIV $nSeries") * 900)).as("ts"),
      (col("id") % 10000).cast("double").as("value"))
    val total = nSeries.toLong * steps

    val w0 = System.nanoTime()
    st.setManyTs(many, now = t0)
    val wSecs = (System.nanoTime() - w0) / 1e9

    val r0 = System.nanoTime()
    val n = st.yieldManyTs().count()
    val rSecs = (System.nanoTime() - r0) / 1e9
    require(n == total, s"read back $n of $total")

    val o0 = System.nanoTime()
    val z = java.time.ZoneOffset.UTC
    val one = st.getTs(Map("kind" -> "s371"),
      start = Some(java.time.ZonedDateTime.of(2022, 6, 1, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2022, 6, 30, 23, 45, 0, 0, z))).count()
    val oSecs = (System.nanoTime() - o0) / 1e9

    println(f"""{"shape":"LoadMonth_heavy","n_series":$nSeries,"points":$total,""" +
      f""""write_sec":$wSecs%.1f,"write_mpts_per_sec":${total / 1e6 / wSecs}%.2f,""" +
      f""""read_sec":$rSecs%.1f,"read_mpts_per_sec":${total / 1e6 / rSecs}%.2f,""" +
      f""""pruned_month_read_sec":$oSecs%.2f,"pruned_rows":$one}""")
    spark.stop()
  }
}
