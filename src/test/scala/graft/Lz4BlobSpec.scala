package graft

import graft.functions.Lz4Blob._
import org.apache.spark.sql.functions._

/** LZ4-frame blob wire parity (SURVEY §2.10 optional tier): round-trip
  * property on random dense series incl. NaN hole runs, plus the frame
  * magic pin that guarantees the payload is the standard LZ4 FRAME
  * format (what python `lz4.frame` — the reference's codec — reads),
  * not the raw block format.
  */
class Lz4BlobSpec extends SparkSpec {
  import spark.implicits._

  private def randomSeries(rnd: scala.util.Random, n: Int): Array[Double] =
    Array.tabulate(n) { i =>
      // NaN runs like a sparse reference chunk: ~1/3 of positions hole
      if ((i / 7 + rnd.nextInt(3)) % 3 == 0) Double.NaN
      else rnd.nextDouble() * 2000 - 1000
    }

  test("chunk payload round-trips random dense arrays including NaN runs") {
    val rnd = new scala.util.Random(1337L)
    val rows = (0L until 40L).map(i => (i, randomSeries(rnd, rnd.nextInt(500) + 1).toSeq))
    val got = rows.toDF("id", "values")
      .select(col("id"), chunk_values(chunk_payload(col("values"))).as("back"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, orig) <- rows) {
      val back = got(id)
      assert(back.length === orig.length, s"row $id length")
      orig.zip(back).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.lang.Double.doubleToLongBits(a) === java.lang.Double.doubleToLongBits(b),
          s"row $id pos $i: $a != $b")
      }
    }
  }

  test("payload carries the LZ4 frame magic and numpy little-endian float64 layout") {
    val df = Seq((1L, Seq(1.5, Double.NaN, -2.25))).toDF("id", "values")
    val blob = df.select(chunk_payload(col("values"))).collect()(0).getAs[Array[Byte]](0)
    // standard frame magic 0x184D2204, little-endian on the wire —
    // python lz4.frame (the reference codec) requires exactly this
    assert(blob.take(4).toSeq === Seq(0x04, 0x22, 0x4d, 0x18).map(_.toByte), "LZ4 frame magic")
    val raw = df.select(pack_doubles_le(col("values"))).collect()(0).getAs[Array[Byte]](0)
    assert(raw.length === 24)
    val buf = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(buf.getDouble() === 1.5)
    assert(buf.getDouble().isNaN)
    assert(buf.getDouble() === -2.25)
    // and the frame itself decompresses back to those exact bytes
    val back = df.select(lz4_frame_decompress(lit(blob))).collect()(0).getAs[Array[Byte]](0)
    assert(back.toSeq === raw.toSeq)
  }

  test("null array elements encode as NaN (reference hole padding); empty series ok") {
    val df = Seq((1L, Seq[java.lang.Double](3.0, null, 4.0)), (2L, Seq.empty[java.lang.Double]))
      .toDF("id", "values")
    val got = df.select(col("id"),
        chunk_values(chunk_payload(col("values").cast("array<double>"))).as("back"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L).length === 3 && got(1L)(0) === 3.0 && got(1L)(1).isNaN && got(1L)(2) === 4.0)
    assert(got(2L).isEmpty)
  }

  // scatter_grid: (us, value) points -> the dense NaN-padded grid the
  // chunk blob carries
  private val step = 900L * 1000000L // 15 min in micros

  private def scatter(points: Seq[(Long, Double)]): Seq[Double] =
    Seq(Tuple1(points)).toDF("p")
      .select(scatter_grid(col("p").cast("array<struct<us: bigint, value: double>>"), step))
      .collect()(0).getSeq[Double](0)

  private def failure(points: Seq[(Long, Double)]): String = {
    val e = intercept[Exception](scatter(points))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
  }

  test("scatter_grid places points from the first one and pads holes with NaN, in any input order") {
    val t0 = 1704067200000000L // 2024-01-01T00:00Z
    val got = scatter(Seq((t0 + 4 * step, 4.0), (t0, 0.5), (t0 + step, -1.0)))
    assert(got.length === 5)
    assert(got(0) === 0.5 && got(1) === -1.0 && got(4) === 4.0)
    assert(got(2).isNaN && got(3).isNaN)
  }

  test("scatter_grid of no points is the empty (tombstone) payload") {
    assert(scatter(Seq.empty).isEmpty)
  }

  test("scatter_grid rejects an off-grid point and a duplicate timestamp") {
    val t0 = 1704067200000000L
    assert(failure(Seq((t0, 1.0), (t0 + step / 2, 2.0))).contains("off the 900s grid"))
    assert(failure(Seq((t0, 1.0), (t0 + step, 2.0), (t0 + step, 3.0))).contains("duplicate point"))
  }
}
