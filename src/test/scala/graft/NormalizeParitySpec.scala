package graft

import graft.store._
import graft.streaming.StreamIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every writer drops the same points (reference `_normalize_serie`,
  * chunk_timeserie_store.py:699-724): a null `ts`, a null `value` and a
  * NaN go, a bigint `value` column is kept as its numbers.
  */
class NormalizeParitySpec extends SparkSpec {
  import spark.implicits._

  private val t0 = ldt("2024-01-01T00:00")
  private def at(h: Int): Option[java.time.LocalDateTime] = Some(t0.plusHours(h))

  private val doubles = Seq(
    (at(0), Some(1.0)), (at(1), None), (None, Some(3.0)), (at(3), Some(Double.NaN)), (at(4), Some(5.0)))
    .toDF("ts", "value")
  private val bigints = Seq((at(0), Some(10L)), (at(1), None), (None, Some(30L)), (at(4), Some(50L)))
    .toDF("ts", "value")

  private def points(df: DataFrame): Set[(java.time.LocalDateTime, Double)] =
    df.select(col("ts"), col("value").cast(DoubleType)).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getDouble(1))).toSet

  test("ChunkStore, VersionedStore, TimeseriesStore and StreamIngest keep the same points") {
    val keySchema = StructType(Seq(StructField("kind", StringType)))
    val key = Map[String, Any]("kind" -> "a")
    def chunkStore() = new ChunkStore(spark, tmpDir("parity-chunk"), keySchema,
      StoreConfig(freq = "1h", tz = "UTC"))
    def tsStore() = new TimeseriesStore(spark, tmpDir("parity-ts"), keySchema)
    for ((input, expected) <- Seq(
        doubles -> Set((t0, 1.0), (t0.plusHours(4), 5.0)),
        bigints -> Set((t0, 10.0), (t0.plusHours(4), 50.0)))) {
      val keyed = input.withColumn("kind", lit("a"))
      val chunkSet = chunkStore()
      chunkSet.setTs(key, input)
      val chunkUpsert = chunkStore()
      chunkUpsert.upsertManyTs(keyed)
      val versioned = new VersionedStore(spark, tmpDir("parity-v"))
      versioned.setLc("p", 1, input)
      val tsSet = tsStore()
      tsSet.setTs(key, input)
      val tsMany = tsStore()
      tsMany.setManyTs(keyed)
      val kept = Map(
        "ChunkStore.setTs" -> points(chunkSet.getTs(key)),
        "ChunkStore.upsertManyTs" -> points(chunkUpsert.getTs(key)),
        "VersionedStore.setLc" -> points(versioned.getLc("p", 1)),
        "TimeseriesStore.setTs" -> points(tsSet.getTsFlat(key)),
        "TimeseriesStore.setManyTs" -> points(tsMany.getTsFlat(key)),
        "StreamIngest.normalize" -> points(StreamIngest.normalize(input)))
      assert(kept === kept.map { case (w, _) => w -> expected }, input.schema("value").dataType)
    }
  }
}
