package perfbench

import java.io.File

import graft.store.{ChunkStore, StoreConfig, YearMonthAxis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The meter workloads' store setup, input files and content digests. */
object MeterStore {
  val KeySchema: StructType = StructType(Seq(StructField("prm", StringType, nullable = false)))
  val Config: StoreConfig = StoreConfig(freq = MeterGen.Freq, tz = MeterGen.Tz.getId,
    chunkAxis = YearMonthAxis, syncEnabled = true)

  def open(spark: SparkSession, dir: File): ChunkStore =
    new ChunkStore(spark, dir.getAbsolutePath, KeySchema, Config)

  private val PointSchema = StructType(Seq(
    StructField("prm", StringType, nullable = false),
    StructField("ts", TimestampNTZType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def row(p: Point, extra: Any*): Row = Row.fromSeq(extra ++ Seq(p.prm, MeterGen.utc(p.us), p.value))

  /** Set-up shared by the meter workloads, repeated `copies` times into
    * separate directories: generate the inputs and write them as parquet.
    * Returns the first copy's inputs and directory and every copy's
    * seconds. All copies must be byte-identical (a check).
    */
  def prepare(ctx: Ctx, generate: => MeterInputs, copies: Int = 3): (MeterInputs, File, Seq[Double]) = {
    val runs = (0 until copies).map { i =>
      val dir = ctx.dir(s"inputs$i")
      var in: MeterInputs = null
      val s = Harness.timeNs { in = generate; writeInputs(ctx.spark, dir, in) } / 1e9
      (in, dir, s)
    }
    ctx.check("the same seed writes byte-identical inputs") {
      runs.map(r => Harness.contentHash(r._2)).distinct.length == 1
    }
    (runs.head._1, runs.head._2, runs.map(_._3))
  }

  /** Write the generated inputs as parquet under `dir`: `history`,
    * `batches/day=k` and `replaces/day=k`, rows in generation order, so
    * the bytes depend on the seed only.
    */
  def writeInputs(spark: SparkSession, dir: File, in: MeterInputs): Unit = {
    val byDay = StructType(StructField("day", IntegerType, nullable = false) +: PointSchema.fields)
    frame(spark, in.history.map(row(_)), PointSchema)
      .coalesce(1).write.parquet(new File(dir, "history").getAbsolutePath)
    frame(spark, in.days.flatMap(d => d.batch.map(row(_, d.index))), byDay)
      .coalesce(1).write.partitionBy("day").parquet(new File(dir, "batches").getAbsolutePath)
    frame(spark, in.days.flatMap(d => d.replace.toSeq.flatMap(_._2).map(row(_, d.index))), byDay)
      .coalesce(1).write.partitionBy("day").parquet(new File(dir, "replaces").getAbsolutePath)
  }

  def history(spark: SparkSession, dir: File): DataFrame =
    spark.read.parquet(new File(dir, "history").getAbsolutePath)
  def batch(spark: SparkSession, dir: File, day: Int): DataFrame =
    spark.read.parquet(new File(dir, s"batches/day=$day").getAbsolutePath)
  def replacement(spark: SparkSession, dir: File, day: Int): DataFrame =
    spark.read.parquet(new File(dir, s"replaces/day=$day").getAbsolutePath).select("ts", "value")

  /** (rows, order-independent hash) of a (prm, ts, value) frame. */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(col("prm"), col("ts"), col("value")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def modelDigest(spark: SparkSession, model: MeterModel): (Long, BigDecimal) =
    digest(frame(spark, model.points.map(row(_)).toSeq, PointSchema))

  /** One simulated day against `store`: the upsert batch, then the
    * optional replace and delete. Returns the upsert call's duration (ns)
    * and, when `countFiles`, the parquet files the upsert added (from a
    * listing before and after it, outside its timing).
    */
  def applyDay(ctx: Ctx, store: ChunkStore, inputs: File, day: Day, countFiles: Boolean): (Long, Int) = {
    val spark = ctx.spark
    val now = MeterGen.utc(day.nowUs)
    val storeDir = new File(store.path)
    val before = if (countFiles) Harness.parquetFiles(storeDir).map(_._1).toSet else Set.empty[String]
    val upsertNs = Harness.timeNs {
      ctx.op("store.upsertManyTs")(ctx.tracer.span("store.upsertManyTs") {
        store.upsertManyTs(batch(spark, inputs, day.index), now)
      })
    }
    val added = if (countFiles) Harness.parquetFiles(storeDir).count(f => !before(f._1)) else 0
    day.replace.foreach { case (prm, _) =>
      ctx.op("store.setTs")(ctx.tracer.span("store.setTs") {
        store.setTs(Map("prm" -> prm), replacement(spark, inputs, day.index), replace = true, now = now)
      })
    }
    day.delete.foreach { prm =>
      ctx.op("store.delete")(ctx.tracer.span("store.delete") {
        store.delete(Map("prm" -> prm), now = now)
      })
    }
    (upsertNs, added)
  }

  /** The model's update for the same day; returns the changed chunks. */
  def applyDay(model: MeterModel, day: Day): Set[(String, Int)] =
    model.upsert(day.batch) ++
      day.replace.toSeq.flatMap { case (prm, s) => model.replace(prm, s) } ++
      day.delete.toSeq.flatMap(model.delete)

  /** Parquet files and bytes of a store, and its chunk partitions. */
  final case class Footprint(files: Int, bytes: Long, partitions: Int)

  def footprint(dir: File): Footprint = {
    val fs = Harness.parquetFiles(dir)
    val parts = Option(dir.listFiles()).toSeq.flatten.count(d => d.isDirectory && d.getName.startsWith("chunk_index="))
    Footprint(fs.length, fs.map(_._2).sum, parts)
  }
}
