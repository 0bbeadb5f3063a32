package perfbench

import java.io.File
import java.time.{LocalDate, ZonedDateTime}

import graft.store.ChunkStore

import scala.collection.mutable

/** `meter_read`: the read side. Set-up builds a store with the meter
  * generator (bulk history, two daily batches with late corrections, a
  * replace and a delete, so the store holds rewritten chunks and
  * tombstones); the
  * timed loop then only reads, in rounds of `getTs` month slices (meters
  * Zipf-skewed, months biased to the latest), a `getManyTs` batch over a
  * quarter and a full `yieldManyTs` scan. Nothing writes while the loop
  * runs.
  */
object MeterRead {
  val Meters = 6
  val HistoryDays = 31
  val SimDays = 2

  sealed trait ReadOp
  final case class GetTs(prm: String, month: LocalDate) extends ReadOp
  final case class GetMany(prms: Seq[String], from: LocalDate, until: LocalDate) extends ReadOp
  case object Scan extends ReadOp

  /** The seeded read stream, in rounds of the same make-up so rounds
    * compare across seeds: 5 `getTs` of the latest month, 3 of an older
    * one, one `getManyTs` of 4 meters over a quarter and one scan, in a
    * seeded order. Meters are Zipf(1.1) over a seeded ranking.
    */
  def ops(seed: Long, meters: Seq[String], months: Seq[LocalDate], rounds: Int): Seq[Seq[ReadOp]] = {
    val r = new scala.util.Random(seed ^ 0x5EEDL)
    val ranked = r.shuffle(meters)
    val w = ranked.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    def meter(): String = ranked(cum.indexWhere(_ >= r.nextDouble()) max 0)
    def older(): LocalDate = if (months.length == 1) months.last else months(r.nextInt(months.length - 1))
    (0 until rounds).map { _ =>
      val picked = mutable.LinkedHashSet.empty[String]
      while (picked.size < math.min(4, meters.length)) picked += meter()
      r.shuffle(
        Seq.fill(5)(GetTs(meter(), months.last)) ++ Seq.fill(3)(GetTs(meter(), older())) ++
          Seq(GetMany(picked.toSeq, months.head, months.head.plusMonths(3)), Scan))
    }
  }

  private def at(d: LocalDate): ZonedDateTime = d.atStartOfDay(MeterGen.Tz)
  private def us(z: ZonedDateTime): Long = MeterGen.toUs(z.toInstant)
  private def rowUs(t: java.time.LocalDateTime): Long = MeterGen.toUs(t.toInstant(java.time.ZoneOffset.UTC))

  /** Build the read store: the same calls as `meter_ingest`, without
    * sync.
    */
  private def build(ctx: Ctx, store: ChunkStore, dir: File, in: MeterInputs): Unit = {
    ctx.op("store.upsertManyTs")(store.upsertManyTs(MeterStore.history(ctx.spark, dir), MeterGen.utc(in.historyNowUs)))
    in.days.foreach(d => MeterStore.applyDay(ctx, store, dir, d, countFiles = false))
  }

  def run(ctx: Ctx, seed: Long): Outcome = {
    val spark = ctx.spark
    // set-up: the inputs (generated three times, median) plus one store
    // built from them
    val (inputs, dir, genS) = MeterStore.prepare(ctx, MeterGen.generate(seed, Meters, HistoryDays, SimDays))
    val store = MeterStore.open(spark, ctx.dir("store"))
    val buildS = Harness.timeNs(build(ctx, store, dir, inputs)) / 1e9
    val setupS = Stats.median(genS) + buildS
    val model = new MeterModel
    model.upsert(inputs.history)
    inputs.days.foreach(d => MeterStore.applyDay(model, d))
    ctx.check("the set-up store holds the model's points") {
      MeterStore.digest(store.yieldManyTs()) == MeterStore.modelDigest(spark, model)
    }

    val months = model.points.map(p => MeterGen.instant(p.us).atZone(MeterGen.Tz).toLocalDate.withDayOfMonth(1))
      .toSeq.distinct.sorted
    val plan = ops(seed, inputs.meters, months, 10000)
    val perRound = plan.head.length
    val stream = plan.flatten
    val stepMs = mutable.ArrayBuffer.empty[Double]
    val readMs, manyMs, scanS = mutable.ArrayBuffer.empty[Double]
    val tracedRead, untracedRead = mutable.ArrayBuffer.empty[Double]
    var rowsReturned = Map.empty[String, Long].withDefaultValue(0L)

    /** One read with its output check: (kind, seconds, rows returned). */
    def read(op: ReadOp): (String, Double, Long) = op match {
      case GetTs(prm, month) =>
        val (a, b) = (at(month), at(month.plusMonths(1)).minusMinutes(15))
        var rows = Array.empty[org.apache.spark.sql.Row]
        val ns = Harness.timeNs(ctx.tracer.span("meter_read.read") {
          ctx.op("store.getTs") {
            val df = ctx.tracer.span("store.getTs")(store.getTs(Map("prm" -> prm), Some(a), Some(b)))
            rows = ctx.tracer.span("store.getTs.collect")(df.collect())
          }
        })
        ctx.check(s"getTs $prm $month matches the model") {
          val got = rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
            (n + 1, h + MeterModel.mix(rowUs(r.getAs[java.time.LocalDateTime]("ts")), r.getDouble(1)))
          }
          got == model.slice(prm, us(a), us(b))
        }
        ("getTs", ns / 1e9, rows.length.toLong)
      case GetMany(prms, from, until) =>
        val (a, b) = (at(from), at(until).minusMinutes(15))
        var rows = Array.empty[org.apache.spark.sql.Row]
        val ns = Harness.timeNs(ctx.tracer.span("meter_read.read") {
          ctx.op("store.getManyTs")(ctx.tracer.span("store.getManyTs") {
            rows = store.getManyTs(prms.map(p => Map[String, Any]("prm" -> p)), Some(a), Some(b)).collect()
          })
        })
        ctx.check(s"getManyTs ${prms.mkString(",")} matches the model") {
          val got = rows.foldLeft((0L, 0L)) { case ((n, h), r) =>
            (n + 1, h + MeterModel.mix(rowUs(r.getAs[java.time.LocalDateTime]("ts")), r.getDouble(2)))
          }
          val want = prms.map(model.slice(_, us(a), us(b)))
          got == ((want.map(_._1).sum, want.map(_._2).sum))
        }
        ("getManyTs", ns / 1e9, rows.length.toLong)
      case Scan =>
        var n = 0L
        val ns = Harness.timeNs(ctx.tracer.span("meter_read.read") {
          ctx.op("store.yieldManyTs")(ctx.tracer.span("store.yieldManyTs") { n = store.yieldManyTs().count() })
        })
        ctx.check("yieldManyTs scan count matches the model")(n == model.count)
        ("yieldManyTs", ns / 1e9, n)
    }

    // One untimed round warms the JVM's read path; then whole timed
    // rounds, at least three. Reads keep getting faster as the JVM warms,
    // so a run's median depends on how many rounds it makes: the minimum
    // keeps that count the same in every run that is given fewer seconds
    // than three rounds take.
    val warmupS = Harness.timeNs(plan.head.foreach(read)) / 1e9
    val t0 = System.nanoTime()
    var i = perRound
    while (i < 4 * perRound || i % perRound != 0 || System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      val traceOp = ctx.traced && i % 2 == 0
      ctx.tracer.recording = traceOp
      val (kind, secs, rows) = read(stream(i))
      stepMs += secs * 1e3
      kind match {
        case "getTs" =>
          readMs += secs * 1e3
          (if (traceOp) tracedRead else untracedRead) += secs * 1e3
        case "getManyTs" => manyMs += secs * 1e3
        case _           => scanS += secs
      }
      if (traceOp) rowsReturned += kind -> (rowsReturned(kind) + rows)
      i += 1
    }
    ctx.tracer.recording = false

    val step = Stats.timing(stepMs.toSeq)
    val getTs = Stats.timing(readMs.toSeq)
    val rounds = stepMs.grouped(perRound).map(_.sum / 1e3).toSeq
    val foot = MeterStore.footprint(new File(store.path))
    val endToEnd = Map(
      "setup_s" -> setupS,
      "step_p50_ms" -> step.p50,
      "step_tail_ms" -> step.tail,
      "round_s" -> Stats.median(rounds))
    val detail = Map(
      "meter.read_p50_ms" -> getTs.p50,
      "meter.read_tail_ms" -> getTs.tail,
      "meter.multiread_p50_ms" -> (if (manyMs.isEmpty) 0.0 else Stats.median(manyMs.toSeq)),
      "meter.scan_mpts_s" -> (if (scanS.isEmpty) 0.0 else model.count / 1e6 / Stats.median(scanS.toSeq)),
      "store.files_live" -> foot.files.toDouble,
      "store.partitions_live" -> foot.partitions.toDouble)

    val layers = ctx.trace().map { tr =>
      def kids(s: Span) = tr.spans.filter(_.parent == s.id)
      val reads = tr.named("meter_read.read")
      val getTsReads = reads.filter(r => kids(r).exists(_.name == "store.getTs"))
      val calls = tr.named("store.getTs")
      val collects = tr.named("store.getTs.collect")
      val many = tr.named("store.getManyTs")
      val scans = tr.named("store.yieldManyTs")
      def perRow(spans: Seq[Span], key: String): Double =
        spans.map(tr.work(_).rowsRead).sum.toDouble / math.max(1L, rowsReturned(key))
      Map(
        "store.getTs.call_ms" -> Stats.mean(calls.map(_.durNs / 1e6)),
        "store.getTs.collect_ms" -> Stats.mean(collects.map(_.durNs / 1e6)),
        "store.getTs.jobs" -> Stats.mean(getTsReads.map(tr.work(_).jobs.toDouble)),
        "store.getTs.rows_read_per_row" -> perRow(getTsReads, "getTs"),
        "store.getManyTs.ms" -> Stats.mean(many.map(_.durNs / 1e6)),
        "store.getManyTs.rows_read_per_row" -> perRow(many, "getManyTs"),
        "store.yieldManyTs.ms" -> Stats.mean(scans.map(_.durNs / 1e6)),
        "store.yieldManyTs.scan_b" -> Stats.mean(scans.map(tr.work(_).scanB.toDouble))) ++
        SparkLayer.metrics(tr, reads, spark.sparkContext.defaultParallelism) ++
        Map("trace.overhead_share" -> MeterIngest.overhead(tracedRead.toSeq, untracedRead.toSeq))
    }.getOrElse(Map.empty)

    Outcome(endToEnd, layers ++ detail, Map(
      "ops" -> stepMs.length, "rounds" -> rounds.length, "warmup_s" -> warmupS, "getTs" -> readMs.length, "getManyTs" -> manyMs.length, "scans" -> scanS.length,
      "live_points" -> model.count, "months" -> months.map(_.toString),
      "setup_generate_s" -> genS, "setup_build_s" -> buildS,
      "tail_percentile" -> step.tailPct, "steps" -> step.n))
  }
}
