package perfbench

import java.io.File

import graft.sync.{SyncHttp, SyncHttpClient}

import scala.collection.mutable

/** `meter_ingest`: the write and replication side. Each round builds a
  * sync-enabled server store from scratch and replicates it over HTTP:
  * a bulk `upsertManyTs` of the history, a first full pull into an empty
  * client (bootstrap), then per simulated day one upsert batch (the day's
  * readings plus late corrections), an occasional `setTs(replace)` and
  * `delete`, and one client pull. Rounds repeat on fresh stores until the
  * run's seconds are used (at least one).
  */
object MeterIngest {
  val Meters = 6
  val HistoryDays = 31
  val SimDays = 2

  def run(ctx: Ctx, seed: Long): Outcome = {
    val spark = ctx.spark
    val (inputs, inputDir, setupTimes) = MeterStore.prepare(ctx, MeterGen.generate(seed, Meters, HistoryDays, SimDays))
    val setupS = Stats.median(setupTimes)
    val historyPoints = inputs.history.length.toDouble

    val rounds = mutable.ArrayBuffer.empty[Double]
    val bulkS, bootstrapS = mutable.ArrayBuffer.empty[Double]
    val dayMs, upsertMs, pullMs = mutable.ArrayBuffer.empty[Double]
    val tracedDayMs, untracedDayMs = mutable.ArrayBuffer.empty[Double]
    val bytesPerPoint = mutable.ArrayBuffer.empty[Double]
    var bootstrapChunks = 0L
    val tracedDays = mutable.ArrayBuffer.empty[TracedDay]
    var fetchedAll, deletedAll, changedAll = 0L
    var footprint = MeterStore.Footprint(0, 0, 0)

    /** One round on fresh stores: bulk load, bootstrap, the days, then the
      * output checks.
      */
    def play(round: Int, in: MeterInputs, dir: File): Unit = {
      val server = MeterStore.open(spark, ctx.dir(s"round$round/server"))
      val client = MeterStore.open(spark, ctx.dir(s"round$round/client"))
      // serve outside any span: the handler threads inherit no job group
      spark.sparkContext.clearJobGroup()
      val http = SyncHttp.serve(server)
      try {
        val sync = new SyncHttpClient(http.endpoint, client)
        val model = new MeterModel
        model.upsert(in.history)
        val roundStart = System.nanoTime()
        ctx.tracer.recording = ctx.traced && round == 0
        val bulkNs = Harness.timeNs(ctx.tracer.span("meter_ingest.bulk") {
          ctx.op("store.upsertManyTs")(ctx.tracer.span("store.upsertManyTs") {
            server.upsertManyTs(MeterStore.history(spark, dir), MeterGen.utc(in.historyNowUs))
          })
        })
        var boot = (0L, 0L)
        val bootNs = Harness.timeNs(ctx.tracer.span("meter_ingest.bootstrap") {
          ctx.op("sync.pull")(ctx.tracer.span("sync.pull") { boot = sync.pull() })
        })
        val days = in.days.map { day =>
          val traceDay = ctx.traced && (round == 0 || round == 1) && (day.index + round) % 2 == 0
          ctx.tracer.recording = traceDay
          var upsert = (0L, 0)
          var pulled = (0L, 0L)
          var pullNs = 0L
          val ns = Harness.timeNs(ctx.tracer.span("meter_ingest.day") {
            upsert = MeterStore.applyDay(ctx, server, dir, day, countFiles = traceDay)
            pullNs = Harness.timeNs(ctx.op("sync.pull")(ctx.tracer.span("sync.pull") { pulled = sync.pull() }))
          })
          val changed = MeterStore.applyDay(model, day)
          if (ctx.traced && round < 2) (if (traceDay) tracedDayMs else untracedDayMs) += ns / 1e6
          if (traceDay)
            tracedDays += TracedDay(upsert._2, pulled._1, pulled._2, changed.size, day.batch.length,
              day.batch.length + day.replace.map(_._2.length).getOrElse(0))
          (ns, upsert._1, pullNs, pulled, changed.size)
        }
        ctx.tracer.recording = false
        val roundS = (System.nanoTime() - roundStart) / 1e9

        // the replica must equal the server, and the server the model
        val serverDigest = MeterStore.digest(server.yieldManyTs())
        ctx.check("client live points equal server live points") {
          MeterStore.digest(client.yieldManyTs()) == serverDigest
        }
        ctx.check("server live points equal the generator model") {
          MeterStore.modelDigest(spark, model) == serverDigest
        }
        rounds += roundS
        bulkS += bulkNs / 1e9
        bootstrapS += bootNs / 1e9
        bootstrapChunks = boot._1 + boot._2
        days.foreach { case (ns, upNs, pullNs, pulled, changed) =>
          dayMs += ns / 1e6
          upsertMs += upNs / 1e6
          pullMs += pullNs / 1e6
          fetchedAll += pulled._1
          deletedAll += pulled._2
          changedAll += changed
        }
        footprint = MeterStore.footprint(new File(server.path))
        bytesPerPoint += footprint.bytes.toDouble / model.count
      } finally http.stop()
    }

    // A traced run makes at least two rounds: the first traces its bulk
    // load and bootstrap, and each day is traced in exactly one of the two
    // rounds, so traced and untraced days cover the same work.
    val t0 = System.nanoTime()
    var round = 0
    while (round < (if (ctx.traced) 2 else 1) || System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      play(round, inputs, inputDir)
      round += 1
    }
    ctx.check("every round leaves the same server bytes per point") {
      bytesPerPoint.distinct.length == 1
    }

    val day = Stats.timing(dayMs.toSeq)
    val upsert = Stats.timing(upsertMs.toSeq)
    val pull = Stats.timing(pullMs.toSeq)
    val endToEnd = Map(
      "setup_s" -> setupS,
      "step_p50_ms" -> day.p50,
      "step_tail_ms" -> day.tail,
      "round_s" -> Stats.median(rounds.toSeq))
    val detail = Map(
      "meter.ingest_mpts_s" -> historyPoints / 1e6 / Stats.median(bulkS.toSeq),
      "meter.bootstrap_s" -> Stats.median(bootstrapS.toSeq),
      "meter.upsert_p50_ms" -> upsert.p50,
      "meter.upsert_tail_ms" -> upsert.tail,
      "meter.pull_p50_ms" -> pull.p50,
      "meter.pull_tail_ms" -> pull.tail,
      "meter.bytes_per_point" -> bytesPerPoint.head)

    val layers = ctx.trace().map { tr =>
      val self = tr.self
      val bulk = tr.named("meter_ingest.bulk").flatMap(s => tr.spans.filter(_.parent == s.id))
      val boot = tr.named("meter_ingest.bootstrap").flatMap(s => tr.spans.filter(_.parent == s.id))
      val dayUpserts = tr.named("meter_ingest.day").flatMap(d =>
        tr.spans.filter(c => c.parent == d.id && c.name == "store.upsertManyTs"))
      val dayPulls = tr.named("meter_ingest.day").flatMap(d =>
        tr.spans.filter(c => c.parent == d.id && c.name == "sync.pull"))
      val upsertWork = dayUpserts.map(tr.work)
      val pullWork = dayPulls.map(tr.work)
      val fetched = tracedDays.map(_.fetched).sum
      val deleted = tracedDays.map(_.deleted).sum
      val pulledChunks = math.max(1L, fetched + deleted)
      val bootMs = boot.map(_.durNs / 1e6).sum
      Map(
        "store.bulk.ms" -> Stats.mean(bulk.map(_.durNs / 1e6)),
        "store.bulk.jobs" -> Stats.mean(bulk.map(tr.work(_).jobs.toDouble)),
        "store.bulk.bytes_written" -> Stats.mean(bulk.map(tr.work(_).bytesWritten.toDouble)),
        "store.upsert.self_ms" -> Stats.mean(dayUpserts.map(s => self(s.id) / 1e6)),
        "store.upsert.jobs" -> Stats.mean(upsertWork.map(_.jobs.toDouble)),
        "store.upsert.driver_only_ms" -> Stats.mean(dayUpserts.map(tr.driverOnlyNs(_) / 1e6)),
        "store.upsert.files_written" -> Stats.mean(tracedDays.map(_.filesAdded.toDouble).toSeq),
        "store.upsert.write_amp" -> upsertWork.map(_.rowsWritten).sum.toDouble /
          math.max(1L, tracedDays.map(_.batchRows).sum),
        "store.files_live" -> footprint.files.toDouble,
        "store.partitions_live" -> footprint.partitions.toDouble,
        "sync.bootstrap.chunks" -> bootstrapChunks.toDouble,
        "sync.bootstrap.ms_per_chunk" -> bootMs / boot.length / math.max(1L, bootstrapChunks),
        "sync.pull.fetched" -> fetched.toDouble / math.max(1, tracedDays.length),
        "sync.pull.deleted" -> deleted.toDouble / math.max(1, tracedDays.length),
        "sync.pull.useful_ratio" -> tracedDays.map(_.changedChunks).sum.toDouble / pulledChunks,
        "sync.pull.ms_per_chunk" -> dayPulls.map(_.durNs / 1e6).sum / pulledChunks,
        "sync.pull.jobs" -> Stats.mean(pullWork.map(_.jobs.toDouble)),
        "sync.pull.driver_only_ms" -> Stats.mean(dayPulls.map(tr.driverOnlyNs(_) / 1e6)),
        "sync.pull.client_write_amp" -> pullWork.map(_.rowsWritten).sum.toDouble /
          math.max(1L, tracedDays.map(_.changedPoints).sum)) ++
        SparkLayer.metrics(tr, tr.named("meter_ingest.day"), spark.sparkContext.defaultParallelism) ++
        Map("trace.overhead_share" -> overhead(tracedDayMs.toSeq, untracedDayMs.toSeq))
    }.getOrElse(Map.empty)

    Outcome(endToEnd, layers ++ detail, Map(
      "rounds" -> rounds.length, "days_per_round" -> SimDays, "meters" -> Meters,
      "history_points" -> inputs.history.length, "bootstrap_chunks" -> bootstrapChunks,
      "pulls" -> pullMs.length, "fetched_total" -> fetchedAll, "deleted_total" -> deletedAll,
      "changed_chunks_total" -> changedAll, "tail_percentile" -> day.tailPct, "steps" -> day.n))
  }

  /** What one traced day did: files the upsert added, chunks the pull
    * fetched and deleted, chunks and points the generator changed.
    */
  final case class TracedDay(filesAdded: Int, fetched: Long, deleted: Long, changedChunks: Int,
      batchRows: Long, changedPoints: Long)

  /** Mean traced sample over mean untraced sample, minus one. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.mean(traced) / Stats.mean(untraced) - 1
}
