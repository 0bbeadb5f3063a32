package perfbench

/** Every metric the benchmark prints, with its unit, in print order.
  * `BENCHMARK.json` lists the same names (a self-test holds them equal).
  */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "step_p50_ms" -> "ms",
    "step_tail_ms" -> "ms",
    "round_s" -> "s")

  val TsLayers: Seq[String] =
    Seq("Combine", "Gaps", "Intervals", "Resample", "Stats", "Asof", "Grid").map("ts." + _) ++
      Seq("store.facade", "functions.codec", "sql.analytics")
  val PipelineLayers: Seq[String] =
    Seq("Dedup", "Similarity", "TextAnalysis", "Multimodal", "Clustering", "Curation",
      "Sampling", "Packing", "Classifier").map("pipeline." + _)

  val PerLayer: Seq[(String, String)] = Seq(
    "meter.ingest_mpts_s" -> "Mpts/s",
    "meter.bootstrap_s" -> "s",
    "meter.upsert_p50_ms" -> "ms",
    "meter.upsert_tail_ms" -> "ms",
    "meter.pull_p50_ms" -> "ms",
    "meter.pull_tail_ms" -> "ms",
    "meter.bytes_per_point" -> "B",
    "meter.read_p50_ms" -> "ms",
    "meter.read_tail_ms" -> "ms",
    "meter.multiread_p50_ms" -> "ms",
    "meter.scan_mpts_s" -> "Mpts/s",
    "query.ts_s" -> "s",
    "query.corpus_s" -> "s",
    "query.warm_s" -> "s",
    "store.bulk.ms" -> "ms",
    "store.bulk.jobs" -> "count",
    "store.bulk.bytes_written" -> "B",
    "store.upsert.self_ms" -> "ms",
    "store.upsert.jobs" -> "count",
    "store.upsert.driver_only_ms" -> "ms",
    "store.upsert.files_written" -> "count",
    "store.upsert.write_amp" -> "ratio",
    "store.files_live" -> "count",
    "store.partitions_live" -> "count",
    "store.getTs.call_ms" -> "ms",
    "store.getTs.collect_ms" -> "ms",
    "store.getTs.jobs" -> "count",
    "store.getTs.rows_read_per_row" -> "ratio",
    "store.getManyTs.ms" -> "ms",
    "store.getManyTs.rows_read_per_row" -> "ratio",
    "store.yieldManyTs.ms" -> "ms",
    "store.yieldManyTs.scan_b" -> "B",
    "sync.bootstrap.chunks" -> "count",
    "sync.bootstrap.ms_per_chunk" -> "ms",
    "sync.pull.fetched" -> "count",
    "sync.pull.deleted" -> "count",
    "sync.pull.useful_ratio" -> "ratio",
    "sync.pull.ms_per_chunk" -> "ms",
    "sync.pull.jobs" -> "count",
    "sync.pull.driver_only_ms" -> "ms",
    "sync.pull.client_write_amp" -> "ratio") ++
    (TsLayers ++ PipelineLayers).flatMap(l => Seq(s"$l.s" -> "s", s"$l.driver_only_ms" -> "ms")) ++
    Seq(
      "StageCache.persisted_rdds" -> "count",
      "StageCache.cached_bytes" -> "B",
      "cache.cold_warm_gap.ts_s" -> "s",
      "cache.cold_warm_gap.corpus_s" -> "s",
      "spark.jobs" -> "count",
      "spark.stages" -> "count",
      "spark.tasks" -> "count",
      "spark.task_ms" -> "ms",
      "spark.core_busy_share" -> "ratio",
      "spark.scan_b" -> "B",
      "spark.shuffle_read_b" -> "B",
      "spark.shuffle_write_b" -> "B",
      "spark.spill_b" -> "B",
      "spark.plan_ms" -> "ms",
      "spark.driver_only_ms" -> "ms",
      "trace.overhead_share" -> "ratio")
}

/** `spark.*`: Spark's own work per step of a workload (means over the
  * traced steps), from the listener.
  */
object SparkLayer {
  def metrics(tr: Trace, steps: Seq[Span], cores: Int): Map[String, Double] = {
    val works = steps.map(tr.work)
    def m(f: Work => Long): Double = Stats.mean(works.map(f(_).toDouble))
    val wallMs = steps.map(_.durNs / 1e6).sum
    Map(
      "spark.jobs" -> m(_.jobs),
      "spark.stages" -> m(_.stages),
      "spark.tasks" -> m(_.tasks),
      "spark.task_ms" -> m(_.taskMs),
      "spark.core_busy_share" -> (if (wallMs > 0) works.map(_.taskMs).sum / (wallMs * cores) else 0.0),
      "spark.scan_b" -> m(_.scanB),
      "spark.shuffle_read_b" -> m(_.shuffleReadB),
      "spark.shuffle_write_b" -> m(_.shuffleWriteB),
      "spark.spill_b" -> m(_.spillB),
      "spark.plan_ms" -> m(_.planMs),
      "spark.driver_only_ms" -> Stats.mean(steps.map(tr.driverOnlyNs(_) / 1e6)))
  }
}
