package perfbench

import java.io.File

import scala.collection.mutable

/** `query_surface`: `SparkEntry.queries` over the fixed fixture in this
  * directory, in declaration order. After an untimed pass that only
  * builds and plans every query, each round is one cache-cold pass
  * (`StageCache.clear()` + `ModelCache.clear()` first) and one warm pass;
  * rounds repeat until the run's seconds are used (at least one, two when
  * traced).
  */
object QuerySurface {
  /** Layer of every query: the library module its body calls into. */
  val Layers: Seq[(String, Seq[String])] = Seq(
    "ts.Combine" -> Seq("q_combine_first", "q_version_combine", "q_version_select", "q_update_merge"),
    "ts.Gaps" -> Seq("q_islands", "q_islands_split", "q_holes", "q_holes_mindelta", "q_find_groups"),
    "ts.Intervals" -> Seq("q_interval_union", "q_moving_avg", "q_range_join"),
    "ts.Resample" -> Seq("q_trim_bounds", "q_delay_slice", "q_normalize", "q_min_freq", "q_ohlc",
      "q_ffill", "q_interpolate", "q_upsample"),
    "ts.Stats" -> Seq("q_ewma", "q_winsorize", "q_histogram", "q_mad_outliers", "q_counter_delta",
      "q_cusum", "q_deseasonalize", "q_rolling_median", "q_peak_offpeak", "q_load_factor", "q_autocorr"),
    "ts.Asof" -> Seq("q_asof_join", "q_asof_split"),
    "ts.Grid" -> Seq("q_chunk_prune", "q_grid_reindex"),
    "store.facade" -> Seq("q_lookup_filter", "q_max_horodate", "q_last_updated", "q_sync_updates",
      "q_absent_keys", "q_tombstone_filter", "q_store_replace", "q_store_update"),
    "functions.codec" -> Seq("q_feather_roundtrip", "q_blob_roundtrip"),
    "sql.analytics" -> Seq("q_scan_filter", "q_counts", "q_rollup", "q_sessionize", "q_pricing_summary",
      "q_revenue_join", "q_top_customers"),
    "pipeline.Dedup" -> Seq("q_embed_dedup", "q_incremental_dedup", "q_bloom_dedup", "q_semantic_dedup",
      "q_dedup_exact", "q_dedup_norm", "q_dedup_drop", "q_paragraph_dedup", "q_incr_paragraph_dedup",
      "q_ngram_jaccard", "q_contamination", "q_split_leakage", "q_source_sim", "q_minhash_lsh",
      "q_incr_neardup_pairs", "q_incr_neardup", "q_containment_pairs", "q_dedup_best", "q_dup_spans",
      "q_strip_spans", "q_incr_strip_spans", "q_simhash_pairs"),
    "pipeline.Similarity" -> Seq("q_embed_dispersion", "q_cosine_topk", "q_ivf_topk", "q_lsh_topk",
      "q_ann_recall", "q_ivf_kmeans", "q_pq_codes", "q_pq_topk", "q_opq_codes", "q_opq_topk",
      "q_opq_refined", "q_ivfpq_topk", "q_ivf_int8", "q_lsh_int8", "q_ann_rerank", "q_embed_cov",
      "q_pca_topk", "q_quantize_embed", "q_lsh_multiprobe"),
    "pipeline.TextAnalysis" -> Seq("q_url_canon", "q_domain_stats", "q_robots_filter", "q_crawl_frontier",
      "q_surt_key", "q_nfc_normalize", "q_lang_scores", "q_quality", "q_repetition", "q_gopher_rep",
      "q_gopher_lines", "q_c4_filters", "q_chunk_docs", "q_zipf", "q_novelty", "q_heavy_hitters",
      "q_bpe_pairs", "q_redact", "q_strip_markup", "q_length_quantiles", "q_token_counts", "q_tfidf",
      "q_winnow", "q_winnow_pairs", "q_fingerprint", "q_perplexity", "q_bigram_ppl", "q_pmi_pairs"),
    "pipeline.Multimodal" -> Seq("q_multimodal_features"),
    "pipeline.Clustering" -> Seq("q_dup_clusters", "q_kmeans", "q_kmeans_inertia"),
    "pipeline.Curation" -> Seq("q_curation_pipeline", "q_curate_diverse", "q_diversity_sample",
      "q_mix_weights", "q_mix_apply", "q_mix_epochs", "q_quality_bins", "q_domain_cap", "q_dsir_scores",
      "q_dsir_sample"),
    "pipeline.Sampling" -> Seq("q_stratified_split", "q_sample_shard"),
    "pipeline.Packing" -> Seq("q_pack_sequences"),
    "pipeline.Classifier" -> Seq("q_logreg_train", "q_logreg_score"))

  val LayerOf: Map[String, String] = Layers.flatMap { case (l, qs) => qs.map(_ -> l) }.toMap

  /** The timed set (run in declaration order): one query per layer, the
    * cheaper ones where a layer has several, but the store-writing
    * q_store_update for `store.facade` and the cache users
    * q_logreg_train (a ModelCache fit), q_kmeans (a ModelCache codebook)
    * and q_minhash_lsh (StageCache signatures).
    */
  val Timed: Seq[String] = Seq(
    "q_grid_reindex", "q_combine_first", "q_islands", "q_ohlc", "q_ewma", "q_pricing_summary",
    "q_logreg_train", "q_tfidf", "q_range_join", "q_asof_join", "q_multimodal_features",
    "q_minhash_lsh", "q_sample_shard", "q_curation_pipeline", "q_pack_sequences", "q_kmeans",
    "q_embed_cov", "q_store_update", "q_blob_roundtrip")

  def isTs(q: String): Boolean = LayerOf(q).split('.').head != "pipeline"

  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  def expectedRows(file: File): Map[String, Long] = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, n) = l.split('\t'); q -> n.toLong
    }.toMap
    finally src.close()
  }

  def run(ctx: Ctx, fixture: File, expectedFile: File): Outcome = {
    val spark = ctx.spark
    val sf = fixture.getAbsolutePath
    val entries = graft.SparkEntry.queries.toSeq
    val names = entries.map(_._1).filter(Timed.contains)
    val queries = names.map(n => n -> entries.find(_._1 == n).map(_._2)
      .getOrElse(throw new IllegalStateException(s"unknown query $n")))
    val expected = expectedRows(expectedFile)
    ctx.check("every query has a layer and an expected row count") {
      names.length == Timed.length &&
        names.forall(n => LayerOf.contains(n) && expected.contains(n)) && LayerOf.size == entries.length
    }

    // set-up, three times: open every fixture table (listing and footer)
    val setupS = (0 until 3).map { _ =>
      Harness.timeNs(Tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").schema)) / 1e9
    }

    /** One pass: every query's rows counted; returns per-query seconds.
      * `traceParity` 0 or 1 traces the queries at even or odd positions.
      */
    def pass(label: String, traceParity: Option[Int]): Seq[(String, Double)] = {
      val out = queries.zipWithIndex.map { case ((q, f), i) =>
        ctx.tracer.recording = traceParity.contains(i % 2)
        var rows = -1L
        val ns = Harness.timeNs(ctx.tracer.span(s"${LayerOf(q)}.$q") {
          ctx.op(q) { rows = f(spark, sf).count() }
        })
        ctx.check(s"$q ($label) returns ${expected(q)} rows")(rows == expected(q))
        q -> ns / 1e9
      }
      ctx.tracer.recording = false
      out
    }

    // untimed warm-up: build and plan every query without running it, so
    // the first cold pass does not also pay the JVM's planner warm-up
    val warmupS = Harness.timeNs(queries.foreach { case (q, f) =>
      ctx.op(s"$q (plan)")(f(spark, sf).queryExecution.executedPlan)
    }) / 1e9
    val cold, warm = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val tracedS, untracedS = mutable.ArrayBuffer.empty[Double]
    var cachedRdds = 0
    var cachedBytes = 0L
    val t0 = System.nanoTime()
    // A traced run makes at least two rounds and traces every query in
    // exactly one of them (alternate positions), so traced and untraced
    // queries cover the same work.
    val minRounds = if (ctx.traced) 2 else 1
    while (cold.length < minRounds || System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      val round = cold.length
      val parity = if (ctx.traced && round < 2) Some(round) else None
      graft.StageCache.clear()
      graft.pipeline.ModelCache.clear()
      cold += pass("cold", parity)
      warm += pass("warm", parity)
      parity.foreach { p =>
        (cold.last ++ warm.last).zipWithIndex.foreach { case ((_, t), i) =>
          (if (i % queries.length % 2 == p) tracedS else untracedS) += t
        }
      }
      if (round == 0 && ctx.traced) {
        cachedRdds = spark.sparkContext.getPersistentRDDs.size
        cachedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
    }

    def family(p: Seq[(String, Double)], ts: Boolean): Double = p.filter(q => isTs(q._1) == ts).map(_._2).sum
    val coldTs = Stats.median(cold.map(family(_, ts = true)).toSeq)
    val coldCorpus = Stats.median(cold.map(family(_, ts = false)).toSeq)
    val warmTotal = Stats.median(warm.map(_.map(_._2).sum).toSeq)
    val steps = (cold ++ warm).flatMap(_.map(_._2 * 1e3)).toSeq
    val step = Stats.timing(steps)
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupS),
      "step_p50_ms" -> step.p50,
      "step_tail_ms" -> step.tail,
      "round_s" -> Stats.median(cold.zip(warm).map { case (c, w) => (c ++ w).map(_._2).sum }.toSeq))
    val detail = Map(
      "query.ts_s" -> coldTs,
      "query.corpus_s" -> coldCorpus,
      "query.warm_s" -> warmTotal)

    val layers = ctx.trace().map { tr =>
      // per layer: median over cold passes of the layer's summed query
      // time, and the mean driver-only time of its traced query spans
      val perLayer = (Catalog.TsLayers ++ Catalog.PipelineLayers).flatMap { l =>
        val spans = tr.spans.filter(_.name.startsWith(l + ".q_"))
        Seq(
          s"$l.s" -> Stats.median(cold.map(_.filter(q => LayerOf(q._1) == l).map(_._2).sum).toSeq),
          s"$l.driver_only_ms" -> Stats.mean(spans.map(tr.driverOnlyNs(_) / 1e6)))
      }.toMap
      def gap(ts: Boolean) =
        Stats.median(cold.map(family(_, ts)).toSeq) - Stats.median(warm.map(family(_, ts)).toSeq)
      perLayer ++ Map(
        "StageCache.persisted_rdds" -> cachedRdds.toDouble,
        "StageCache.cached_bytes" -> cachedBytes.toDouble,
        "cache.cold_warm_gap.ts_s" -> gap(ts = true),
        "cache.cold_warm_gap.corpus_s" -> gap(ts = false)) ++
        SparkLayer.metrics(tr, tr.topLevel, spark.sparkContext.defaultParallelism) ++
        Map("trace.overhead_share" -> MeterIngest.overhead(tracedS.toSeq, untracedS.toSeq))
    }.getOrElse(Map.empty)

    Outcome(endToEnd, layers ++ detail, Map(
      "queries" -> names.length, "rounds" -> cold.length, "warmup_s" -> warmupS,
      "setup_samples_s" -> setupS,
      "cold_pass_s" -> cold.map(_.map(_._2).sum).toSeq, "warm_pass_s" -> warm.map(_.map(_._2).sum).toSeq,
      "per_query_cold_s" -> cold.head.toMap, "per_query_warm_s" -> warm.head.toMap,
      "tail_percentile" -> step.tailPct, "steps" -> step.n))
  }
}
