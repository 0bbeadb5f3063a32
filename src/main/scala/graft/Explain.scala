package graft

import graft.store.{ChunkStore, StoreConfig, YearMonthAxis}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types._

/** Plan-inspection harness: dumps `explain("formatted")` for the headline
  * queries plus a chunk-store pruned read and a sync pull page, so
  * pushdown / partition pruning / broadcast decisions are reviewable (and
  * regressions visible in diffs of PLANS.md). Plans come from the bench
  * session ([[GraftSession]]), so they are the plans Bench and Verify run.
  * Run: `runMain graft.Explain <sfDir> <outFile> [q_a,q_b]` — the optional
  * third argument dumps the named queries' plans instead of the headline
  * list (before/after plan artifacts for one change).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir   = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val only    = args.lift(2).map(_.split(",").toSeq)
    val spark = GraftSession()
    // dump the plans the Bench/Verify harnesses actually run: LAZY stages
    // as of r17 (cached-stage partitioning is Unknown at plan time, so
    // consumers pay their own exchange — measured cheaper than the eager
    // counts; see Bench.scala)

    val headline = Seq(
      "q_scan_filter",     // pushdown: PushedFilters on events scan
      "q_revenue_join",    // broadcast joins of dims
      "q_grid_reindex",    // broadcast spine + left join
      "q_combine_first",   // single-shuffle ordered coalesce
      "q_interval_union",  // window + reused exchange for groupBy
      "q_cosine_topk",     // broadcast nested-loop of small query side
      "q_asof_join",       // union + one keyed window, no range join
      "q_asof_split",      // same, windowed per (key, bucket) + edge-carry stitch
      "q_interpolate",     // two-sided bucket-carry lerp, per (key, bucket) windows
      "q_rolling_median",  // padded-bucket trailing frame, no whole-series sort
      "q_islands_split",   // run-length islands, boundary run-state carry
      "q_range_join",      // binned equi-join, no nested loop
      "q_version_combine", // entry-rank join (no data-wide window) + min_by agg
      "q_perplexity",      // vocab joined on term key (NOT broadcast), 1-row total broadcast
      "q_quality_bins",    // broadcast quantile cutpoints, no global ntile
      "q_kmeans",          // centroid-literal assignment: no join, no window
      "q_dup_spans",       // hash-keyed dup filter + per-doc island window
      "q_update_merge",    // single-shuffle min_by merge, no determinism sort
      "q_lsh_multiprobe",  // query-side probe explode, corpus hashed once
      "q_pack_sequences",  // per-shard window sum only — no global sort
      "q_semantic_dedup",  // literal-centroid assignment + cluster-key self-join
      "q_incremental_dedup", // hash anti-join, no document bodies shuffled
      "q_curation_pipeline", // gate→dedup→sample→pack as one composed plan
      "q_quantize_embed",  // pure codegen'd projection, no shuffle pre-explode
      "q_winnow_pairs",    // per-doc windows + df-capped (fp, id) join
      "q_lsh_int8",        // bucket + score entirely on the int8 column
      "q_curate_diverse",  // cross-modal: text gate/dedup ⋈ embedding diversity
      "q_bloom_dedup",     // bloom map-side prune; anti-join only the maybe-seen sliver
      "q_ann_recall",      // joins two k·|queries| frames, never rescans the corpus
      "q_gopher_rep",      // one (doc, gram) shuffle per n, left-joined per-doc stats
      "q_feather_roundtrip", // one series groupBy; codec in a projection
      "q_blob_roundtrip",  // same shape for the lz4 chunk payload
      "q_dsir_scores",     // λ broadcast; no shuffle carries text
      "q_c4_filters",      // pure array projection: no explode, no shuffle
      "q_zipf",            // corpus→vocab agg; rank window over vocab only
      "q_novelty",         // shingle-hash df agg + id-keyed join-back
      "q_source_sim",      // one group agg; pairwise over groups broadcast
      "q_pca_topk",        // literal-basis projection + broadcast topk
      "q_cusum",           // bucket-carry prefix sums, (key, bucket) windows
      "q_chunk_docs",      // in-lambda chunking: explode carries slices only
      "q_logreg_score",    // trained literal weights; packed-array margins
      "q_heavy_hitters",   // one vocab agg feeds top-k AND the d sketch rollups
      "q_bpe_pairs",       // pair explode over the VOCAB frame, not the corpus
      "q_embed_dispersion", // pairwise mean WITHOUT pairs (sum-of-squares identity)
      "q_stratified_split", // bounded (stratum, bucket) windows + offset join
      "q_containment_pairs", // anchor-shingle candidates, linear volume
      "q_pmi_pairs",       // shared bigram stage + vocab-bounded marginals
      "q_winnow",          // fused scan-side winnow selection (r16)
      "q_bigram_ppl",      // scan-side bigram TF stage, Σtf marginals (r16)
      "q_tfidf",           // scan-side tokenTf map explode, no occurrence shuffle
      "q_pq_topk",         // literal-codebook codes + broadcast LUTs; corpus never shuffles
      "q_domain_stats",    // one host-keyed agg; partials reduce to distinct hosts
      "q_nfc_normalize",   // pure codegen'd normalization projection
      "q_ivfpq_topk",      // coarse cells prune the ADC join; residual LUTs broadcast
      "q_robots_filter",   // tiny rule table joined per host; struct-max winner, no sort
      "q_opq_topk")        // rotation literals in front of the PQ-ADC scan (r19)

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `runMain graft.Explain`. Reviewed properties: parquet\n")
    sb.append("`PushedFilters`/`ReadSchema` (pushdown + column pruning), \n")
    sb.append("`BroadcastHashJoin` on dimension/spine sides, `PartitionFilters`\n")
    sb.append("on the chunk store (partition pruning), and wide\n")
    sb.append("`WholeStageCodegen` spans.\n")
    only.getOrElse(headline).foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      sb.append(s"\n## $n\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }

    // Chunk-store read with time bounds → PartitionFilters on chunk_index.
    val dir = java.nio.file.Files.createTempDirectory("explain-store").toString + "/store"
    val st = new ChunkStore(spark, dir,
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis))
    import spark.implicits._
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    st.setTs(Map("kind" -> "k"),
      (0 until 24 * 120).map(i => (t0.plusHours(i.toLong), i.toDouble)).toDF("ts", "value"),
      now = t0)
    val z = java.time.ZoneOffset.UTC
    val read = st.getTs(Map("kind" -> "k"),
      start = Some(java.time.ZonedDateTime.of(2024, 3, 1, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2024, 3, 10, 0, 0, 0, 0, z)))
    sb.append(s"\n## chunkstore_get_ts (partition pruning)\n\n```\n")
    sb.append(read.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")

    // Sync.pull page: keyset predicate + distributed top-K — the 100 TB
    // pagination shape (no partition-less window anywhere in the plan).
    val syncDir = java.nio.file.Files.createTempDirectory("explain-sync").toString + "/store"
    val sst = new ChunkStore(spark, syncDir,
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis, syncEnabled = true))
    sst.setTs(Map("kind" -> "k"),
      (0 until 24 * 120).map(i => (t0.plusHours(i.toLong), i.toDouble)).toDF("ts", "value"),
      update = true, now = t0)
    val staged = graft.sync.Sync.updates(sst, t0.minusDays(1))
    val firstRow = staged.limit(1).collect().head
    val page = graft.sync.Sync.pageFrame(staged, sst.keys, Some(firstRow), 200)
    sb.append(s"\n## sync_pull_page (keyset pagination)\n\n```\n")
    sb.append(page.queryExecution.explainString(ExplainMode.fromString("formatted")))
    sb.append("```\n")

    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
