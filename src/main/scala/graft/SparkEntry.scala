package graft

import graft.pipeline.{Classifier, Clustering, Curation, Dedup, Multimodal, Packing, Sampling, Similarity, TextAnalysis}
import graft.functions.ShuffleWidth
import graft.ts.{Combine, Gaps, Grid, Intervals, Resample, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with an ANSI-SQL
  * twin in `oracleSql` runnable by DuckDB over the same parquet tables.
  *
  * Portability rules used throughout (so the DuckDB hash-compare is
  * byte-stable):
  *  - every timestamp output is TIMESTAMP_NTZ (naive, UTC wall time) —
  *    matches DuckDB's naive TIMESTAMP reading of the same parquet;
  *  - float aggregates are `round`-ed (2-6 dp depending on magnitude) in
  *    BOTH engines; integer sums are cast to BIGINT in SQL (DuckDB sums
  *    to HUGEINT otherwise);
  *  - both sides ORDER BY a deterministic key set.
  */
object SparkEntry {

  // ---- helpers ---------------------------------------------------------

  /** Memoized readers: `spark.read.parquet` builds a fresh file index
    * (directory listing + footer schema read) on EVERY call, and the
    * query surface reads the same immutable fixture tables hundreds of
    * times per session — the repeated listing was a measurable slice of
    * the per-query floor. One DataFrame per (session, dir, table);
    * reusing the object also makes the logical subtrees trivially
    * identical for [[graft.StageCache]] plan matching. The fixtures are
    * read-only by contract (TESTDATA.md), so the memo can never serve a
    * stale schema.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  private def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    // drop entries of STOPPED sessions, but only on a MISS: a DataFrame
    // holds a hard reference to its session, so without the purge a
    // restarted-session JVM (test suites, notebooks) retains every dead
    // session's state forever (ADVICE r12) — yet scanning the whole
    // registry on every hit would be O(cache) work on the hottest entry
    // point (ADVICE r13). A stale entry can only be created by a miss,
    // so purging before each insert bounds staleness the same way.
    // (Not inside computeIfAbsent's mapper — mutating a ConcurrentHashMap
    // from its own compute function is forbidden.)
    if (!tableCache.containsKey(key))
      tableCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    tableCache.computeIfAbsent(key,
      _ => spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Naive literal timestamp (TIMESTAMP_NTZ). Built from LocalDateTime —
    * Catalyst maps it straight to a TIMESTAMP_NTZ literal with no
    * epoch/instant hop, so the wall time survives ANY JVM default tz
    * (java.sql.Timestamp.valueOf + cast would shift when JVM tz ≠ session
    * tz).
    */
  private def ts(s: String): Column =
    lit(java.time.LocalDateTime.parse(s.replace(" ", "T")))

  private def ntz(c: Column): Column = c.cast("timestamp_ntz")

  /** Schema-adaptive events reader. The fixture's `ts` physical type has
    * drifted across driver generations: TIMESTAMP(NANOS) (which Spark's
    * parquet reader rejects unless `legacy.parquet.nanosAsLong` is set, and
    * then surfaces as LongType) vs plain timestamp[us]. A NANOS file fails
    * at schema load without the conf, so we set it BEFORE the read, branch
    * on the dataType that actually loaded, and restore the previous value
    * (the conf only changes how NANOS columns surface — a µs file reads as
    * TimestampType either way).
    */
  private val eventsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  private[graft] def events(spark: SparkSession, dir: String): DataFrame = {
    // memoized like [[table]] (the conf dance + schema branch run once
    // per (session, dir), not once per query; dead sessions purged the
    // same miss-only way)
    val key = (spark, dir)
    if (!eventsCache.containsKey(key))
      eventsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    eventsCache.computeIfAbsent(key, _ => eventsUncached(spark, dir))
  }

  private def eventsUncached(spark: SparkSession, dir: String): DataFrame = synchronized {
    // synchronized: the set→schema-load→restore below is the ONLY
    // session-conf mutation in the query surface; serializing it makes
    // every query thread-safe, so Verify can dump queries concurrently
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    val raw =
      try { spark.conf.set(key, "true"); table(spark, dir, "events") }
      catch { case e: Throwable => restoreConf(spark, key, prev); throw e }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // TIMESTAMP(NANOS) read as raw nanos: floor-convert to µs — exactly
        // what DuckDB's scanner does, so both engines see identical values.
        // The conf stays set: the scan re-reads it at execution time, and
        // unsetting it here would fail the deferred parquet read.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ =>
        // Plain timestamp[us]: no legacy handling needed — restore the conf
        // so the session-wide side effect doesn't leak to other reads.
        restoreConf(spark, key, prev)
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  private def restoreConf(spark: SparkSession, key: String, prev: Option[String]): Unit =
    prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }

  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "lineitem").withColumn("l_shipdate", ntz(col("l_shipdate")))

  private def orders(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "orders").withColumn("o_orderdate", ntz(col("o_orderdate")))

  /** The headline classifier fit (documents, is_long = n_chars >= 250,
    * 256 buckets, 12 GD steps, lr 3.0) as a [[pipeline.ModelCache]]
    * artifact: q_logreg_train publishes it and q_logreg_score consumes
    * it — ONE training run per session per dataset, the way a pipeline
    * actually deploys a gate model (VERDICT r11 #1).
    */
  private def logregWeights(s: SparkSession, d: String): Array[Long] =
    pipeline.ModelCache.getOrFit(s"logreg:$d:documents:is_long:b256:i12:lr3.0") {
      val docs = table(s, d, "documents").withColumn("is_long", col("n_chars") >= 250)
      Classifier.trainLogRegWeights(docs, "doc_id", "text", "is_long",
        numBuckets = 256, iters = 12, lr = 3.0)
    }

  /** Flagship: gap analysis over the event stream at sf0.001 — grid
    * reindex + hole islands (G2/G3), the reference's core analytic.
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = events(spark, "/root/testdata/sf0.001")
    val perDay = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("ts"))
      .agg(count(lit(1)).cast("double").as("value"))
    Gaps.holes(perDay, Seq("user_id"),
      java.time.LocalDateTime.parse("2024-01-01T00:00"),
      java.time.LocalDateTime.parse("2024-01-30T00:00"), 86400L)
  }

  // ---- the operator inventory -----------------------------------------

  // ListMap: declaration order is the iteration order, so Verify dumps
  // and Bench JSON keys are stable run-to-run (not hash-ordered)
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    scala.collection.immutable.ListMap(

    // S1/P1/P3 — keyed scan + time slice (pushdown-friendly literal filters)
    "q_scan_filter" -> ((s, d) => {
      events(s, d)
        .filter(col("user_id") === 7 && col("event_type") === "view")
        .filter(col("ts") >= ts("2024-01-05 00:00:00") && col("ts") < ts("2024-01-20 00:00:00"))
        .select(col("event_id"), col("ts"), col("value"))
        .orderBy("event_id")
    }),

    // P1 — Django __-lookup filter compilation (in/range/startswith/lt) on the scan
    // path (chunk_timeserie_store.py:889-899; graft.store.Lookups): the
    // compiled predicates stay pushdown-eligible literals.
    "q_lookup_filter" -> ((s, d) => {
      events(s, d)
        .filter(graft.store.Lookups.compile(Map(
          "user_id__in" -> Seq(1, 5, 9, 23),
          "ts__range" -> (java.time.LocalDateTime.parse("2024-01-10T00:00"),
                          java.time.LocalDateTime.parse("2024-02-20T00:00")),
          "event_type__startswith" -> "vi",
          "value__lt" -> 50.0)).get)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("user_id")
    }),

    // P2/F7 — chunk_index derivation + range pruning (year*12+month-1).
    // The chunk filter is on a DERIVED column, which no parquet reader can
    // push down — so the equivalent ts bounds ride along (chunk 24288 =
    // 2024-01, 24289 = 2024-02; chunkIndexMonthly is monotone in ts, so
    // [24288, 24289] ⇔ ts ∈ [2024-01-01, 2024-03-01) UTC) and row groups
    // prune at the scan. This is exactly the store read path's discipline
    // (ChunkStore.getTs derives both a partition filter AND ts bounds from
    // one interval); the r14 job probe showed the unpruned scan at 0.7 s
    // for a 2-row answer.
    "q_chunk_prune" -> ((s, d) => {
      val ci = Grid.chunkIndexMonthly(col("ts"), "UTC")
      events(s, d)
        .filter(col("ts") >= ts("2024-01-01 00:00:00") && col("ts") < ts("2024-03-01 00:00:00"))
        .withColumn("chunk_index", ci)
        .filter(col("chunk_index") >= 24288 && col("chunk_index") <= 24289)
        .groupBy("chunk_index")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("chunk_index")
    }),

    // J4 — dense calendar-grid reindex (spine LEFT JOIN values)
    "q_grid_reindex" -> ((s, d) => {
      val vals = events(s, d).filter(col("user_id") < 10)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
        .agg(round(avg(col("value")), 4).as("value_avg"))
      Grid.reindex(vals, Seq("user_id"),
          java.time.LocalDateTime.parse("2024-01-01T00:00"),
          java.time.LocalDateTime.parse("2024-01-08T00:00"), 3600L)
        .select(col("user_id"), col("ts"), col("value_avg"))
        .orderBy("user_id", "ts")
    }),

    // J1 — ts_combine_first: first non-null by priority at each (key, ts).
    // The fixture has duplicate (orderkey, linenumber) rows, so collapse to
    // one row per priority first (max ignores nulls) — keeps the ordered
    // coalesce deterministic in both engines.
    "q_combine_first" -> ((s, d) => {
      val li = lineitem(s, d).withColumn("val",
        when(col("l_discount") < 0.02, lit(null)).otherwise(col("l_quantity")))
      // ONE exchange for both stacked aggregations: hash-partitioning by
      // the (orderkey, shipdate) PREFIX satisfies ClusteredDistribution
      // for the wider (orderkey, shipdate, linenumber) grouping too, so
      // the dedup collapse and the ordered coalesce run back-to-back on
      // the same shuffle output instead of re-shuffling 600k
      // near-unchanged rows between them. Same trick at any scale: the
      // second agg's keys are a prefix of the first's.
      val uniq = li
        .repartition(ShuffleWidth.pinned(s), col("l_orderkey"), col("l_shipdate"))
        .groupBy(col("l_orderkey"), col("l_shipdate").as("ts"), col("l_linenumber"))
        .agg(max(col("val")).as("val"))
      uniq.groupBy(col("l_orderkey"), col("ts"))
        .agg(Combine.firstNonNullByPriority(col("val"), col("l_linenumber")).as("value"))
      // no trailing orderBy: 600k output rows, and the correctness
      // compare re-sorts before hashing (q_update_merge discipline)
    }),

    // J2 — version-combined read (highest version wins, lower fills);
    // collapsed to one row per (key, ts, version) for determinism.
    "q_version_combine" -> ((s, d) => {
      val li = lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").as("version"),
        col("l_shipdate").as("ts"),
        when(col("l_tax") > 0.06, lit(null)).otherwise(col("l_extendedprice")).as("value"))
      // one exchange for both stacked aggs (q_combine_first trick): the
      // (orderkey, ts) partitioning satisfies the wider dedup grouping
      // AND the ordered-coalesce grouping
      val uniq = li.repartition(ShuffleWidth.pinned(s), col("l_orderkey"), col("ts"))
        .groupBy("l_orderkey", "version", "ts").agg(max(col("value")).as("value"))
      Combine.combineVersions(uniq, Seq("l_orderkey"), "version", "ts", "value")
      // no trailing orderBy (600k rows; compare re-sorts)
    }),

    // J2 knobs — get_lc(order_by=('version',), custom_filters={'version__gte': 2}):
    // ascending fold order (oldest entry wins) over a lookup-filtered scan
    // (hostore.py:218-268; Lookups.compileOne("version__gte", 2)).
    "q_version_select" -> ((s, d) => {
      val li = lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber").as("version"),
        col("l_shipdate").as("ts"),
        when(col("l_tax") > 0.06, lit(null)).otherwise(col("l_extendedprice")).as("value"))
      val uniq = li.filter(graft.store.Lookups.compileOne("version__gte", 2))
        .repartition(ShuffleWidth.pinned(s), col("l_orderkey"), col("ts")) // one exchange, both aggs
        .groupBy("l_orderkey", "version", "ts").agg(max(col("value")).as("value"))
      Combine.combineOrdered(uniq, Seq("l_orderkey"), Seq("version" -> true), "ts", "value")
      // no trailing orderBy (500k rows; compare re-sorts)
    }),

    // J3 — update merge: new.combine_first(existing), both feeds derived
    // from one lineitem aggregation expression (ts is a group key, so the
    // shipdate predicate is constant per group and a conditional max
    // equals the old filtered re-aggregation). r18: the two sides ride
    // updateMergeColumns — ONE aggregation pass projects both __new/__old,
    // the (prio, value) pairs stack AFTER it, and the merge groupBy keys
    // on the partitioning that aggregation already produced, so the whole
    // query is one scan + ONE exchange (PlanSpec pins 1). The r17 union
    // form paid two narrow branch shuffles because Catalyst prunes each
    // branch to its own value column (no exchange reuse possible): warm
    // 2.0 s / cold residue 1.3-1.9 s in every r17 gate sample. No
    // trailing orderBy: the correctness compare re-sorts before hashing.
    "q_update_merge" -> ((s, d) => {
      val agg = lineitem(s, d)
        .repartition(ShuffleWidth.pinned(s), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .groupBy(col("l_orderkey"), col("l_linenumber"), col("l_shipdate").as("ts"))
        .agg(
          max(when(col("l_shipdate") >= ts("1998-01-01 00:00:00"), col("l_quantity") * 2)).as("__new"),
          max(col("l_quantity")).as("__old"))
      Combine.updateMergeColumns(agg, Seq("l_orderkey", "l_linenumber"), "__new", "__old")
    }),

    // G1 — gaps-and-islands: runs of equal value per key (null-safe)
    "q_islands" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("value"))
      Gaps.constantIslands(ev, Seq("user_id"), "ts", "value", Seq("event_id"))
        .select(col("user_id"), col("run_start"), col("run_end"), col("value"), col("run_len"))
        .orderBy("user_id", "run_start")
    }),

    // hot-series islands (constantIslandsSplit: per-bucket run-length with
    // a boundary run-state carry — q_asof_split's precedent: the scale
    // path gets its own oracle pin, the plain form keeps the benchmark
    // shape). Same oracle SQL as q_islands; identical output required.
    "q_islands_split" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("value"))
      Gaps.constantIslandsSplit(ev, Seq("user_id"), "ts", "value", Seq("event_id"))
        .select(col("user_id"), col("run_start"), col("run_end"), col("value"), col("run_len"))
        .orderBy("user_id", "run_start")
    }),

    // G2/G3 — completeness holes over a dense grid, absent keys → full range
    "q_holes" -> ((s, d) => {
      // the purchase day-rollup is shared verbatim by q_holes_mindelta
      // and q_find_groups but NOT registered (r21, VERDICT r20 #1): the
      // r20 registration coincided with a +0.9 s regression PER QUERY in
      // the driver bench (holes 0.67→1.55, find_groups 0.83→1.69), and
      // the r20 cached-scan profile showed an InMemoryRelation read of
      // exactly this ~260k-row rollup costing 10-16 task-CPU-s vs 0.2 to
      // recompute from the parquet scan. The r21 A/B on the build host
      // (subset bench, reps=5, min-of-5, twice each way) read the
      // OPPOSITE sign at small magnitude — registered 0.25/0.27/0.37 s
      // vs dropped 0.31-0.34/0.34/0.44-0.54 — i.e. the cached read costs
      // ~70-170 ms here but ~900 ms on the (memory-pressured) driver
      // host. Dropping is the risk-asymmetric choice: a native
      // aggregation recompute is bounded and environment-independent;
      // the cached-read cost is not. Details in OPTIMIZATION_r21.md.
      val ev = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("ts"))
        .agg(count(lit(1)).cast("double").as("value"))
      val requested = s.range(20).toDF("user_id")
      Gaps.holes(ev, Seq("user_id"),
          java.time.LocalDateTime.parse("2024-01-01T00:00"),
          java.time.LocalDateTime.parse("2024-01-30T00:00"), 86400L,
          requestedKeys = Some(requested))
        .orderBy("user_id", "hole_start")
    }),

    // G3/G5 — holes with min_delta threading: boundary gaps shorter than
    // min_delta drop (difference_missing semantics); interior islands and
    // all-missing keys survive unconditionally.
    "q_holes_mindelta" -> ((s, d) => {
      val ev = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("ts"))
        .agg(count(lit(1)).cast("double").as("value"))
      Gaps.holes(ev, Seq("user_id"),
          java.time.LocalDateTime.parse("2024-01-01T00:00"),
          java.time.LocalDateTime.parse("2024-01-30T00:00"), 86400L,
          requestedKeys = Some(s.range(20).toDF("user_id")),
          minDeltaSecs = 3 * 86400L)
        .orderBy("user_id", "hole_start")
    }),

    // G5 — interval union (sweep-line as windows)
    "q_interval_union" -> ((s, d) => {
      val iv = orders(s, d).select(
        col("o_custkey"),
        col("o_orderdate").as("start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("end"))
      Intervals.unionIntervals(iv, Seq("o_custkey"))
        .orderBy("o_custkey", "merged_start")
    }),

    // G4 — find_groups: cluster keys by identical missing-range lists
    "q_find_groups" -> ((s, d) => {
      val ev = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("ts"))
        .agg(count(lit(1)).cast("double").as("value"))
      Gaps.findGroups(ev, "user_id",
          java.time.LocalDateTime.parse("2024-01-01T00:00"),
          java.time.LocalDateTime.parse("2024-01-15T00:00"), 86400L,
          requestedKeys = Some(s.range(30).toDF("user_id")))
        .orderBy("missing_sig")
    }),

    // dedup — embedding-cosine near-dup pairs. Explicit label block keeps
    // the oracle SQL-expressible; the no-block DEFAULT is sign-LSH
    // bucketing (scale path, DedupSpec-covered).
    "q_embed_dedup" -> ((s, d) => {
      Dedup.embeddingCosinePairs(table(s, d, "embeddings"), "vec_id", "embedding",
          blockCols = Seq("label"), minCos = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
        .orderBy("id_a", "id_b")
    }),

    // dedup — cross-corpus incremental exact dedup: the odd-id "new
    // crawl" snapshot anti-joined against the even-id "standing corpus"
    // on content hash, then self-deduped (min id per hash)
    "q_incremental_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.crossCorpusDedup(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("content_hash"))
        .orderBy("doc_id")
    }),

    // dedup — Bloom-join crawl increment: the increment's hashes go into
    // a Bloom sketch, the corpus scan is pruned MAP-SIDE by
    // might_contain (no false negatives → no dup can slip through), and
    // the increment anti-joins only the surviving corpus hashes — so
    // corpus hashes never shuffle in full, the result is EXACT, and the
    // oracle is the plain anti-join. Different split (mod 3) than
    // q_incremental_dedup so the two paths can't shadow each other.
    "q_bloom_dedup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.crossCorpusDedupBloom(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("content_hash"))
        .orderBy("doc_id")
    }),

    // dedup — SemDeDup-style semantic dedup: kmeans-bucketed exact
    // cosine, drop a vector when a lower-id cluster-mate is within tau.
    // subPlanes=8 sub-blocks each cluster by sign-LSH bucket (block key =
    // cluster × bucket) so the quadratic block is |cluster ∩ bucket|, not
    // |cluster| — the fixed-k scale guard; subProbes=2 multi-probes the
    // lower-id side for recall at the bucket boundary.
    "q_semantic_dedup" -> ((s, d) => {
      Dedup.semanticDedup(table(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2, tau = 0.4, subPlanes = 8, subProbes = 2,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("id").as("vec_id"), col("cluster"), col("dup_of"), col("keep"))
        .orderBy("vec_id")
    }),

    // P4 — bounds-NaN trim (keep [first, last] non-null per key)
    "q_trim_bounds" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "error", lit(null)).otherwise(col("value")).as("value"))
      Resample.trimBounds(ev, Seq("user_id"))
        .select("user_id", "event_id", "ts", "value")
        .orderBy("user_id", "event_id")
    }),

    // P6 — delay slice: drop the first 72h of each key's series
    "q_delay_slice" -> ((s, d) => {
      Resample.sliceWithDelay(events(s, d), Seq("user_id"), 72 * 3600L)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("user_id")
    }),

    // A8 — min-max normalize per key (constant series → null)
    "q_normalize" -> ((s, d) => {
      Resample.normalize(events(s, d), Seq("user_id"))
        .select(col("event_id"), col("user_id"), round(col("value_norm"), 6).as("value_norm"))
        .orderBy("event_id")
    }),

    // A9 — frequency inference: min consecutive step per key (exact µs)
    "q_min_freq" -> ((s, d) => {
      Resample.minFreq(events(s, d), Seq("user_id")).orderBy("user_id")
    }),

    // stats — exponential smoothing level per series (Series.ewm analog):
    // scale-safe segmented fold (per-segment affine pairs composed in ts
    // order — no whole-series buffer); the oracle runs the collected
    // sequential fold (list_reduce), mathematically identical, and the
    // 6-dp round absorbs float reassociation
    "q_ewma" -> ((s, d) => {
      Stats.ewmaLevelSegmented(events(s, d).filter(col("user_id") < 40), Seq("user_id"), alpha = 0.3)
        .select(col("user_id"), col("n"), round(col("ewma"), 6).as("ewma"))
        .orderBy("user_id")
    }),

    // stats — winsorized clipping per series (Series.clip(quantiles)):
    // exact interpolated percentiles (Spark percentile == quantile_cont)
    "q_winsorize" -> ((s, d) => {
      Stats.winsorize(events(s, d).filter(col("user_id") < 10), Seq("user_id"),
          pLo = 0.05, pHi = 0.95)
        .select(col("event_id"), col("user_id"), round(col("value_clipped"), 6).as("value_clipped"))
        .orderBy("event_id")
    }),

    // stats — fixed-range histogram per series (value_counts(bins)):
    // shared [0, 100) grid, out-of-range values clamp to edge bins
    "q_histogram" -> ((s, d) => {
      Stats.histogram(events(s, d).filter(col("user_id") < 10), Seq("user_id"),
          lo = 0.0, hi = 100.0, bins = 20)
        .select(col("user_id"), col("bin"), round(col("bin_lo"), 6).as("bin_lo"), col("n"))
        .orderBy("user_id", "bin")
    }),

    // stats — MAD-rule robust outliers per series (load-curve QA):
    // exact medians both sides, only flagged rows returned
    "q_mad_outliers" -> ((s, d) => {
      Stats.madOutliers(events(s, d).filter(col("user_id") < 20), Seq("user_id"), k = 3.5)
        .filter(col("is_outlier"))
        .select(col("event_id"), col("user_id"), round(col("value"), 6).as("value"))
        .orderBy("event_id")
    }),

    // resample — period OHLC downsampling (pandas resample().ohlc());
    // open/close via the (ts, value) min/max-struct trick, one agg
    "q_ohlc" -> ((s, d) => {
      Resample.ohlc(events(s, d).filter(col("user_id") < 50), Seq("user_id"), "hour")
        .select(col("user_id"), col("period"),
          round(col("open"), 6).as("open"), round(col("high"), 6).as("high"),
          round(col("low"), 6).as("low"), round(col("close"), 6).as("close"), col("n"))
        .orderBy("user_id", "period")
    }),

    // stats — cumulative-meter consumption deltas with counter-reset
    // handling (Prometheus increase() semantics; first reading null).
    // Runs the bucket-carry split form (bounded lag-window partitions;
    // law-tested identical to the whole-series lag, the oracle twin)
    "q_counter_delta" -> ((s, d) => {
      Stats.counterDeltaSplit(events(s, d).filter(col("user_id") < 20), Seq("user_id"),
          orderCol = "event_id", splitSeconds = 7L * 86400L)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value"), 6).as("value"), round(col("delta"), 6).as("delta"),
          col("is_reset"))
        .orderBy("user_id", "event_id")
    }),

    // stats — CUSUM change-point detection per series (Page 1954) as
    // prefix-sum-minus-running-min window algebra; drift terms in exact
    // integer micro-units scaled by n (no float mean, the inertia
    // lesson). The query runs the bucket-carry SPLIT form (bounded
    // window partitions; law-tested bit-identical to the whole-series
    // form, which stays the DuckDB-portable oracle twin)
    "q_cusum" -> ((s, d) => {
      Stats.cusumSplit(events(s, d).filter(col("user_id") < 20), Seq("user_id"),
          slack = 25.0, threshold = 200.0, splitSeconds = 7L * 86400L)
        .select(col("user_id"), col("ts"), col("value"),
          col("cusum_hi"), col("cusum_lo"), col("alarm"))
        .orderBy("user_id", "ts", "value")
    }),

    // stats — weekly seasonal residuals (dow × hod profile, the
    // load-curve shape primitive); dow is 0=Sunday in both engines
    "q_deseasonalize" -> ((s, d) => {
      Stats.deseasonalize(events(s, d).filter(col("user_id") < 5), Seq("user_id"))
        .select(col("event_id"), col("user_id"),
          round(col("profile_mean"), 6).as("profile_mean"),
          round(col("residual"), 6).as("residual"))
        .orderBy("event_id")
    }),

    // A5 — max_horodate: latest non-null ts per key; absent keys → null
    "q_max_horodate" -> ((s, d) => {
      val live = events(s, d).filter(col("event_type") =!= "error")
        .groupBy("user_id").agg(max(col("ts")).as("max_horodate"))
      s.range(160).toDF("user_id").join(live, Seq("user_id"), "left")
        .orderBy("user_id")
    }),

    // A3 — last_updated_at with 2000-01-01 default on empty
    "q_last_updated" -> ((s, d) => {
      val upd = events(s, d).filter(col("event_type") === "signup")
        .groupBy("user_id").agg(max(col("ts")).as("mx"))
      s.range(20).toDF("user_id").join(upd, Seq("user_id"), "left")
        .select(col("user_id"),
          coalesce(col("mx"), ts("2000-01-01 00:00:00")).as("last_updated"))
        .orderBy("user_id")
    }),

    // A1/A2/A4 — counting aggregates
    "q_counts" -> ((s, d) => {
      events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          max(col("event_id")).as("max_event_id"))
        .orderBy("event_type")
    }),

    // J5 (prereq) — forward fill over the dense grid
    "q_ffill" -> ((s, d) => {
      val vals = events(s, d)
        .filter(col("user_id") < 5 && col("ts") >= ts("2024-01-01 00:00:00") && col("ts") < ts("2024-01-08 00:00:00"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
        .agg(round(avg(col("value")), 4).as("value_avg"))
      val dense = Grid.reindex(vals, Seq("user_id"),
        java.time.LocalDateTime.parse("2024-01-01T00:00"),
        java.time.LocalDateTime.parse("2024-01-07T23:00"), 3600L)
      // split form (day buckets over the 7-day window): same semantics as
      // the whole-series window, no single-task series — oracle unchanged
      Resample.ffillSplit(dense, Seq("user_id"), "ts", "value_avg", "value_ffill",
          splitSeconds = 86400L)
        .select("user_id", "ts", "value_ffill")
        .orderBy("user_id", "ts")
    }),

    // time-weighted linear interpolation of the dense grid's interior
    // holes (Series.interpolate(method='time')); leading/trailing stay
    // null — no extrapolation
    "q_interpolate" -> ((s, d) => {
      val vals = events(s, d)
        .filter(col("user_id") < 5 && col("ts") >= ts("2024-01-01 00:00:00") && col("ts") < ts("2024-01-08 00:00:00"))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("ts"))
        .agg(round(avg(col("value")), 4).as("value_avg"))
      val dense = Grid.reindex(vals, Seq("user_id"),
        java.time.LocalDateTime.parse("2024-01-01T00:00"),
        java.time.LocalDateTime.parse("2024-01-07T23:00"), 3600L)
      // split form (day buckets over the 7-day window): same semantics as
      // the whole-series window, no single-task series — oracle unchanged
      Resample.interpolateSplit(dense, Seq("user_id"), "ts", "value_avg", "value_interp",
          splitSeconds = 86400L)
        .select(col("user_id"), col("ts"), round(col("value_interp"), 6).as("value_interp"))
        .orderBy("user_id", "ts")
    }),

    // stats — robust rolling baseline: 24-row median window. Split form
    // (30-day padded buckets): same semantics as the whole-series window
    // (StatsSpec padding law), no single-task series — oracle unchanged
    "q_rolling_median" -> ((s, d) => {
      Stats.rollingMedianSplit(events(s, d).filter(col("user_id") < 5), Seq("user_id"),
          n = 24, orderCol = "event_id")
        .select(col("event_id"), col("user_id"), round(col("roll_med"), 6).as("roll_med"))
        .orderBy("event_id")
    }),

    // stats — tariff split: weekday 8-20h is peak (dow 0=Sunday both
    // engines after the -1 shift)
    "q_peak_offpeak" -> ((s, d) => {
      Stats.peakOffpeak(events(s, d).filter(col("user_id") < 40), Seq("user_id"))
        .select(col("user_id"), col("is_peak"),
          round(col("energy"), 4).as("energy"), col("n"))
        .orderBy("user_id", "is_peak")
    }),

    // stats — daily load factor (avg/max flatness KPI)
    "q_load_factor" -> ((s, d) => {
      Stats.loadFactor(events(s, d).filter(col("user_id") < 10), Seq("user_id"))
        .select(col("user_id"), col("day"), round(col("load_factor"), 6).as("load_factor"))
        .orderBy("user_id", "day")
    }),

    // stats — lag-1 autocorrelation per series: the forecasting
    // sanity-check number (persistence strength) straight off the store
    "q_autocorr" -> ((s, d) => {
      Stats.autocorr(events(s, d).filter(col("user_id") < 40), Seq("user_id"),
          lagK = 1, tsCol = "ts", orderCol = "event_id")
        .select(col("user_id"), col("n_pairs"), round(col("acf"), 6).as("acf"))
        .orderBy("user_id")
    }),

    // J5 — upsample with reference profile (ratio-to-period-mean)
    "q_upsample" -> ((s, d) => {
      val ev = events(s, d)
      val spine = Grid.spine(s,
        java.time.LocalDateTime.parse("2024-01-01T00:00"),
        java.time.LocalDateTime.parse("2024-01-07T23:00"), 3600L)
      val users = s.range(3).toDF("user_id")
      val ref = ev.groupBy(date_trunc("hour", col("ts")).as("ts"))
        .agg(round(sum(col("value")), 4).as("ref0"))
      val feat = ev.filter(col("user_id") < 3)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(round(sum(col("value")), 4).as("feat"))
      val dense = users.crossJoin(broadcast(spine))
        .withColumn("day", date_trunc("day", col("ts")))
        .join(ref, Seq("ts"), "left")
        .withColumn("ref", coalesce(col("ref0"), lit(0.0)))
        .join(feat, Seq("user_id", "day"), "left")
      Resample.upsampleWithProfile(dense, Seq("user_id"), "day", "feat", "ref", "value_up")
        .select(col("user_id"), col("ts"), round(col("value_up"), 4).as("value_up"))
        .orderBy("user_id", "ts")
    }),

    // I1 — sync updates listing: chunk metadata since a watermark, paginated
    "q_sync_updates" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("chunk_day"))
        .agg(max(col("ts")).as("updated_at"))
        .filter(col("updated_at") >= ts("2024-01-15 00:00:00"))
        .orderBy(col("updated_at"), col("user_id"), col("chunk_day"))
        .offset(50).limit(100)
    }),

    // find_groups piece — requested keys minus stored keys (anti-join)
    "q_absent_keys" -> ((s, d) => {
      s.range(200).toDF("user_id")
        .except(events(s, d).select(col("user_id")).distinct())
        .orderBy("user_id")
    }),

    // P5/W7 — tombstone filter: readers exclude soft-deleted rows
    "q_tombstone_filter" -> ((s, d) => {
      events(s, d)
        .withColumn("is_deleted", col("event_id") % 7 === 0)
        .filter(!col("is_deleted"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // analytics extension — grouping sets (ROLLUP) over the fact table
    "q_rollup" -> ((s, d) => {
      lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // analytics extension — sessionization: gaps > 30 min split sessions
    // (training-data event segmentation; islands over time deltas)
    "q_sessionize" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .withColumn("__new", when(col("__prev").isNull ||
          unix_micros(col("ts").cast("timestamp")) - unix_micros(col("__prev").cast("timestamp")) > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("__new")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    // analytics tier — TPC-H-style pricing summary (bench headliner)
    "q_pricing_summary" -> ((s, d) => {
      lineitem(s, d).filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // analytics tier — multi-way dimension join (broadcast dims)
    "q_revenue_join" -> ((s, d) => {
      val li = lineitem(s, d); val o = orders(s, d)
      val c = table(s, d, "customer"); val n = table(s, d, "nation"); val r = table(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") && col("o_orderdate") < ts("1996-01-01 00:00:00"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy("n_name")
    }),

    // analytics tier — top-k with deterministic tie-break
    "q_top_customers" -> ((s, d) => {
      orders(s, d).groupBy("o_custkey")
        .agg(sum(col("o_totalprice")).as("rev_raw"))
        .orderBy(col("rev_raw").desc, col("o_custkey"))
        .limit(10)
        .select(col("o_custkey"), round(col("rev_raw"), 2).as("revenue"))
    }),

    // dedup — exact duplicate groups by content hash
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(table(s, d, "documents"), "doc_id", "text")
        .orderBy("content_hash")
    }),

    // dedup — normalization-robust exact groups: hash the canonical form
    // (lowercase, punctuation/whitespace collapsed) so near-exact dups
    // that raw-byte hashing misses land in one group
    "q_dedup_norm" -> ((s, d) => {
      val docs = table(s, d, "documents")
        .withColumn("__ctext", TextAnalysis.canonicalize(col("text")))
      Dedup.exactGroups(docs, "doc_id", "__ctext")
        .orderBy("content_hash")
    }),

    // dedup — exact-dup drop list (non-canonical rows)
    "q_dedup_drop" -> ((s, d) => {
      Dedup.exactDropList(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // text analysis — canonical URL form (crawl-pipeline dedup key:
    // case/port/fragment/tracking-param/param-order variants collapse).
    // The fixture has no url column, so the query manufactures four
    // variant spellings per page deterministically from doc_id (the
    // q_gopher_lines precedent), plus a garbage row that must null out.
    "q_url_canon" -> ((s, d) => {
      val grp = pmod(col("doc_id"), lit(50L)).cast("string")
      val url = when(pmod(col("doc_id"), lit(97L)) === 0, lit("garbage no scheme"))
        .when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit("http://Example.COM/p"), grp, lit("/x?b=2&a=1&utm_source=s#frag")))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("HTTP://example.com:80/p"), grp, lit("/x?a=1&b=2")))
        .when(pmod(col("doc_id"), lit(4L)) === 2,
          concat(lit("http://example.com/p"), grp, lit("/x/?b=2&a=1&utm_campaign=c")))
        .otherwise(concat(lit("http://example.com//p"), grp, lit("//x?a=1&ref=r&b=2")))
      table(s, d, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          TextAnalysis.canonicalUrl(col("url")).as("canon"))
        .orderBy("doc_id")
    }),

    // text analysis — per-domain corpus composition (docs, distinct
    // canonical pages, token mass, duplicate-fetch ratio). URLs are
    // manufactured as in q_url_canon but with the host varying by
    // doc_id%7, so the rollup has real per-domain structure; the garbage
    // row must fall out (no domain).
    "q_domain_stats" -> ((s, d) => {
      val grp = pmod(col("doc_id"), lit(50L)).cast("string")
      val hn = pmod(col("doc_id"), lit(7L)).cast("string")
      val url = when(pmod(col("doc_id"), lit(97L)) === 0, lit("garbage no scheme"))
        .when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit("http://H"), hn, lit(".Example.COM/p"), grp, lit("/x?b=2&a=1&utm_source=s#frag")))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("HTTP://h"), hn, lit(".example.com:80/p"), grp, lit("/x?a=1&b=2")))
        .when(pmod(col("doc_id"), lit(4L)) === 2,
          concat(lit("http://h"), hn, lit(".example.com/p"), grp, lit("/x/?b=2&a=1&utm_campaign=c")))
        .otherwise(concat(lit("http://h"), hn, lit(".example.com//p"), grp, lit("//x?a=1&ref=r&b=2")))
      TextAnalysis.domainStats(
          table(s, d, "documents").withColumn("url", url), "url", "text")
        .select(col("host"), col("n_docs"), col("n_pages"), col("n_tokens"),
          round(col("dup_ratio"), 6).as("dup_ratio"))
        .orderBy("host")
    }),

    // text analysis — robots.txt fetch gating (RFC 9309): per-host
    // robots text parsed into the graftbot-effective rule groups (exact
    // group beats *, h1 names neither -> unruled), then longest-rule
    // wildcard matching with allow-wins-ties over manufactured fetch URLs
    "q_robots_filter" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(
        ("h0.example.com",
          "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n" +
            "User-agent: graftbot\nDisallow: /p1\nDisallow: /*.tmp$\n"),
        ("h1.example.com", "# comments only\nUser-agent: other\nDisallow: /\n"),
        ("h2.example.com", "User-agent: *\nDisallow: /\nAllow: /p"))
        .toDF("host", "rtxt")
      val rules = TextAnalysis.robotsRules(robots, "host", "rtxt", agent = "graftbot")
      val path = element_at(
        typedlit(Seq("/p1/x", "/q", "/file.tmp", "/file.tmp2", "/p")),
        (pmod(col("doc_id"), lit(5L)) + 1).cast("int"))
      val urls = table(s, d, "documents").select(col("doc_id"),
        concat(lit("http://h"), pmod(col("doc_id"), lit(3L)).cast("string"),
          lit(".example.com"), path).as("canon"))
      TextAnalysis.robotsAllowed(urls, "doc_id", "canon", rules)
        .select(col("doc_id"), col("canon"), col("allowed"))
        .orderBy("doc_id")
    }),

    // text analysis — crawl-frontier budget: the robots verdicts rolled
    // up per host (how much of each domain's fetch list robots lets
    // through — the number a crawl scheduler allocates against)
    "q_crawl_frontier" -> ((s, d) => {
      import s.implicits._
      val robots = Seq(
        ("h0.example.com",
          "User-agent: *\nDisallow: /private\nAllow: /private/ok\n\n" +
            "User-agent: graftbot\nDisallow: /p1\nDisallow: /*.tmp$\n"),
        ("h1.example.com", "# comments only\nUser-agent: other\nDisallow: /\n"),
        ("h2.example.com", "User-agent: *\nDisallow: /\nAllow: /p"))
        .toDF("host", "rtxt")
      val rules = TextAnalysis.robotsRules(robots, "host", "rtxt", agent = "graftbot")
      val path = element_at(
        typedlit(Seq("/p1/x", "/q", "/file.tmp", "/file.tmp2", "/p")),
        (pmod(col("doc_id"), lit(5L)) + 1).cast("int"))
      val urls = table(s, d, "documents").select(col("doc_id"),
        concat(lit("http://h"), pmod(col("doc_id"), lit(3L)).cast("string"),
          lit(".example.com"), path).as("canon"))
      TextAnalysis.robotsAllowed(urls, "doc_id", "canon", rules)
        .groupBy(TextAnalysis.canonicalHost(col("canon")).as("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("allowed").cast("long")).as("n_allowed"),
          round(avg(col("allowed").cast("double")), 6).as("allowed_ratio"))
        .orderBy("host")
    }),

    // text analysis — SURT keys over the q_domain_stats URL gauntlet:
    // variant spellings collapse through canonicalUrl first, then the
    // host labels reverse into the archive-sortable form; the garbage
    // row's key must null out
    "q_surt_key" -> ((s, d) => {
      val grp = pmod(col("doc_id"), lit(50L)).cast("string")
      val hn = pmod(col("doc_id"), lit(7L)).cast("string")
      val url = when(pmod(col("doc_id"), lit(97L)) === 0, lit("garbage no scheme"))
        .when(pmod(col("doc_id"), lit(4L)) === 0,
          concat(lit("http://H"), hn, lit(".Example.COM/p"), grp, lit("/x?b=2&a=1&utm_source=s#frag")))
        .when(pmod(col("doc_id"), lit(4L)) === 1,
          concat(lit("HTTP://h"), hn, lit(".example.com:80/p"), grp, lit("/x?a=1&b=2")))
        .when(pmod(col("doc_id"), lit(4L)) === 2,
          concat(lit("http://h"), hn, lit(".example.com/p"), grp, lit("/x/?b=2&a=1&utm_campaign=c")))
        .otherwise(concat(lit("http://h"), hn, lit(".example.com//p"), grp, lit("//x?a=1&ref=r&b=2")))
      table(s, d, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          TextAnalysis.surtKey(TextAnalysis.canonicalUrl(col("url"))).as("surt"))
        .orderBy("doc_id")
    }),

    // text analysis — Unicode NFC normalization: even docs carry the
    // DECOMPOSED spelling (e + U+0301), odd docs the precomposed U+00E9;
    // after NFC both spell identically (and the char count shrinks by
    // one on the decomposed side), so hash-dedup keys agree
    "q_nfc_normalize" -> ((s, d) => {
      val variant = when(pmod(col("doc_id"), lit(2L)) === 0,
          concat(lit("caf"), lit("e\u0301"), lit(" menu "), col("text")))
        .otherwise(concat(lit("caf"), lit("\u00e9"), lit(" menu "), col("text")))
      table(s, d, "documents").select(col("doc_id"), variant.as("raw"))
        .select(col("doc_id"),
          TextAnalysis.nfcNormalize(col("raw")).as("nfc"),
          length(col("raw")).cast("long").as("raw_chars"))
        .withColumn("nfc_chars", length(col("nfc")).cast("long"))
        .orderBy("doc_id")
    }),

    // dedup — CCNet-style paragraph-level dedup: repeated paragraphs
    // stripped corpus-wide, first occurrence kept, text reassembled.
    // The fixture's text is single-line, so the query manufactures
    // paragraph structure deterministically in-query (the
    // q_gopher_lines precedent).
    "q_paragraph_dedup" -> ((s, d) => {
      val lined = table(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (a|the) ", "\n\n").as("text"))
      Dedup.paragraphDedup(lined, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_pars"), col("n_kept"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // dedup — incremental paragraph dedup: odd docs are the crawl
    // increment, even docs the standing corpus; any corpus occurrence
    // drops the paragraph, within-increment repeats keep their first
    "q_incr_paragraph_dedup" -> ((s, d) => {
      val lined = table(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (a|the) ", "\n\n").as("text"))
      val seen = lined.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val inc = lined.filter(pmod(col("doc_id"), lit(2L)) === 1)
      Dedup.incrementalParagraphDedup(inc, seen, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_pars"), col("n_kept"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // dedup — n-gram Jaccard near-dup pairs. Explicit lang block keeps the
    // oracle SQL-expressible; the no-block DEFAULT routes through MinHash
    // LSH banding (scale path, DedupSpec-covered).
    "q_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(table(s, d, "documents"), "doc_id", "text",
          n = 3, minJaccard = 0.5, blockCols = Seq("lang"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // text analysis — per-language stopword scores (language-ID heuristic)
    "q_lang_scores" -> ((s, d) => {
      TextAnalysis.langScores(table(s, d, "documents"))
        .select(col("doc_id"), col("lang"),
          col("score_de").cast("long").as("score_de"),
          col("score_en").cast("long").as("score_en"),
          col("score_es").cast("long").as("score_es"),
          col("score_fr").cast("long").as("score_fr"),
          col("score_zh").cast("long").as("score_zh"))
        .orderBy("doc_id")
    }),

    // text analysis — token/char counts + quality ratios
    "q_quality" -> ((s, d) => {
      TextAnalysis.qualityScore(table(s, d, "documents"))
        .select(col("doc_id"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_chars_m").cast("long").as("n_chars_m"),
          round(col("avg_token_len"), 4).as("avg_token_len"),
          round(col("stopword_ratio"), 4).as("stopword_ratio"))
        .orderBy("doc_id")
    }),

    // dedup/hygiene — benchmark decontamination: shingle overlap between
    // the corpus and a simulated eval set (doc_id % 97 == 0)
    "q_contamination" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 97 === 0), "text", n = 3, minShared = 3)
        .select(col("id").as("doc_id"), col("n_shared"))
        .orderBy("doc_id")
    }),

    // text analysis — repetition ratio (dominant n-gram share; the
    // boilerplate/spam pre-filter)
    "q_repetition" -> ((s, d) => {
      TextAnalysis.repetitionRatio(table(s, d, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_ngrams"), col("top_ngram_count"),
          round(col("rep_ratio"), 6).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // text analysis — Gopher repetition filters: char fraction of the top
    // 2-/3-gram and of duplicated 5-grams per doc (the Rae et al. §A1.1
    // machine-text gates)
    "q_gopher_rep" -> ((s, d) => {
      TextAnalysis.gopherRepetition(table(s, d, "documents"), "doc_id", "text",
          topNs = Seq(2, 3), dupNs = Seq(5))
        .select(col("id").as("doc_id"), col("total_chars"),
          round(col("top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
          round(col("top_3gram_char_frac"), 6).as("top_3gram_char_frac"),
          round(col("dup_5gram_char_frac"), 6).as("dup_5gram_char_frac"))
        .orderBy("doc_id")
    }),

    // text analysis — Gopher LINE-level dup/format fractions. The fixture
    // text has no newlines, so the query deterministically manufactures
    // them first (every ' a '/' the ' becomes a line break — left-to-right
    // non-overlapping replace, identical in Spark and the RE2 oracle) and
    // the operator then runs with its default "\n" separator.
    "q_gopher_lines" -> ((s, d) => {
      val lined = table(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (a|the) ", "\n").as("text"))
      TextAnalysis.gopherLineStats(lined, "doc_id", "text")
        .select(col("id").as("doc_id"), col("total_lines"), col("total_chars"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("bullet_line_frac"), 6).as("bullet_line_frac"))
        .orderBy("doc_id")
    }),

    // C4 heuristic cleaning (Raffel et al. 2020 §2.2) over manufactured
    // lines — line retention (terminal punctuation, ≥5 words, no
    // "javascript") + page drops (lorem ipsum / brace / <3 kept lines)
    "q_c4_filters" -> ((s, d) => {
      val lined = table(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), " (a|the) ", "\n").as("text"))
      TextAnalysis.c4Filters(lined, "doc_id", "text")
        .select(col("id").as("doc_id"), col("total_lines"), col("kept_lines"),
          col("has_lorem"), col("has_brace"), col("keep_doc"), col("kept_text"))
        .orderBy("doc_id")
    }),

    // pipeline — fastText-style hashed linear classifier TRAINED in the
    // engine (12 full-batch GD steps here — `iters` is parameterized;
    // exact-integer aggregations; the k-means literal-weights pattern
    // applied to gradient descent). The fit is a ModelCache artifact:
    // train and score share ONE training run (the classifier is trained
    // once and consumed everywhere, not refit per consumer).
    // The label is length (n_chars >= 250): the one text property this
    // synthetic fixture's single shared vocabulary makes LEARNABLE — a
    // lang label here is random w.r.t. the text (ClassifierSpec proves
    // real separation on constructed vocabulary instead)
    "q_logreg_train" -> ((s, d) => {
      Classifier.weightTable(s, logregWeights(s, d)).orderBy("bucket")
    }),

    // pipeline — the trained classifier applied back over the corpus:
    // margin (exact micro units), calibrated p, hard prediction vs label
    "q_logreg_score" -> ((s, d) => {
      val docs = table(s, d, "documents").withColumn("is_long", col("n_chars") >= 250)
      val w = logregWeights(s, d)
      Classifier.scoreLogReg(docs, "doc_id", "text", w)
        .join(docs.select(col("doc_id").as("id"), col("is_long")), Seq("id"))
        .select(col("id").as("doc_id"), col("margin"), col("p"),
          col("predicted"), col("is_long").as("label"))
        .orderBy("doc_id")
    }),

    // pipeline — context-window chunking (token windows of 40, stride
    // 30); chunks generated inside one lambda, only slices survive
    "q_chunk_docs" -> ((s, d) => {
      TextAnalysis.chunkDocs(table(s, d, "documents"), "doc_id", "text",
          window = 40, stride = 30)
        .select(col("id").as("doc_id"), col("chunk_idx"), col("n_tokens"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    }),

    // pipeline — split-leakage audit: near-dup pairs (MinHash LSH)
    // crossing a deterministic hash train/valid/test split
    "q_split_leakage" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val splits = Sampling.shardAssign(docs, "doc_id", numShards = 10, salt = "split")
        .withColumn("split",
          when(col("shard") < 8, "train").when(col("shard") === 8, "valid").otherwise("test"))
      val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        n = 3, bands = 8, rowsPerBand = 4, minSim = 0.5).select("id_a", "id_b")
      Curation.splitLeakage(splits, "doc_id", "split", pairs)
        .orderBy("split_a", "split_b")
    }),

    // corpus analytics — Zipf-law fit over the vocabulary (slope of
    // ln freq vs ln rank; corpus-health / synthetic-text detector).
    // Regression sums in exact integer micro-units (decimal 38,0).
    "q_zipf" -> ((s, d) => {
      TextAnalysis.zipfFit(table(s, d, "documents"), "text")
    }),

    // corpus analytics — per-doc n-gram novelty: fraction of a doc's
    // distinct trigram shingles with corpus document-frequency 1
    // (diversity weighting / inverse-boilerplate signal)
    "q_novelty" -> ((s, d) => {
      TextAnalysis.novelty(table(s, d, "documents"), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_novel"),
          col("novelty"))
        .orderBy("doc_id")
    }),

    // corpus analytics — exact top-k heavy hitters with a Count-Min
    // Sketch cross-check (portable universal-hash sketch rows; the
    // oracle replays the sketch bit-for-bit, cms_est >= n_exact by law)
    "q_heavy_hitters" -> ((s, d) => {
      TextAnalysis.heavyHitters(table(s, d, "documents"), "text",
          k = 50, width = 1024, depth = 4)
        .orderBy(col("n_exact").desc, col("term"))
    }),

    // corpus analytics — first-merge BPE pair statistics: adjacent
    // character-pair frequencies weighted by word occurrence (the
    // opening step of byte-pair-encoding tokenizer training)
    "q_bpe_pairs" -> ((s, d) => {
      TextAnalysis.bpePairStats(table(s, d, "documents"), "text", k = 50)
        .orderBy(col("n").desc, col("pair"))
    }),

    // curation — EXACT stratified proportional split (largest-remainder
    // per-stratum counts; salted-hash order; bucketed ranking, no
    // whole-stratum window)
    "q_stratified_split" -> ((s, d) => {
      Sampling.stratifiedSplit(table(s, d, "documents"), "doc_id", "lang",
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "strat")
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy("doc_id")
    }),

    // corpus analytics — per-group embedding dispersion: mean pairwise
    // squared distance WITHOUT pairs (2n·Σ||x||² − 2||Σx||² identity);
    // exact micro-unit sums, 6-dp by integer half-up division
    "q_embed_dispersion" -> ((s, d) => {
      Similarity.embeddingDispersion(table(s, d, "embeddings"), "label", "embedding")
        .orderBy("label")
    }),

    // corpus analytics — cross-source overlap matrix: estimated Jaccard
    // between whole sub-corpora from per-source union MinHash signatures
    // (one explode + one group agg; pairwise over the few groups only)
    "q_source_sim" -> ((s, d) => {
      Dedup.minhashGroupSim(table(s, d, "documents"), "source", "text",
          n = 3, numHashes = 32, idCol = Some("doc_id"))
        .orderBy("grp_a", "grp_b")
    }),

    // text analysis — PII redaction (emails + digit runs → typed tokens)
    "q_redact" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.redact(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),

    // text analysis — markup stripping. The fixture has no HTML, so the
    // query manufactures it deterministically in-query (the q_gopher_lines
    // precedent) — tag wrap, bolded stopword, script block with a bare
    // '<', entities incl. the &amp;lt; double-decode trap — then strips.
    "q_strip_markup" -> ((s, d) => {
      val html = concat(
        lit("<div class=\"doc\"><!-- crawl artifact -->"),
        replace(col("text"), lit(" the "), lit(" <b>the</b> ")),
        lit("</div><script type=\"text/javascript\">var x = 1 < 2;</script>&amp; &lt;tail&gt;&nbsp;&amp;lt;ok"))
      table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.stripMarkup(html).as("clean"))
        .orderBy("doc_id")
    }),

    // text analysis — per-language length-distribution profile (exact
    // quantiles for the oracle; approx_percentile is the 100 TB default,
    // pinned against exact by PipelineSpec)
    "q_length_quantiles" -> ((s, d) => {
      TextAnalysis.lengthQuantiles(table(s, d, "documents"), "lang", "n_chars", exact = true)
        .select(col("lang"),
          round(col("p25"), 4).as("p25"), round(col("p50"), 4).as("p50"),
          round(col("p75"), 4).as("p75"), round(col("p95"), 4).as("p95"),
          col("n_docs"), round(col("mean"), 4).as("mean"))
        .orderBy("lang")
    }),

    // text analysis — token counts under the three budget tokenizations
    // (whitespace chunks, alphanumeric words, BPE-ish pre-tokens)
    "q_token_counts" -> ((s, d) => {
      TextAnalysis.tokenCounts(table(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_ws"), col("n_alnum"), col("n_bpe"))
        .orderBy("doc_id")
    }),

    // text analysis — TF-IDF top terms per document
    "q_tfidf" -> ((s, d) => {
      TextAnalysis.tfIdfTop(table(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("id").as("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf"), col("rank").cast("long").as("rank"))
        .orderBy("doc_id", "rank")
    }),

    // rolling features — trailing moving average per key (training-data
    // windowed feature extraction). Split form (padded buckets): identical
    // values to the whole-series window, no single-task series
    "q_moving_avg" -> ((s, d) => {
      Stats.movingAvgSplit(events(s, d), Seq("user_id"),
          n = 5, orderCol = "event_id", outCol = "ma5")
        .withColumn("ma5", round(col("ma5"), 4))
        .select("user_id", "event_id", "ts", "ma5")
        .orderBy("user_id", "event_id")
    }),

    // interval alignment — binned range join: purchases attributed to the
    // 2h attribution window of each view (graft.ts.Intervals.rangeJoin:
    // interval->bin explode + equi-join, never a nested-loop BETWEEN join)
    "q_range_join" -> ((s, d) => {
      val base = events(s, d)
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val views = base.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_us").as("start_us"), (col("ts_us") + lit(7200000000L)).as("end_us"))
      graft.ts.Intervals.rangeJoin(purchases, views, Seq("user_id"),
          "ts_us", "start_us", "end_us", binWidth = 3600000000L)
        .select(col("user_id"), col("event_id"), col("view_id"))
        .orderBy("user_id", "event_id", "view_id")
    }),

    // timeseries alignment — backward as-of join with tolerance: each
    // click gets the latest preceding view value within 6h (graft.ts.Asof:
    // union + one keyed window, no range join)
    "q_asof_join" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
      graft.ts.Asof.asofJoin(clicks, views, Seq("user_id"), "ts",
          rightCols = Seq("view_value"), toleranceSecs = Some(6 * 3600L))
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("view_value"), 6).as("view_value"))
        .orderBy("user_id", "event_id")
    }),

    // hot-series as-of: identical semantics via the pre-split form — each
    // (user, week-bucket) aligns as its own window task, boundary matches
    // restored from per-bucket edge carries (Asof.asofJoinSplit); same
    // DuckDB ASOF oracle as q_asof_join
    "q_asof_split" -> ((s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("view_value"))
      graft.ts.Asof.asofJoinSplit(clicks, views, Seq("user_id"), "ts",
          rightCols = Seq("view_value"), toleranceSecs = Some(6 * 3600L),
          splitSeconds = 7L * 86400L)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("view_value"), 6).as("view_value"))
        .orderBy("user_id", "event_id")
    }),

    // similarity — exact brute-force cosine top-k (ANN baseline)
    "q_cosine_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // multimodal — binary payload plumbing + stubbed decode features
    "q_multimodal_features" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(table(s, d, "documents"), "doc_id")
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          round(col("byte_mean"), 4).as("byte_mean"))
        .orderBy("media_id")
    }),

    // dedup — MinHash+LSH candidate pairs (portable md5-based hashing:
    // the DuckDB oracle reproduces the full signature pipeline)
    "q_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(table(s, d, "documents"), "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, minSim = 0.5)
        .select(col("id_a"), col("id_b"), round(col("sig_sim"), 6).as("sig_sim"))
        .orderBy("id_a", "id_b")
    }),

    // dedup — incremental NEAR-dup screening: a crawl increment
    // (doc_id % 5 = 0) against the standing corpus (the rest). The pairs
    // form exposes the matches; the survivors form is the ingest result.
    "q_incr_neardup_pairs" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalNearDupPairs(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", n = 3, bands = 8, rowsPerBand = 4, minSim = 0.5)
        .select(col("new_id"), col("seen_id"), round(col("sig_sim"), 6).as("sig_sim"))
        .orderBy("new_id", "seen_id")
    }),

    "q_incr_neardup" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.incrementalNearDup(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", n = 3, bands = 8, rowsPerBand = 4, minSim = 0.5)
        .orderBy("doc_id")
    }),

    // dedup — asymmetric CONTAINMENT pairs: |A∩B| / min(|A|,|B|) over
    // the same banded candidates (catches subset/quote duplication that
    // symmetric Jaccard misses; no size-ratio prune by design)
    "q_containment_pairs" -> ((s, d) => {
      Dedup.ngramContainmentPairs(table(s, d, "documents"), "doc_id", "text",
          n = 3, minContainment = 0.6)
        .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
        .orderBy("id_a", "id_b")
    }),

    // dedup — near-dup CLUSTERS: minhash pairs → connected components →
    // one canonical doc per duplicate group (the end-to-end dedup step;
    // pairs alone under-delete transitive groups)
    "q_dup_clusters" -> ((s, d) => {
      Clustering.nearDupClusters(table(s, d, "documents"), "doc_id", "text",
          n = 3, bands = 8, rowsPerBand = 4, minSim = 0.5)
        .orderBy("id")
    }),

    // dedup — quality-priority retention: same minhash components as
    // q_dup_clusters, but the survivor is the highest-n_chars doc
    // (tie → lowest id), not the lowest-id canonical
    "q_dedup_best" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Dedup.dedupKeepBest(docs, "doc_id", "n_chars",
          Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, bands = 8,
            rowsPerBand = 4, minSim = 0.5))
        .orderBy("id")
    }),

    // dedup — substring-level duplication: maximal spans of duplicated
    // 5-token windows (finds the boilerplate paragraph INSIDE otherwise
    // unique documents; windowed approximation of suffix-array dedup)
    "q_dup_spans" -> ((s, d) => {
      Dedup.duplicateSpans(table(s, d, "documents"), "doc_id", "text", w = 5)
        .select(col("id").as("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
        .orderBy("doc_id", "span_start")
    }),

    // dedup — duplicated spans CUT OUT of the text (Lee et al.'s removal
    // step; output is the token stream with covered tokens dropped)
    "q_strip_spans" -> ((s, d) => {
      Dedup.stripDuplicateSpans(table(s, d, "documents"), "doc_id", "text", w = 5)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // dedup — incremental span removal: odd docs are the increment,
    // even docs the standing corpus; a window seen in the corpus (or
    // repeated within the increment) marks its span for cutting
    "q_incr_strip_spans" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val seen = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      val inc = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      Dedup.incrementalStripDuplicateSpans(inc, seen, "doc_id", "text", w = 5)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // dedup — SimHash near-dup pairs (60-bit portable signatures)
    "q_simhash_pairs" -> ((s, d) => {
      Dedup.simhashPairs(table(s, d, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // sampling — deterministic stratified sample + stable shard
    // assignment (portable hash membership: rerun/repartition/engine-
    // proof, unlike DataFrame.sample)
    "q_sample_shard" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val sampled = Sampling.stratifiedSample(docs, "doc_id", "lang",
        Map("en" -> 0.5), defaultFraction = 0.2)
      Sampling.shardAssign(sampled, "doc_id", numShards = 8)
        .select(col("doc_id"), col("lang"), col("shard"))
        .orderBy("doc_id")
    }),

    // curation — the full pre-training data path composed as ONE plan:
    // quality gate → exact dedup → stratified sample → shard + pack
    "q_curation_pipeline" -> ((s, d) => {
      Curation.curate(table(s, d, "documents"), "doc_id", "text", "lang",
          minTokens = 5, fractions = Map("en" -> 0.6), defaultFraction = 0.4,
          budget = 512, numShards = 4)
        .select(col("id").as("doc_id"), col("lang"), col("n_tokens"),
          col("shard"), col("start_off"), col("pack_first"), col("pack_last"))
        .orderBy("doc_id")
    }),

    // curation — cross-modal: text gate + dedup joined with embeddings,
    // k-means DIVERSITY sampling decides representation, then pack
    "q_curate_diverse" -> ((s, d) => {
      Curation.curateDiverse(table(s, d, "documents"), table(s, d, "embeddings"),
          "doc_id", "text", "lang", "vec_id", "embedding",
          minTokens = 5, k = 4, iters = 2, perCluster = 32,
          budget = 512, numShards = 4, cacheKey = Some(s"$d/documents+embeddings"))
        .select(col("id").as("doc_id"), col("lang"), col("n_tokens"), col("cluster"),
          col("shard"), col("start_off"), col("pack_first"), col("pack_last"))
        .orderBy("doc_id")
    }),

    // packing — GPT-style concat-then-split sequence packing for training
    // exports: hash-shard, deterministic well-mixed order within shard,
    // running token offset → fixed-budget pack ids (pack_last >
    // pack_first ⇔ the doc straddles a sequence boundary)
    "q_pack_sequences" -> ((s, d) => {
      Packing.packSequences(table(s, d, "documents"), "doc_id", "text",
          budget = 512, numShards = 4)
        .select(col("id").as("doc_id"), col("shard"), col("n_tokens"),
          col("start_off"), col("pack_first"), col("pack_last"))
        .orderBy("doc_id")
    }),

    // text analysis — winnowing fingerprints (MOSS): min of every
    // k-window of w-token window hashes — density-reduced fingerprints
    // with the shared-run guarantee
    "q_winnow" -> ((s, d) => {
      TextAnalysis.winnow(table(s, d, "documents"), "doc_id", "text", w = 5, k = 4)
        .select(col("id").as("doc_id"), col("pos"), col("fp"))
        .orderBy("doc_id", "pos", "fp")
    }),

    // text analysis — near-dup candidate pairs at winnowed density
    // (df-capped fingerprint join; shuffles carry (fp, id) longs)
    "q_winnow_pairs" -> ((s, d) => {
      TextAnalysis.winnowPairs(table(s, d, "documents"), "doc_id", "text",
          w = 5, k = 4, minShared = 2, maxDf = 100)
        .select(col("id_a"), col("id_b"), col("n_shared"))
        .orderBy("id_a", "id_b")
    }),

    // text analysis — rolling-hash fingerprints (portable token hash)
    "q_fingerprint" -> ((s, d) => {
      table(s, d, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // similarity — IVF-flat ANN (deterministic md5-sampled centroids,
    // nprobe cells per query)
    "q_ivf_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5, nlist = 16, nprobe = 2)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — LSH-bucketed ANN (scale path; literal plane matrix)
    "q_lsh_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5, numPlanes = 8)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — recall@k of the LSH index vs the brute-force truth:
    // the figure of merit for tuning planes/probes before committing an
    // index shape at scale. Joins two k·|queries| frames; never rescans
    // the corpus.
    "q_ann_recall" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      Similarity.recallAtK(
          Similarity.lshTopK(queries, emb, k = 5, numPlanes = 8),
          Similarity.bruteForceTopK(queries, emb, k = 5))
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          round(col("recall"), 6).as("recall"))
        .orderBy("query_id")
    }),

    // similarity — IVF with a TRAINED coarse quantizer (k-means codebook
    // instead of a raw sample; balanced cells → better recall per probe)
    "q_ivf_kmeans" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopKTrained(emb.filter(col("vec_id") < 10), emb,
          k = 5, nlist = 8, nprobe = 2, iters = 2,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — product-quantization code table (Jégou et al. 2011):
    // m per-subspace k-means codebooks, each vector stored as m small
    // codes — the compressed index artifact the ADC scan reads at scale
    "q_pq_codes" -> ((s, d) => {
      val enc = Similarity.pqEncode(table(s, d, "embeddings"),
        m = 4, ksub = 8, iters = 2, dim = 64, cacheKey = Some(s"$d/embeddings"))
      enc.select(col("id").as("vec_id") +:
          (0 until 4).map(j => element_at(col("codes"), j + 1).as(s"c$j")): _*)
        .orderBy("vec_id")
    }),

    // similarity — PQ-ADC approximate top-k: exhaustive scan over the
    // m-byte codes with per-query codeword lookup tables (the
    // memory-bandwidth trade; corpus never shuffles)
    "q_pq_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, m = 4, ksub = 8, iters = 2, dim = 64,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — OPQ code table: the stored index artifact of
    // q_opq_topk (same rotation, same codebooks via the shared cacheKey)
    "q_opq_codes" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val rot = Similarity.opqRotation(emb, "vec_id", "embedding",
        m = 4, dim = 64, cacheKey = Some(s"$d/embeddings"))
      lastOpqRotation = Some(rot)
      val enc = Similarity.opqEncode(emb, m = 4, ksub = 8, iters = 2, dim = 64,
        rotation = Some(rot), cacheKey = Some(s"$d/embeddings"))
      enc.select(col("id").as("vec_id") +:
          (0 until 4).map(j => element_at(col("codes"), j + 1).as(s"c$j")): _*)
        .orderBy("vec_id")
    }),

    // similarity — OPQ-ADC top-k (Ge et al. CVPR'13 parametric OPQ):
    // eigenvalue-balanced PCA rotation composed in front of the PQ scan;
    // the fitted rotation publishes for the oracle (the q_pca_topk
    // pattern) so DuckDB replays rotation + all m codebook chains + ADC
    "q_opq_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val rot = Similarity.opqRotation(emb, "vec_id", "embedding",
        m = 4, dim = 64, cacheKey = Some(s"$d/embeddings"))
      lastOpqRotation = Some(rot)
      Similarity.opqTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, m = 4, ksub = 8, iters = 2, dim = 64,
          rotation = Some(rot), cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — ITERATIVE OPQ (Ge et al. CVPR'13 §3 alternating
    // optimization): Procrustes-refined rotation seeded by the
    // parametric solution, keep-best distortion by construction; the
    // refined rotation publishes for the oracle like the parametric one
    // (the SAME ADC replay runs over whichever literals are published)
    "q_opq_refined" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val rot = Similarity.opqRotationRefined(emb, "vec_id", "embedding",
        m = 4, ksub = 8, iters = 2, dim = 64, rounds = 2,
        cacheKey = Some(s"$d/embeddings"))
      lastOpqRefinedRotation = Some(rot)
      Similarity.opqTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, m = 4, ksub = 8, iters = 2, dim = 64,
          rotation = Some(rot), cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — IVF-PQ (the composed FAISS-style IVFADC index):
    // coarse cells prune the candidate set, shared residual-PQ codebooks
    // compress what is scanned; per-(query, probed-cell) residual LUTs
    "q_ivfpq_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, nlist = 8, nprobe = 2, m = 4, ksub = 8, iters = 2, dim = 64,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // curation — cluster-balanced diversity sample (kmeans cells +
    // deterministic per-cluster hash-rate membership; no top-N window)
    "q_diversity_sample" -> ((s, d) => {
      Curation.diversitySample(table(s, d, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2, perCluster = 16,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("id").as("vec_id"), col("cluster"), col("keep"))
        .orderBy("vec_id")
    }),

    // curation — temperature-scaled source-mixing weights (w ∝ share^α):
    // how much of each source the training mix should sample
    "q_mix_weights" -> ((s, d) => {
      Curation.mixWeights(table(s, d, "documents"), "source", "text", alpha = 0.5)
        .select(col("source"), col("n_tokens"), col("n_docs"),
          round(col("share"), 6).as("share"), round(col("weight"), 6).as("weight"))
        .orderBy("source")
    }),

    // curation — realize the alpha=0.5 mixture as an actual deterministic
    // sample under a 10k-token budget (rate = budget×weight/actual per
    // source, hash-score membership)
    "q_mix_apply" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val w = Curation.mixWeights(docs, "source", "text", alpha = 0.5)
      Curation.applyMixWeights(docs, "doc_id", "source", w,
          tokenBudget = 10000L, "text", salt = "mix")
        .select(col("id").as("doc_id"), col("source"), col("n_tokens"),
          round(col("rate"), 6).as("rate"))
        .orderBy("doc_id")
    }),

    // curation — epoch-aware mixture: under-budget sources repeat
    // (floor(rate) copies + fractional hash extra), oversized sources
    // downsample exactly like q_mix_apply
    "q_mix_epochs" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val w = Curation.mixWeights(docs, "source", "text", alpha = 0.5)
      Curation.mixEpochs(docs, "doc_id", "source", w,
          tokenBudget = 60000L, "text", salt = "mix")
        .select(col("id").as("doc_id"), col("source"), col("n_tokens"),
          round(col("rate"), 6).as("rate"), col("copies"))
        .orderBy("doc_id")
    }),

    // curation — unigram-LM self-perplexity (statistical quality score;
    // vocabulary joined, never assumed broadcast-able)
    "q_perplexity" -> ((s, d) => {
      TextAnalysis.perplexity(table(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 6).as("avg_nll"), round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")
    }),

    // text analysis — bigram LM perplexity (add-1 smoothed conditional
    // NLL; the order-sensitive quality signal unigram perplexity misses)
    "q_bigram_ppl" -> ((s, d) => {
      TextAnalysis.bigramPerplexity(table(s, d, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          round(col("avg_nll"), 6).as("avg_nll"), round(col("ppl"), 6).as("ppl"))
        .orderBy("doc_id")
    }),

    // text analysis — top-k PMI collocations over the shared bigram
    // stage (glued word pairs vs merely frequent; Church-Hanks minCount)
    "q_pmi_pairs" -> ((s, d) => {
      TextAnalysis.pmiPairs(table(s, d, "documents"), "doc_id", "text",
          k = 50, minCount = 5)
        .select(col("prev"), col("cur"), col("n"), round(col("pmi"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("prev"), col("cur"))
    }),

    // curation — per-language length-decile binning (broadcast quantile
    // cutpoints; never a global ntile, which cannot scale past one
    // partition)
    "q_quality_bins" -> ((s, d) => {
      Curation.quantileBins(table(s, d, "documents"), "lang", "n_chars", k = 10, exact = true)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bin"))
        .orderBy("doc_id")
    }),

    // curation — per-domain cap (at most `cap` docs per source, best by
    // length): exact two-phase salted top-N, never a whole-domain window
    "q_domain_cap" -> ((s, d) => {
      Curation.capPerDomain(table(s, d, "documents"), "source", "doc_id", "n_chars", cap = 10)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
        .orderBy("doc_id")
    }),

    // DSIR (Xie et al. 2023): importance scores of every corpus doc
    // against a target distribution (here: the doc_id%7==0 slice standing
    // in for a trusted corpus), hashed uni+bigram features, micro-unit
    // deterministic aggregation
    "q_dsir_scores" -> ((s, d) => {
      val docs = table(s, d, "documents")
      Curation.dsirScores(docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", numBuckets = 4096)
        .select(col("doc_id"), col("n_features"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    }),

    // Gumbel-top-k importance resampling over the DSIR scores —
    // deterministic (hash-derived noise), ∝ exp(score) without replacement
    "q_dsir_sample" -> ((s, d) => {
      val docs = table(s, d, "documents")
      val scored = Curation.dsirScores(docs, docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", numBuckets = 4096)
      Curation.dsirSample(scored, "doc_id", "score", n = 100)
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy("doc_id")
    }),

    // clustering — deterministic k-means over embeddings (Lloyd's, 2
    // iterations, md5-seeded init, quantized centroids)
    "q_kmeans" -> ((s, d) => {
      Clustering.kmeans(table(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 2,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("id").as("vec_id"), col("cluster"), col("dist"))
        .orderBy("vec_id")
    }),

    // clustering — per-cluster quality diagnostics (size share = balance,
    // inertia = Lloyd's objective, mean/max squared distance = compactness)
    "q_kmeans_inertia" -> ((s, d) => {
      Clustering.clusterMetrics(
          Clustering.kmeans(table(s, d, "embeddings"), "vec_id", "embedding", k = 8, iters = 2,
            cacheKey = Some(s"$d/embeddings")))
        .select(col("cluster"), col("n_points"), round(col("share"), 6).as("share"),
          round(col("inertia"), 6).as("inertia"),
          round(col("mean_sqdist"), 6).as("mean_sqdist"), col("max_sqdist"))
        .orderBy("cluster")
    }),

    // similarity — trained-IVF ANN on the int8-quantized column: the
    // codebook, cells, probes, and cosine all run in the quantized space
    "q_ivf_int8" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopKInt8(emb.filter(col("vec_id") < 10), emb,
          k = 5, nlist = 8, nprobe = 2, iters = 2,
          cacheKey = Some(s"$d/embeddings"))
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — LSH ANN on the int8-quantized column only (scales
    // cancel in cosine, so scoring is integer-vector cosine; 4x less
    // scan I/O than the float path)
    "q_lsh_int8" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshTopKInt8(emb.filter(col("vec_id") < 10), emb,
          k = 5, numPlanes = 8)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — FAISS-style two-stage search: int8 LSH candidate
    // generation (4x less scan I/O, quantization-error scores) + exact
    // float re-rank of the 10-deep shortlist (restores exact ordering,
    // reading float vectors only for shortlist rows)
    "q_ann_rerank" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val shortlist = Similarity.lshTopKInt8(queries, emb, k = 10, numPlanes = 8)
      Similarity.rerankExact(shortlist, queries, emb, k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // similarity — symmetric int8 embedding quantization (ANN storage
    // trim), exploded per dimension so the oracle compares scalars
    // exact upper-triangle embedding covariance (PCA/whitening input):
    // per-row generated products, micro-unit decimal sums — the only
    // data-side statistic PCA needs (the eigen solve is d×d, driver-side)
    "q_embed_cov" -> ((s, d) => {
      Similarity.embeddingCovariance(table(s, d, "embeddings"), "vec_id", "embedding",
          cacheKey = Some(s"$d/embeddings"))
        .select(col("i"), col("j"), col("n"), round(col("cov"), 9).as("cov"))
        .orderBy("i", "j")
    }),

    // similarity — the PCA path exercised END-TO-END: exact covariance →
    // driver-side Jacobi basis (top-48 of 64: 86% variance on the
    // near-isotropic synthetic fixture; real text embeddings are low-rank
    // and would reduce much harder) → literal-array projection → exact
    // top-k in the reduced space. The DuckDB twin receives the computed
    // basis as literal CTE rows (the eigen solve is not SQL-expressible,
    // but everything downstream of it is) and replays projection +
    // reduced-space top-k — so the oracle hash-checks the whole data
    // path, and the eigen solve itself is pinned by PipelineSpec:
    // full-basis rotation preserves the exact top-k, recall grows with
    // retained variance, ≥0.5 at this k, and everything is
    // bit-deterministic (exact covariance → same basis every run).
    // Cosine in the projected space is basis-sign-invariant (a flipped
    // eigenvector negates that coordinate of BOTH sides).
    "q_pca_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      val basis = pipeline.ModelCache.getOrFit(s"pcabasis:$d/embeddings:k48") {
        val cov = Similarity.embeddingCovariance(emb, "vec_id", "embedding",
          cacheKey = Some(s"$d/embeddings"))
        Similarity.pcaBasis(cov, 48)._2
      }
      // publish the computed basis so oracleSql can emit it as literal
      // rows — DuckDB then replays projection + reduced-space top-k and
      // only the (law-tested) eigen solve itself is trusted
      lastPcaBasis = Some(basis)
      val proj = Similarity.projectEmbeddings(emb, "vec_id", "embedding", basis)
      Similarity.bruteForceTopK(proj.filter(col("vec_id") < 10), proj,
          vecCol = "proj", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    "q_quantize_embed" -> ((s, d) => {
      Similarity.quantizeInt8(table(s, d, "embeddings"), "vec_id", "embedding")
        .select(col("id").as("vec_id"), round(col("scale"), 9).as("scale"),
          posexplode(col("qvec")).as(Seq("pos", "qval")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("dim"),
          col("qval").cast("long").as("qval"), col("scale"))
        .orderBy("vec_id", "dim")
    }),

    // similarity — multi-probe LSH ANN: each query also probes its
    // numProbes-1 lowest-margin bit-flip buckets (recall boost, no extra
    // hash tables; corpus still hashed once)
    "q_lsh_multiprobe" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshTopKMultiProbe(emb.filter(col("vec_id") < 10), emb,
          k = 5, numPlanes = 8, numProbes = 3)
        .select(col("query_id"), col("vec_id"),
          round(col("cos_sim"), 6).as("cos_sim"), col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // W4 — TimeseriesStore facade lifecycle: batch set → replace →
    // read-back. The one write-path operator whose full lifecycle is
    // observable as a result set, so it gets a real oracle: users 0-2
    // each get a daily 'view' series in ONE setManyTs batch write
    // (set_many_ts parity, chunk_timeserie_store.py:419-449); user 1 is
    // then REPLACED by a doubled 'purchase' series; the read-back shows
    // old data for users 0/2 and ONLY the new data for user 1 (replace
    // tombstones nothing here — non-chunked whole-series swap,
    // timeserie_store.py:126-133).
    "q_store_replace" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val dir = java.nio.file.Files.createTempDirectory("graft_tstore_").toString
      val st = new graft.store.TimeseriesStore(s, dir,
        StructType(Seq(StructField("user_id", LongType))))
      // one events scan feeds every write: the store's write jobs
      // (normalize/duplicate-probe/stage) re-read the materialized
      // shared-stage aggregate, not the events table. LAZY mat (not
      // matHot): the consumers are SEQUENTIAL actions (setManyTs's
      // checkpoint job builds the stage inline, setTs and the read-back
      // then reuse it), and each plan references the stage once — no
      // concurrent-rebuild race, so the eager count would be a pure
      // extra scheduler round-trip per run.
      val daily = events(s, d)
        .filter(col("user_id") < 3 && col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")).as("ts"))
        .agg(avg(col("value")).as("avg_v"))
        .pipe(graft.StageCache.mat)
      st.setManyTs(daily.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), round(col("avg_v"), 6).as("value")))
      val purchases = daily
        .filter(col("user_id") === 1 && col("event_type") === "purchase")
        .select(col("ts"), round(col("avg_v") * 2.0, 6).as("value"))
      st.setTs(Map("user_id" -> 1L), purchases, replace = true)
      st.getTs().orderBy("user_id", "ts")
    }),

    // W4 — TimeseriesStore facade UPDATE path: combine-on-write. Same
    // batch baseline as q_store_replace, but user 1 gets
    // setTs(update = true): new.combine_first(existing)
    // (timeserie_store.py:126-128) — purchase days overwrite view days
    // they overlap, view days with no purchase survive, purchase-only
    // days append. The facade's write-side merge is thereby oracle-pinned
    // end-to-end (not just via the Combine unit laws).
    "q_store_update" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val dir = java.nio.file.Files.createTempDirectory("graft_tstore_u_").toString
      val st = new graft.store.TimeseriesStore(s, dir,
        StructType(Seq(StructField("user_id", LongType))))
      val daily = events(s, d)
        .filter(col("user_id") < 3 && col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"), col("event_type"), date_trunc("day", col("ts")).as("ts"))
        .agg(avg(col("value")).as("avg_v"))
        .pipe(graft.StageCache.mat) // lazy: sequential consumers (see q_store_replace)
      st.setManyTs(daily.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), round(col("avg_v"), 6).as("value")))
      val upd = daily
        .filter(col("user_id") === 1 && col("event_type") === "purchase")
        .select(col("ts"), round(col("avg_v") * 3.0, 6).as("value"))
      st.setTs(Map("user_id" -> 1L), upd, update = true)
      st.getTs().orderBy("user_id", "ts")
    }),

    // §2.10 wire parity, oracle-pinned as lossless round-trips: the blob
    // codecs are bijective on dense series, so encode∘decode must be the
    // identity and the DuckDB twin is the plain selection. Any drift in
    // byte layout, ts unit conversion, or value ordering breaks the hash.
    // (NaN/null hole handling is pinned separately in FeatherBlobSpec /
    // Lz4BlobSpec against real pandas-generated fixture bytes.)

    // Feather-v2 whole-series blob (hostore.py:347-353): series -> Arrow
    // IPC file with LZ4-frame buffers -> series. Exercises the codec
    // distributed (one blob per user series, encoded on executors).
    "q_feather_roundtrip" -> ((s, d) => {
      import graft.functions.FeatherBlob._
      val pts = events(s, d).filter(col("user_id") < 8)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("value")))).as("points"))
      pts.select(col("user_id"),
          feather_decode(feather_encode(concat(lit("prm_"), col("user_id")), col("points"))).as("d"))
        .select(col("user_id"), col("d.name").as("name"), explode(col("d.points")).as("p"))
        .select(col("user_id"), col("name"), col("p.ts").as("ts"),
          round(col("p.value"), 4).as("value"))
        .orderBy("user_id", "ts")
    }),

    // LZ4-frame chunk payload (chunk_timeserie_store.py:255-258): values
    // -> numpy-layout float64 bytes -> LZ4 frame -> values.
    "q_blob_roundtrip" -> ((s, d) => {
      import graft.functions.Lz4Blob._
      val pts = events(s, d).filter(col("user_id") < 8)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("value")))).as("points"))
      pts.select(col("user_id"),
          explode(arrays_zip(
            col("points.ts").as("ts"),
            chunk_values(chunk_payload(col("points.value"))).as("value"))).as("p"))
        .select(col("user_id"), col("p.ts").as("ts"), round(col("p.value"), 4).as("value"))
        .orderBy("user_id", "ts")
    })
  )

  // ---- DuckDB oracle twins --------------------------------------------



  /** The Jacobi basis the last q_pca_topk evaluation computed, published
    * for [[oracleSql]] — Verify runs every query BEFORE dumping the
    * oracle map, so the dump carries the basis for exactly the dataset
    * the results came from. None (e.g. a filtered Verify run that skips
    * q_pca_topk) degrades to the old rows-only check by omitting the
    * entry.
    */
  @volatile private var lastPcaBasis: Option[Array[Array[Double]]] = None

  /** The OPQ rotation the last q_opq_topk evaluation fitted, published
    * for [[oracleSql]] — same contract as [[lastPcaBasis]]: a filtered
    * Verify run that skips q_opq_topk omits the entry (rows-only check).
    */
  @volatile private var lastOpqRotation: Option[Array[Array[Double]]] = None

  /** The ITERATIVE (Procrustes-refined) OPQ rotation the last
    * q_opq_refined evaluation fitted — same publish contract as
    * [[lastOpqRotation]]; the oracle replay is identical, only the
    * rotation literals differ.
    */
  @volatile private var lastOpqRefinedRotation: Option[Array[Array[Double]]] = None

  /** q_opq_topk's DuckDB twin over the published rotation — rotation
    * literals + the full m-chain PQ replay
    * ([[graft.oracle.SimilarityOracles.opqTopKOracleSql]]).
    */
  private def opqTopkOracle: Map[String, String] = lastOpqRotation match {
    case None => Map.empty
    case Some(rot) => Map(
      "q_opq_topk" -> graft.oracle.SimilarityOracles.opqTopKOracleSql(
        rot, k = 5, m = 4, ksub = 8, iters = 2, dim = 64),
      "q_opq_codes" -> graft.oracle.SimilarityOracles.opqCodesOracleSql(
        rot, m = 4, ksub = 8, iters = 2, dim = 64))
  }

  /** q_opq_refined's twin — the unchanged rotation+m-chain+ADC replay
    * over the refined literals.
    */
  private def opqRefinedOracle: Map[String, String] = lastOpqRefinedRotation match {
    case None => Map.empty
    case Some(rot) => Map(
      "q_opq_refined" -> graft.oracle.SimilarityOracles.opqTopKOracleSql(
        rot, k = 5, m = 4, ksub = 8, iters = 2, dim = 64))
  }

  /** q_pca_topk's DuckDB twin, built around the published basis: the 48
    * eigenvectors become literal list rows, projection is the same
    * left-to-right Σ x_i·b_ki fold, and the reduced-space exact top-k
    * mirrors q_cosine_topk's CTE shape. Only the eigen SOLVE is trusted
    * (PipelineSpec laws + the q_embed_cov-pinned covariance); every
    * data-touching stage downstream hash-checks.
    */
  private def pcaTopkOracle: Map[String, String] = lastPcaBasis match {
    case None => Map.empty
    case Some(basis) =>
      val rows = basis.zipWithIndex.map { case (b, k) =>
        b.mkString(s"($k, [", ", ", "])")
      }.mkString(",\n           ")
      Map("q_pca_topk" ->
        s"""WITH basis(comp, bv) AS (VALUES
           $rows),
         bl AS (SELECT list(bv ORDER BY comp) AS bs FROM basis),
         p AS MATERIALIZED (
           SELECT vec_id,
                  list_transform(bl.bs, bv ->
                    list_sum(list_transform(range(1, len(embedding) + 1),
                      i -> CAST(embedding[i] AS DOUBLE) * bv[i]))) AS pv
           FROM embeddings CROSS JOIN bl),
         q AS (SELECT vec_id AS query_id, pv AS qv FROM p WHERE vec_id < 10),
         s AS (
           SELECT query_id, vec_id,
             list_sum(list_transform(range(1, len(qv) + 1),
               i -> qv[i] * pv[i]))
             / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                  i -> qv[i] * qv[i])))
              * sqrt(list_sum(list_transform(range(1, len(pv) + 1),
                  i -> pv[i] * pv[i])))) AS cos
           FROM p CROSS JOIN q WHERE vec_id <> query_id),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, vec_id, round(cos, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""")
  }

  def oracleSql: Map[String, String] = pcaTopkOracle ++ opqTopkOracle ++ opqRefinedOracle ++
    graft.oracle.StoreOracles.sql ++ graft.oracle.TsOracles.sql ++
    graft.oracle.TpchOracles.sql ++ graft.oracle.TextOracles.sql ++
    graft.oracle.DedupOracles.sql ++ graft.oracle.SimilarityOracles.sql ++
    graft.oracle.CurationOracles.sql










}
