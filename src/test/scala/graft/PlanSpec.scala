package graft

import graft.store._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types._

/** Plan-shape regression guards: the efficiency properties PLANS.md
  * documents must stay true — filters pushed to parquet, dimensions
  * broadcast, chunk partitions pruned. A refactor that silently turns a
  * broadcast join into a sort-merge join or loses partition pruning fails
  * here, not in a 100 TB production run.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_dsir_scores: scoring is one scan-side projection; no shuffle ever carries text") {
    val p = plan("q_dsir_scores")
    // the λ table is baked into the fused native projection (ModelCache
    // artifact), so the SCORING plan must contain the fused expression and
    // no join at all — a reappearing join means the (doc, bucket) explode
    // + broadcast-λ shape regressed
    assert(p.contains("token_bucket_lam_sum"),
      "fused λ-sum projection missing from the scoring plan")
    assert(!p.contains("Join"), s"scoring plan grew a join:\n${p.take(800)}")
    // and no exchange may carry the document text: a text column in an
    // Exchange means scoring happened after a shuffle instead of at the scan
    val exchanges = p.split("\n").filter(l =>
      l.contains("hashpartitioning(") || l.contains("rangepartitioning("))
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q_scan_filter: literal predicates reach the parquet scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(user_id,7)"))
    // With events read natively (no expression wrapping ts), the time-range
    // predicates must push to the scan too — this was lost under the round-1
    // nanos workaround and must not silently regress (VERDICT r9 item 2).
    // Only the timestamp[us] fixture branch can push ts predicates: a
    // TIMESTAMP(NANOS) fixture surfaces ts as LongType and events() wraps
    // it in a timestamp_micros(ts div 1000) conversion, which legitimately
    // blocks pushdown — the schema-adaptive reader and this pin must not
    // disagree (ADVICE r10). The conversion is visible in the plan itself.
    if (!p.contains("timestamp_micros"))
      assert(p.contains("GreaterThanOrEqual(ts,") && p.contains("LessThan(ts,"),
        s"ts range predicates not pushed to parquet scan:\n${p.take(1200)}")
  }

  test("q_asof_split: alignment window shuffles on (key, bucket), never key alone") {
    val p = plan("q_asof_split")
    // the data-wide alignment exchange must carry the bucket column — a
    // key-only hashpartitioning feeding the big window would mean the
    // split regressed to one task per series. Accept the bucket as an
    // attribute (__b#) or Catalyst-inlined (_groupingexpression#/
    // unix_micros), like the q_ffill pin — the r10 suite failure was this
    // assertion hard-coding one Catalyst spelling.
    val partitionings = "hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val bucket = "__b#|_groupingexpression#|unix_micros".r
    assert(partitionings.exists(a => a.contains("user_id#") && bucket.findFirstIn(a).nonEmpty),
      s"no (user_id, bucket) exchange found: $partitionings")
  }

  test("q_ffill: fill window shuffles on (key, bucket); carry join present") {
    val p = plan("q_ffill")
    // hashpartitioning args, truncated at the first nested ')' — enough to
    // see the leading attributes/expression heads
    val partitionings = "hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // Catalyst may keep the derived bucket column as an attribute (__b#) or
    // inline its definition (_groupingexpression# from the edges groupBy, or
    // the raw floor(unix_micros(...)) expression) — all three prove the
    // exchange carries (key, bucket). A key-only hashpartitioning feeding
    // the fill window (the regression this guards) matches none of them.
    val bucket = "__b#|_groupingexpression#|unix_micros".r
    assert(partitionings.exists(a => a.contains("user_id#") && bucket.findFirstIn(a).nonEmpty),
      s"no (user_id, bucket) exchange found: $partitionings")
  }

  test("q_interpolate/q_rolling_median/q_moving_avg: windows shuffle on (key, bucket)") {
    for (q <- Seq("q_interpolate", "q_rolling_median", "q_moving_avg", "q_islands_split")) {
      val p = plan(q)
      val partitionings = "hashpartitioning\\(([^)]*)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      // same acceptance set as the q_ffill pin: the bucket column may
      // survive as an attribute or be inlined by Catalyst
      val bucket = "__b#|_groupingexpression#|unix_micros".r
      assert(partitionings.exists(a => a.contains("user_id#") && bucket.findFirstIn(a).nonEmpty),
        s"$q: no (user_id, bucket) exchange found: $partitionings")
    }
  }

  test("q_stratified_split: ranking window shuffles on (stratum, bucket), never stratum alone") {
    val p = plan("q_stratified_split")
    val partitionings = "hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    // the data-wide ranking exchange must carry the salt bucket — a
    // stratum-only partitioning feeding the row_number window would be
    // the whole-stratum single-task sort the operator exists to avoid.
    // (The offsets/thresholds windows run over metadata-sized frames and
    // MAY be stratum-only.)
    assert(partitionings.exists(a => a.contains("lang#") && a.contains("__bkt#")),
      s"no (stratum, bucket) exchange found: $partitionings")
  }

  test("q_heavy_hitters: sketch folded to literal maps — no join; top-k is TakeOrdered") {
    val p = plan("q_heavy_hitters")
    // r16: the d rollup-plus-broadcast-join chain became one collected
    // rollup folded into constant lookup maps — the scoring plan must
    // carry no join at all
    assert(!p.contains("Join"), "CMS estimate must be a literal map lookup, not a join\n" + p.take(600))
    assert(p.contains("TakeOrderedAndProject"), "exact top-k must not global-sort")
  }

  test("q_bigram_ppl: no shuffle carries document text") {
    val p = plan("q_bigram_ppl")
    val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text#")),
      s"document text crossed a shuffle:\n${exchanges.mkString("\n")}")
  }

  test("q_revenue_join: all dimension joins broadcast, none sort-merge") {
    val p = plan("q_revenue_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_grid_reindex: calendar spine is broadcast against values") {
    val p = plan("q_grid_reindex")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"))
  }

  test("ChunkStore.getTs prunes chunk partitions and pushes ts bounds") {
    import spark.implicits._
    val st = new ChunkStore(spark, tmpDir("planstore"),
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis))
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    st.setTs(Map("kind" -> "k"),
      (0 until 24 * 90).map(i => (t0.plusHours(i.toLong), 1.0)).toDF("ts", "value"), now = t0)
    val z = java.time.ZoneOffset.UTC
    val read = st.getTs(Map("kind" -> "k"),
      start = Some(java.time.ZonedDateTime.of(2024, 2, 1, 0, 0, 0, 0, z)),
      end = Some(java.time.ZonedDateTime.of(2024, 2, 10, 0, 0, 0, 0, z)))
    val p = read.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("chunk_index"), p.take(800))
    assert(p.contains("GreaterThanOrEqual(ts") || p.contains("ts#"), p.take(800))
  }

  // trim/normalize/delay must not put a whole series in one window task:
  // per-key bounds come from a partial-aggregating groupBy joined back
  // (AQE broadcasts the tiny bounds side at runtime).
  test("trimBounds/normalize plans: agg+join, no whole-series window") {
    for (q <- Seq("q_trim_bounds", "q_normalize", "q_delay_slice")) {
      val p = plan(q)
      assert(!p.contains("RunningWindowFunction") &&
        "\\bWindow\\b".r.findFirstIn(p).isEmpty,
        s"$q: per-key bounds must be an aggregate, not a window\n" + p.take(600))
    }
  }

  test("combineFirst plan: single aggregate, no window exchange") {
    import spark.implicits._
    val f1 = Seq(("a", java.time.LocalDateTime.parse("2024-01-01T00:00"), Some(1.0))).toDF("k", "ts", "value")
    val f2 = Seq(("a", java.time.LocalDateTime.parse("2024-01-01T00:00"), Some(2.0))).toDF("k", "ts", "value")
    val p = graft.ts.Combine.combineFirst(Seq(f1, f2), Seq("k"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Window"), "ordered coalesce must not need a window")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findAllIn(p).nonEmpty)
  }

  test("q_quality_bins: cutpoints broadcast back, never a sort-merge join or global window") {
    val p = plan("q_quality_bins")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"))
  }

  // applyMixWeights' scale contract: the (group, rate) rows broadcast
  // back onto the corpus scan — the corpus itself never shuffles for the
  // membership filter, and no window touches the plan.
  test("q_mix_apply: rates broadcast onto the scan, no corpus shuffle for membership") {
    val p = plan("q_mix_apply")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    // r16: mixWeights normalizes with window sums over the PER-GROUP
    // frame (one row per source — metadata-sized; the q_zipf vocab-window
    // precedent); r18 partitions that window by a constant-valued hash
    // expression (pmod(xxhash64(grp), 1) — planned as a `_w0` attribute)
    // — same one-partition plan, declared intentional (no "No Partition
    // Defined" warning). The pin guards what matters: the window's input
    // exchange (SinglePartition before r18, hash-on-constant since) may
    // never carry corpus rows (doc ids or text); membership itself stays
    // a broadcast filter on the scan.
    val singleBlocks = p.split("\n\n").filter(b =>
      b.contains("Exchange") &&
        (b.contains("SinglePartition") || b.contains("hashpartitioning(_w")))
    assert(singleBlocks.nonEmpty, "expected the group-frame normalization window exchange")
    assert(!singleBlocks.exists(b => b.contains("id#") || b.contains("text#")),
      s"corpus rows entered the normalization window:\n${singleBlocks.mkString("\n")}")
  }

  // gopherLineStats: explode + two hash aggregations, no window/join —
  // the shuffle is bounded by the scan.
  test("q_gopher_lines: explode + aggregations only, no window or join") {
    val p = plan("q_gopher_lines")
    assert(p.contains("Generate"), p.take(600)) // the explode
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  // dedupKeepBest winner election: aggregation + equi-join per component,
  // never a per-component sort window (a corpus-sized boilerplate family
  // would serialize through one task).
  test("q_dedup_best: winner election via aggregation, no sort window") {
    val p = plan("q_dedup_best")
    assert(!p.contains("Window"), "winner election must not use a window\n" + p.take(600))
  }

  // The 100 TB scale contract of sync pagination: a pull page must never
  // draw the whole updates listing through one task — no partition-less
  // window (the pre-round-7 row_number shape), just a distributed top-K.
  test("Sync.pull page plan: keyset top-K (TakeOrdered), no partition-less window") {
    import spark.implicits._
    val st = new ChunkStore(spark, tmpDir("pullplan"),
      StructType(Seq(StructField("kind", StringType))),
      StoreConfig(freq = "1h", tz = "UTC", chunkAxis = YearMonthAxis, syncEnabled = true))
    val t0 = java.time.LocalDateTime.parse("2024-01-01T00:00")
    st.setTs(Map("kind" -> "a"),
      (0 until 24 * 40).map(i => (t0.plusHours(i.toLong), 1.0)).toDF("ts", "value"),
      update = true, now = t0)
    val staged = graft.sync.Sync.updates(st, t0.minusDays(1))
    val first = staged.orderBy("updated_at", "kind", "chunk_index").limit(1).collect().head
    for (lastSeen <- Seq(None, Some(first))) {
      val p = graft.sync.Sync.pageFrame(staged, st.keys, lastSeen, 2)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert("\\bWindow\\b".r.findFirstIn(p).isEmpty,
        "pull page must not use a window\n" + p.take(600))
      assert(p.contains("TakeOrderedAndProject"), p.take(600))
    }
  }

  // The round-8 official bench showed the old 3-shuffle shape (two full
  // lineitem re-aggregations + merge) going 5.9x under memory contention;
  // since r18 the query pre-aggregates once and merges both priority
  // columns as a PROJECTION (updateMergeColumns — at (keys, ts) grain
  // the two-row ordered coalesce IS coalesce(new, old), law-pinned in
  // CombineLawsSpec), so the pre-agg shuffle is the plan's ONLY
  // Exchange and nothing but a Project follows the final aggregate. The
  // indentation-aware walk below survives any future reintroduction of
  // a cached stage (exchanges inside an InMemoryRelation subtree run
  // once at materialization, not per consumer — they are excluded from
  // the per-execution count).
  test("q_update_merge plan: ONE Exchange, merge is a projection over the pre-agg") {
    // traverse the physical plan PROGRAMMATICALLY: the formatted explain
    // prints the cached stage's internal plan (with its one-time
    // pre-aggregation Exchange) inside the InMemoryRelation subtree, but
    // that exchange runs once at stage materialization, not per
    // consumer. In the SparkPlan tree the cached plan hangs off the
    // scan's relation field, NOT as a child — so a plain collect counts
    // exactly the per-execution exchanges.
    val p = plan("q_update_merge")
    // indentation-aware walk of the formatted tree: any line indented
    // DEEPER than an InMemoryRelation header is that cached stage's
    // internal plan — excluded from the per-execution Exchange count
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(")).toSeq
    def indent(l: String): Int = {
      val i = l.indexOf("+-"); val j = l.indexOf(":-")
      if (i < 0) j else if (j < 0) i else math.min(i, j)
    }
    var imr = -1
    var exchanges = 0
    tree.filter(l => indent(l) >= 0 || l.trim.nonEmpty).foreach { l =>
      val ind = indent(l)
      if (imr >= 0 && ind >= 0 && ind <= imr) imr = -1
      if (imr < 0 && ind >= 0) {
        if (l.contains("InMemoryRelation")) imr = ind
        else if ("\\bExchange\\b".r.findFirstIn(l).nonEmpty) exchanges += 1
      }
    }
    // r18 (updateMergeColumns): ONE aggregation pass projects both
    // priority sides and the merge itself is coalesce(new, old) — a pure
    // projection, zero operators past the pre-aggregation — so the WHOLE
    // query is one scan and exactly ONE per-execution Exchange, no
    // cache. The r17 union form paid two narrow branch shuffles
    // (Catalyst prunes each branch to its own value column, so the
    // shared aggregate becomes two different subtrees and exchange reuse
    // can't fire): warm 2.0 s / cold residue 1.3-1.9 s in every r17 gate
    // sample. A second exchange here means the merge stopped being a
    // projection (someone re-split the sides); a cache means someone
    // re-introduced the encode+unpersist cost r17 removed.
    assert(exchanges == 1, s"expected ONE Exchange (pre-agg) and a projection merge, got $exchanges\n" + p.take(1200))
    assert(!p.contains("InMemoryRelation"), "q_update_merge must not cache a stage\n" + p.take(800))
    assert("\\bWindow\\b".r.findFirstIn(p).isEmpty)
  }

  // The stacked-combine shape (end-r16): the dedup collapse groups by
  // (key, ts, version-ish) and the ordered coalesce by (key, ts) — an
  // explicit repartition on the (key, ts) PREFIX satisfies
  // ClusteredDistribution for BOTH groupings, so the whole query runs on
  // ONE shuffle. A second Exchange here means Catalyst stopped accepting
  // the prefix partitioning (or someone dropped the repartition) and the
  // query went back to re-shuffling ~600k near-identical rows.
  test("q_combine_first plan: one Exchange feeds both stacked aggregations") {
    for (q <- Seq("q_combine_first", "q_version_combine", "q_version_select")) {
      val p = plan(q)
      val tree = p.linesIterator.takeWhile(l => !l.startsWith("(")).toSeq
      val exchanges = tree.count(l => "\\bExchange\\b".r.findFirstIn(l).nonEmpty)
      assert(exchanges == 1,
        s"$q: expected exactly 1 Exchange (prefix partitioning serves both aggs), got $exchanges\n" + p.take(800))
      assert("\\bWindow\\b".r.findFirstIn(p).isEmpty, s"$q must not window")
    }
  }

  // The scale contract of the per-domain cap: phase 1 must rank within
  // (group, salt-bucket) — a window partitioned by the domain alone would
  // sort a corpus-sized hot domain in one task. Phase 2's per-group
  // window is bounded at cap × numSalts rows per group by construction.
  test("q_domain_cap plan: two windows, phase 1 salted by hash bucket") {
    val p = plan("q_domain_cap")
    val windows = "\\(\\d+\\) Window\\b".r.findAllIn(p).size
    assert(windows == 2, s"expected the two-phase top-N (2 Windows), got $windows\n" + p.take(800))
    assert(p.contains("xxhash64"),
      "phase-1 window must partition by the salt hash bucket\n" + p.take(800))
  }

  test("kmeans assignment plan: centroid literals folded in — no join, no window") {
    val p = plan("q_kmeans")
    assert(!p.contains("Join"), "assignment must be a projection over literals\n" + p.take(600))
    assert("\\bWindow\\b".r.findFirstIn(p).isEmpty)
  }

  test("q_bloom_dedup plan: might_contain prunes the corpus scan map-side; anti-join on survivors") {
    val p = plan("q_bloom_dedup")
    // the sketch probe must sit in a Filter over the CORPUS scan — the
    // full corpus hash set never reaches a shuffle
    assert(p.contains("might_contain"), p.take(600))
    val antis = "LeftAnti".r.findAllIn(p).size
    assert(antis >= 1, s"expected the exact-confirm LeftAnti join\n" + p.take(600))
    assert(!p.contains("SortMergeJoin"), "survivor join must not sort-merge at this scale")
  }

  test("wire round-trip plans: one series groupBy, codecs in projections, no window") {
    for (q <- Seq("q_feather_roundtrip", "q_blob_roundtrip")) {
      val p = plan(q)
      assert("\\bWindow\\b".r.findFirstIn(p).isEmpty, s"$q must not use a window")
      assert(!p.contains("Join"), s"$q must not join\n" + p.take(400))
    }
  }

  test("q_zipf plan: rank assembled from PARTITIONED windows, never a global sort") {
    val p = plan("q_zipf")
    // the corpus must collapse to (tok, count) with a partial aggregate
    // BEFORE its exchange (map-side combine) — windows and joins above it
    // see only vocab-sized frames, never document text
    assert(p.contains("partial_count"), "token count must combine map-side\n" + p.take(800))
    val winInputs = "\\(\\d+\\) Window\\s*\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(winInputs.nonEmpty, "expected Window detail blocks\n" + p.take(800))
    assert(winInputs.forall(!_.contains("text#")),
      s"window inputs must be vocab aggregates, not document text: $winInputs")
    // r17: the rank is three-level (band offsets + freq-ladder prefix +
    // in-tie bucket offsets), so EVERY window must carry a partition spec
    // — an empty partition list would be the single-partition corpus-
    // vocabulary sort this rewrite removed (the engine's last one)
    val emptyPartSpecs = "windowspecdefinition\\((\\w+#\\d+L? (ASC|DESC))".r
      .findAllMatchIn(p).toSeq
    assert(emptyPartSpecs.isEmpty,
      s"unpartitioned window found (first spec arg is an ordering): $emptyPartSpecs")
  }

  test("q_novelty / q_source_sim plans: shuffles carry shingle hashes and ids, never text") {
    // q_source_sim's corpus pass is consumed by the signature
    // localCheckpoint (one group row per source), so its FINAL plan may
    // legitimately show no exchange at all — the pin is only that text
    // never crosses one in either query's visible plan
    val novelty = plan("q_novelty")
    val nx = novelty.split("\n").filter(_.contains("hashpartitioning("))
    assert(nx.nonEmpty, "q_novelty expected hash exchanges")
    for ((q, p) <- Seq("q_novelty" -> novelty, "q_source_sim" -> plan("q_source_sim"))) {
      val exchanges = p.split("\n").filter(_.contains("hashpartitioning("))
      assert(!exchanges.exists(_.contains("text#")),
        s"$q: document text crossed a shuffle:\n${exchanges.mkString("\n")}")
    }
  }

  test("in-plan guards survive optimization (wetExport id; fresh-store null-key shape)") {
    // VERDICT r21 #8: two silent-miss fixes ride assert_true guards
    // fused into projections. A future optimizer rule folding them away
    // would reopen the hazards without any test failing at plan level —
    // pin their survival here (the behavioral refusals are pinned in
    // PipelineSpec / TimeseriesStoreSpec).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1. wetExportRevisits' id guard must reach the optimized plan
    // parquet-backed STRING ids: local rows would be constant-evaluated
    // by ConvertToLocalRelation (guard runs at optimize time and
    // vanishes), and a non-nullable long id folds the guard away
    // legitimately (the cast is a no-op) — the hazard shape is a SOURCE
    // column whose long cast can null
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("string").as("doc_id"),
        concat(lit("http://g.example.com/"), col("doc_id")).as("url"), col("text"))
    val wet = graft.pipeline.Multimodal.wetExportRevisits(docs, numShards = 1)
    val wetPlan = wet.queryExecution.optimizedPlan.toString
    assert(wetPlan.contains("raise_error") || wetPlan.contains("assert_true"),
      s"wetExportRevisits id guard folded away:\n${wetPlan.take(600)}")
    // 2. the fresh-store write's guard SHAPE: assert_true fused into a
    // when(...isNull, value) projection under the normalization filter —
    // Catalyst on this Spark version must keep the raise_error (it is
    // non-foldable and side-effecting); if an upgrade starts folding it,
    // the store's one-job refusal contract needs the pre-write probe back
    val raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id").as("k"), col("ts"), col("value"))
    val guard = assert_true(!col("k").isNull, lit("null key values are not allowed"))
    val shaped = raw.select(col("k"),
        when(guard.isNull, col("ts")).as("ts"),
        when(guard.isNull, col("value")).as("value"))
      .filter(col("value").isNotNull && col("ts").isNotNull)
    val shapedPlan = shaped.queryExecution.optimizedPlan.toString
    assert(shapedPlan.contains("raise_error") || shapedPlan.contains("assert_true"),
      s"fresh-store guard shape folded away:\n$shapedPlan")
  }

  // With no keys the sweep window needs ONE partition; a round-robin
  // width pin in front of it cannot provide that, so Spark would add a
  // second (SinglePartition) exchange after the pin's own.
  test("unionIntervals with no keys: one exchange, no pinned round-robin") {
    val dir = java.nio.file.Files.createTempDirectory("planspec-iv").toString
    import spark.implicits._
    Seq((1L, 3L), (2L, 5L), (7L, 8L)).toDF("start", "end").write.mode("overwrite").parquet(dir)
    val df = graft.ts.Intervals.unionIntervals(spark.read.parquet(dir), Nil)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val tree = p.linesIterator.takeWhile(l => !l.startsWith("(")).toSeq
    val exchanges = tree.count(l => "\\bExchange\\b".r.findFirstIn(l).nonEmpty)
    assert(exchanges == 1, s"expected exactly 1 Exchange, got $exchanges\n" + p.take(1200))
    assert(!p.contains("RoundRobinPartitioning"), p.take(1200))
    assert(df.orderBy("merged_start").as[(Long, Long, Long)].collect().toSeq == Seq((1L, 5L, 2L), (7L, 8L, 1L)))
  }

  test("q_cusum plan: local prefix windows shuffle on (key, bucket), never key alone") {
    val p = plan("q_cusum")
    // the data-wide cumulative windows must carry the bucket column —
    // a key-only partitioning feeding them would mean the split
    // regressed to one task per series (carry-table windows over the
    // tiny per-bucket rows ARE key-only, and that's fine). Accept the
    // Catalyst-inlined bucket spelling, as in the q_ffill pin.
    val bucket = "__b#|_groupingexpression#|unix_micros".r
    val partitionings = "hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(partitionings.exists(a => a.contains("user_id#") && bucket.findFirstIn(a).nonEmpty),
      s"no (key, bucket) exchange found:\n${partitionings.mkString("\n")}")
  }
}
