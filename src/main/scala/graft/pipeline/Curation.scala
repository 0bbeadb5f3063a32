package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Corpus-curation operators: the decisions a training-data pipeline makes
  * ABOVE single-document scoring — how much of each source/language to
  * sample (mixing weights) and where the length/quality cutoffs sit
  * (quantile bins). Both are tiny-output aggregations over arbitrarily
  * large corpora: the shuffles carry one row per group (or per (group,
  * doc) for binning), never document bodies.
  */
object Curation {

  /** End-to-end curation manifest — the full pre-training data path as
    * ONE composed Spark plan: quality gate (min token count) → exact
    * dedup (min-id per content hash) → per-language stratified hash
    * sampling → shard + sequence packing. Each stage is an existing
    * operator; this proves they compose without materialization
    * boundaries, and gives a migrating pipeline a single call that goes
    * from raw corpus to training-export manifest.
    *
    * Scale shape: document bodies are read ONCE — token count and
    * content digest come out of the same projection as the scan, and
    * everything downstream carries only (id, stratum, n_tokens, digest).
    * Exact dedup is a window over the digest partitioning (min-id row
    * per hash — group size bounds the partition, same pattern as
    * `Dedup.exactDropList`), the sample is a narrow hash predicate, and
    * the packing is the per-shard window over the PRE-computed counts
    * ([[Packing.packTokenCounts]]). Two shuffles total (digest, shard).
    *
    * Output, one row per packed document: (id, <strataCol>, n_tokens,
    * shard, start_off, pack_first, pack_last).
    */
  def curate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      minTokens: Int,
      fractions: Map[String, Double],
      defaultFraction: Double,
      budget: Int,
      numShards: Int,
      salt: String = "curate"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).as("id"), col(strataCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        md5(col(textCol)).as("__h"))
      .filter(col("n_tokens") >= minTokens)
    val dw = Window.partitionBy(col("__h")).orderBy(col("id"))
    val deduped = base.withColumn("__rn", row_number().over(dw))
      .filter(col("__rn") === 1).drop("__rn", "__h")
    val sampled = Sampling.stratifiedSample(deduped, "id", strataCol, fractions, defaultFraction, salt)
    // packing salt derived from the caller's: two curations with
    // different salts must get independent shard layouts too, not just
    // independent sample keep-sets
    Packing.packTokenCounts(sampled, "id", "n_tokens", budget, numShards, s"$salt-pack")
      .select("id", strataCol, "n_tokens", "shard", "start_off", "pack_first", "pack_last")
  }

  /** Cross-modal curation: [[curate]]'s gate + dedup stages, but the
    * sampling decision comes from EMBEDDING diversity instead of strata
    * rates — the text table is gated and exact-deduped, joined to its
    * embeddings on id, thinned per k-means cluster
    * ([[diversitySample]]: big clusters sampled down, small ones kept
    * whole), and packed for export. The shape a semantic-coverage-aware
    * training mix actually uses: text quality decides admission,
    * embedding geometry decides representation.
    *
    * Scale: the join ships (id, stratum, n_tokens) against (id, vec) on
    * the id key; clustering/sampling run on the joined working set; the
    * final pack is the usual per-shard window. Salts are namespaced per
    * stage (`$salt-div`, `$salt-pack`).
    *
    * Embedding coverage contract: an ADMITTED document (past the gate
    * and the dedup) with no embedding row cannot be placed by embedding
    * geometry. By default (`requireEmbeddings = false`) such documents
    * are DROPPED from the output manifest — inner-join semantics, fine
    * for a fully-embedded corpus but silent data loss on a partial one.
    * Pass `requireEmbeddings = true` to fail fast instead (one extra
    * emptiness probe over the already-checkpointed working set).
    *
    * Output: (id, <strataCol>, n_tokens, cluster, shard, start_off,
    * pack_first, pack_last).
    */
  def curateDiverse(
      docs: DataFrame,
      embeddings: DataFrame,
      idCol: String,
      textCol: String,
      strataCol: String,
      vecIdCol: String,
      vecCol: String,
      minTokens: Int,
      k: Int,
      iters: Int,
      perCluster: Int,
      budget: Int,
      numShards: Int,
      salt: String = "curate",
      requireEmbeddings: Boolean = false,
      cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"), col(strataCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        md5(col(textCol)).as("__h"))
      .filter(col("n_tokens") >= minTokens)
    val dw = Window.partitionBy(col("__h")).orderBy(col("id"))
    val deduped = base.withColumn("__rn", row_number().over(dw))
      .filter(col("__rn") === 1).drop("__rn", "__h")
    // materialize the working set once: k-means training runs several
    // actions over it, and re-executing the dedup window + join per
    // Lloyd's pass would multiply the whole upstream pipeline. Left join
    // so a missing embedding is OBSERVABLE here; dropped (default) or
    // fatal (requireEmbeddings) below.
    val joinedAll = deduped.join(
      embeddings.select(col(vecIdCol).as("id"), col(vecCol)), Seq("id"), "left")
      .pipe(graft.StageCache.matHot)
    if (requireEmbeddings)
      require(joinedAll.filter(col(vecCol).isNull).isEmpty,
        "curateDiverse: admitted documents lack embedding rows " +
          "(requireEmbeddings = true); embed the corpus or drop the flag")
    val joined = joinedAll.filter(col(vecCol).isNotNull)
    val sampled = diversitySample(joined, "id", vecCol, k, iters, perCluster, s"$salt-div",
        cacheKey = cacheKey.map(_ + s":curate:$minTokens:$k:$iters"))
      .filter(col("keep"))
      .select("id", "cluster")
      .join(joined.drop(vecCol), Seq("id"))
    Packing.packTokenCounts(sampled, "id", "n_tokens", budget, numShards, s"$salt-pack")
      .select("id", strataCol, "n_tokens", "cluster", "shard", "start_off", "pack_first", "pack_last")
  }

  /** Temperature-scaled sampling weights per corpus group (source,
    * language, domain): the standard multinomial-mixing formula
    * `w_g ∝ share_g^alpha` (alpha < 1 upsamples the tail, alpha = 1 is
    * proportional). Output: one row per group with token totals, doc
    * counts, raw share, and the normalized sampling weight.
    *
    * Plan shape: one hash aggregation (partial-agg'd token sums — the
    * only full-corpus pass), then normalization as literal-partitioned
    * window sums over the GROUP frame (one row per source —
    * metadata-sized, so the deliberate one-partition window is the
    * q_zipf vocab precedent, never a corpus sort). No window over the
    * whole corpus, no second scan.
    */
  def mixWeights(
      df: DataFrame,
      groupCol: String,
      textCol: String = "text",
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    // one row per group — materialize so the totals / normalization
    // branches below reuse it instead of re-scanning the corpus
    val perGroup = df
      .groupBy(col(groupCol).as("grp"))
      .agg(
        sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        count(lit(1)).as("n_docs"))
      .pipe(graft.StageCache.matHot)
    // normalization runs as window sums over the GROUP frame — one row
    // per source, metadata-sized at any corpus scale (the q_zipf
    // vocab-window precedent), so the single-partition exchange is a
    // handful of rows. Partitioning by a constant-valued expression
    // keeps that exact plan (every row in one partition) while telling
    // Spark the single partition is intentional — no "No Partition
    // Defined" warning for a frame whose row count equals the number of
    // corpus SOURCES. A bare literal does NOT work (EliminateWindowPartitions
    // drops foldable partition specs and the warning returns), nor do
    // arithmetic disguises over non-null columns (coalesce/×0 simplify
    // away) — the expression must be genuinely opaque to the optimizer:
    // a hash of the group key mod 1, which is 0 for every row. The
    // previous agg + broadcast crossJoin ×2 chain computed the same
    // numbers in four extra scheduler round-trips (two tiny aggregation
    // jobs + two broadcast materializations) per mixture fit.
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(xxhash64(col("grp")), lit(1L)))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val shared = perGroup
      .withColumn("share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(all))
      .withColumn("__raw", pow(col("share"), lit(alpha)))
    shared
      .withColumn("weight", col("__raw") / sum(col("__raw")).over(all))
      .select(col("grp").as(groupCol), col("n_tokens"), col("n_docs"),
        col("share"), col("weight"))
  }

  /** Realize a mixing distribution as an actual deterministic document
    * sample under a global token budget: each group's token target is
    * `tokenBudget × weight_g`, its keep rate is
    * `min(1, target_g / actual_g)` over the INPUT corpus's per-group
    * token mass, and membership is the per-doc portable hash score
    * ([[Sampling.hashScore]]) against that rate — repartition-proof,
    * rerun-proof, and engine-portable, hitting the target in
    * expectation with binomial concentration (the exactness a 100 TB
    * sampler cannot afford and does not need).
    *
    * `weights` is any (group, weight) frame — typically [[mixWeights]]
    * over this corpus, but deliberately decoupled so a REFERENCE
    * mixture (computed on another corpus, or hand-tuned) can be applied
    * here: rates always renormalize against THIS df's actual token
    * totals. Groups absent from `weights` are dropped — the weights
    * frame defines the admitted mixture. A weighted group with zero
    * actual tokens keeps all its (vacuously zero-token) docs rather
    * than dividing by zero. Rates at or above 1 keep the whole group
    * (no upsampling/replication — emit multiplicity downstream if an
    * epoch schedule needs it).
    *
    * Plan shape: one per-group hash aggregation over the corpus (the
    * only full pass), then the handful of (group, rate) rows broadcast
    * back onto the scan — filter stays in whole-stage codegen, no
    * shuffle of the corpus itself.
    */
  def applyMixWeights(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weights: DataFrame,
      tokenBudget: Long,
      textCol: String = "text",
      salt: String = "mix"): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be > 0, got $tokenBudget")
    // shared stage: the per-group actual-mass rollup AND the final
    // membership join both read (id, grp, n_tokens) — without it the
    // corpus text is TOKENIZED twice (tokenCount is the expensive
    // projection here)
    val docs = graft.StageCache.matHot(
      df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")))
    val actual = docs.groupBy("grp").agg(sum(col("n_tokens")).as("__actual"))
    val rates = actual
      .join(weights.select(col(groupCol).as("grp"), col("weight")), Seq("grp"))
      .withColumn("rate",
        when(col("__actual") === 0, 1.0).otherwise(
          least(lit(1.0), lit(tokenBudget.toDouble) * col("weight") / col("__actual"))))
      .select("grp", "rate")
    docs.join(broadcast(rates), Seq("grp"))
      .filter(Sampling.hashScore(col("id"), salt) < col("rate"))
      .select(col("id"), col("grp").as(groupCol), col("n_tokens"), col("rate"))
  }

  /** Epoch-aware mixture application — the upsampling generalization of
    * [[applyMixWeights]]. Where that operator caps the per-group keep
    * rate at 1 (downsample-only), here a group whose token target
    * EXCEEDS its actual mass repeats its documents: every doc gets
    * `floor(rate)` whole copies plus one more with probability
    * `rate - floor(rate)`, decided by the same portable per-doc hash
    * score — so expected group tokens = `tokenBudget × weight` exactly,
    * membership/multiplicity is deterministic and repartition-proof, and
    * for rates < 1 the kept set is IDENTICAL to [[applyMixWeights]]
    * (floor 0 + fractional membership). This is the standard "epochs per
    * source" schedule of mixture training (small high-weight sources see
    * multiple epochs while the head is subsampled).
    *
    * Output: one row per SURVIVING doc with its `copies` count (≥ 1) —
    * the materialized repeat is left to the consumer (explode by
    * `sequence(1, copies)` into packing, or feed `copies` to a loader's
    * repeat schedule) so the engine never shuffles duplicated bodies.
    * Zero-token groups keep one copy of each doc; unweighted groups
    * drop, as in [[applyMixWeights]]. Same plan shape too: one per-group
    * aggregation, then the (group, rate) rows broadcast onto the scan.
    */
  def mixEpochs(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weights: DataFrame,
      tokenBudget: Long,
      textCol: String = "text",
      salt: String = "mix"): DataFrame = {
    require(tokenBudget > 0, s"tokenBudget must be > 0, got $tokenBudget")
    // shared stage: the per-group actual-mass rollup AND the final
    // membership join both read (id, grp, n_tokens) — without it the
    // corpus text is TOKENIZED twice (tokenCount is the expensive
    // projection here)
    val docs = graft.StageCache.matHot(
      df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens")))
    val actual = docs.groupBy("grp").agg(sum(col("n_tokens")).as("__actual"))
    val rates = actual
      .join(weights.select(col(groupCol).as("grp"), col("weight")), Seq("grp"))
      .withColumn("rate",
        when(col("__actual") === 0, 1.0).otherwise(
          lit(tokenBudget.toDouble) * col("weight") / col("__actual")))
      .select("grp", "rate")
    docs.join(broadcast(rates), Seq("grp"))
      .withColumn("copies",
        floor(col("rate")) +
          when(Sampling.hashScore(col("id"), salt) < (col("rate") - floor(col("rate"))), 1L)
            .otherwise(0L))
      .filter(col("copies") >= 1)
      .select(col("id"), col("grp").as(groupCol), col("n_tokens"),
        col("rate"), col("copies"))
  }

  /** Cluster-balanced diversity sampling: k-means the embedding corpus
    * ([[Clustering.kmeans]]), then keep ≈`perCluster` members of EACH
    * cluster — the downsampling that preserves the corpus's mode
    * coverage instead of letting the dominant cluster swamp the sample.
    *
    * Membership is decided by the deterministic hash score
    * ([[Sampling.hashScore]]) against a per-cluster rate
    * `min(1, perCluster / |cluster|)` — never a per-cluster top-N
    * window, which would sort a corpus-sized hot cluster in one task
    * (AQE splits joins and aggregations, never windows). Clusters at or
    * under `perCluster` members are kept whole (rate 1, and scores are
    * strictly below 1). The kept count per cluster is binomial around
    * `perCluster`, which is what a 100 TB sampler can afford; exactness
    * is what it cannot.
    *
    * Output: (id, cluster, keep) for every input row — filter `keep` for
    * the sample, keep the full frame for audit.
    */
  def diversitySample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      perCluster: Int = 16,
      salt: String = "diversity",
      cacheKey: Option[String] = None): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1, got $perCluster")
    // the assignment frame has two CONCURRENT consumers in one plan (the
    // cluster-size aggregate feeding the broadcast, and the probe side of
    // the join) → matHot: without it each side recomputes the centroid
    // assignment over the corpus, and the join's inferred
    // isnotnull(cluster) gets pushed below the cluster projection,
    // re-deriving centroid_dists a THIRD time inside a scan filter (seen
    // in the r16 plan dump). Cached content is (id, cluster, dist) —
    // three narrow columns.
    val assigned = graft.StageCache.matHot(
      Clustering.kmeans(df, idCol, vecCol, k, iters, cacheKey = cacheKey))
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("__n"))
    assigned.join(broadcast(sizes), "cluster")
      .withColumn("keep",
        Sampling.hashScore(col("id"), salt) <
          least(lit(1.0), lit(perCluster.toDouble) / col("__n")))
      .select("id", "cluster", "keep")
  }

  /** Per-domain document cap: keep at most `cap` documents per group
    * (domain / source / site), preferring the best by `orderCol`
    * descending with ties broken by `idCol` ascending — the
    * RefinedWeb/Gopher-style guard that stops one domain from swamping
    * the training mix. Output: the kept rows as (id, group, order value,
    * rank), rank = 1-based position within the group's kept set.
    *
    * Scale shape: EXACT two-phase top-N, never a whole-group window. A
    * window partitioned by domain alone would sort a hot domain (half a
    * crawl can be one site) in a single task; instead phase 1 ranks
    * within (group, salt-bucket) — `numSalts` deterministic hash buckets
    * — and keeps each bucket's top `cap`, so phase 2's per-group window
    * sees at most `cap × numSalts` rows regardless of group size.
    * Exactness: a row in the group's true top-`cap` is in its bucket's
    * top-`cap` (the bucket is a subset of the group), so phase 1 drops
    * no winner; conversely a row with true rank > `cap` has ≥ `cap`
    * surviving predecessors, so its phase-2 rank still exceeds `cap`.
    * The result is independent of `numSalts` (law-tested); `numSalts`
    * only trades phase-1 parallelism against phase-2 fan-in.
    *
    * `orderCol` nulls sort last (both phases, Spark desc default) —
    * null-quality documents are kept only when a group has spare
    * capacity.
    */
  def capPerDomain(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      orderCol: String,
      cap: Int,
      numSalts: Int = 64,
      salt: String = "domaincap"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(numSalts >= 1, s"numSalts must be >= 1, got $numSalts")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col(orderCol).desc, col(idCol).asc)
    val w1 = Window
      .partitionBy(col(groupCol), pmod(xxhash64(col(idCol), lit(salt)), lit(numSalts.toLong)))
      .orderBy(ord: _*)
    val survivors = df
      .select(col(idCol), col(groupCol), col(orderCol))
      .withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") <= cap)
      .drop("__rn")
    val w2 = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    survivors
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= cap)
  }

  /** Per-group quantile binning: assign each row the bucket its value
    * falls into between the group's `k`-quantile cutpoints (bin 1 =
    * below the first cutpoint, bin k = above the last). The cutpoints
    * are computed ONCE per group and broadcast back — never a global
    * `ntile`, whose single total-order window cannot scale past one
    * partition. Ties sit below the cutpoint in both engines (`value >
    * threshold` strictly), so binning is deterministic.
    *
    * `exact = true` uses `percentile` (matches DuckDB `quantile_cont`
    * for oracle verification); the 100 TB default is
    * `approx_percentile`'s mergeable sketch.
    */
  def quantileBins(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      k: Int = 10,
      exact: Boolean = false): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val fn = if (exact) "percentile" else "approx_percentile"
    val qs = (1 until k).map(i => i.toDouble / k)
    val cuts = df.groupBy(col(groupCol))
      .agg(expr(s"$fn($valueCol, array(${qs.mkString(", ")}))").as("__cuts"))
    df.join(broadcast(cuts), Seq(groupCol))
      .withColumn("bin",
        (lit(1) + size(filter(col("__cuts"), t => col(valueCol).cast("double") > t)))
          .cast("long"))
      .drop("__cuts")
  }

  // ---- DSIR: data selection via importance resampling -------------------

  /** Hashed bag-of-n-gram features: one row per (doc, bucket) feature
    * OCCURRENCE (unigrams + word bigrams, [[TextAnalysis.tokens]]
    * tokenization — the one policy project-wide), bucketed by the
    * engine-portable 60-bit hash mod `numBuckets`. The feature space of
    * DSIR (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): hashed n-grams make the bag model
    * fixed-width regardless of vocabulary, so the distribution estimate
    * is a `numBuckets`-row aggregate at any corpus size.
    */
  private[pipeline] def featureBuckets(
      df: DataFrame, idCol: String, textCol: String, numBuckets: Int): DataFrame = {
    // native one-pass projection (graft.functions.ShingleOps): one md5
    // per token, the bigram hash rolled arithmetically from the two
    // token hashes — (h1*31 + h2) mod P — and every bucket id emitted
    // straight from the scan; value-identical to the old
    // transform/zip_with chain (ShingleOpsSpec)
    df.select(col(idCol).as("id"),
      explode(graft.functions.ShingleOps.tokenBucketsCol(
        lower(col(textCol)), numBuckets)).as("bucket"))
  }

  /** Per-bucket importance log-ratios ln(p̂_b / q̂_b) between the TARGET
    * distribution (what we want the training mix to look like — e.g. a
    * trusted high-quality corpus) and the RAW corpus distribution, with
    * Laplace smoothing. Output: (bucket, lam_micro) for every bucket the
    * raw corpus occupies — `numBuckets`-bounded, broadcastable at any
    * corpus size.
    *
    * Determinism: the ratio is quantized to integer MICRO-UNITS here
    * (one `round` per bucket — a single-row computation, not an
    * aggregation), so the downstream per-document score is an integer
    * sum — associative-commutative-exact, bit-identical at any partition
    * count (the q_kmeans_inertia lesson).
    */
  def dsirLogRatios(
      corpus: DataFrame, target: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 4096): DataFrame =
    logRatiosFrom(
      featureBuckets(corpus, idCol, textCol, numBuckets)
        .groupBy("bucket").agg(count(lit(1)).as("cq")),
      target, idCol, textCol, numBuckets)

  /** λ table from a pre-aggregated raw-side (bucket, cq) frame — lets
    * [[dsirScores]] derive the raw distribution from its per-doc
    * aggregation instead of scanning the corpus text a second time.
    */
  private def logRatiosFrom(
      cf: DataFrame, target: DataFrame, idCol: String, textCol: String,
      numBuckets: Int): DataFrame = {
    val tf = featureBuckets(target, idCol, textCol, numBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("cp"))
    val totQ = cf.agg(sum(col("cq")).as("tq"))
    val totP = tf.agg(coalesce(sum(col("cp")), lit(0L)).as("tp"))
    val b = lit(numBuckets.toLong)
    cf.join(tf, Seq("bucket"), "left")
      .crossJoin(broadcast(totQ)).crossJoin(broadcast(totP))
      .withColumn("lam_micro",
        round((log((coalesce(col("cp"), lit(0L)) + lit(1L)).cast("double") / (col("tp") + b))
             - log((col("cq") + lit(1L)).cast("double") / (col("tq") + b))) * lit(1000000.0))
          .cast("long"))
      .select("bucket", "lam_micro")
  }

  /** DSIR importance score per corpus document: the log importance
    * weight of the doc under the hashed bag-of-n-grams model,
    * `Σ_features λ_bucket(feature)` — high where the doc looks like the
    * target distribution, low where it looks like the raw corpus.
    * Output: (idCol, n_features, score), every corpus row present
    * (feature-less docs score 0).
    *
    * Scale shape: the corpus text is read ONCE — the raw bucket
    * distribution rolls up from the same per-(doc, bucket) aggregation
    * that feeds the scores (the shared subplan reuses one exchange), the
    * target side is its own (smaller) scan, and the λ table is
    * ≤ `numBuckets` rows, broadcast. The per-doc aggregation is map-side
    * combinable; no shuffle ever carries text.
    */
  def dsirScores(
      corpus: DataFrame, target: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 4096): DataFrame = {
    // Raw-side bucket distribution straight off the scan: the explode's
    // partial aggregation collapses to ≤ numBuckets rows per map task, so
    // the one shuffle here is metadata-sized at any corpus scale.
    val cf = featureBuckets(corpus, idCol, textCol, numBuckets)
      .groupBy("bucket").agg(count(lit(1)).as("cq"))
    val lam = logRatiosFrom(cf, target, idCol, textCol, numBuckets)
    // λ IS a fitted model artifact — a ≤ numBuckets-long importance table
    // estimated from (corpus, target), the same class as logreg weights or
    // a k-means codebook — so it lives in ModelCache (dense driver array,
    // keyed by the λ plan's semantic identity). Baking it into the score projection makes
    // scoring ONE codegen pass over the corpus text: no per-(doc, bucket)
    // explode, no λ broadcast join, no groupBy(id) shuffle — the r13
    // stage-cold profile showed the rebuilt (id, bucket) aggregation
    // dominating both DSIR queries.
    val key = "dsir-lam:" +
      lam.queryExecution.analyzed.canonicalized.semanticHash() + ":" + numBuckets
    val lamArr = ModelCache.getOrFit(key) {
      val arr = new Array[Long](numBuckets)
      lam.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
      arr
    }
    // One projection yields every corpus row: a token-less doc naturally
    // scores (0 features, 0.0) — the union branch the old join-shaped
    // plan needed is gone. Feature-ful docs sum λ per occurrence in
    // integer micro-units (associative-commutative-exact, bit-identical
    // to the old broadcast-join + sum at any partition count).
    val r = graft.functions.ShingleOps.tokenBucketLamSumCol(
      lower(col(textCol)), numBuckets, lamArr)
    graft.StageCache.mat(
      corpus.select(col(idCol), r.as("__r"))
        .select(col(idCol),
          element_at(col("__r"), 1).as("n_features"),
          (element_at(col("__r"), 2).cast("double") / 1000000.0).as("score")))
  }

  /** Importance RESAMPLING via the Gumbel-top-k trick: `n` documents
    * sampled without replacement with probability ∝ exp(score), exactly
    * (Vieira 2014) — key = score + Gumbel noise, take the top n. The
    * noise is DETERMINISTIC (engine-portable hash of the salted id →
    * uniform → −ln(−ln u)), so the sample is reproducible and
    * oracle-checkable. Top-n is `orderBy.limit` — Spark plans
    * TakeOrderedAndProject (per-partition heaps + driver merge of n),
    * never a global sort.
    */
  def dsirSample(
      scored: DataFrame, idCol: String, scoreCol: String, n: Int,
      salt: String = "dsir"): DataFrame = {
    import graft.functions.PortableHash
    val u = (PortableHash.hashMod(concat(lit(salt + ":"), col(idCol).cast("string"))) + lit(1L))
      .cast("double") / lit((PortableHash.P + 1).toDouble)
    scored
      .withColumn("gumbel_key", col(scoreCol) + -log(-log(u)))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(n)
  }

  /** Train/val/test split-leakage audit: count the near-duplicate pairs
    * whose endpoints landed in DIFFERENT splits — the check that keeps
    * an eval set honest (a test doc whose near-dup sits in train is a
    * leaked answer). `splits` is any (id, split) frame — typically a
    * hash-split via [[Sampling.shardAssign]]; `pairs` any (id_a, id_b)
    * near-dup pair frame (MinHash LSH, winnow, embedding blocks …) —
    * decoupled so the audit composes with every dedup family in the
    * engine.
    *
    * The pair frame is candidate-bounded (LSH-banded upstream), so both
    * joins are id-keyed on pair-cardinality data; the output is one row
    * per unordered split pair. The (split_a, split_b) label is
    * normalized (least/greatest) so a train↔test pair counts once
    * regardless of id orientation.
    */
  def splitLeakage(
      splits: DataFrame,
      idCol: String,
      splitCol: String,
      pairs: DataFrame): DataFrame = {
    val s = splits.select(col(idCol), col(splitCol))
    val joined = pairs
      .join(s.select(col(idCol).as("id_a"), col(splitCol).as("__sa")), Seq("id_a"))
      .join(s.select(col(idCol).as("id_b"), col(splitCol).as("__sb")), Seq("id_b"))
      .filter(col("__sa") =!= col("__sb"))
    joined
      .groupBy(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
