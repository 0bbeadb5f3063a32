package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-dup. Designed for the 100 TB
  * shape: every method is either a hash-groupBy (one shuffle on a short
  * key) or an LSH band-bucket join (shuffle on band signatures), never an
  * all-pairs cross join — except the explicit small-N verification path
  * inside candidate buckets.
  */
object Dedup {

  /** Exact duplicate groups by content hash: one shuffle on the 128-bit
    * digest (never on the document body). Output: one row per duplicate
    * group with the canonical (min) doc id and the group size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** CCNet-style PARAGRAPH-level dedup (Wenzek et al., LREC 2020 §4.1:
    * web text repeats at paragraph granularity — headers, nav bars,
    * license blocks — long before whole documents repeat, so CCNet
    * dedups hashed paragraphs across the corpus and keeps documents with
    * the boilerplate cut out): split on `sep`, hash each paragraph's
    * canonicalized form ([[graft.pipeline.TextAnalysis.canonicalize]],
    * the same case/punct/layout folding the exact-dedup tier uses),
    * count corpus-wide occurrences, and strip every paragraph whose form
    * repeats `minDf`+ times — keeping the corpus-first occurrence
    * (smallest (id, position): an order-free winner every shard computes
    * identically) when `keepFirst`, or stripping all copies otherwise.
    * Paragraphs that canonicalize to "" (pure formatting/whitespace)
    * never count as duplicates and stay in place.
    *
    * Scale shape: the repeated-hash table is the boilerplate tier —
    * orders of magnitude smaller than the corpus — so AQE broadcasts it
    * and the keep decision is map-side; paragraph text then shuffles
    * once, on the doc id, for reassembly (the floor for a text-REWRITING
    * operator — its output IS the text). The 60-bit portable hash is the
    * usual injective-modulo-negligible-collision stand-in for string
    * equality (the [[ngramJaccardPairs]] stance); it never reaches the
    * output.
    *
    * Output: (id, n_pars, n_kept, clean_text) — clean_text re-joined
    * with `sep` in original paragraph order ("" when nothing survives).
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minDf: Long = 2,
      keepFirst: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would strip unique paragraphs, got $minDf")
    import graft.functions.PortableHash
    val pars = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("idx", "par")))
      .withColumn("__norm", TextAnalysis.canonicalize(col("par")))
      .withColumn("__h", PortableHash.hash60(col("__norm")))
    val dupes = pars.filter(col("__norm") =!= "")
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"), min(struct(col("id"), col("idx"))).as("__win"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__win"))
    val keep = col("__norm") === "" || col("__win").isNull ||
      (lit(keepFirst) && col("__win") === struct(col("id"), col("idx")))
    pars.join(dupes, Seq("__h"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_pars"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(keep, struct(col("idx"), col("par"))))),
          e => e.getField("par"))).as("clean_text"))
  }

  /** Cross-corpus (incremental) paragraph dedup — how [[paragraphDedup]]
    * actually runs at 100 TB: each crawl increment screens its
    * paragraphs against the STANDING corpus (any seen occurrence drops
    * the paragraph — the corpus always wins), and within-increment
    * repeats fall to the batch rule (corpus-first keeper by minimal
    * (id, position), or none with `keepFirst = false`). With the default
    * `minDf = 2` this equals the batch operator over (seen ∪ new) with
    * every seen id ordered below every new id, restricted to new docs —
    * the law DedupSpec pins; for `minDf > 2` the seen rule stays
    * absolute (one corpus occurrence suffices) while `minDf` governs
    * within-increment repeats only.
    *
    * Scale shape: the seen side reduces to its DISTINCT paragraph-hash
    * set — registered with [[graft.StageCache]] on a corpus-only plan,
    * so successive increments against one corpus snapshot reuse it warm
    * (the [[incrementalNearDupPairs]] precedent); the membership join
    * keys on 60-bit hashes (Spark injects a runtime Bloom on the probe
    * side), paragraph text never joins, and reassembly shuffles the
    * increment's text once, on the doc id.
    *
    * Output: one row per NEW doc — (id, n_pars, n_kept, clean_text).
    */
  def incrementalParagraphDedup(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n",
      minDf: Long = 2,
      keepFirst: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf < 2 would strip unique paragraphs, got $minDf")
    import graft.functions.PortableHash
    def pars(df: DataFrame) = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("idx", "par")))
      .withColumn("__norm", TextAnalysis.canonicalize(col("par")))
      .withColumn("__h", PortableHash.hash60(col("__norm")))
    val seenH = graft.StageCache.matHot(
      pars(seenDf).filter(col("__norm") =!= "").select(col("__h")).distinct())
    val np = pars(newDf)
    val dupes = np.filter(col("__norm") =!= "")
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__df"), min(struct(col("id"), col("idx"))).as("__win"))
      .filter(col("__df") >= minDf)
      .select(col("__h"), col("__win"))
    val keep = col("__norm") === "" ||
      (col("__seen").isNull &&
        (col("__win").isNull ||
          (lit(keepFirst) && col("__win") === struct(col("id"), col("idx")))))
    np.join(seenH.withColumn("__seen", lit(true)), Seq("__h"), "left")
      .join(dupes, Seq("__h"), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_pars"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(sep, transform(
          array_sort(collect_list(when(keep, struct(col("idx"), col("par"))))),
          e => e.getField("par"))).as("clean_text"))
  }

  /** Rows to drop under exact dedup (everything but the canonical doc per
    * group) — left-anti of ids against keepers, all hash-keyed.
    */
  def exactDropList(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = df.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    hashed.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).drop("__rn")
  }

  /** Cross-corpus (incremental) exact dedup: survivors of a NEW snapshot
    * against an already-ingested corpus — how exact dedup actually runs
    * at 100 TB, where each crawl increment dedups against the standing
    * corpus instead of re-grouping everything. Two hash-keyed stages,
    * neither shuffling document bodies:
    *
    *  1. anti-join the new snapshot's content hashes against the seen
    *     corpus's (Spark injects a runtime bloom/semi filter on the
    *     probe side when the seen side is large);
    *  2. self-dedup the survivors (min-id per hash within the batch).
    *
    * Output: one row per surviving new document — (id, content_hash).
    */
  def crossCorpusDedup(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val fresh = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("content_hash"))
      .join(seenDf.select(md5(col(textCol)).as("content_hash")), Seq("content_hash"), "left_anti")
    fresh.groupBy(col("content_hash")).agg(min(col("id")).as("id"))
      .select("id", "content_hash")
  }

  /** Bloom-pruned form of [[crossCorpusDedup]] — the shape for a small
    * crawl increment against a HUGE standing corpus, where even the
    * hash-only anti-join shuffles every corpus hash once per increment.
    * The classic bloom-join, sketching the SMALL side:
    *
    *  1. the increment's content hashes go into a Bloom sketch
    *     (tree-aggregated on executors via `stat.bloomFilter`; only the
    *     bit array reaches the driver — sizing it needs one count of the
    *     increment, which is the cheap side by definition);
    *  2. the corpus scan is pruned MAP-SIDE by `might_contain`: a corpus
    *     hash the sketch has never seen cannot match any increment doc
    *     (no false negatives), so only ~|true dups| + fpp·|corpus| hash
    *     rows survive to shuffle — the corpus is scanned once and never
    *     shuffled in full;
    *  3. the increment anti-joins the surviving corpus hashes (a frame
    *     small enough to broadcast), so Bloom false positives are
    *     recovered and the result is EXACT — identical to
    *     [[crossCorpusDedup]], which is why the DuckDB oracle is the
    *     plain anti-join — then batch self-dedup (min-id per hash).
    *
    * The sketch is ~1.2 MB per 10^6 increment docs at fpp=1e-2 —
    * broadcast is trivial for any real crawl increment; fpp trades
    * sketch size against the fpp·|corpus| survivor rows only, never
    * against correctness (law-tested at fpp 0.01 and 0.4).
    */
  def crossCorpusDedupBloom(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpr}
    val hashed = newDf.select(
      col(idCol).as("id"), md5(col(textCol)).as("content_hash"),
      xxhash64(col(textCol)).as("h64"))
    val n = hashed.count() // the increment — the cheap side by definition
    val selfDedup = (df: DataFrame) => df
      .groupBy(col("content_hash")).agg(min(col("id")).as("id"))
      .select("id", "content_hash")
    if (n == 0) return selfDedup(hashed)
    val sketch = hashed.select("h64").stat.bloomFilter("h64", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    sketch.writeTo(bos)
    val mightMatch = toColumn(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        toExpr(lit(bos.toByteArray)), toExpr(xxhash64(col(textCol)))))
    val survivingSeen = seenDf
      .filter(mightMatch) // map-side: full corpus hashes never shuffle
      .select(md5(col(textCol)).as("content_hash"))
    selfDedup(hashed.join(survivingSeen, Seq("content_hash"), "left_anti"))
  }

  /** Word n-gram shingles (lowercased, [[TextAnalysis.tokens]]-split),
    * distinct. One tokenization policy project-wide (round-9 unify): the
    * alnum-run regex — multi-space and punctuated text shingles
    * consistently with every token count. Guarded: Spark's
    * `sequence(1, k)` DESCENDS when k < 1, so short documents must
    * short-circuit to an empty array.
    */
  def shingles(text: Column, n: Int): Column =
    // the tokenization is BOUND as a lambda variable (evaluated once per
    // row); referencing it directly inside the window lambda would let
    // CollapseProject inline it into every slice — a ~tokens×
    // re-evaluation blowup (CSE never reaches inside lambda bodies)
    flatten(transform(array(TextAnalysis.tokens(lower(text))), ws =>
      when(size(ws) >= n,
        array_distinct(
          transform(
            sequence(lit(1), size(ws) - (n - 1)),
            i => concat_ws(" ", slice(ws, i, lit(n))))))
        .otherwise(array().cast("array<string>"))))

  /** N-gram Jaccard near-dup pairs (blocking bounds the candidate set; at
    * 100 TB you never all-pairs the corpus).
    * Exact Jaccard on distinct shingle sets via an explode + self-join on
    * shingle — the join key is the shingle hash, so the shuffle carries
    * (shingle_hash, doc_id) pairs, not documents.
    *
    * Blocking: with `blockCols` given, pairs form only within equal block
    * values (caller must pick a key with bounded block size). With NO
    * `blockCols` — the default — candidates come from MinHash LSH bands
    * ([[ngramJaccardPairsLsh]]): scale-safe on an unlabeled corpus, where
    * the old behavior (and a lang/label block at 100 TB — one language IS
    * the corpus) would go quadratic.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= minJaccard.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      blockCols: Seq[String] = Nil): DataFrame = {
    if (blockCols.isEmpty)
      return ngramJaccardPairsLsh(df, idCol, textCol, n, minJaccard)
    // Native distinct-shingle hashes straight off the scan (round-15):
    // the interpreted shingles() HOF chain + xxhash64 cost ~1.2 s per
    // rebuild at sf0.1 — the md5-60 hash is distinct-BY-STRING, so
    // size(sh) and hash-equality joins carry exactly the shingle-string
    // semantics the oracle replays (both are injective-modulo-negligible-
    // collision stand-ins for string equality; the hash itself never
    // reaches the output).
    val sh = df.select(
      (col(idCol).as("id") +: blockCols.map(col)) :+
        graft.functions.ShingleOps.shingleHash60s(lower(col(textCol)), n).as("sh"): _*)
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    // Materialize the exploded shingle table once (shared stage): both
    // join branches read it. Pre-partitioning the stage on h is REJECTED
    // for the THIRD time (r22): the r18/r21 unpinned variant lost to AQE
    // re-coalescing, and the r22 PINNED-width variant (explicit
    // spark.sql.shuffle.partitions count) won only on a quiet host
    // (cold 1.47 -> 1.04 s) while LOSING on a contended one (+0.08 s
    // warm, same code, same day) — the serial verify it fixes is priced
    // below the 32-task scheduling it costs whenever effective cores <
    // configured cores, which is exactly the driver-host regime. Numbers
    // in OPTIMIZATION_r22.md; prefer environment-independent shapes.
    val ex = sh.select(
      (col("id") +: col("n_sh") +: blockCols.map(col)) :+ explode(col("sh")).as("h"): _*)
      .pipe(graft.StageCache.matHot)
    val a = ex.select((col("id").as("id_a") +: col("n_sh").as("na") +: blockCols.map(c => col(c).as(s"__ba_$c"))) :+ col("h").as("ha"): _*)
    val b = ex.select((col("id").as("id_b") +: col("n_sh").as("nb") +: blockCols.map(c => col(c).as(s"__bb_$c"))) :+ col("h").as("hb"): _*)
    // Size-ratio prune inside the join: J(A,B) >= t implies
    // min(|A|,|B|) >= t * max(|A|,|B|), so mismatched-size pairs can be
    // dropped before the per-pair aggregation ever sees them.
    val sizeOk = least(col("na"), col("nb")) >= greatest(col("na"), col("nb")) * minJaccard
    val shared = a.join(b, col("ha") === col("hb") && col("id_a") < col("id_b") && sizeOk &&
        blockCols.map(c => col(s"__ba_$c") === col(s"__bb_$c")).foldLeft(lit(true))(_ && _))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .withColumn("jaccard", col("n_shared").cast("double") / (col("na") + col("nb") - col("n_shared")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram Jaccard over MinHash-LSH candidate pairs — the
    * unlabeled-corpus (no block key) path. Candidates = docs sharing at
    * least one signature band (standard banding; with the default 8×4
    * geometry a true Jaccard 0.5 pair is recalled w.p. ~1-(1-0.5^4)^8 ≈
    * 0.42 per band math — raise `bands` for higher recall). The exact
    * verification joins candidate ids back to per-doc shingle-hash sets,
    * so the quadratic stage is bounded by bucket collisions, never the
    * corpus — and band buckets above `maxBandDf` documents are dropped
    * before the self-join (the same hot-band cap as
    * [[minhashLshPairs]], via the shared [[bandedCandidates]]; run
    * [[exactGroups]] first so true duplicate clusters are already
    * collapsed and the cap only discards degenerate boilerplate).
    */
  def ngramJaccardPairsLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBandDf: Long = 1000L): DataFrame = {
    require(maxBandDf >= 2, s"maxBandDf must be >= 2 (a pair needs a bucket of 2), got $maxBandDf")
    // per-doc shingle-hash SET straight from the native scan projection
    // (docs are bounded; the SET is, too) — array content identical to
    // the old groupBy+collect_set of the exploded base, with no shuffle.
    // array_intersect and size() are order-blind, so first-occurrence
    // order vs collect_set order is immaterial.
    val sets = graft.StageCache.matHot(
      df.select(col(idCol).as("id"),
          graft.functions.ShingleOps.shingleHashModSet(lower(col(textCol)), n).as("hs"))
        .withColumn("n_sh", size(col("hs"))))
    // signature DERIVED from the set stage (round-15): the per-permutation
    // min over the distinct mod-P hashes IS the fused text signature
    // (ShingleOpsSpec pins bit-equality), so the signature costs pure
    // arithmetic over the already-materialized sets instead of a SECOND
    // full corpus text pass — the round-15 cold profile showed the set and
    // signature scans racing as two concurrent ~1.2 s passes. (This trades
    // away warm plan-identity with [[minhashLshPairs]]' scan-side sig
    // stage, but this operator always paid its own sets pass anyway — the
    // derived sig rides on it for near-free either way.)
    val numHashes = bands * rowsPerBand
    val sig = graft.StageCache.matHot(
        sets.select(col("id"),
          graft.functions.ShingleOps.minhashSigFromModsCol(col("hs"), numHashes).as("sig")))
      .filter(size(col("sig")) > 0) // on the cached array (pushdown would re-derive it)
    val cand = bandedCandidates(sig, bands, rowsPerBand, maxBandDf)
    val verified = cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("__ha"), col("n_sh").as("na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("hs").as("__hb"), col("n_sh").as("nb")), Seq("id_b"))
      .filter(least(col("na"), col("nb")) >= greatest(col("na"), col("nb")) * minJaccard)
      .withColumn("__inter", size(array_intersect(col("__ha"), col("__hb"))).cast("double"))
      .withColumn("jaccard", col("__inter") / (col("na") + col("nb") - col("__inter")))
    verified.filter(col("jaccard") >= minJaccard).select("id_a", "id_b", "jaccard")
  }

  /** N-gram CONTAINMENT near-dup pairs — the asymmetric companion of
    * [[ngramJaccardPairsLsh]]: containment = |A∩B| / min(|A|, |B|), the
    * score that catches SUBSET duplication (a short doc quoted whole
    * inside a long one scores ~1.0 here but can sit far below any
    * symmetric Jaccard threshold, since J = |A∩B|/|A∪B| ≤ |A|/|B|).
    * There is deliberately NO size-ratio prune — wildly unequal sizes
    * are exactly the pairs this operator exists for.
    *
    * Candidates come from an ANCHOR-SHINGLE inverted index, NOT
    * Jaccard-banded MinHash: band collision tracks Jaccard, which is
    * ≤ |A|/|B| for subset pairs, so LSH candidates structurally miss
    * the contained-in-much-bigger case (ContainmentSpec's fixture
    * demonstrates it). Each document emits its `numAnchors` RAREST
    * shingles (ranked by corpus document frequency, hash tiebreak —
    * the prefix-filtering idea); a pair becomes a candidate when one
    * side's anchor appears in the other side's shingle set. A
    * contained doc's every shingle — its anchors included — is in its
    * container, so a true subset pair is found whenever any anchor has
    * df ≤ `maxDf` (pure-boilerplate docs: run [[exactGroups]] first,
    * as with the LSH band cap); at containment c < 1 the miss chance
    * decays like (1−c)^numAnchors. The candidate volume is bounded by
    * docs × numAnchors × maxDf — LINEAR in the corpus, where a plain
    * all-rare-shingles self-join is Σ df² (measured superlinear at the
    * sf1 stress: 73 s vs 2.9 s for this shape).
    *
    * Output: (id_a, id_b, containment) with id_a < id_b,
    * containment >= minContainment.
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minContainment: Double = 0.8,
      maxDf: Long = 1000L,
      numAnchors: Int = 4): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs a shingle shared by 2 docs), got $maxDf")
    require(numAnchors >= 1, s"numAnchors must be >= 1, got $numAnchors")
    // distinct (id, hash) rows — the per-doc hash SET in exploded form,
    // emitted VALUE-DISTINCT straight from the native scan projection
    // (ShingleOps.shingleHashModSet): no dedup shuffle ever runs. Per-doc
    // shingle STRINGS are already distinct inside the expression, and the
    // mod-P value dedup collapses within-doc hash collisions, making
    // every downstream quantity (df, set sizes, intersections) a
    // distinct-HASH-set measure — the exact semantics the SQL oracle
    // replays with SELECT DISTINCT.
    //
    // ONE materialization serves every consumer (r20; previously exd and
    // exd⋈dfc were two separate matHot stages): the exploded rows are
    // keyed by `__b` up front and the `(id, __b, __df)` stage feeds the
    // anchor ranking, the member lists, and (via the byId exchange) the
    // per-doc set arrays the verify reads — the corpus text is shingled
    // exactly once. Per-doc set sizes are size() of the rebuilt arrays
    // (r22; previously an n_sh column rode every exploded row through
    // the __b exchange — dropped, the exchange got a column narrower).
    // Skew note (100 TB): a hot shingle hash colocates on one task here,
    // exactly as it did in the previous exd⋈dfc join on `__b`; the maxDf
    // cap discards those rows immediately downstream either way.
    // matHot is identity in stage-cold mode (r20 StageCache contract),
    // so registering the stage costs the cold leg nothing while warm
    // sessions reuse it across queries/reps.
    // Scale-adaptive pinned partition count for the stages below whose
    // OUTPUT explodes relative to their input (guide §2.2/§2.5): AQE's
    // coalescing sizes a stage's read by its INPUT bytes, so a
    // mid-scale exchange under the 64 MB advisory collapses to ONE task
    // — and when that task then computes a row-multiplying join, the
    // whole machine waits on it (measured at the 10x fixture: the
    // candidate-expansion join ran as 1 task for 19.1 s of a 33 s
    // query, writing 410 MB of map output serially). Pinning the
    // repartition width to the session's configured shuffle parallelism
    // (spark.sql.shuffle.partitions — the cluster-tuned knob, cpus in
    // local mode) is the scale-parameterised fix: AQE never coalesces a
    // user-specified partition count, so the exploding map side always
    // runs at configured width.
    val P = graft.functions.ShuffleWidth.pinned(df.sparkSession)
    val exploded =
      df.select(col(idCol).as("id"),
          graft.functions.ShingleOps.shingleHashModSet(
            lower(col(textCol)), n).as("__hs"))
        .select(col("id"), explode(col("__hs")).as("__b"))
        .repartition(col("__b"))
    // document frequency as a groupBy + co-partitioned join riding the
    // SAME __b exchange (r21, ADVICE r20 #3): both subtrees are the
    // identical repartition, so AQE exchange reuse materializes it once;
    // the aggregation holds one counter per distinct hash (O(keys)
    // state) and the join streams the rows past a one-row-per-key side —
    // where the previous window COUNT buffered each __b group in one
    // task's WindowExec buffer, so a corpus-wide boilerplate shingle
    // (df ~ corpus) funneled its whole group through a spillable buffer
    // before the maxDf cap discarded it downstream. Same single
    // materialization as r20, skew-robust df. A/B at sf0.1/sf1 in
    // OPTIMIZATION_r21.md.
    val dfc = exploded.groupBy(col("__b")).agg(count(lit(1)).as("__df"))
    val withDf = graft.StageCache.matHot(exploded.join(dfc, Seq("__b")))
    // ONE pinned id-keyed exchange serves BOTH id-grained consumers
    // (the q_combine_first shared-exchange trick): the anchor window's
    // ClusteredDistribution(id) and the set-rebuild aggregation below
    // read the same repartition subtree, which AQE materializes once.
    // Pinned at P: the window input sits under the AQE advisory at
    // mid scale, and a coalesced-to-1 read ranked the whole corpus in
    // one task (2.2 s at the 10x fixture).
    val byId = withDf.repartition(P, col("id"))
    // anchors: each doc's numAnchors rarest shingles (per-doc window,
    // bounded by shingles-per-doc) that clear the df cap
    val wDoc = Window.partitionBy(col("id")).orderBy(col("__df"), col("__b"))
    val anchors = byId
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <= numAnchors && col("__df") <= maxDf)
      .select(col("id").as("__aid"), col("__b"))
    // inverted-list membership of capped shingles only
    val members = withDf.filter(col("__df") <= maxDf)
      .select(col("id").as("__mid"), col("__b"))
    val cand = anchors.join(members, Seq("__b"))
      .filter(col("__aid") =!= col("__mid"))
      .select(least(col("__aid"), col("__mid")).as("id_a"),
        greatest(col("__aid"), col("__mid")).as("id_b"))
      .repartition(P, col("id_a"), col("id_b")) // pinned: the dedup agg
      .distinct()                               // rides it, and the
      // verify joins' map side below inherits its width — unpinned, AQE
      // coalesced the distinct to ONE task whose output then fanned out
      // per-pair (the 19 s serial stage at the 10x fixture)
    // Verification by per-doc hash-SET arrays (r22; replaces the r12
    // exploded-intersection): the exploded form shipped one row per
    // (candidate pair, doc-A shingle) through a (id_b,__b)-keyed
    // exchange — docs x anchors x maxDf x |A| rows (37M rows / 410 MB at
    // the 10x fixture) sorted and aggregated down to one row per pair.
    // Attaching each side's DISTINCT hash-set array instead bounds the
    // verify volume by candidate PAIRS (671k at the same fixture): two
    // id-keyed joins, then size(array_intersect) per row — order-blind
    // and bit-equal to the exploded count (both sides are value-distinct
    // mod-P hash sets by construction, so a candidate's intersection
    // cardinality is the same integer either way; a candidate pair
    // always shares >= 1 anchor hash, so no zero-intersection row
    // exists to drop). The arrays are REBUILT from the cached exploded
    // stage (collect_list over the byId exchange the anchor window
    // already pays), not from a second corpus text pass — the set stage
    // rides one extra bounded aggregation, and a hot doc ships one
    // ~|A|-long array per candidate it appears in instead of |A| rows
    // per candidate: strictly fewer bytes, no post-join aggregation.
    val sets = graft.StageCache.matHot(
      byId.groupBy(col("id")).agg(collect_list(col("__b")).as("__hs2")))
    val inter = cand
      .join(sets.select(col("id").as("id_a"), col("__hs2").as("__ha")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("__hs2").as("__hb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__ha"), col("__hb"))).as("__ni"),
        size(col("__ha")).as("na"), size(col("__hb")).as("nb"))
    inter
      .withColumn("containment", col("__ni").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")
  }

  /** Benchmark decontamination: per-document count of n-gram shingles
    * shared with an evaluation/benchmark corpus — the standard check that
    * training data does not contain the test set. Output: (id, n_shared)
    * for documents sharing at least `minShared` distinct shingles with
    * any eval document.
    *
    * 100 TB plan: the corpus side never shuffles — eval sets are small by
    * definition, so the distinct eval shingle-hash set is BROADCAST and
    * the overlap is a map-side join on a long hash (the portable md5 hash,
    * so the DuckDB oracle reproduces counts exactly); the only shuffle is
    * the final per-doc count aggregation, keyed by doc id with map-side
    * partial aggregation.
    */
  def contamination(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 3,
      minShared: Int = 1): DataFrame = {
    import graft.functions.{PortableHash, ShingleOps}
    val evalSh = eval
      .select(explode(ShingleOps.shingleHash60s(lower(col(evalTextCol)), n)).as("__h60"))
      .select(pmod(col("__h60"), lit(PortableHash.P)).as("__h"))
      .distinct()
    // the corpus side IS the shared (id, shingle-hash) base stage —
    // decontamination reuses the same materialized corpus pass as the
    // minhash/Jaccard operators instead of re-exploding the text
    val corpusSh = shingleHashes(corpus, idCol, textCol, n)
      .withColumnRenamed("__b", "__h")
    // per-doc shingles are distinct (shingles() dedupes), so count(*) is
    // the distinct-overlap count
    corpusSh.join(broadcast(evalSh), Seq("__h"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MinHash signature: `numHashes` permutations as the universal-hash
    * family `(a_i*h + b_i) mod P` over ONE portable 60-bit base hash per
    * shingle (graft.functions.PortableHash — one md5 per shingle row, not
    * one per permutation); one pass over exploded shingles, one groupBy
    * per doc. Engine-portable: the DuckDB oracle reproduces it exactly.
    */
  /** The exploded (id, shingle-hash) BASE TABLE every shingle-derived
    * operator builds on — minhash signatures ([[minhashSignature]]),
    * exact-Jaccard sets ([[ngramJaccardPairsLsh]]), decontamination
    * ([[contamination]]). One md5 per shingle, hash carried as a long in
    * [0, P); the shingle strings never survive this projection (at
    * corpus scale they are the bulk of the exploded bytes and no
    * downstream stage reads them). Materialized as a shared stage
    * ([[graft.StageCache]]): within a query both of a self-join's sides
    * read it, and across queries every operator over the same (input,
    * n) reuses ONE corpus pass via plan-identity cache matching.
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.functions.{PortableHash, ShingleOps}
    // native one-pass projection (ShingleOps): the scan emits (id, hash)
    // longs directly — no interpreted higher-order shingle build, no
    // per-shingle string materialization (round-13 stage-cold attack);
    // bit-identical to explode(shingles) + hashMod (ShingleOpsSpec).
    // NOT a materialized stage (round-15): contamination is the only
    // remaining consumer and reads it exactly once, fused straight into
    // its broadcast join — persisting it only paid a corpus-sized block
    // write + read-back for nothing.
    df.select(col(idCol).as("id"),
        explode(ShingleOps.shingleHash60s(lower(col(textCol)), n)).as("__h60"))
      .select(col("id"), pmod(col("__h60"), lit(PortableHash.P)).as("__b"))
  }

  def minhashSignature(df: DataFrame, idCol: String, textCol: String, n: Int = 3, numHashes: Int = 32): DataFrame =
    minhashSignatureRaw(df, idCol, textCol, n, numHashes)
      .filter(size(col("sig")) > 0)

  /** The UNFILTERED signature projection — the plan shape stage caching
    * should key on. Callers that materialize the stage must register
    * THIS plan and apply [[minhashSignature]]'s empty-sig filter on the
    * cached output: a filter inside the registered plan gets
    * predicate-pushed below the projection, inlining the signature
    * expression into the scan filter — the cache-build job then runs
    * the full text pass TWICE per row (measured in the r16 plan dump:
    * `Condition: size(minhashsigexpr(lower(text)))>0` directly above
    * the projection computing the same expression). Filtering after
    * materialization reads the cached array's size instead.
    *
    * FUSED signature (round-13): the whole per-doc signature comes out
    * of one native pass over the text — no shingle explode (docs ×
    * shingles rows) and no 32-min aggregation shuffle. Per-permutation
    * min over the distinct shingle hashes equals the aggregated
    * min(pmod(a·h+b, P)) exactly (MinhashSigSpec pins bit-equality).
    * The empty-sig filter mirrors the aggregated form: a document with
    * < n tokens contributed no rows to the groupBy, so it had no
    * signature row at all.
    */
  private[graft] def minhashSignatureRaw(
      df: DataFrame, idCol: String, textCol: String, n: Int, numHashes: Int): DataFrame = {
    import graft.functions.ShingleOps
    df.select(col(idCol).as("id"),
      ShingleOps.minhashSigCol(lower(col(textCol)), n, numHashes).as("sig"))
  }

  /** LSH band-bucket candidate pairs from a signature table (id, sig):
    * split each signature into `bands` slices of `rowsPerBand`, bucket on
    * the md5 band key (a short portable shuffle key — the reference hash
    * for the same band bytes in any engine), and self-join inside
    * buckets. The hot-band cap drops buckets occupied by more than
    * `maxBandDf` documents BEFORE the quadratic self-join — as a COUNT
    * WINDOW over the bucket key, so the one shuffle that counts the
    * bucket is the same exchange the join reuses, and the window holds a
    * bucket's ROWS (linear in the biggest bucket), never the pair set
    * the cap exists to prevent. Shared by [[minhashLshPairs]] and
    * [[ngramJaccardPairsLsh]] — every band-join in the engine is capped.
    */
  private def bandedCandidates(
      sig: DataFrame, bands: Int, rowsPerBand: Int, maxBandDf: Long): DataFrame = {
    // native band keys (round-15): one codegen call per row instead of an
    // interpreted sequence→transform→slice→cast→concat_ws→md5 chain per
    // band — byte-identical hex strings (ShingleOpsSpec pins it), same
    // buckets, same oracle
    val banded = sig.select(
      col("id"),
      posexplode(graft.functions.ShingleOps.bandHashesCol(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val wb = Window.partitionBy(col("band"), col("band_hash"))
    val capped = banded
      .withColumn("__bn", count(lit(1)).over(wb))
      .filter(col("__bn") <= maxBandDf)
      .drop("__bn")
    // the dup-pair explosion (docs sharing several bands) flows through
    // the DISTINCT — keep that shuffle narrow (two ids)
    capped.select(col("id").as("id_a"), col("band"), col("band_hash"))
      .join(capped.select(col("id").as("id_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Corpus-overlap matrix: estimated Jaccard similarity between the
    * shingle SETS of whole sub-corpora (source, language, crawl snapshot
    * …) from per-group MinHash signatures — the curation-level "how much
    * does source A repeat source B" statistic that decides whether two
    * feeds are worth ingesting separately.
    *
    * The union-set signature needs no per-group set materialization:
    * min over a group's docs of each permuted shingle hash IS the
    * signature of the union of their shingle sets, so the whole thing is
    * one explode + one (group) aggregation — shuffle carries (group,
    * 60-bit hash) pairs, output is one row per group. Pairwise
    * comparison then runs over the handful of groups (broadcast
    * self-join, no corpus involvement). Per-doc duplicate shingles can't
    * skew the min, so no distinct pass is needed.
    *
    * Output: (grp_a, grp_b, est_jaccard) for grp_a < grp_b, the match
    * fraction of `numHashes` signature components (standard MinHash
    * estimator, ±1/√H), rounded to 6 dp.
    */
  def minhashGroupSim(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      idCol: Option[String] = None): DataFrame = {
    import graft.functions.PortableHash
    // With an id column given, per-doc FUSED signatures come from the
    // SHARED [[minhashSignature]] stage (plan-identical to the LSH
    // operators' when (input, n, numHashes) match), rolled up by
    // element-wise min: the min over a group's docs of each per-doc
    // permutation minimum IS the minimum over the union of their shingle
    // sets — the union-set signature, with no corpus explode at all.
    // Without an id, fall back to a direct per-group explode.
    val sig = (idCol match {
      case Some(id) =>
        // register the RAW plan, filter on the cached array (see
        // minhashSignatureRaw on the pushdown double-pass)
        val perDoc = graft.StageCache.mat(minhashSignatureRaw(df, id, textCol, n, numHashes))
          .filter(size(col("sig")) > 0)
        perDoc
          .join(df.select(col(id).as("id"), col(groupCol).as("grp")), Seq("id"))
          .groupBy("grp")
          .agg(
            min(element_at(col("sig"), 1)).as("h0"),
            (1 until numHashes).map(i => min(element_at(col("sig"), i + 1)).as(s"h$i")): _*)
      case None =>
        val ex = df.select(col(groupCol).as("grp"),
            explode(graft.functions.ShingleOps.shingleHash60s(lower(col(textCol)), n)).as("__h60"))
          .withColumn("__b", pmod(col("__h60"), lit(PortableHash.P)))
        val consts = PortableHash.permConsts(numHashes)
        val mins = consts.zipWithIndex.map { case ((a, b), i) =>
          min(PortableHash.perm(col("__b"), a, b)).as(s"h$i") }
        ex.groupBy("grp").agg(mins.head, mins.tail: _*)
    })
      .select(col("grp"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
      .pipe(graft.StageCache.matHot) // one row per group; both join sides
                         // read it — don't re-run the corpus pass per side
    val l = sig.select(col("grp").as("grp_a"), col("sig").as("__sa"))
    val r = sig.select(col("grp").as("grp_b"), col("sig").as("__sb"))
    l.join(broadcast(r), col("grp_a") < col("grp_b"))
      .withColumn("est_jaccard", round(
        graft.functions.VectorExpressions.sig_agree(col("__sa"), col("__sb"))
          .cast("double") / numHashes, 6))
      .select("grp_a", "grp_b", "est_jaccard")
  }

  /** MinHash+LSH candidate pairs: split the signature into `bands` bands
    * of `rows` hashes, bucket-join on (band_idx, band_hash) — docs sharing
    * any band collide. The shuffle key is the band hash (short), the
    * candidate verification (exact signature similarity) happens only
    * inside buckets. Output: (id_a, id_b, sig_sim).
    *
    * Hot-band cap: a band bucket occupied by more than `maxBandDf`
    * documents is DROPPED from candidate generation (the winnowPairs
    * df-cap applied to LSH buckets). The band self-join is quadratic in
    * single-bucket occupancy — a web-corpus boilerplate cluster of 10⁵
    * docs sharing one band would emit 10¹⁰ candidate rows before the
    * DISTINCT — so the cap is what makes the operator safe at corpus
    * scale. Semantics: pairs living ONLY in over-cap buckets are lost;
    * run [[exactGroups]] (or [[dedupExact]]) first so true duplicate
    * clusters — the one legitimate source of such buckets — are already
    * collapsed, leaving the cap to discard only degenerate boilerplate
    * collisions. Deterministic (drop, not sample), mirrored exactly in
    * the SQL twin.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minSim: Double = 0.5,
      maxBandDf: Long = 1000L): DataFrame = {
    require(maxBandDf >= 2, s"maxBandDf must be >= 2 (a pair needs a bucket of 2), got $maxBandDf")
    val numHashes = bands * rowsPerBand
    // shared stage: both band-join sides and the verification joins read
    // it, and the pairs' downstream consumers (cluster resolution,
    // keep-best retention, leakage audit) rebuild the same plan
    val sig = graft.StageCache.matHot(
        minhashSignatureRaw(df, idCol, textCol, n, numHashes))
      .filter(size(col("sig")) > 0) // on the cached array, not the text pass
    val cand = bandedCandidates(sig, bands, rowsPerBand, maxBandDf)
    // the verified pair list is itself a shared stage: ONE generation
    // feeds the pairs listing, near-dup clusters, quality-priority
    // retention, and the split-leakage audit (plan-identity reuse)
    graft.StageCache.mat(cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      // native agreement count (SigAgree): the zip_with fold evaluated
      // interpreted lambdas + allocated a zipped array per CANDIDATE
      // PAIR — the largest intermediate this family builds at scale
      .withColumn("sig_sim",
        graft.functions.VectorExpressions.sig_agree(col("sig_a"), col("sig_b")).cast("double")
          / size(col("sig_a")))
      .filter(col("sig_sim") >= minSim)
      .select("id_a", "id_b", "sig_sim"))
  }

  /** Cross-corpus incremental NEAR-dup matches — the MinHash companion
    * of [[crossCorpusDedup]] (which is exact-hash only): which documents
    * of a NEW crawl increment near-duplicate the STANDING corpus, and
    * against whom. This is how near-dedup actually runs at 100 TB — each
    * increment is screened against the corpus, nothing re-pairs the
    * corpus against itself.
    *
    * Contract: candidate generation is IDENTICAL to [[minhashLshPairs]]
    * over (new ∪ seen) — same signatures, same band buckets, same
    * combined hot-band cap — restricted to CROSS-side pairs. That keeps
    * the semantics replayable by the same SQL machinery, and means an
    * increment that collides with a boilerplate bucket the cap drops is
    * treated exactly as the batch operator would treat it (run
    * [[exactGroups]] first, as there). Ids must be unique ACROSS both
    * frames (they are, in any real ingest — and a collision would only
    * fuse the two sides' signatures for that id).
    *
    * Scale shape: one signature pass per side (the seen side is the big
    * one — its signature stage registers with [[graft.StageCache]] by
    * plan identity, so successive increments against the same corpus
    * snapshot reuse it warm); the band join shuffles short (band, hash)
    * keys; verification joins fetch only candidate signatures.
    *
    * Output: (new_id, seen_id, sig_sim) — every cross match at
    * `sig_sim >= minSim`.
    */
  def incrementalNearDupPairs(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minSim: Double = 0.5,
      maxBandDf: Long = 1000L): DataFrame = {
    require(maxBandDf >= 2, s"maxBandDf must be >= 2 (a pair needs a bucket of 2), got $maxBandDf")
    val numHashes = bands * rowsPerBand
    def sigsOf(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      graft.functions.ShingleOps.minhashSigCol(lower(col(textCol)), n, numHashes).as("sig"))
    // PER-SIDE signature stages (ADVICE r17): the seen side registers
    // with StageCache on a plan containing ONLY the standing corpus, so
    // successive increments against the same corpus snapshot reuse its
    // signatures warm — signing both sides inside one tagged union (the
    // r17 shape) put the increment into the canonicalized plan key and
    // re-signed the full corpus every increment. MinHash is per-row, so
    // the per-side signatures union to exactly the signatures of the
    // union: candidates and results are bit-identical either way
    // (DedupSpec pins this against the batch operator).
    val seenSig = graft.StageCache.matHot(sigsOf(seenDf))
    val newSig = graft.StageCache.matHot(sigsOf(newDf))
    val sig = newSig.withColumn("__new", lit(true))
      .unionByName(seenSig.withColumn("__new", lit(false)))
      .filter(size(col("sig")) > 0)
    val cand = bandedCandidates(sig.select(col("id"), col("sig")), bands, rowsPerBand, maxBandDf)
    val sides = sig.select(col("id"), col("__new"))
    cand
      .join(sides.select(col("id").as("id_a"), col("__new").as("__na")), Seq("id_a"))
      .join(sides.select(col("id").as("id_b"), col("__new").as("__nb")), Seq("id_b"))
      .filter(col("__na") =!= col("__nb")) // cross-side only, BEFORE sig fetch
      .join(sig.select(col("id").as("id_a"), col("sig").as("__sa")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("__sb")), Seq("id_b"))
      .withColumn("sig_sim",
        graft.functions.VectorExpressions.sig_agree(col("__sa"), col("__sb")).cast("double")
          / size(col("__sa")))
      .filter(col("sig_sim") >= minSim)
      .select(
        when(col("__na"), col("id_a")).otherwise(col("id_b")).as("new_id"),
        when(col("__na"), col("id_b")).otherwise(col("id_a")).as("seen_id"),
        col("sig_sim"))
  }

  /** Survivors of [[incrementalNearDupPairs]]: new-increment documents
    * with NO near-dup in the standing corpus — the rows an incremental
    * ingest keeps (the near-dup analogue of [[crossCorpusDedup]]'s
    * anti-join; batch-INTERNAL near-dups are a separate composition:
    * [[minhashLshPairs]] + [[dedupKeepBest]] over the increment).
    * Documents too short to shingle have no signature, collide with
    * nothing, and survive — same as the batch operator's behavior.
    * Output: one row per surviving new doc (`idCol`).
    */
  def incrementalNearDup(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      minSim: Double = 0.5,
      maxBandDf: Long = 1000L): DataFrame = {
    val matched = incrementalNearDupPairs(
      newDf, seenDf, idCol, textCol, n, bands, rowsPerBand, minSim, maxBandDf)
      .select(col("new_id").as(idCol))
    newDf.select(col(idCol)).join(matched, Seq(idCol), "left_anti")
  }

  /** SimHash width: 60 bits — the portable md5-based hash yields 60
    * uniform bits (graft.functions.PortableHash.hash60), and 60 divides
    * evenly into 4 bands of 15 for pigeonhole blocking.
    */
  val SimhashBits = 60

  /** 60-bit SimHash over portable token hashes: per bit, sum of ±1 votes
    * from each token's hash bit; near-dups = small Hamming distance. Pure
    * Catalyst bit arithmetic. NOTE: single-expression form — fine for ad
    * hoc columns, but it evaluates 60 interpreted array folds per row; for
    * corpus-scale signatures use [[simhashSignatures]] (codegen'd).
    */
  def simhash(text: Column): Column = {
    import graft.functions.PortableHash
    val toks = TextAnalysis.tokens(lower(text))
    val hashes = transform(toks, t => PortableHash.hash60(t))
    val bits = (0 until SimhashBits).map { i =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Corpus-scale SimHash: explode tokens, then ONE hash aggregation with
    * 60 codegen'd bit-count sums per doc (bit i set iff ones > n/2 —
    * identical to the ±1 vote rule). The shuffle key is the doc id and the
    * shuffled rows are (id, hash60) longs — this is the shape that holds
    * at 100 TB, unlike 60 interpreted lambda folds per row.
    * Docs with no tokens get signature 0 (restored via left join).
    * Output: (id, sig).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.PortableHash
    val ids  = df.select(col(idCol).as("id"))
    val toks = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("t"))
      .withColumn("h", PortableHash.hash60(col("t")))
    // 60 bit-counters packed 4-per-long in 16-bit lanes: 16 aggregate
    // buffers instead of 61, which keeps the hash aggregate inside
    // whole-stage codegen (default wholeStage.maxNumFields). Lane counts
    // are exact for documents under 65,536 tokens (16-bit lanes).
    val packedSums = (0 until SimhashBits / 4).map { g =>
      val term = (0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * g + j).bitwiseAND(1L), 16 * j)
      }.reduce(_ + _)
      sum(term).as(s"p$g")
    }
    val agg = toks.groupBy("id").agg(count(lit(1)).as("n"), packedSums: _*)
    val bits = (0 until SimhashBits).map { i =>
      val g = i / 4; val j = i % 4
      val c = shiftright(col(s"p$g"), 16 * j).bitwiseAND(0xFFFFL)
      when(c * 2 > col("n"), shiftleft(lit(1L), i)).otherwise(0L)
    }
    val sigs = agg.select(col("id"), bits.reduce(_.bitwiseOR(_)).as("sig"))
    ids.join(sigs, Seq("id"), "left").withColumn("sig", coalesce(col("sig"), lit(0L)))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Embedding-cosine near-dup pairs: exact cosine over a blocked
    * self-join. With `blockCols` given, the block is the caller's
    * (cluster id, shard, ...). With NO `blockCols` — the default — the
    * block is the sign-LSH bucket ([[graft.pipeline.Similarity.lshBucket]]):
    * near-parallel vectors collide, and the join never goes quadratic the
    * way a label/language block does at corpus scale (one label ≈ the
    * whole corpus).
    * Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= minCos.
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCols: Seq[String] = Nil,
      minCos: Double = 0.9,
      lshPlanes: Int = 8): DataFrame = {
    import graft.pipeline.Similarity.dot
    if (blockCols.isEmpty) {
      val bucketed = df.withColumn("__lsh_block",
        graft.pipeline.Similarity.lshBucket(col(vecCol), lshPlanes))
      return embeddingCosinePairs(bucketed, idCol, vecCol, Seq("__lsh_block"), minCos, lshPlanes)
    }
    // Norm once per vector (materialized — both join sides read it), so
    // the quadratic pair stage only computes the codegen'd dot product.
    val prep = df.select((col(idCol).as("id") +: col(vecCol).as("__v") +: blockCols.map(col)): _*)
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
      .pipe(graft.StageCache.matHot) // shared stage: both join sides read it
    val a = prep.select((col("id").as("id_a") +: col("__v").as("__va") +: col("__n").as("__na") +: blockCols.map(col)): _*)
    val b = prep.select((col("id").as("id_b") +: col("__v").as("__vb") +: col("__n").as("__nb") +: blockCols.map(col)): _*)
    a.join(b, blockCols).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos_sim") >= minCos)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Multi-probe variant of the no-block [[embeddingCosinePairs]] path:
    * near-dup PAIRS whose members straddle a sign-LSH bucket boundary
    * (one low-margin hyperplane apart) are recovered by joining each
    * vector's probe buckets ([[Similarity.lshProbeBuckets]]: base +
    * lowest-|margin| bit flips) against every vector's BASE bucket. A
    * pair collides when either member's probe list contains the other's
    * base bucket — strictly more candidates than single-bucket blocking
    * (numProbes = 1 reproduces it exactly), still never all-pairs.
    *
    * Plan shape: the probe explode is ×numProbes on (id, bucket) longs
    * only; candidate pairs are `distinct`-ed BARE (id_a, id_b) before
    * vectors join back — the pair explosion never shuffles embeddings
    * (same discipline as the MinHash band-collision path).
    * Output: (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= minCos.
    */
  def embeddingCosinePairsMultiProbe(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCos: Double = 0.9,
      lshPlanes: Int = 8,
      numProbes: Int = 2): DataFrame = {
    import graft.pipeline.Similarity.dot
    val prep = df.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
      .withColumn("__base", graft.pipeline.Similarity.lshBucket(col("__v"), lshPlanes))
      .pipe(graft.StageCache.matHot) // shared stage: both join sides read it
    val probes = prep.select(col("id").as("__pid"),
      explode(graft.pipeline.Similarity.lshProbeBuckets(col("__v"), lshPlanes, numProbes)).as("__b"))
    val bases = prep.select(col("id").as("__bid"), col("__base").as("__b"))
    val candidates = probes.join(bases, "__b")
      .filter(col("__pid") =!= col("__bid"))
      .select(least(col("__pid"), col("__bid")).as("id_a"),
        greatest(col("__pid"), col("__bid")).as("id_b"))
      .distinct()
    val va = prep.select(col("id").as("id_a"), col("__v").as("__va"), col("__n").as("__na"))
    val vb = prep.select(col("id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"))
    candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos_sim", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("cos_sim") >= minCos)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Substring-level duplication spans — the windowed approximation of
    * suffix-array dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL'22: exact substring matching at
    * ~50-token granularity): hash every `w`-token window, keep windows
    * whose hash occurs at least `minCount` times in the whole corpus
    * (cross- OR within-document), and merge each document's overlapping
    * /abutting duplicated windows into maximal token spans. Unlike
    * document-level dedup (MinHash/SimHash), this finds the boilerplate
    * paragraph INSIDE otherwise-unique documents — what a pipeline cuts
    * out rather than drops.
    *
    * Plan: window hashing is a per-row projection + posexplode; the
    * duplicated-hash filter is one count aggregation + semi-join keyed
    * on the 60-bit hash (shuffle carries (hash, id, pos) — never text);
    * span merging is a per-document window (islands over running max of
    * span end), bounded by document length, not corpus size.
    *
    * Output: (id, span_start, span_end, n_windows) — 1-based token
    * positions, inclusive; `n_windows` = duplicated windows merged into
    * the span.
    */
  /** Portable hash of every `w`-token window of `text` (array, one
    * element per 1-based window position). The token array is bound ONCE
    * per row as a lambda variable: referencing it directly inside the
    * per-window lambda lets CollapseProject inline the
    * regexp_extract_all into EVERY window's slice — a ~tokens×
    * evaluation blowup (measured 4x wall on q_dup_spans). Inner guard
    * like shingles(): sequence(1, k) DESCENDS for k < 1. Shared by
    * [[duplicateSpans]] and the streaming
    * [[graft.streaming.StreamIngest.dupWindowMonitor]].
    */
  def windowHashes(text: Column, w: Int): Column =
    // native one-pass positional variant (order and multiplicity kept —
    // the span detector posexplodes this); value-identical to the old
    // hashMod(concat_ws(slice)) chain (ShingleOpsSpec)
    graft.functions.ShingleOps.windowHashModsCol(lower(text), w)

  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      minCount: Long = 2): DataFrame = {
    val wins = windowHashTable(df, idCol, textCol, w)
      .pipe(graft.StageCache.matHot) // count branch + semi-join branch both read it
    val dup = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("__h")
    mergeSpans(wins.join(dup, "__h").select("id", "pos"), w)
  }

  /** (id, pos, __h) rows — every `w`-token window's portable hash, at
    * 1-based token position. The shared front half of the span family.
    */
  private def windowHashTable(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(windowHashes(col(textCol), w)).as(Seq("__p0", "__h")))
      .select(col("id"), (col("__p0") + 1).cast("long").as("pos"), col("__h"))

  /** Merge duplicated-window positions (id, pos) into maximal token
    * spans — islands: a window extends the current span iff
    * pos <= prevEnd + 1, where prevEnd = max(pos)+w-1 over preceding
    * rows (w is constant). Bounded by document length, never corpus
    * size. Output: (id, span_start, span_end, n_windows).
    */
  private def mergeSpans(dw: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevMax = max(col("pos")).over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val grp = sum(col("__brk")).over(ord)
    dw.withColumn("__brk",
        when(col("pos") <= prevMax + (w - 1) + 1, lit(0)).otherwise(lit(1)))
      .withColumn("__g", grp)
      .groupBy(col("id"), col("__g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("id", "span_start", "span_end", "n_windows")
  }

  /** CUT the duplicated spans out of each document — the action half of
    * [[duplicateSpans]] (Lee et al. ACL'22 REMOVE the matched substrings
    * from the training set; detection alone is only the audit). Every
    * token covered by a merged duplicated span is dropped and the
    * survivors re-join in order. The output text is the TOKEN stream
    * (lowercase [a-z0-9]+ runs joined by single spaces) — span positions
    * are token positions, so token granularity is the faithful unit; a
    * byte-exact splice would need the tokenizer to carry byte offsets
    * for no semantic gain (the paper operates on token sequences too).
    *
    * Scale shape: the span table is the duplicated-boilerplate tier
    * (small → AQE broadcasts it), each token matches at most one span
    * (spans are merged maximal), so the coverage join is map-side and
    * duplication-free; token text shuffles once, on the doc id, for
    * reassembly — the text-rewriting floor, as [[paragraphDedup]].
    * Documents with no tokens have no rows here (the bigram-family
    * contract); documents shorter than `w` tokens pass through whole.
    *
    * Output: (id, n_tokens, n_removed, clean_text).
    */
  def stripDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      minCount: Long = 2): DataFrame =
    cutSpans(df, idCol, textCol, duplicateSpans(df, idCol, textCol, w, minCount))

  /** Cross-corpus (incremental) span removal — [[stripDuplicateSpans]]
    * as it runs at 100 TB: a crawl increment's windows screen against
    * the STANDING corpus's window-hash set (any seen occurrence makes
    * the window duplicated) plus within-increment repeats (>= `minCount`
    * occurrences). With the default `minCount = 2` this equals the batch
    * operator over (seen ∪ new) restricted to new docs EXACTLY — total
    * count >= 2 for a window present in the increment ⟺ it is in the
    * corpus at least once OR repeats within the increment — the law
    * DedupSpec pins. The seen side reduces to its distinct window-hash
    * set, registered with [[graft.StageCache]] on a corpus-only plan, so
    * successive increments reuse it warm (the [[incrementalNearDupPairs]]
    * precedent); membership joins key on 60-bit hashes.
    *
    * Output: one row per NEW doc with tokens —
    * (id, n_tokens, n_removed, clean_text).
    */
  def incrementalStripDuplicateSpans(
      newDf: DataFrame,
      seenDf: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      minCount: Long = 2): DataFrame = {
    val seenH = graft.StageCache.matHot(
      windowHashTable(seenDf, idCol, textCol, w).select(col("__h")).distinct())
    val wins = windowHashTable(newDf, idCol, textCol, w)
      .pipe(graft.StageCache.matHot) // within-count + both dup joins read it
    val dupWithin = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minCount)
      .select("__h")
    val dup = dupWithin.unionByName(seenH.join(wins.select("__h").distinct(), "__h"))
      .distinct()
    val spans = mergeSpans(wins.join(dup, "__h").select("id", "pos"), w)
    cutSpans(newDf, idCol, textCol, spans)
  }

  /** The cut half of the span family: drop every token of `df` covered
    * by a span of `spans` ((id, span_start, span_end) at token
    * granularity) and re-join survivors in order — see
    * [[stripDuplicateSpans]] for the token-stream output contract.
    */
  private def cutSpans(
      df: DataFrame, idCol: String, textCol: String, spans: DataFrame): DataFrame = {
    val sp = spans.select(col("id").as("__sid"), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(lower(col(textCol)))).as(Seq("__p0", "tok")))
      .select(col("id"), (col("__p0") + 1).cast("long").as("pos"), col("tok"))
    toks.join(sp, col("id") === col("__sid") &&
        col("pos").between(col("span_start"), col("span_end")), "left")
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__sid").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__sid").isNull, struct(col("pos"), col("tok"))))),
          e => e.getField("tok"))).as("clean_text"))
  }

  /** SemDeDup-style semantic dedup over an embedding column: k-means
    * clusters the corpus (deterministic Lloyd's,
    * [[graft.pipeline.Clustering.kmeans]]), then exact cosine is computed
    * only WITHIN each cluster — the clustering bounds the pair count to
    * Σ|cluster|², never all-pairs (the SemDeDup trick: semantically close
    * vectors share a centroid, so cross-cluster pairs can be skipped).
    * A vector is dropped when any lower-id vector in its cluster is
    * within `tau` cosine; `dup_of` reports the smallest such id. One
    * deterministic pass — for chain-transitive canonicalization feed the
    * pairs into [[graft.pipeline.Clustering.nearDupClusters]] instead.
    *
    * `subPlanes > 0` turns on intra-cluster sign-LSH sub-blocking: the
    * block key becomes (cluster, lsh bucket), so the quadratic block size
    * is |cluster ∩ bucket| and nothing depends on |cluster| alone — the
    * scale guard for a fixed-k clustering over a growing corpus. Recall
    * is recovered multi-probe style: the LOWER-id side of each candidate
    * pair probes its base bucket plus the `subProbes - 1` lowest-margin
    * bit-flip buckets ([[Similarity.lshProbeBuckets]], Lv et al.
    * VLDB'07), so a pair (a, b) with a < b is considered iff
    * bucket(b) ∈ probes(a). Probe buckets are pairwise distinct and the
    * b-side sits in exactly one bucket, so no pair is scored twice and no
    * distinct is needed. Near-identical vectors agree on every
    * hyperplane sign with overwhelming probability, so the dup recall
    * loss is at the tau boundary only; `subProbes` is the recall knob
    * (monotone: more probes ⇒ superset of pairs — DedupSpec law).
    *
    * Plan shape: centroid assignment is a codegen'd literal-distance
    * projection (no join); the self-join shuffles on (cluster, bucket)
    * with norms hoisted (one sqrt per vector, not per pair); at 100 TB
    * the knobs are `k` (see [[semanticDedupAuto]]) and `subPlanes`
    * (block size ~ |cluster| / 2^subPlanes for spread clusters).
    *
    * Output: one row per vector — (id, cluster, dup_of, keep).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      tau: Double = 0.9,
      subPlanes: Int = 0,
      subProbes: Int = 2,
      cacheKey: Option[String] = None): DataFrame = {
    import graft.pipeline.Similarity.dot
    require(subPlanes >= 0, s"subPlanes must be >= 0; got $subPlanes")
    // centroid assignment inline with the vector projection — the same
    // literal-distance pattern as kmeans's own final assignment, so the
    // embedding column is never shuffled through an id-join
    val cents = graft.pipeline.Clustering.kmeansCentroids(df, idCol, vecCol, k, iters,
      cacheKey = cacheKey)
    val prep = df.select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__ds", graft.pipeline.Clustering.centroidDists(col("__v"), cents))
      .withColumn("cluster",
        (array_position(col("__ds"), array_min(col("__ds"))) - 1).cast("long"))
      .drop("__ds")
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
      .pipe(graft.StageCache.matHot) // both self-join sides read it
    val (a, b, blockKeys) =
      if (subPlanes == 0) {
        (prep.select(col("cluster"), col("id").as("id_a"), col("__v").as("__va"), col("__n").as("__na")),
         prep.select(col("cluster"), col("id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")),
         Seq("cluster"))
      } else {
        // lower-id side explodes ×subProbes (base + lowest-margin flips);
        // higher-id side keys on its single base bucket
        (prep.select(col("cluster"), col("id").as("id_a"), col("__v").as("__va"), col("__n").as("__na"),
           explode(Similarity.lshProbeBuckets(col("__v"), subPlanes, subProbes)).as("__bkt")),
         prep.select(col("cluster"), col("id").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb"),
           Similarity.lshBucket(col("__v"), subPlanes).as("__bkt")),
         Seq("cluster", "__bkt"))
      }
    // zero-norm guard: cosine with a zero vector is 0/0 = NaN, and Spark
    // orders NaN ABOVE every number — without the norm filter a zero
    // embedding would be "similar" to everything in its cluster
    val dups = a.join(b, blockKeys).filter(col("id_a") < col("id_b"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .filter(dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")) > tau)
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("dup_of"))
    prep.select("id", "cluster").join(dups, Seq("id"), "left")
      .withColumn("keep", col("dup_of").isNull)
  }

  /** [[semanticDedup]] with `k` derived from the corpus count so the
    * EXPECTED cluster size stays constant as the corpus grows —
    * `k = ceil(N / targetClusterSize)` — instead of a fixed k whose
    * clusters (and quadratic blocks) grow linearly with N. One extra
    * count() action over the id column; at 100 TB that is a
    * metadata-cheap columnar scan, and the alternative (a stale fixed k)
    * is the scale-killer. Combine with `subPlanes` for skewed clusters:
    * expected size bounds the mean, LSH sub-blocking bounds the max.
    */
  def semanticDedupAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      targetClusterSize: Long = 2048L,
      iters: Int = 2,
      tau: Double = 0.9,
      subPlanes: Int = 0,
      subProbes: Int = 2): DataFrame = {
    require(targetClusterSize >= 1, s"targetClusterSize must be >= 1; got $targetClusterSize")
    val n = df.select(col(idCol)).count()
    val k = math.max(1L, (n + targetClusterSize - 1) / targetClusterSize).toInt
    semanticDedup(df, idCol, vecCol, k, iters, tau, subPlanes, subProbes)
  }

  /** Quality-priority near-dup retention: cluster the candidate `pairs`
    * into connected components ([[Clustering.nearDupClustersFromPairs]])
    * and keep, per component, the document with the HIGHEST `scoreCol`
    * (tie → lowest id) — instead of the lowest-id canonical the plain
    * cluster dedup keeps. This is the retention rule a curation pipeline
    * actually wants: when a boilerplate family collapses to one survivor,
    * survive the best-quality copy (longest, highest classifier score,
    * freshest crawl), not an arbitrary one.
    *
    * Output: (id, component, keep) for EVERY input document — singletons
    * are their own component and always kept, so downstream can either
    * filter `keep` or audit the drop set.
    *
    * Scale shape: the component labeling is the usual iterative
    * join+agg; the winner election is one hash aggregation per component
    * (`max(struct(score, -id))` — a single reduction, never a per-
    * component sort window that would serialize a corpus-sized
    * boilerplate family through one task) plus one equi-join back on the
    * component key.
    */
  def dedupKeepBest(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      pairs: DataFrame): DataFrame = {
    val scored = Clustering.nearDupClustersFromPairs(df, idCol, pairs)
      .join(df.select(col(idCol).as("id"), col(scoreCol).cast("double").as("__score")), Seq("id"))
    val best = scored.groupBy("component")
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("nid"))).as("__m"))
      .select(col("component"), (-col("__m.nid")).as("__best"))
    scored.join(best, Seq("component"))
      .select(col("id"), col("component"), (col("id") === col("__best")).as("keep"))
  }

  /** SimHash near-dup pairs, blocked by 15-bit sub-bands (4 bands): docs
    * within Hamming distance 3 must share at least one of 4 bands —
    * standard pigeonhole blocking, shuffle on short band keys only.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    // cached: both sides of the band self-join read the signatures
    val sigd = simhashSignatures(df, idCol, textCol)
      .pipe(graft.StageCache.matHot) // both band-join sides read it
    val banded = sigd.select(col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    val l = banded.select(col("id").as("id_a"), col("sig").as("sig_a"), col("band"), col("band_bits"))
    val r = banded.select(col("id").as("id_b"), col("sig").as("sig_b"), col("band"), col("band_bits"))
    l.join(r, Seq("band", "band_bits")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
