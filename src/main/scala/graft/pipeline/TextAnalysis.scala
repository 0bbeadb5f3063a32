package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, stopword-based language scoring, and
  * document fingerprinting. All pure Catalyst expressions (codegen'd, no
  * UDFs) so they run inside whole-stage codegen over 100 TB of documents.
  */
object TextAnalysis {

  /** Word tokens: runs of alphanumerics — a deterministic, BPE-ish-free
    * tokenizer that both Spark and any ANSI engine can reproduce. Native
    * one-byte-scan expression (graft.functions.ShingleOps.TokensExpr) —
    * the single hottest projection in the engine; value-identical to
    * [[regexTokens]] (ShingleOpsSpec pins it), which is what every DuckDB
    * oracle twin replays.
    */
  def tokens(text: Column): Column = graft.functions.ShingleOps.tokensCol(text)

  /** The regexp formulation of [[tokens]] — the oracle-semantics
    * reference the native expression is pinned against (specs only; the
    * interpreted regex machine is ~10x the cost of the byte scan).
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Canonical text form for normalization-robust exact dedup: lowercase,
    * every non-alphanumeric run collapsed to one space, ends trimmed.
    * Two documents differing only in case, punctuation, or whitespace
    * layout (re-wrapped lines, smart quotes swapped for ASCII, trailing
    * formatting) canonicalize identically, so hashing THIS instead of the
    * raw text catches the near-exact duplicate tier that raw-byte md5
    * misses and fuzzy MinHash is overkill for. Pure codegen'd projection
    * (lower + one RE2-safe regex + trim) — composes with any scan at full
    * whole-stage-codegen speed; ASCII classes keep Spark (Java regex) and
    * RE2 engines byte-identical.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Canonical URL form — the key every crawl pipeline dedups fetch lists
    * and cross-snapshot documents on (the same page arrives spelled a
    * dozen ways across referrers and sitemaps). Normalizations, all
    * RFC-3986-sanctioned or industry-standard:
    * scheme + host lowercase; default port stripped (http:80/https:443);
    * fragment dropped (client-side only); duplicate path slashes
    * collapsed and one trailing slash stripped (non-root); empty path →
    * "/"; tracking parameters dropped (utm_*, fbclid, gclid, msclkid,
    * ref) and the remaining query params SORTED (param order is
    * server-insignificant in practice and is the #1 spurious-variant
    * source). Anything without a scheme://host shape nulls out
    * (detectable, the wireTs stance). Pure codegen'd projection — ASCII
    * regex classes keep Spark (Java regex) and RE2/DuckDB byte-identical,
    * and the canonical key composes with [[graft.pipeline.Dedup]]'s
    * hash-keyed dedup tiers at scan speed.
    */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val squashed = regexp_replace(rawPath, "/{2,}", "/")
    val noTrail = when(length(squashed) > 1, regexp_replace(squashed, "/$", ""))
      .otherwise(squashed)
    val path = when(noTrail === "", lit("/")).otherwise(noTrail)
    val q = regexp_extract(url, "\\?([^#]*)", 1)
    val params = sort_array(filter(split(q, "&", -1),
      p => p =!= "" && !p.rlike("^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|ref)(=|$)")))
    val qs = concat_ws("&", params)
    when(scheme === "" || host === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** Unicode NFC normalization (UAX#15 canonical composition) — the
    * lossless normalization tier BEFORE any byte-keyed dedup: precomposed
    * and combining-mark spellings of the same text (é vs e+U+0301) hash
    * identically after it, while compatibility characters (ﬁ, ²) are
    * deliberately preserved — folding those is lossy and belongs to
    * [[canonicalize]]-style keys. Native codegen'd expression
    * ([[graft.functions.UnicodeExpressions]]); already-normalized rows
    * (all ASCII trivially) return as-is with zero allocation, so it
    * composes with any scan at full speed. DuckDB's `nfc_normalize` is
    * the exact oracle twin (both implement UAX#15).
    */
  def nfcNormalize(text: Column): Column =
    graft.functions.UnicodeExpressions.nfc_normalize(text)

  /** Host component of a [[canonicalUrl]]-normalized URL — already
    * lowercased with default ports stripped, so it is the per-domain
    * grouping key as-is. Null for null/garbage canon.
    */
  def canonicalHost(canon: Column): Column = {
    val h = regexp_extract(canon, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    when(h === "", lit(null).cast("string")).otherwise(h)
  }

  /** SURT key (Sort-friendly URI Reordering Transform — the key format
    * web archives' CDX indexes sort and partition by): host labels
    * reversed and comma-joined, then `)` and the path+query, e.g.
    * `http://a.example.com/p?x=1` → `com,example,a)/p?x=1`. All pages
    * of a registrable domain become ONE key-range prefix, so a 100 TB
    * crawl partitioned/sorted by SURT answers per-domain scans with
    * range pruning instead of a full-corpus host filter — the storage
    * complement to [[domainStats]]. Input is a [[canonicalUrl]]-form
    * URL (apply that first for raw URLs); scheme is dropped (archives
    * treat http/https as one identity), non-default ports survive after
    * the labels (`com,example:8080)/p`). Null canon → null key. Pure
    * codegen'd projection.
    */
  def surtKey(canon: Column): Column = {
    val hostPort = canonicalHost(canon)
    val host = regexp_extract(hostPort, "^([^:]+)", 1)
    val port = regexp_extract(hostPort, "(:[0-9]+)$", 1)
    val rest = regexp_replace(canon, "^[a-z][a-z0-9+.-]*://[^/?#]+", "")
    when(hostPort.isNull, lit(null).cast("string"))
      .otherwise(concat(
        array_join(reverse(split(host, "\\.", -1)), ","), port, lit(")"), rest))
  }

  /** Per-domain corpus composition — the rollup every crawl curation
    * step reads before domain capping or mixing
    * ([[Curation.capPerDomain]] composes on the same host key): doc
    * count, DISTINCT canonical pages (the same page fetched under
    * variant spellings counts once — [[canonicalUrl]] collapses them),
    * token mass ([[tokens]], the engine-wide tokenizer), and the
    * duplicate-fetch ratio `1 − n_pages/n_docs` (the crawler-efficiency
    * / dup-risk signal per domain). Docs whose URL doesn't canonicalize
    * (no scheme://host) are excluded — they have no domain.
    *
    * Scale shape: token counting is a pure scan-side projection; ONE
    * hash aggregation keyed by host (partial agg reduces each partition
    * to its distinct hosts before the shuffle — host cardinality, not
    * corpus size, crosses the wire; bodies never shuffle).
    * Output: (host, n_docs, n_pages, n_tokens, dup_ratio).
    */
  def domainStats(df: DataFrame, urlCol: String, textCol: String): DataFrame =
    df.select(canonicalUrl(col(urlCol)).as("__canon"),
        tokenCount(col(textCol)).cast("long").as("__nt"))
      .filter(col("__canon").isNotNull)
      .select(canonicalHost(col("__canon")).as("host"), col("__canon"), col("__nt"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__canon")).as("n_pages"),
        sum(col("__nt")).as("n_tokens"),
        (lit(1.0) - countDistinct(col("__canon")).cast("double") / count(lit(1)))
          .as("dup_ratio"))

  /** Parse per-host robots.txt text into the EFFECTIVE rule set for one
    * crawler product token (RFC 9309): lines are `key: value` with
    * `#`-comments stripped; consecutive `User-agent` lines form a
    * group header and the Allow/Disallow lines after them belong to all
    * those agents (until the next header); if any group names `agent`
    * exactly (case-insensitive), those groups apply and the `*` groups
    * are ignored — else the `*` groups apply. Empty rule values bind
    * nothing (an empty Disallow means allow-all) and are dropped.
    *
    * Scale shape: one explode over line numbers, two per-host windows
    * (lag + running sum — robots files are KBs, so per-host windows are
    * bounded by file size, never corpus size), one aggregation per
    * group. Output: (host, allow boolean, prefix) — feed
    * [[robotsAllowed]].
    */
  def robotsRules(
      robots: DataFrame, hostCol: String, textCol: String,
      agent: String = "*"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__ln", "__raw")))
      .withColumn("__line", trim(regexp_replace(col("__raw"), "#.*$", "")))
      .withColumn("__key", lower(trim(regexp_extract(col("__line"), "^([^:]+):", 1))))
      .withColumn("__val", trim(regexp_extract(col("__line"), "^[^:]+:(.*)$", 1)))
      .filter(col("__key").isin("user-agent", "allow", "disallow"))
    val w = Window.partitionBy("host").orderBy("__ln")
    val grouped = lines
      .withColumn("__hdr",
        (col("__key") === "user-agent" &&
          coalesce(lag(col("__key"), 1).over(w) =!= "user-agent", lit(true))).cast("int"))
      .withColumn("__gid", sum(col("__hdr")).over(w))
    val groups = grouped.filter(col("__key") === "user-agent")
      .groupBy("host", "__gid")
      .agg(
        max((lower(col("__val")) === agentLc).cast("int")).as("__exact"),
        max((col("__val") === "*").cast("int")).as("__star"))
    val hostExact = groups.groupBy("host").agg(max(col("__exact")).as("__has_exact"))
    val rules = grouped
      .filter(col("__key") =!= "user-agent" && col("__val") =!= "")
      .select(col("host"), col("__gid"),
        (col("__key") === "allow").as("allow"), col("__val").as("prefix"))
    rules
      .join(groups, Seq("host", "__gid"))
      .join(hostExact, Seq("host"))
      .filter(when(col("__has_exact") === 1, col("__exact") === 1)
        .otherwise(col("__star") === 1))
      .select("host", "allow", "prefix")
  }

  /** RFC 9309 rule-to-regex translation: regex metacharacters escaped,
    * `*` becomes `.*`, and a TRAILING `$` anchors the match end; the
    * produced pattern is `^`-anchored. ASCII-only rewrite chain, so
    * Spark (Java regex) and the DuckDB twin (RE2) translate and match
    * identically.
    */
  private[graft] def robotsPattern(prefix: Column): Column = {
    // escape everything special EXCEPT '*' (kept as the wildcard) —
    // '$' is escaped here and un-escaped below only in trailing position
    val esc = regexp_replace(prefix, "[.^$+?()\\[\\]{}|\\\\]", "\\\\$0")
    val starred = regexp_replace(esc, "\\*", ".*")
    val anchored = regexp_replace(starred, "\\\\\\$$", "\\$")
    concat(lit("^"), anchored)
  }

  /** Apply a [[robotsRules]] table to canonical URLs: per URL the
    * matching rules (RFC wildcard semantics via [[robotsPattern]])
    * compete by rule-string length — longest wins, allow wins ties —
    * and a URL with no matching rule (or an unruled host) is allowed.
    * Matching runs against path+query of the [[canonicalUrl]] form.
    *
    * Scale shape: the rule table joins on host (rules ~ KBs per host —
    * AQE broadcasts it for any realistic rule corpus); the winner is a
    * (length, allow)-struct max aggregation per URL, never a sort.
    * Output: the input plus an `allowed` boolean.
    */
  def robotsAllowed(
      urls: DataFrame, idCol: String, canonCol: String, rules: DataFrame): DataFrame = {
    val u = urls
      .withColumn("__host", canonicalHost(col(canonCol)))
      .withColumn("__pathq",
        regexp_replace(col(canonCol), "^[a-z][a-z0-9+.-]*://[^/?#]+", ""))
    val winners = u.select(col(idCol).as("__id"), col("__host"), col("__pathq"))
      .join(rules.select(col("host").as("__rhost"), col("allow"), col("prefix")),
        col("__host") === col("__rhost"))
      .filter(regexp_like(col("__pathq"), robotsPattern(col("prefix"))))
      .groupBy("__id")
      .agg(max(struct(length(col("prefix")).as("l"),
        col("allow").cast("int").as("a"))).as("__w"))
      .select(col("__id"), (col("__w.a") === 1).as("__ruled"))
    u.join(winners, col(idCol) === col("__id"), "left")
      .withColumn("allowed", coalesce(col("__ruled"), lit(true)))
      .drop("__id", "__ruled", "__host", "__pathq")
  }

  /** Tiny per-language stopword lists for n-gram-heuristic language ID.
    * Chosen to be discriminative across the fixture's five languages.
    */
  val StopwordsByLang: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "las", "una"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai"))

  /** Per-language stopword-hit scores — the argmax is the language guess.
    * Emitted as one column per language so downstream (and the SQL oracle)
    * stays deterministic without tie-break subtleties. Words come from
    * [[tokens]] (the same regex tokenizer every other operator uses), so
    * multi-space/punctuated text scores consistently with token counts.
    */
  def langScores(df: DataFrame, textCol: String = "text"): DataFrame = {
    val words = tokens(lower(col(textCol)))
    StopwordsByLang.toSeq.sortBy(_._1).foldLeft(df.withColumn("__w", words)) {
      case (d, (lang, stops)) =>
        val hits = stops.map(s => size(filter(col("__w"), w => w === lit(s)))).reduce(_ + _)
        d.withColumn(s"score_$lang", hits)
    }.drop("__w")
  }

  /** Quality heuristics (length / word-shape / stopword ratios) — the
    * usual cheap pre-filters before expensive dedup/training. Stopword
    * hits count over [[tokens]] of the lowered text — the same
    * tokenization as `n_tokens`, so the ratio is a true fraction.
    */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val en   = StopwordsByLang("en")
    val stopHits = en.map(s => size(filter(tokens(lower(col(textCol))), w => w === lit(s)))).reduce(_ + _)
    df.withColumn("n_tokens", nTok)
      .withColumn("n_chars_m", length(col(textCol)))
      .withColumn("avg_token_len",
        when(nTok > 0, aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
          .otherwise(lit(null)))
      .withColumn("stopword_ratio",
        when(nTok > 0, stopHits.cast("double") / nTok).otherwise(lit(null)))
  }

  /** TF-IDF top-k terms per document: tf = term count in doc, idf =
    * ln((N+1)/(df+1)). Three aggregations (doc-term, term, corpus count —
    * the last broadcast as a 1-row frame) + one per-doc top-k window.
    * The shuffles carry (doc, term) pairs, never documents.
    * Output: (id, term, tfidf, rank).
    */
  def tfIdfTop(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // TF is a PER-DOCUMENT statistic, so it comes straight off the scan
    // (round-15, the DSIR-fusion recipe): one native projection counts
    // each document's terms locally and the explode of the map IS the
    // (id, term, tf) base — no corpus-sized (id, term) exchange at all
    // (the old explode → groupBy(id, term) shuffled every token
    // occurrence; ShingleOpsSpec pins row-set equality). df then rolls up
    // from tf as before: the (id, term) base has one row per
    // document-term pair, so its per-term row count IS the document
    // frequency — no count-distinct expand.
    val tf = graft.StageCache.matHot(
      df.select(col(idCol).as("id"),
        explode(graft.functions.ShingleOps.tokenTfCol(lower(col(textCol)))).as(Seq("term", "tf"))))
    val idf = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n   = df.select(count(lit(1)).as("n_docs"))
    val s = tf.join(idf, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
    val w = Window.partitionBy(col("id")).orderBy(col("tfidf").desc, col("term"))
    s.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("id", "term", "tfidf", "rank")
  }

  /** Rolling-hash document fingerprint: polynomial hash of the token
    * stream (base 31, mod 2^31-1) — order-sensitive,
    * whitespace-insensitive. A deterministic Catalyst-only fold whose
    * intermediate values stay < 2^36, so ANSI-mode Long arithmetic never
    * overflows. Token hash is the portable md5-based hash
    * (graft.functions.PortableHash), so the DuckDB oracle reproduces the
    * fingerprint bit-for-bit via list_reduce.
    */
  def fingerprint(text: Column): Column = {
    import graft.functions.PortableHash
    val p = lit(PortableHash.P) // 2^31 - 1 (Mersenne prime)
    aggregate(
      tokens(text),
      lit(1299709L),
      (acc, t) => pmod(acc * 31L + PortableHash.hashMod(t), p))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): from a document's `w`-token window hashes, select the
    * minimum of every `k`-window of consecutive hashes — a guaranteed
    * density-reduced fingerprint set (any shared run of ≥ w+k-1 tokens
    * between two documents shares at least one selected fingerprint), at
    * ~2/(k+1) the density of the full [[graft.pipeline.Dedup.windowHashes]]
    * stream. Ties break to the LEFTMOST smallest hash, made total by
    * packing (hash, pos) into one long key (`hash·2³² + pos` — exact
    * signed-64 integer math for hashes < 2³¹ and positions < 2³², so
    * coverage extends to ~4.3B tokens per document, far past any real
    * document; the pos guard EXCLUDES rather than mis-keys the
    * unreachable beyond). Documents with fewer than `k` windows emit the
    * min of what they have.
    *
    * Plan: the ENTIRE per-document selection — window hashes, packed
    * keys, k-run sliding min, distinct — runs inside one native
    * scan-side expression ([[graft.functions.ShingleOps.winnowFps]],
    * O(m) monotonic deque per document; bit-equal to the old exploded
    * window/sort pipeline, pinned by ShingleOpsSpec), so the explode
    * emits rows at WINNOWED density and no shuffle, sort, or window ever
    * sees one row per token. Cross-document matching then joins on the
    * selected fingerprints.
    *
    * Output: (id, pos, fp) — 1-based token position of each selected
    * window hash.
    */
  def winnow(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      k: Int = 4): DataFrame = {
    require(w >= 1 && k >= 1, s"need w >= 1, k >= 1; got w=$w k=$k")
    val PosBits = 32
    graft.StageCache.mat(df
      .select(col(idCol).as("id"),
        explode(graft.functions.ShingleOps.winnowFpsCol(lower(col(textCol)), w, k)).as("__wmin"))
      .select(col("id"),
        (col("__wmin") % (1L << PosBits)).as("pos"),
        expr(s"__wmin div ${1L << PosBits}").as("fp")))
    // shared stage: the fingerprint table feeds the listing query and
    // the pair generator's df-cap/join stages (one winnow pass, many
    // consumers)
  }

  /** Near-dup candidate pairs from winnowed fingerprints: documents
    * sharing ≥ `minShared` [[winnow]] fingerprints. The candidate join
    * runs at winnowed density (~2/(k+1) of the full window-hash stream)
    * and fingerprints appearing in more than `maxDf` documents are
    * dropped first — boilerplate shared by half the corpus must not
    * drive a quadratic bucket (the same df-cap every inverted-index
    * pipeline applies). Shuffles carry (fp, id) longs only.
    *
    * Output: (id_a, id_b, n_shared) with id_a < id_b.
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      k: Int = 4,
      minShared: Long = 2,
      maxDf: Long = 1000): DataFrame = {
    // ONE exchange (on fp) feeds everything downstream: distinct's
    // (id, fp) grouping is clustered by fp alone, the df-cap groupBy
    // keys on fp, and both self-join sides key on fp — so the cached
    // stage's fp partitioning satisfies all four consumers and only the
    // final (id_a, id_b) rollup pays its own shuffle (the
    // q_combine_first one-exchange precedent, applied r18; before, the
    // distinct exchanged on (id, fp) and the df-count re-exchanged on
    // fp).
    val fps = winnow(df, idCol, textCol, w, k)
      .select(col("id"), col("fp")).repartition(col("fp")).distinct()
      .pipe(graft.StageCache.matHot) // df-cap count + both join sides read it
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val kept = fps.join(rare, "fp")
    val a = kept.select(col("id").as("id_a"), col("fp"))
    val b = kept.select(col("id").as("id_b"), col("fp"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Repetition detection: per document, the frequency of its most
    * repeated word n-gram as a fraction of all its n-grams — the standard
    * cheap filter for boilerplate/spam (near-1 means the doc is one
    * phrase repeated). Output: (id, n_ngrams, top_ngram_count, rep_ratio).
    *
    * Plan: explode NON-distinct shingles (repetition is the signal, so no
    * dedupe), hash each to a long, and count in ONE hash aggregation keyed
    * by (id, hash) followed by a per-id max/sum — both partial-aggregable,
    * shuffle rows are (id, long) pairs. Docs with fewer than `n` words
    * have no n-grams and are omitted (no ratio to report).
    */
  def repetitionRatio(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import graft.functions.PortableHash
    // bind-once lambda variable — see Dedup.shingles: an unbound `words`
    // reference inside the window lambda re-evaluates the split per gram.
    // tokens() regex, not a space split — one tokenization policy
    // project-wide (round-9 unify)
    val grams = flatten(transform(array(tokens(lower(col(textCol)))), ws =>
      when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
        .otherwise(array().cast("array<string>"))))
    df.select(col(idCol).as("id"), explode(grams).as("__g"))
      .select(col("id"), PortableHash.hashMod(col("__g")).as("__h"))
      .groupBy(col("id"), col("__h")).agg(count(lit(1)).as("__c"))
      .groupBy(col("id"))
      .agg(sum(col("__c")).as("n_ngrams"), max(col("__c")).as("top_ngram_count"))
      .withColumn("rep_ratio", col("top_ngram_count").cast("double") / col("n_ngrams"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
    * Models" §A1.1), count-weighted variant: per document, the fraction
    * of token characters attributable to (a) the single most frequent
    * n-gram for each `topNs` n — `top_{n}gram_char_frac` — and (b) all
    * n-grams occurring at least twice for each `dupNs` n —
    * `dup_{n}gram_char_frac`. The paper thresholds these to drop
    * machine-generated / boilerplate-heavy text (e.g. top-2gram > 0.20,
    * dup-5gram > 0.15). Character mass is count × gram chars over total
    * token chars — occurrences weighted, overlaps not deduplicated (the
    * portable simplification; the DuckDB twin computes the identical
    * quantity). Tie on top count resolves to the longer gram
    * (lexicographic max(struct(count, chars)) — deterministic in both
    * engines). One (doc, gram) shuffle per requested n, like tfIdfTop;
    * docs shorter than n tokens get 0.0. Output: (id, total_chars,
    * top_..., dup_... fractions).
    */
  def gopherRepetition(
      df: DataFrame,
      idCol: String,
      textCol: String,
      topNs: Seq[Int] = Seq(2, 3),
      dupNs: Seq[Int] = Seq(5)): DataFrame = {
    // null text reads as an empty doc (0.0 fractions), not null fractions
    // that would silently escape a downstream threshold filter both ways
    val ws = tokens(lower(coalesce(col(textCol), lit(""))))
    val base = df.select(col(idCol).as("id"), ws.as("__ws"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("total_chars"))
    def gramCounts(n: Int): DataFrame =
      base.select(col("id"), explode(
          when(size(col("__ws")) >= n,
            transform(sequence(lit(1), size(col("__ws")) - (n - 1)),
              i => concat_ws(" ", slice(col("__ws"), i, lit(n)))))
            .otherwise(array().cast("array<string>"))).as("g"))
        .groupBy(col("id"), col("g"))
        .agg(count(lit(1)).as("c"))
        .withColumn("ch", length(translate(col("g"), " ", "")).cast("long"))
    val withTop = topNs.foldLeft(base.select("id", "total_chars")) { (acc, n) =>
      val top = gramCounts(n).groupBy("id")
        .agg(max(struct(col("c"), col("ch"))).as("m"))
        .select(col("id"), (col("m.c") * col("m.ch")).as(s"__top_$n"))
      acc.join(top, Seq("id"), "left")
        .withColumn(s"top_${n}gram_char_frac",
          when(col("total_chars") === 0, 0.0).otherwise(
            coalesce(col(s"__top_$n"), lit(0L)).cast("double") / col("total_chars")))
        .drop(s"__top_$n")
    }
    dupNs.foldLeft(withTop) { (acc, n) =>
      val dup = gramCounts(n).filter(col("c") >= 2).groupBy("id")
        .agg(sum(col("c") * col("ch")).as(s"__dup_$n"))
      acc.join(dup, Seq("id"), "left")
        .withColumn(s"dup_${n}gram_char_frac",
          when(col("total_chars") === 0, 0.0).otherwise(
            coalesce(col(s"__dup_$n"), lit(0L)).cast("double") / col("total_chars")))
        .drop(s"__dup_$n")
    }
  }

  /** Gopher LINE-level repetition and format filters (Rae et al. 2021
    * §A1.1, the line-based rows of Table A1): per document, the fraction
    * of lines that are duplicates of another line in the same document
    * (`dup_line_frac`), the fraction of line characters in those
    * duplicated lines (`dup_line_char_frac`), and the format-filter
    * fractions the paper thresholds alongside them — lines ending in an
    * ellipsis (`ellipsis_line_frac`) and lines starting with a bullet
    * (`bullet_line_frac`). The paper drops docs with > 30% duplicate
    * lines or > 90% ellipsis-terminated lines (crawl boilerplate:
    * nav menus, truncated previews).
    *
    * Lines are `sep`-separated (literal separator, default "\n"),
    * whitespace-trimmed; EMPTY lines are excluded before counting (blank
    * runs are formatting, not content). Duplicate counting mirrors the
    * n-gram rows of [[gopherRepetition]]: ALL occurrences of a line with
    * count ≥ 2 are duplicates (5 copies → 5, not 4). `total_chars` is
    * the character mass of the counted (trimmed, non-empty) lines, the
    * denominator of the char fraction. Null text and all-blank docs
    * surface as 0 lines with 0.0 fractions, not nulls — same convention
    * as every other filter here, so a downstream threshold cannot
    * silently pass an empty doc.
    *
    * Scale shape: one explode + one (doc, line) hash aggregation + one
    * per-doc aggregation — no windows, no joins, and the exploded row
    * count is bounded by input characters, so the shuffle never exceeds
    * the scan. All expressions codegen (trim/split/length/conditional
    * sums), so the per-line work stays inside whole-stage codegen.
    */
  def gopherLineStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = filter(
      transform(
        split(coalesce(col(textCol), lit("")), java.util.regex.Pattern.quote(sep)),
        l => trim(l)),
      l => l =!= "")
    // explode_outer keeps zero-line docs (one null-line row) so every
    // input doc appears in the output with zeroed stats
    val counted = df.select(col(idCol).as("id"), explode_outer(lines).as("line"))
      .groupBy("id", "line").agg(count(lit(1)).as("c"))
      .withColumn("ch", length(col("line")).cast("long"))
    def frac(num: Column, den: Column): Column =
      when(den === 0, 0.0).otherwise(num.cast("double") / den)
    counted.groupBy("id").agg(
        coalesce(sum(when(col("line").isNotNull, col("c"))), lit(0L)).as("total_lines"),
        coalesce(sum(when(col("line").isNotNull, col("c") * col("ch"))), lit(0L)).as("total_chars"),
        coalesce(sum(when(col("c") >= 2, col("c"))), lit(0L)).as("__dup"),
        coalesce(sum(when(col("c") >= 2, col("c") * col("ch"))), lit(0L)).as("__dupch"),
        coalesce(sum(when(col("line").endsWith("...") || col("line").endsWith("…"), col("c"))), lit(0L)).as("__ell"),
        coalesce(sum(when(col("line").rlike("^[-*•] "), col("c"))), lit(0L)).as("__bul"))
      .select(col("id"), col("total_lines"), col("total_chars"),
        frac(col("__dup"), col("total_lines")).as("dup_line_frac"),
        frac(col("__dupch"), col("total_chars")).as("dup_line_char_frac"),
        frac(col("__ell"), col("total_lines")).as("ellipsis_line_frac"),
        frac(col("__bul"), col("total_lines")).as("bullet_line_frac"))
  }

  /** C4 heuristic cleaning (Raffel et al. 2020 §2.2): line-level
    * retention — keep only lines that end in terminal punctuation
    * (. ! ? "), contain ≥ 5 whitespace words, and don't mention
    * "javascript" — plus the page-level drops: any page containing
    * "lorem ipsum" or a curly brace (code), or retaining fewer than 3
    * lines (standing in for C4's "fewer than 3 sentences" — the kept
    * lines all end in terminal punctuation, so each carries ≥ 1
    * sentence). The bad-word page drop is the same doc-level predicate
    * shape over a wordlist (plug one into `exists(lines, ...)`); no
    * canonical list ships here.
    *
    * Everything is per-row ARRAY computation (split → filter → rejoin):
    * no explode, no shuffle, one codegen'd projection over the scan —
    * at 100 TB this is a pure map stage. Output one row per input doc:
    * (id, total_lines, kept_lines, has_lorem, has_brace, keep_doc,
    * kept_text).
    */
  def c4Filters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val lines = filter(
      transform(split(txt, java.util.regex.Pattern.quote(sep)), l => trim(l)),
      l => l =!= "")
    val keptLines = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, " "), w => w =!= "")) >= 5 &&
        !lower(l).contains("javascript"))
    df.select(
        col(idCol).as("id"),
        size(lines).cast("long").as("total_lines"),
        size(keptLines).cast("long").as("kept_lines"),
        lower(txt).contains("lorem ipsum").as("has_lorem"),
        txt.contains("{").as("has_brace"),
        concat_ws(sep, keptLines).as("kept_text"))
      .withColumn("keep_doc",
        col("kept_lines") >= 3 && !col("has_lorem") && !col("has_brace"))
      .select("id", "total_lines", "kept_lines", "has_lorem", "has_brace",
        "keep_doc", "kept_text")
  }

  /** PII redaction: replace e-mail addresses and digit runs with typed
    * placeholder tokens — a narrow per-row projection (codegen'd
    * `regexp_replace`, no shuffle, composes with any scan). The patterns
    * are deliberately RE2-safe (no backrefs/lookaround) so the same regex
    * runs in Spark (Java regex) and the DuckDB oracle (RE2) with
    * identical semantics.
    */
  def redact(text: Column): Column = {
    val email = regexp_replace(text, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(email, "[0-9]+", "<NUM>")
  }

  /** HTML/markup stripping — the cleaning step between crawl extraction
    * and every text filter in this file: drop script/style/comment
    * blocks wholesale (their CONTENT is not text), strip remaining tags,
    * decode the entities that actually occur at corpus frequency, and
    * collapse whitespace runs. A pure per-row projection (three
    * codegen'd `regexp_replace` + literal `replace` chain, no shuffle,
    * composes with any scan).
    *
    * Cross-engine exactness (the twin hash-compares STRINGS): patterns
    * are RE2-safe (inline `(?is)`, lazy `.*?`, no backrefs/lookaround —
    * same semantics in Java regex and RE2); the whitespace class is
    * written out explicitly (`[ \t\r\n\f]`) because Java's `\s` includes
    * `\x0B` and RE2's does not; entities decode in a fixed order with
    * `&amp;` LAST, so `&amp;lt;` becomes the literal text `&lt;` (one
    * decode pass, never a double-decode) identically in both engines.
    * An unterminated `<script>` keeps its content (the lazy block match
    * fails, the tag itself still strips) — same in both engines.
    */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(text,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'",
      "&amp;" -> "&" // last — see scaladoc
    ).foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "[ \\t\\r\\n\\f]+", " "))
  }

  /** GPT-2-style pre-tokenization pattern: contractions, space-attached
    * letter runs, digit runs, punctuation runs, residual spaces. The
    * lookahead the original uses for trailing whitespace is dropped and
    * the classes are ASCII so the same pattern is RE2-safe and
    * byte-identical between Spark (Java regex) and any RE2 engine —
    * token COUNTS from this pattern approximate BPE token counts well
    * enough for length filtering and mixing-weight budgets.
    */
  val BpePretokenPattern: String =
    "'[sdmt]|'ll|'ve|'re| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Per-document token counts under the three tokenizations a pipeline
    * actually budgets with: whitespace chunks, alphanumeric words, and
    * the BPE-ish pre-token pattern. One codegen'd projection, no shuffle.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit("[^ ]+"), lit(0))).cast("long").as("n_ws"),
      tokenCount(col(textCol)).cast("long").as("n_alnum"),
      size(regexp_extract_all(col(textCol), lit(BpePretokenPattern), lit(0))).cast("long").as("n_bpe"))

  /** Unigram language-model self-scoring: each document's mean negative
    * log-likelihood (and perplexity) under the corpus's own unigram
    * distribution — the cheap statistical-quality filter (very high
    * perplexity = token soup / OCR noise; very low = boilerplate) used
    * before any neural scorer exists.
    *
    * Plan: rides the SAME scan-side (id, term, tf) map-explode stage as
    * [[tfIdfTop]] (plan-identity StageCache sharing — a combined
    * workload pays the corpus token pass once): vocabulary counts are
    * Σ tf per term, the corpus total is Σ tf (a 1-row broadcast), and
    * the per-document NLL is the tf-weighted mean — identical to the
    * per-occurrence mean, without ever shuffling one row per token
    * occurrence (the (id, term) base has one row per DISTINCT doc-term
    * pair). The logprob join still shuffles on the term key — the
    * vocabulary is NOT assumed broadcast-able (at 100 TB it isn't).
    * Documents with zero tokens have no distribution to score and are
    * omitted.
    *
    * Output: (id, n_tokens, avg_nll, ppl = exp(avg_nll)).
    */
  def perplexity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = graft.StageCache.matHot(
      df.select(col(idCol).as("id"),
        explode(graft.functions.ShingleOps.tokenTfCol(lower(col(textCol)))).as(Seq("term", "tf"))))
    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("__c"))
    val total = tf.agg(sum(col("tf")).as("__n"))
    tf.join(vocab, "term")
      .crossJoin(broadcast(total))
      .withColumn("__nll", -log(col("__c").cast("double") / col("__n")))
      .groupBy("id")
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        (sum(col("tf") * col("__nll")) / sum(col("tf"))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** Bigram language-model score per document — the sharper sibling of
    * the unigram [[perplexity]] quality signal: average negative
    * log-likelihood of each token GIVEN its predecessor under an add-k
    * (Laplace) smoothed bigram model fit on the corpus itself,
    * P(t|p) = (c(p,t) + k) / (c(p) + k·V). Natural text scores low;
    * shuffled/templated/keyword-stuffed text scores high even when its
    * unigram mix looks normal — the signal unigram perplexity cannot
    * see.
    *
    * Plan shape: the scan-side [[bigramBase]] (one row per DISTINCT
    * (doc, prev, cur) pair with its count — no shuffle carries one row
    * per token occurrence), corpus bigram + unigram count tables rolled
    * up as Σ tf and joined back on their keys (vocab-bounded; at 100 TB
    * these are term-keyed shuffle joins with map-side-combined builds),
    * V off the same stage's vocab-marker rows (distinct `prev` — see
    * [[bigramBase]]; no second corpus pass), and the doc rollup
    * as a tf-weighted mean (identical to the per-occurrence mean).
    * Single-token documents have no bigrams and are omitted (the same
    * contract as novelty's zero-shingle drop).
    *
    * Output: (id, n_bigrams, avg_nll, ppl).
    */
  def bigramPerplexity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Double = 1.0): DataFrame = {
    require(k > 0, s"smoothing k must be > 0, got $k")
    val bg = bigramBase(df, idCol, textCol)
    val real = bg.filter(col("cur") =!= "") // true bigram rows, no vocab markers
    // ONE model table off the shared vocab-bounded rollup (r20; VERDICT
    // r19 #4): __cb IS the rollup's n; the predecessor count c(p) =
    // Σ_t c(p,t) is a WINDOW sum within the rollup's own prev partition
    // (marker rows carry n = 0, so including them changes nothing); and
    // V is distinct(prev) over it (markers make that exactly the corpus
    // vocabulary — no second text pass). The per-bigram NLL then sits ON
    // the rollup subtree, still clustered by prev, so `real ⋈ model` is
    // the query's only model join — co-partitioned with the bigramBase
    // exchange at scale, AQE-broadcast at bench scale — and `real` never
    // exchanges. The r19 A/B that REJECTED a pre-joined model table
    // built it as bc⋈uc⋈vocab joins (the merged JOIN output tipped the
    // final join into a shuffle); built as a window over the rollup it
    // never leaves the rollup's partitioning. Cold A/B at sf0.1: 11
    // jobs → 9, wall flat-to-slightly-better (0.87-0.90 → 0.87 same
    // window), two joins fewer; hash-green; pmi unregressed. The two
    // jobs that remain above the theoretical minimum are Catalyst
    // column pruning SPECIALIZING the vocab-count and real consumers
    // into their own pruned scan subtrees (explode of `.prev` vs the
    // full struct), so AQE exchange reuse cannot unify them — a
    // measured, recorded cost; defeating the pruner with artificial
    // column references would be plan distortion for scheduler floors.
    val cnt = bigramCounts(df, idCol, textCol)
    val vocab = cnt.agg(countDistinct(col("prev")).as("__v"))
    val model = cnt
      .withColumn("__cu", sum(col("n")).over(Window.partitionBy(col("prev"))))
      .filter(col("cur") =!= "")
      .crossJoin(broadcast(vocab))
      .select(col("prev"), col("cur"),
        (-log((col("n") + lit(k)) / (col("__cu") + lit(k) * col("__v")))).as("__nll"))
    real.join(model, Seq("prev", "cur"))
      .groupBy("id")
      .agg(sum(col("tf")).as("n_bigrams"),
        (sum(col("tf") * col("__nll")) / sum(col("tf"))).as("avg_nll"))
      .withColumn("ppl", exp(col("avg_nll")))
  }

  /** Shared scan-side bigram stage: (id, prev, cur, tf) — one row per
    * DISTINCT adjacent token pair per document, counted natively in the
    * scan projection ([[graft.functions.ShingleOps.bigramTf]]). Both
    * bigram consumers ([[bigramPerplexity]], [[pmiPairs]]) ride this one
    * stage; every former per-occurrence count is Σ tf over it.
    *
    * The stage also carries ONE vocab-marker row per non-empty document:
    * `(last_token, "", 0)` — within a document every token except the
    * last appears in `prev`, so with the marker, `distinct(prev)` over
    * the stage IS the corpus vocabulary ("" can never be a real token —
    * the tokenizer emits [a-z0-9]+ runs only). That lets
    * [[bigramPerplexity]] take its smoothing denominator's V off this
    * stage instead of re-reading the corpus through the (id, term, tf)
    * unigram stage — the r17 gate's q_bigram_ppl cold residue was
    * exactly that second text pass. Count consumers filter
    * `cur != ""` (the markers carry tf 0 anyway). The marker rides the
    * native expression's own tokenize pass
    * ([[graft.functions.ShingleOps.bigramTfVocab]]) — the composed
    * `element_at(tokens, -1)` form re-tokenized every document and was
    * A/B-measured ~0.4 s slower per sf0.1 corpus pass.
    */
  private[graft] def bigramBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.StageCache.matHot(
      df.select(col(idCol).as("id"),
          explode(graft.functions.ShingleOps.bigramTfVocabCol(lower(col(textCol)))).as("__b"))
        .select(col("id"), col("__b.prev").as("prev"), col("__b.cur").as("cur"),
          col("__b.tf").as("tf"))
        // partitioned on prev INSIDE the cached stage: every consumer
        // grouping/joining leads with prev — the [[bigramCounts]] rollup
        // (prev, cur) and the bg⋈bc⋈uc joins — so this one exchange
        // satisfies them all (subset-clustering) and the count tables
        // come back co-partitioned with the stage they join against
        // (r19 A/B: dropping it read warm 0.60→0.78 / cold 0.87→1.08
        // on the pmi+ppl pair — the exchange earns its keep)
        .repartition(col("prev")))

  /** Corpus bigram-count stage: `(prev, cur, n)` with `n = Σ_docs tf` —
    * the VOCAB-BOUNDED rollup of [[bigramBase]], cached in its own right
    * (r19). [[pmiPairs]] derives all four of its tables from it (the
    * filtered pair counts plus three marginal rollups — before this
    * stage each marginal re-aggregated the corpus-sized bigram frame,
    * which was the whole q_pmi_pairs warm regression), and
    * [[bigramPerplexity]]'s `__cb`/`__cu`/V tables are the same rollup,
    * so the two operators now share BOTH corpus passes. Marker rows
    * (`cur = ""`, tf 0) survive with n = 0 so `distinct(prev)` over this
    * stage is still exactly the corpus vocabulary; count consumers
    * filter them as before.
    */
  private[graft] def bigramCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.StageCache.matHot(
      bigramBase(df, idCol, textCol)
        .groupBy("prev", "cur").agg(sum(col("tf")).as("n")))

  /** Top-k PMI collocations — pointwise mutual information of adjacent
    * token pairs, `ln(N·c(a,b) / (c(a)·c(b)))` over predecessor/successor
    * position counts: the corpus-analytics view of which word pairs are
    * GLUED (named entities, idioms, boilerplate templates) versus merely
    * frequent. `minCount` floors the bigram count (PMI is noise-dominated
    * at tiny counts — the classic Church-Hanks caveat).
    *
    * Built entirely on [[bigramPerplexity]]'s shared bigram stage: one
    * corpus explode serves both operators, the marginals are rollups of
    * the same frame (predecessor counts directly; successor counts by a
    * second vocab-bounded rollup), and top-k is TakeOrdered. Ties break
    * by (prev, cur) ascending for a total order.
    *
    * Output: (prev, cur, n, pmi) — top `k` by PMI.
    */
  def pmiPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 50,
      minCount: Long = 5L): DataFrame = {
    require(k >= 1 && minCount >= 1, s"need k >= 1, minCount >= 1; got $k/$minCount")
    // every table derives from the CACHED vocab-bounded rollup stage
    // (r19): before, each marginal re-aggregated the corpus-sized bigram
    // frame from scratch (4 full passes over the cached stage — the
    // q_pmi_pairs warm regression). r21 (VERDICT r20 #3): the marginals
    // now sit ON the rollup as window sums, the bigramPerplexity model
    // precedent — the predecessor marginal `__cp` rides the rollup's own
    // prev clustering (no exchange: the cached stage is hash-partitioned
    // by prev, which satisfies the window's ClusteredDistribution), and
    // the successor marginal `__cc` costs exactly ONE cur-keyed exchange
    // of the vocab-bounded frame, where the former groupBy+join pair per
    // marginal cost an aggregation job + a broadcast join each. Window
    // groups are bounded by the bigram-TYPE fan-out of one token (≤
    // vocab), not by corpus occurrences, so no monster-key task exists.
    // Sums are integer (order-free), so the values are bit-identical to
    // the groupBy form; only N keeps its broadcast scalar shape.
    val bcAll = bigramCounts(df, idCol, textCol).filter(col("cur") =!= "")
    val total = bcAll.agg(sum(col("n")).as("__N"))
    bcAll
      .withColumn("__cp", sum(col("n")).over(Window.partitionBy(col("prev"))))
      .withColumn("__cc", sum(col("n")).over(Window.partitionBy(col("cur"))))
      .filter(col("n") >= minCount)
      .crossJoin(broadcast(total))
      .withColumn("pmi",
        log(col("n").cast("double") * col("__N") / (col("__cp") * col("__cc"))))
      .select("prev", "cur", "n", "pmi")
      .orderBy(col("pmi").desc, col("prev"), col("cur"))
      .limit(k)
  }

  /** Corpus length-distribution profile: per-group quantiles of a numeric
    * column (doc lengths, token counts) — the curation report every
    * training-data pipeline starts from (length cutoffs are quantile
    * decisions).
    *
    * `exact = false` (the 100 TB default) uses `approx_percentile`
    * (KLL-style mergeable sketch: bounded memory per group, one pass,
    * partial-aggregable — the only shape that survives a 100 TB group).
    * `exact = true` uses `percentile` (linear interpolation, identical to
    * DuckDB's `quantile_cont`) — it buffers each group's value multiset
    * in the aggregation buffer, so reserve it for bounded groups and
    * oracle verification.
    */
  def lengthQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      exact: Boolean = false): DataFrame = {
    val fn = if (exact) "percentile" else "approx_percentile"
    val aggs = qs.map { q =>
      val name = s"p${(q * 100).round}"
      expr(s"$fn($valueCol, ${q.toString})").as(name)
    } :+ count(lit(1)).as("n_docs") :+ avg(col(valueCol)).as("mean")
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Zipf-law fit of the corpus vocabulary: least-squares slope/intercept
    * of ln(freq) against ln(rank) — the standard corpus-health statistic
    * (natural text sits near slope −1; templated or synthetic corpora
    * drift off it).
    *
    * Scale shape: the corpus collapses to its VOCABULARY in the first
    * token aggregation (map-side combine; the shuffle carries (token,
    * count) pairs, never documents), and the global Zipf rank is then
    * assembled WITHOUT any single-partition sort (this used to be the
    * engine's only global window): the regression sums are invariant to
    * the within-tie permutation (every token tied at one freq has the
    * same ln(freq), and a tie occupies a contiguous rank run regardless
    * of which token lands where), so
    *   rank = (#tokens with greater freq)        [freq-ladder offset]
    *        + (in-tie bucket offset)             [hash-bucket prefix]
    *        + (in-bucket row_number)             [bounded window]
    * The freq ladder (one row per DISTINCT frequency, D ≤ √(2·total))
    * gets its greater-freq prefix from log2-band totals (≤64 bands,
    * band×band inequality join) plus a within-band prefix window
    * (partitioned by band; worst band population ~√vocab). In-tie
    * ranks are then GENERATED straight off the ladder — each tie owns
    * the contiguous run (__foff, __foff+__cnt], emitted as chunked
    * integer sequences — so after the first token aggregation nothing
    * vocabulary-sized is ever joined, windowed, or sorted again.
    * Every window is partitioned; nothing sorts more than ~band∕64
    * rows in one task. Determinism: ln() values are
    * quantized to integer micro-units per VOCAB ROW (deterministic per
    * value), and all four regression sums run in decimal(38,0) — exact
    * at any partition count; the slope falls out of one fixed sequence
    * of IEEE ops at the end (the q_kmeans_inertia lesson applied to
    * regression).
    *
    * Output (one row): (vocab_size, total_tokens, slope, intercept),
    * slope/intercept rounded to 6 dp.
    */
  def zipfFit(df: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df
      .select(explode(tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    // freq ladder: exclusive count of tokens with strictly greater freq
    val fc = freq.groupBy("freq").agg(count(lit(1)).as("__cnt"))
      .withColumn("__band", floor(log2(col("freq"))).cast("int"))
    val bands = fc.groupBy("__band").agg(sum(col("__cnt")).as("__bn"))
    val bandOff = bands.as("a")
      .join(bands.as("b"), col("b.__band") > col("a.__band"), "left")
      .groupBy(col("a.__band").as("__band"))
      .agg(coalesce(sum(col("b.__bn")), lit(0L)).as("__boff"))
    val wBand = Window.partitionBy("__band").orderBy(col("freq").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val freqOff = fc.join(bandOff, "__band")
      .withColumn("__foff",
        col("__boff") + coalesce(sum(col("__cnt")).over(wBand), lit(0L)))
      .select(col("freq"), col("__cnt"), col("__foff"))
    // In-tie ranks are GENERATED, not assigned (r20; replaces the r18
    // hash-bucket/row_number machinery — three exchanges and two
    // vocab-wide windows for values the regression never looks at
    // individually): every token tied at `freq` contributes the same
    // ln(freq), and the tie occupies the contiguous rank run
    // (__foff, __foff + __cnt], so the regression's multiset of
    // (rank, freq) points is exactly sequence(__foff+1, __foff+__cnt)
    // per distinct frequency — D ladder rows (D ≤ √(2·total)) explode
    // back to vocab-many rows with no join against the vocabulary at
    // all. WHICH token gets which in-tie rank was already arbitrary
    // (hash order); the sums are identical bit-for-bit because the
    // micro-unit quantization and decimal(38,0) sums run over the same
    // value multiset (partition-count bit-identity law unchanged).
    // Tie-size safety at 100 TB: a hapax tie is vocabulary-sized, so
    // one row may not explode to billions in one task — ranks generate
    // in ≤64k chunks, and the chunk rows (≤ vocab/64k + D) spread by
    // (freq, chunk) hash first. Cold A/B at sf0.1: jobs 10 → 9, wall
    // flat (0.78 → 0.80 s) — the remaining wall is 9 × (stage exec +
    // 40-80 ms AQE replan gap, measured from the job-event timeline),
    // i.e. scheduler floor on a one-row output, not data. Two further
    // fusions were tried and rejected with measurements: repartitioning
    // fc by __band so bands/bandOff/the prefix window share one
    // exchange read 11 jobs (the repartition added a stage and AQE
    // stage-reuse already dedups the repeated fc subtrees at runtime);
    // a metadata-sized opaque-key window for bandOff trades the
    // band-distinct exchange for a single-partition one, job-neutral.
    // The win that stays: nothing vocabulary-sized is windowed, joined,
    // or sorted after the token aggregation (the r18 form ran three
    // vocab-wide stages).
    val chunkLen = 65536L
    val chunks = freqOff
      .select(col("freq"), col("__foff"), col("__cnt"),
        explode(sequence(lit(0L),
          expr(s"(__cnt - 1) div $chunkLen"))).as("__ch"))
      .repartition(col("freq"), col("__ch"))
    val ranked = chunks.select(col("freq"),
      explode(sequence(
        col("__foff") + col("__ch") * chunkLen + 1L,
        col("__foff") + least(col("__cnt"), (col("__ch") + 1L) * chunkLen)))
        .as("rank"))
    val q = ranked
      .withColumn("__x", round(log(col("rank").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("__y", round(log(col("freq").cast("double")) * 1e6, 0).cast("long"))
    val sums = q.agg(
      count(lit(1)).as("vocab_size"),
      sum(col("freq")).as("total_tokens"),
      sum(col("__x").cast("decimal(38,0)")).as("__sx"),
      sum(col("__y").cast("decimal(38,0)")).as("__sy"),
      sum(col("__x").cast("decimal(38,0)") * col("__y")).as("__sxy"),
      sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sxx"))
    // exact integer sums -> one fixed chain of double ops (both engines
    // run the identical expression tree on identical inputs)
    val n = col("vocab_size").cast("double")
    val sx = col("__sx").cast("double") / 1e6
    val sy = col("__sy").cast("double") / 1e6
    val sxy = col("__sxy").cast("double") / 1e12
    val sxx = col("__sxx").cast("double") / 1e12
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    sums.select(
      col("vocab_size"), col("total_tokens"),
      round(slope, 6).as("slope"),
      round((sy - slope * sx) / n, 6).as("intercept"))
  }

  /** Context-window chunking: split each document into token windows of
    * `window` tokens advancing by `stride` (overlap = window − stride) —
    * the step every pre-training pipeline runs between cleaning and
    * packing. Chunk starts are 0, stride, …, covering the tail (the last
    * chunk may be short; a doc shorter than one window yields one chunk;
    * an empty doc yields none).
    *
    * Pure per-row array computation inside ONE lambda — only the chunk
    * SLICES survive into the exploded output (total ≈ tokens × window ∕
    * stride, the inherent overlap factor). Exploding start offsets and
    * slicing afterwards instead would drag the full token array along
    * per chunk row — quadratic in document length. No shuffle; composes
    * with any scan.
    *
    * Output: (id, chunk_idx, n_tokens, chunk_text).
    */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    val chunkType = "array<struct<chunk_idx:bigint,n_tokens:bigint,chunk_text:string>>"
    val chunks = flatten(transform(array(tokens(col(textCol))), ws =>
      when(size(ws) >= 1,
        transform(
          sequence(lit(0L),
            floor((greatest(size(ws) - window, lit(0)).cast("double") + (stride - 1)) / stride)
              .cast("long")),
          k => struct(
            k.as("chunk_idx"),
            size(slice(ws, (k * stride + 1).cast("int"), lit(window))).cast("long").as("n_tokens"),
            concat_ws(" ", slice(ws, (k * stride + 1).cast("int"), lit(window))).as("chunk_text"))))
        .otherwise(array().cast(chunkType))))
    df.select(col(idCol).as("id"), explode(chunks).as("__c"))
      .select(col("id"), col("__c.chunk_idx"), col("__c.n_tokens"), col("__c.chunk_text"))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * shingles that occur in NO other document (corpus document-frequency
    * 1) — the inverse of boilerplate, a direct diversity-weighting /
    * dedup-triage signal (novelty 1.0 = entirely unique content,
    * novelty ~0 = the document is assembled from corpus-common n-grams).
    *
    * Scale shape: two aggregations over the exploded shingle stream —
    * (shingle → df, owning doc for df=1) then (doc → novel count) — both
    * shuffles carry hashes/ids only, never text bodies; the join back to
    * per-doc totals is id-keyed. The text is scanned twice (totals +
    * explode) rather than checkpointing the corpus-scale exploded frame
    * — at 100 TB a second scan-bound pass beats materializing shingles.
    *
    * Output: (id, n_shingles, n_novel, novelty) for docs with ≥1
    * shingle, novelty rounded to 6 dp.
    */
  def novelty(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val ex = df.select(col(idCol).as("id"),
      explode(Dedup.shingles(col(textCol), n)).as("shingle"))
    val dfc = ex.groupBy("shingle")
      .agg(count(lit(1)).as("__df"), min(col("id")).as("__only"))
    // shingles are per-doc distinct (Dedup.shingles), so corpus count ==
    // document frequency, and a df=1 shingle's min(id) IS its owner
    val novel = dfc.filter(col("__df") === 1)
      .groupBy(col("__only").as("id")).agg(count(lit(1)).as("n_novel"))
    val totals = df.select(col(idCol).as("id"),
        size(Dedup.shingles(col(textCol), n)).cast("long").as("n_shingles"))
      .filter(col("n_shingles") > 0)
    totals.join(novel, Seq("id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .select("id", "n_shingles", "n_novel", "novelty")
  }

  /** Corpus heavy hitters with a Count-Min Sketch cross-check: the
    * exact top-`k` most frequent tokens, each carrying both its exact
    * count and its CMS estimate from a `depth` × `width` sketch — the
    * operator a 100 TB pipeline uses to find runaway boilerplate
    * tokens, plus the sketch-accuracy audit run beside it.
    *
    * Scale shape: ONE token pass feeds everything. The exact counts are
    * a map-side-combined vocabulary aggregation (vocab-bounded, never
    * corpus-bounded); top-k is `orderBy.limit` (TakeOrderedAndProject —
    * per-partition heaps, no global sort); the sketch is built FROM the
    * vocabulary aggregate (summing counts into d×width buckets is
    * exactly equivalent to hashing raw occurrences — addition
    * commutes), and all d sketch rows come out of ONE vocab-sized
    * rollup. The finished sketch (d·width longs — bounded metadata at
    * any corpus size, the point of a CMS) is collected and folded into
    * constant lookup maps, so the estimate is a literal element_at per
    * top-k row: no join, no broadcast, no extra job per depth. NOTE:
    * like the other trained operators (k-means centroids, IVF cells,
    * quantile cutpoints), building this DataFrame RUNS the sketch jobs
    * eagerly — the sketch is a fitted artifact.
    *
    * The CMS rows use the engine's portable universal-hash family over
    * the md5 base hash, so the DuckDB oracle replays the sketch
    * bit-for-bit (Σ count per bucket in SQL); the `cms_est >= n_exact` overestimate guarantee is
    * law-tested, and equality holds exactly when the token's d buckets
    * are collision-free.
    *
    * Output: (term, n_exact, cms_est), top `k` by (count desc, term).
    */
  def heavyHitters(
      df: DataFrame,
      textCol: String,
      k: Int = 50,
      width: Int = 1024,
      depth: Int = 4): DataFrame = {
    import graft.functions.PortableHash
    require(k >= 1 && width >= 2 && depth >= 1,
      s"need k >= 1, width >= 2, depth >= 1; got $k/$width/$depth")
    // shared stage: the top-k branch and all `depth` sketch-row rollups
    // read the vocabulary aggregate
    val counts = graft.StageCache.matHot(df
      .select(explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_exact")))
    val consts = PortableHash.permConsts(depth).zipWithIndex
    def bucket(term: Column, a: Long, b: Long): Column =
      pmod(PortableHash.perm(PortableHash.hashMod(term), a, b), lit(width.toLong))
    // ONE vocab-sized rollup computes every sketch row (the d per-depth
    // rollup-plus-broadcast-join chain paid d scheduler round-trips for
    // the same numbers), collected driver-side: the CMS table is
    // depth × width CELLS BY CONSTRUCTION — bounded metadata at any
    // corpus size, which is the entire point of the sketch — so
    // publishing it as literal lookup maps is the sketch-summary step,
    // not a driver-side data collect.
    val sketch = counts.select(
        explode(array(consts.map { case ((a, b), i) =>
          struct(lit(i).as("d"), bucket(col("term"), a, b).as("b"),
            col("n_exact").as("n")) }: _*)).as("e"))
      .groupBy(col("e.d").as("d"), col("e.b").as("b"))
      .agg(sum(col("e.n")).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    def rowMap(i: Int): Column = map(sketch.collect {
      case ((d, b), s) if d == i => Seq(lit(b), lit(s))
    }.flatten.toSeq: _*) // all-literal: Catalyst folds it to one constant
    val ests = consts.map { case ((a, b), i) =>
      element_at(rowMap(i), bucket(col("term"), a, b)) }
    val estCol = if (depth == 1) ests.head else least(ests: _*)
    counts.orderBy(col("n_exact").desc, col("term")).limit(k)
      .withColumn("cms_est", estCol)
      .select("term", "n_exact", "cms_est")
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** First-merge byte-pair statistics — the opening step of BPE
    * tokenizer training: adjacent character-pair frequencies across the
    * corpus, weighted by word occurrence. The classic implementation
    * counts the word VOCABULARY first and expands pairs per distinct
    * word times its frequency — exactly this plan: a vocab aggregation
    * (the only corpus-sized pass), then a per-distinct-word pair
    * explode over the vocab frame (bounded by vocabulary, not corpus),
    * then a pair aggregation and TakeOrdered top-k. No shuffle ever
    * carries document text.
    *
    * Output: (pair, n) — top `k` two-character pairs by weighted count,
    * ties broken by pair string ascending.
    */
  def bpePairStats(df: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    require(k >= 1, s"need k >= 1; got $k")
    val vocab = df
      .select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__wn"))
      .filter(length(col("word")) >= 2)
    vocab
      .select(explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"),
        col("__wn"))
      .groupBy("pair").agg(sum(col("__wn")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }
}
