package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming ingest — the beyond-parity extension (SURVEY.md
  * §2.9/§7: the reference's sync is batch pull; a streaming ingest is the
  * natural Spark-native growth path). Micro-batch streams of long-form
  * series rows `(key, ts, value)` flow through the same operator
  * vocabulary as the batch engine: null-drop normalization, watermarked
  * windowed aggregation, streaming dedup, and keyed running state via
  * `mapGroupsWithState`.
  */
object StreamIngest {

  /** Normalize an incoming stream like the batch write path does
    * (chunk_timeserie_store.py:699-724 semantics): drop null/NaN points,
    * by the stores' own rule ([[graft.store.WriteRules.kept]]).
    */
  def normalize(stream: DataFrame, tsCol: String = "ts", valueCol: String = "value"): DataFrame =
    stream.filter(graft.store.WriteRules.kept(col(tsCol), col(valueCol)))

  /** Watermarked tumbling-window stats per key — the streaming analogue of
    * the per-chunk aggregates. Late data beyond `watermarkDelay` is
    * dropped deterministically.
    */
  def windowedStats(
      stream: DataFrame,
      keys: Seq[String],
      windowDuration: String,
      watermarkDelay: String = "10 minutes",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    normalize(stream, tsCol, valueCol)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowDuration) +: keys.map(col)): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"),
        avg(col(valueCol)).as("avg_value"),
        max(col(tsCol)).as("max_horodate"))

  /** Streaming exact dedup on (keys..., ts) with bounded state: duplicates
    * arriving within the watermark horizon are dropped — the streaming
    * face of the store's uniqueness constraint.
    */
  def dedupStream(
      stream: DataFrame,
      keys: Seq[String],
      watermarkDelay: String = "10 minutes",
      tsCol: String = "ts"): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicates(keys :+ tsCol)

  /** Streaming CONTENT dedup — the crawl-ingest face of exact dedup:
    * keep the first arrival of each content hash, dropping re-crawls
    * that land at DIFFERENT event times within the watermark horizon
    * (dedupStream's (keys, ts) equality can't catch those).
    * `dropDuplicatesWithinWatermark` keys the state on the hash alone
    * and expires entries once the watermark passes, so state stays
    * bounded by the horizon's unique-content count — the streaming
    * complement of the batch `Dedup.crossCorpusDedup` increment.
    */
  def contentDedupStream(
      stream: DataFrame,
      textCol: String,
      watermarkDelay: String = "10 minutes",
      tsCol: String = "ts"): DataFrame =
    stream.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("content_hash"))

  // TimestampType (not NTZ): Spark's event-time machinery (watermarks)
  // only accepts TIMESTAMP event-time columns.
  final case class Point(key: String, ts: java.sql.Timestamp, value: Double)
  final case class KeyState(n: Long, sum: Double, maxTs: java.sql.Timestamp)
  final case class KeySummary(key: String, n: Long, sum: Double, maxTs: java.sql.Timestamp)

  /** Keyed running aggregate with explicit state (`mapGroupsWithState`) —
    * the custom-state primitive for operators the built-in windows can't
    * express (e.g. the reference's last-non-NaN horodate, maintained
    * incrementally per series).
    */
  def runningSummary(points: Dataset[Point]): Dataset[KeySummary] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .mapGroupsWithState[KeyState, KeySummary](GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(
            KeyState(0L, 0.0, java.sql.Timestamp.valueOf("1900-01-01 00:00:00")))
          val next = rows.foldLeft(prev) { (s, p) =>
            KeyState(s.n + 1, s.sum + p.value, if (p.ts.after(s.maxTs)) p.ts else s.maxTs)
          }
          state.update(next)
          KeySummary(key, next.n, next.sum, next.maxTs)
      }
  }

  /** Streaming sessionization — the streaming analogue of the batch
    * `q_sessionize` gap-split segmentation: Spark's native
    * `session_window` merges events into variable-length sessions closed
    * after `gap` of event-time silence; the watermark bounds session
    * state. Output (append mode, emitted once a session can no longer
    * grow): key, session start/end, event count, value sum.
    */
  def sessionStats(
      stream: DataFrame,
      keys: Seq[String],
      gap: String = "30 minutes",
      watermark: String = "1 hour",
      tsCol: String = "ts",
      valueCol: String = "value"): DataFrame =
    normalize(stream, tsCol, valueCol) // NaN/null rows out, like the batch write path
      .withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("sum_value"))
      .select((keys.map(col) :+ col("session_window.start").as("session_start")
        :+ col("session_window.end").as("session_end")
        :+ col("n_events") :+ col("sum_value")): _*)

  final case class GapAlert(key: String, gapStart: java.sql.Timestamp,
      gapEnd: java.sql.Timestamp, gapSecs: Long)

  /** Streaming gap monitor — the streaming analogue of the reference's
    * `find_holes`/`check_ts_completeness` (hostore.py:120-160,
    * utils/timeseries.py:26-60): per series, emit an alert whenever the
    * delta between consecutive event-time points exceeds
    * `expectedEverySecs`. `flatMapGroupsWithState` keeps ONE timestamp
    * per key of CROSS-batch state and emits zero or more alerts per
    * batch. Intra-batch ordering is handled internally: each key's batch
    * rows are materialized and sorted by event time on the executor, so
    * per-key memory is bounded by the largest single batch for that key
    * (not by the stream), and no upstream ordering is required. A point
    * at or before
    * the high-watermark timestamp already in state (cross-batch late
    * data) is DROPPED — advancing state monotonically is what keeps a
    * late arrival from regressing `last` and re-alerting over a span
    * newer points already covered.
    */
  def gapMonitor(points: Dataset[Point], expectedEverySecs: Long): Dataset[GapAlert] = {
    import points.sparkSession.implicits._
    val maxGapMs = expectedEverySecs * 1000L
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[java.sql.Timestamp, GapAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[java.sql.Timestamp]) =>
          val sorted = rows.toSeq.sortBy(_.ts.getTime)
          val alerts = scala.collection.mutable.ListBuffer.empty[GapAlert]
          var last = state.getOption
          sorted.foreach { p =>
            if (!last.exists(prev => p.ts.getTime <= prev.getTime)) {
              last.foreach { prev =>
                val gapMs = p.ts.getTime - prev.getTime
                if (gapMs > maxGapMs)
                  alerts += GapAlert(key, prev, p.ts, gapMs / 1000L)
              }
              last = Some(p.ts)
            } // else: late or duplicate point — state only moves forward
          }
          last.foreach(state.update)
          alerts.iterator
      }
  }

  final case class CusumAlert(key: String, ts: java.sql.Timestamp,
      value: Double, cusumHi: Double, cusumLo: Double, side: String)

  final case class CusumState(sHi: Double, sLo: Double,
      maxTs: java.sql.Timestamp)

  /** Streaming CUSUM change-point monitor — the online analogue of
    * [[graft.ts.Stats.cusum]]: the classic Page recursion
    * S ← max(0, S + (x − μ − slack)) per side against a FIXED reference
    * mean (online CUSUM has no whole-series mean to center on — the
    * caller supplies the expected level, e.g. from a trained baseline),
    * emitting an alert each time a side crosses `threshold`, then
    * resetting that side (standard alarm-and-restart protocol).
    * State per key is two doubles + a high-watermark timestamp —
    * bounded regardless of stream length; intra-batch rows are sorted
    * by (event time, value) on the executor — the value tie-break makes
    * equal-timestamp batches replay-deterministic: the min-value point
    * wins and the rest are dropped — and cross-batch late data (at or
    * before the watermark in state) is dropped, exactly the
    * [[gapMonitor]] discipline.
    */
  def cusumMonitor(
      points: Dataset[Point],
      mean: Double,
      slack: Double,
      threshold: Double): Dataset[CusumAlert] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[CusumState]) =>
          // tie-break equal timestamps by value (the batch cusum's window
          // ordering) so replay is deterministic: of N same-ts points in
          // one batch the MIN-value one is processed and the rest are
          // dropped by the strict `>` watermark below, regardless of
          // arrival order
          val sorted = rows.toSeq.sortBy(p => (p.ts.getTime, p.value))
          val alerts = scala.collection.mutable.ListBuffer.empty[CusumAlert]
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0, null))
          sorted.foreach { p =>
            if (st.maxTs == null || p.ts.getTime > st.maxTs.getTime) {
              var hi = math.max(0.0, st.sHi + (p.value - mean - slack))
              var lo = math.max(0.0, st.sLo + (mean - p.value - slack))
              if (hi > threshold) {
                alerts += CusumAlert(key, p.ts, p.value, hi, lo, "hi")
                hi = 0.0
              }
              if (lo > threshold) {
                alerts += CusumAlert(key, p.ts, p.value, hi, lo, "lo")
                lo = 0.0
              }
              st = CusumState(hi, lo, p.ts)
            } // else: late or duplicate point — state only moves forward
          }
          state.update(st)
          alerts.iterator
      }
  }

  /** Continuous ingest into a ChunkStore: each micro-batch merges into
    * the store with multi-series upsert semantics (new points win,
    * affected chunk partitions rewritten once per batch) via
    * `ChunkStore.upsertManyTs`. Exactly-once per batch comes from the
    * checkpoint + the idempotence of combine_first (re-merging the same
    * batch is a no-op). The stream carries
    * (businessKeys..., ts TIMESTAMP, value).
    */
  def ingestToStore(
      stream: DataFrame,
      store: graft.store.ChunkStore,
      checkpointDir: String,
      tsCol: String = "ts",
      valueCol: String = "value"): StreamingQuery =
    normalize(stream, tsCol, valueCol)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // event-time TIMESTAMP → the store's NTZ wall time
        store.upsertManyTs(batch.withColumn(tsCol, col(tsCol).cast("timestamp_ntz")))
      }
      .start()

  final case class WinOcc(winHash: Long, docId: Long, pos: Long, ts: java.sql.Timestamp)
  final case class DupWindowAlert(winHash: Long, docId: Long, pos: Long, nSeen: Long)

  /** Streaming substring-duplication monitor — the streaming face of
    * [[graft.pipeline.Dedup.duplicateSpans]]: documents arrive as a
    * stream, every `w`-token window is hashed (same portable hash as the
    * batch operator), and an alert is emitted for each window occurrence
    * beyond the first — i.e. the moment ingested content starts
    * repeating the stream's history (boilerplate detection at ingest
    * time, before anything lands in the corpus).
    *
    * State: ONE occurrence counter per distinct window hash
    * (`flatMapGroupsWithState`), expired by an EVENT-TIME TTL: a key's
    * state times out once the watermark passes its last occurrence by
    * `stateTtlMs` — so the state store is bounded by the retention
    * horizon's distinct-window count, never the stream's full history,
    * and a window that falls quiet is forgotten (its next occurrence
    * counts as fresh). Within a batch, a key's occurrences are processed
    * in (ts, docId, pos) order, so alert numbering is deterministic.
    */
  def dupWindowMonitor(
      docs: DataFrame,
      w: Int = 5,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600L * 1000): Dataset[DupWindowAlert] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("docId"), col(tsCol).as("ts"),
        posexplode(graft.pipeline.Dedup.windowHashes(col(textCol), w)).as(Seq("__p0", "winHash")))
      .select(col("winHash"), col("docId"), (col("__p0") + 1).cast("long").as("pos"), col("ts"))
      .as[WinOcc]
      .groupByKey(_.winHash)
      .flatMapGroupsWithState[Long, DupWindowAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (hash, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var n = state.getOption.getOrElse(0L)
            val rs = rows.toSeq.sortBy(r => (r.ts.getTime, r.docId, r.pos))
            val alerts = rs.flatMap { r =>
              n += 1
              if (n >= 2) Some(DupWindowAlert(hash, r.docId, r.pos, n)) else None
            }
            state.update(n)
            // expire when the watermark passes this key's LAST occurrence
            // by the TTL — anchoring on the watermark instead (which is 0
            // until the first batch completes) would expire every
            // first-batch key the moment the watermark advances
            state.setTimeoutTimestamp(
              math.max(rs.last.ts.getTime + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            alerts.iterator
          }
      }
  }

  final case class BandOcc(bandKey: String, docId: Long, ts: java.sql.Timestamp, sig: Seq[Long])
  final case class BandEntry(docId: Long, sig: Seq[Long])
  final case class BandState(hot: Boolean, entries: Seq[BandEntry])
  final case class NearDupAlert(docId: Long, seenId: Long, bandKey: String, estJaccard: Double)

  /** Streaming NEAR-dup monitor — the streaming face of
    * [[graft.pipeline.Dedup.minhashLshPairs]]: documents arrive as a
    * stream, each gets the SAME fused MinHash signature and band keys as
    * the batch operator ([[graft.functions.ShingleOps]] native passes),
    * and a new document landing in a band bucket the stream has seen
    * alerts against each document stored there — with the standard
    * MinHash estimate (matching signature component fraction) as
    * `estJaccard`, so downstream can threshold without re-reading text.
    * A pair sharing several bands alerts once per shared band (streams
    * can't retract; collapse downstream with
    * `dropDuplicatesWithinWatermark(docId, seenId)` if one alert per
    * pair is wanted).
    *
    * State per band bucket (`flatMapGroupsWithState`): up to
    * `maxBucket` (docId, signature) entries. A bucket exceeding the cap
    * flips to a HOT marker — entries are dropped and the bucket goes
    * silent, the streaming analogue of the batch hot-band cap
    * (boilerplate bands produce no pairs; alerts already emitted stand).
    * Event-time TTL as [[dupWindowMonitor]]: a bucket quiet past the
    * watermark by `stateTtlMs` is forgotten. State is therefore bounded
    * by (retention-horizon distinct bands) × maxBucket × numHashes
    * longs. Within a batch, occurrences process in (ts, docId) order,
    * so alerts are deterministic.
    */
  def nearDupMonitor(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      maxBucket: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600L * 1000): Dataset[NearDupAlert] = {
    import docs.sparkSession.implicits._
    require(bands * rowsPerBand <= numHashes,
      s"bands x rowsPerBand must fit the signature; got $bands x $rowsPerBand > $numHashes")
    val sigged = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("docId"), col(tsCol).as("ts"),
        graft.functions.ShingleOps.minhashSigCol(lower(col(textCol)), n, numHashes).as("sig"))
      .filter(size(col("sig")) > 0) // < n tokens: no signature (batch parity)
      .select(col("docId"), col("ts"), col("sig"),
        posexplode(graft.functions.ShingleOps.bandHashesCol(col("sig"), bands, rowsPerBand))
          .as(Seq("__band", "__bh")))
      .select(concat_ws(":", col("__band"), col("__bh")).as("bandKey"),
        col("docId"), col("ts"), col("sig"))
      .as[BandOcc]
    sigged
      .groupByKey(_.bandKey)
      .flatMapGroupsWithState[BandState, NearDupAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state: GroupState[BandState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(BandState(hot = false, Seq.empty))
            val rs = rows.toSeq.sortBy(r => (r.ts.getTime, r.docId))
            val alerts = Seq.newBuilder[NearDupAlert]
            rs.foreach { r =>
              if (!st.hot && !st.entries.exists(_.docId == r.docId)) {
                st.entries.foreach { e =>
                  val eq = r.sig.zip(e.sig).count { case (a, b) => a == b }
                  alerts += NearDupAlert(r.docId, e.docId, key,
                    eq.toDouble / math.max(r.sig.length, 1))
                }
                val grown = st.entries :+ BandEntry(r.docId, r.sig)
                st = if (grown.length > maxBucket) BandState(hot = true, Seq.empty)
                else st.copy(entries = grown)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(rs.last.ts.getTime + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            alerts.result().iterator
          }
      }
  }

  /** Stream-static enrichment: join a live point stream against a
    * versioned-store snapshot (e.g. the latest reference profile per
    * series from `VersionedStore.getManyLc`, aggregated to ONE row per
    * key — a keyed join against a multi-row snapshot would fan out the
    * stream). The static side is a plain DataFrame — Spark re-plans it
    * per micro-batch, so a broadcastable snapshot costs no stream-side
    * shuffle.
    * Left join: points with no reference survive with a NULL enrichment
    * (the monitoring shape — you alert on them, not drop them).
    */
  def enrichWithSnapshot(
      stream: DataFrame,
      snapshot: DataFrame,
      keys: Seq[String],
      enrichCols: Seq[String]): DataFrame = {
    val snap = snapshot.select((keys ++ enrichCols).map(col): _*)
    stream.join(snap, keys, "left")
  }

  final case class HeavyHitter(shard: Int, term: String, count: Long)
  final case class MgState(counters: Map[String, Long], nSeen: Long)

  /** One weighted Misra-Gries update: `w` arrivals of `term` into a
    * ≤ k-counter summary, in bulk. If the term is resident (or there is
    * a free slot) it simply gains `w`; otherwise it is admitted at `w`
    * and ONE subtract-the-minimum round over the k+1 counters settles
    * the decrement-all debt — the min is min(w, existing min), every
    * counter drops by it, and whoever held it (the newcomer if `w` was
    * smallest, the old min otherwise, both on ties) drains to 0 and
    * leaves. Provably equal to `w` unit MG steps (MgLawsSpec fuzzes the
    * equivalence against a literal unit-step reference).
    */
  private[graft] def mgStep(
      counters: Map[String, Long], term: String, w: Long, k: Int): Map[String, Long] = {
    if (counters.contains(term)) counters.updated(term, counters(term) + w)
    else {
      var c = counters.updated(term, w)
      while (c.size > k) {
        val cut = c.valuesIterator.min
        c = c.iterator.map { case (t2, n2) => t2 -> (n2 - cut) }
          .filter(_._2 > 0L).toMap
      }
      c
    }
  }

  /** Streaming heavy hitters — the streaming face of
    * [[graft.pipeline.TextAnalysis.heavyHitters]]: a Misra-Gries summary
    * of the token stream, maintained online. Tokens shard by portable
    * hash into `numShards` independent summaries of at most `k` counters
    * each (`flatMapGroupsWithState`; the classic decrement-all summary),
    * so state is `numShards × k` counters REGARDLESS of stream length —
    * the frequent-items guarantee transfers per shard: any term with
    * true shard-frequency > n_shard/(k+1) is guaranteed resident, and a
    * resident counter c satisfies f − n_shard/(k+1) ≤ c ≤ f (lower
    * bound, never an overestimate — the dual of the CMS overestimate;
    * StreamingSpec pins both bounds against the exact batch counts).
    *
    * Determinism: each micro-batch's tokens are pre-counted per term
    * and folded into the summary in term-sorted order, so the final
    * state is independent of row arrival order within a batch. Each
    * batch re-emits the shard's full current summary (Update mode) —
    * downstream takes the latest row per (shard, term).
    */
  def heavyHittersMonitor(
      docs: DataFrame,
      k: Int = 16,
      numShards: Int = 8,
      textCol: String = "text"): Dataset[HeavyHitter] = {
    import docs.sparkSession.implicits._
    require(k >= 1 && numShards >= 1, s"need k >= 1, numShards >= 1; got $k/$numShards")
    val toks = docs
      .select(explode(graft.pipeline.TextAnalysis.tokens(lower(col(textCol)))).as("term"))
      .withColumn("shard",
        pmod(graft.functions.PortableHash.hashMod(col("term")), lit(numShards.toLong)).cast("int"))
      .as[(String, Int)]
    toks.groupByKey(_._2)
      .flatMapGroupsWithState[MgState, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard, rows, state: GroupState[MgState]) =>
          var st = state.getOption.getOrElse(MgState(Map.empty, 0L))
          // batch-order independence: fold per-term batch counts in
          // term-sorted order, weight at a time
          val batchCounts = scala.collection.mutable.Map.empty[String, Long]
          rows.foreach { case (t, _) => batchCounts(t) = batchCounts.getOrElse(t, 0L) + 1L }
          batchCounts.toSeq.sortBy(_._1).foreach { case (term, w) =>
            st = MgState(mgStep(st.counters, term, w, k), st.nSeen + w)
          }
          state.update(st)
          st.counters.iterator.map { case (t, n) => HeavyHitter(shard, t, n) }
      }
  }

  /** Drive a streaming frame from a (finite) source synchronously into an
    * in-memory table — the local smoke harness (`processAllAvailable`).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q
  }
}
