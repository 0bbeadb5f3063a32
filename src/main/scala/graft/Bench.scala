package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark main: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR. Noise discipline (this VM shows 6x wall-clock
  * variance between identical runs): each query runs `SPARK_GRAFT_REPS`
  * times (default 3) and reports the MINIMUM — the min is the least
  * contention-biased estimator of true cost. Reps are INTERLEAVED
  * round-robin (rep 1 of every query, then rep 2, ...) so a multi-minute
  * contention burst on the host cannot cover all reps of any one query —
  * with back-to-back reps, round 3's driver run recorded min-of-3 times
  * 40x the quiet cost because one burst spanned the whole triple.
  * Failures are NOT swallowed:
  * a failing query is reported with value -1 in the JSON and the process
  * exits non-zero, so a broken query can never read as a fast pass.
  * A `floor_ms` host-sanity metric (median of 5 trivial 1M-row range
  * sums) is emitted so a contention-garbage run is recognizable from the
  * JSON alone.
  *
  * It is also the per-query probe: `SPARK_GRAFT_ONLY=q_a,q_b` runs a
  * subset, and the line's `jobs`, `stages` and `task_ms` maps give each
  * query's Spark job count, submitted-stage count and executor run time
  * (of the rep whose time is reported); `spill_bytes` the max spill of
  * any rep, so a slow outlier reads as memory pressure (spill) or
  * contention (none) without a re-run. Harness stages are LAZY (StageCache default): eager matHot
  * counts measured slower than the rebuilds they prevent once every
  * stage became cheap to build (r17 A/B, full 121-query bench: cold
  * 54.1 vs 50.9 s, warm 43.2 vs 41.6 s, zero per-query regressions).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = GraftSession()
    val meter = new QueryMeter
    spark.sparkContext.addSparkListener(meter)
    // Warmup: touch every table once (OS page cache + codegen/JIT paths)
    // so the first measured query doesn't pay session cold-start.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
    try SparkEntry.queries.head._2(spark, sfDir).count() catch { case _: Throwable => }

    def floorMs(): Double = {
      val samples = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1000000L).selectExpr("sum(id)").collect()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      samples(2) // median
    }
    val floorBefore = floorMs()

    // optional subset (comma-separated names) for probes and local stress
    // runs (SCALE.md sf1 exponents); a full run leaves it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // (rep, seconds) of every successful rep
    val samples = collection.mutable.Map.empty[String, List[(Int, Double)]].withDefaultValue(Nil)
    // Row-stability guard (r17, the lazy-stage campaign): every query is
    // deterministic, so its row count must be IDENTICAL across reps. A
    // drifting count means a concurrency bug (the cross-thread lazy-cache
    // race Verify documents) leaked into this sequential harness — that
    // rep's time is a lie, so the query is marked failed, not just flaky.
    val rowCounts = collection.mutable.Map.empty[String, Long]
    val unstable = collection.mutable.Set.empty[String]
    (0 until reps).foreach { rep =>
      queries.foreach { case (name, fn) =>
        spark.sparkContext.setLocalProperty(QueryMeter.Key, QueryMeter.tag(name, rep))
        val t0 = System.nanoTime()
        try {
          val rows = fn(spark, sfDir).count()
          rowCounts.get(name) match {
            case Some(prev) if prev != rows =>
              unstable += name
              System.err.println(s"[bench] $name ROW COUNT UNSTABLE: $prev then $rows")
            case _ => rowCounts(name) = rows
          }
          samples(name) = (rep, (System.nanoTime() - t0) / 1e9) :: samples(name)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        } finally spark.sparkContext.setLocalProperty(QueryMeter.Key, null)
      }
    }
    var failed = List.empty[String]
    var flaky  = List.empty[String] // succeeded at least once but not every rep
    val best: Map[String, Option[(Int, Double)]] = queries.map { case (name, _) =>
      val times = samples(name)
      if (times.isEmpty || unstable(name)) { failed ::= name; name -> None }
      else {
        // an intermittent failure must surface, not dissolve into the min
        if (times.length < reps) flaky ::= name
        name -> Some(times.minBy(_._2))
      }
    }.toMap
    // Floor re-check: a floor above ~150 ms means host contention was
    // active around the run. Retry once (the burst may have passed);
    // if it persists, stamp the artifact "noisy" so a contention-poisoned
    // run (like BENCH_r04's 40x outliers) can never masquerade as a code
    // regression in round-over-round comparison.
    val NoisyFloorMs = 150.0
    var floorAfter = floorMs()
    if (math.min(floorBefore, floorAfter) > NoisyFloorMs) {
      Thread.sleep(2000)
      floorAfter = floorMs()
    }
    val noisy = math.min(floorBefore, floorAfter) > NoisyFloorMs
    meter.drain(spark.sparkContext)

    def json(entries: Seq[(String, Any)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // keep declaration order (the ordered `queries` Seq) in the JSON so
    // run-to-run diffs of bench_last.json are stable, not hash-ordered
    def perQuery(f: String => Any): String = json(queries.map { case (name, _) => name -> f(name) })
    // counter `i` of the reported (fastest) rep; -1 for a failed query
    def ofBest(i: Int)(name: String): Long =
      best(name).fold(-1L) { case (rep, _) => meter(QueryMeter.tag(name, rep))(i) }
    val total = queries.flatMap { case (name, _) => best(name) }.map(_._2).sum
    // the max spill of any successful rep; only non-zero spills, so the
    // common all-zero case does not bloat the line
    val spills = queries.map { case (name, _) =>
      name -> (samples(name).map { case (rep, _) => meter(QueryMeter.tag(name, rep))(QueryMeter.Spill) } :+ 0L).max
    }.filter(_._2 > 0)
    val line = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${perQuery(n => best(n).fold(-1.0)(_._2))},""" +
      s""""rep_ok":${perQuery(n => samples(n).length)},""" +
      s""""rows":${perQuery(n => rowCounts.getOrElse(n, -1L))},""" +
      s""""spill_bytes":${json(spills)},""" +
      s""""jobs":${perQuery(ofBest(QueryMeter.Jobs))},""" +
      s""""stages":${perQuery(ofBest(QueryMeter.Stages))},""" +
      s""""task_ms":${perQuery(ofBest(QueryMeter.TaskMs))},""" +
      s""""sf":"$sfDir","reps":$reps,"n_queries":${queries.length},""" +
      s""""floor_ms":${math.min(floorBefore, floorAfter)},"floor_ms_before":$floorBefore,"floor_ms_after":$floorAfter,""" +
      s""""noisy":$noisy,"n_failed":${failed.length},"n_flaky":${flaky.length},"full":"bench_last.json"}"""
    // The SAME full line goes to the file and to stdout (r22, VERDICT r21
    // #2): the driver's parser recorded `parsed: null` for EVERY round —
    // including r20/r21 where the compact ~65-query line was fully
    // visible in the captured tail — so the truncated `queries` map (and
    // the sbt "[info] " logger prefix, removed via build.sbt's
    // run/outputStrategy := StdoutOutput) are the remaining parse
    // breakers. The machine-readable contract is ONE stdout line whose
    // `queries` carries ALL queries, schema-identical to
    // bench_last.json's `queries` map. Every historical key is kept
    // (floor_ms = min of before/after, as the compact line reported);
    // later keys are additions only.
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => }
    println(line)
    spark.stop()
    if (flaky.nonEmpty)
      System.err.println(s"[bench] ${flaky.length} queries passed only some reps: ${flaky.reverse.mkString(", ")}")
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.length} queries FAILED: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}

/** Per-(query, rep) Spark counters, attributed EXACTLY through the local
  * property [[QueryMeter.Key]] that Bench sets around each rep (it
  * propagates to broadcast and subquery jobs), so neither async event
  * delivery nor a tail task landing after the rep's wall time moves a
  * count into the neighbouring query. Counts are: jobs started; stages
  * SUBMITTED — a skipped or reused shuffle stage is never submitted, so it
  * is absent rather than read as a zero-task stage; executor run time and
  * shuffle spill (memory + disk) of every task of those stages.
  */
private final class QueryMeter extends SparkListener {
  import QueryMeter._
  private val counts = new ConcurrentHashMap[String, Array[AtomicLong]]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def add(tag: String, i: Int, v: Long): Unit =
    counts.computeIfAbsent(tag, _ => Array.fill(4)(new AtomicLong)).apply(i).addAndGet(v)
  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach(add(_, Jobs, 1))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tagOf(e.properties).foreach { t => stageTag.put(e.stageInfo.stageId, t); add(t, Stages, 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (t <- Option(stageTag.get(e.stageId)); m <- Option(e.taskMetrics)) {
      add(t, TaskMs, m.executorRunTime)
      add(t, Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** The counters of `tag` (all zero if it ran no job). */
  def apply(tag: String): Array[Long] =
    Option(counts.get(tag)).fold(Array.fill(4)(0L))(_.map(_.get))

  /** Block until every event posted so far is delivered: the listener bus
    * is FIFO, so once a sentinel job's start arrives, so has every task
    * end before it.
    */
  def drain(sc: SparkContext): Unit = {
    sc.setLocalProperty(Key, Sentinel)
    try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Key, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!counts.containsKey(Sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

private object QueryMeter {
  val Key = "graft.bench.query"
  val Jobs = 0
  val Stages = 1
  val TaskMs = 2
  val Spill = 3
  private val Sentinel = "\u0000drain"
  def tag(name: String, rep: Int): String = s"$name#$rep"
}
