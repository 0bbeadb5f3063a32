package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialized SHARED PIPELINE STAGES — the distributed complement of
  * [[graft.pipeline.ModelCache]] (which holds only driver-side fitted
  * artifacts). A stage is an intermediate with more than one reader:
  * both sides of a self-join (minhash signatures, simhash signatures,
  * winnow fingerprints), or a table several operators of one pipeline
  * consume (the near-dup candidate PAIRS feed the pairs listing,
  * cluster resolution, quality-priority retention, and the
  * train/valid/test leakage audit — one generation, four consumers).
  *
  * Mechanism: `persist(MEMORY_AND_DISK)` instead of `localCheckpoint`.
  * Both materialize once and serve every reader, but they differ in the
  * two ways that matter here:
  *
  *  - `localCheckpoint` truncates the plan to an opaque `LogicalRDD`,
  *    so an IDENTICAL stage built by another query can never be
  *    recognized — every operator re-pays the corpus pass. `persist`
  *    registers the canonicalized plan with Spark's CacheManager, and
  *    any later plan containing an equal subtree gets the materialized
  *    stage substituted automatically — exactly the `CACHE TABLE` /
  *    materialized-view contract, driven by plan identity rather than a
  *    name.
  *  - `localCheckpoint` is EAGER (one extra job per call site);
  *    `persist` folds materialization into the first consuming job.
  *
  * Correctness is unaffected: a stage is a deterministic function of
  * its inputs, so a cache hit is bit-identical to recomputation — every
  * query hashes the same with the cache on, off, cold, or warm (the
  * oracle harness runs each query once either way). Iterative loops
  * (connected-components rounds, k-means/GD steps) deliberately KEEP
  * `localCheckpoint`: there lineage truncation is the point, and no two
  * rounds share a plan.
  *
  * Scale: stages are corpus-shaped, so entries use MEMORY_AND_DISK —
  * blocks spill rather than OOM, and eviction falls back to
  * recomputation from lineage (which `localCheckpoint` cannot do: its
  * blocks are irrecoverable once dropped, a silent single-point failure
  * at cluster scale). `GRAFT_STAGE_CACHE=0` makes every stage
  * query-local (see [[mat]]) so a benchmark can price every query's
  * stages cold.
  */
object StageCache {
  private val enabled: Boolean = sys.env.get("GRAFT_STAGE_CACHE").forall(_.trim != "0")

  /** Max DISTINCT stages (by canonicalized plan) kept registered; the
    * least-recently-used stage past the cap is unpersisted. Eviction is
    * always safe — a persisted stage is recomputable from lineage (unlike
    * a localCheckpoint), so an evicted stage costs at worst one rebuild.
    * Bounds the CacheManager footprint of a LONG-LIVED (server-style)
    * session, where an unbounded registry would pin every (input, n)
    * shingle base / signature table / pair list ever built.
    * Default 1024 (r20; was 256): the 140-query bench registers ~280
    * distinct stages per pass, so under the old cap an access-ordered
    * full pass evicted every stage ~139 queries before its next use —
    * the warm leg silently re-paid rebuilds (measured at sf0.1: warm
    * total 56.6 → 53.7 s with the cap lifted; q_containment_pairs 2.50
    * → 2.13, q_winnow_pairs 1.07 → 0.87). Entries are
    * MEMORY_AND_DISK — blocks spill, and eviction past the cap only
    * costs recomputation — so the cap is a registry-size bound, not a
    * memory-safety bound.
    */
  private val maxEntries = 1024

  // access-ordered LRU keyed by the CANONICALIZED plan: re-registering an
  // equal stage rebuilt by another query refreshes recency instead of
  // growing the registry with duplicate entries
  private val registered =
    new java.util.LinkedHashMap[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, DataFrame](
      16, 0.75f, true)

  /** Per-stage materialization state for the cross-thread race guard:
    * which thread registered the stage, and whether its blocks are known
    * finished. Guarded by the instance's own monitor (never the registry
    * lock — materialization runs Spark jobs).
    */
  private final class StageState(val owner: Thread, val df: DataFrame) {
    @volatile var materialized = false
  }
  private val states =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, StageState]

  /** Registered-stage count — test hook for reuse pins (e.g. the
    * incremental near-dup spec proves the seen-side signature stage HITS
    * across increments by asserting the second call adds exactly one
    * entry, not two).
    */
  private[graft] def registeredCount: Int =
    registered.synchronized(registered.size())

  /** Eager-materialization mode for [[matHot]] stages. OFF by default:
    * a library caller constructing an operator must get a lazy plan (no
    * Spark jobs at DataFrame-build time — the standard Spark contract).
    * The documented exception is TRAINED/FITTED operators (k-means
    * centroids, quantile cutpoints, the CMS sketch in heavyHitters,
    * classifier weights): fitting inherently runs jobs, each such
    * operator's scaladoc says so, and the fitted artifact is bounded
    * metadata — that is a different contract, not a violation of this
    * one.
    * Verify (concurrent dumps) and long-lived servers turn it ON,
    * because a lazily persisted stage consumed by several CONCURRENT AQE
    * shuffle-stage jobs is rebuilt once per job
    * (the round-15 cold profile showed four simultaneous rebuilds of one
    * signature stage inside a single LSH query); one count() at
    * registration materializes it exactly once at full parallelism.
    */
  @volatile private var eagerHot = false
  def setEager(on: Boolean): Unit = eagerHot = on

  /** A shared stage whose consumers run CONCURRENTLY within one query
    * (both sides of a self-join, a multi-branch union under AQE): same
    * registration as [[mat]], plus — in eager mode only — a count() on
    * first registration so the concurrent jobs read finished blocks
    * instead of racing to rebuild the stage once each.
    *
    * CONCURRENCY HAZARD (and its guard): two THREADS racing the first
    * materialization of one lazily-persisted stage was observed (once,
    * full-scale parallel Verify, r17) to produce an EMPTY result for the
    * sharing queries. The registry now closes the practical window at
    * the library level: a cache hit from a thread other than the
    * registrant forces the stage's one-time materialization
    * synchronously (under a per-stage monitor) before the hit returns,
    * so a second consumer's action never starts against unfinished
    * blocks. Same-thread reuse stays fully lazy. Long-lived servers with
    * many concurrent sessions should still call `setEager(true)`,
    * which removes the window entirely (blocks finish at registration).
    */
  def matHot(df: DataFrame): DataFrame = {
    if (!enabled) return df
    val (out, fresh) = register(df)
    if (fresh && eagerHot) {
      out.count()
      val st = states.get(out.queryExecution.analyzed.canonicalized)
      if (st != null) st.materialized = true
    }
    out
  }

  /** Materialize `df` as a shared stage: persisted (plan-matched,
    * spillable, recomputable). `GRAFT_STAGE_CACHE=0` (the bench gate's
    * stage-cold mode) makes mat/matHot the IDENTITY (r20): the registry
    * exists for CROSS-query reuse, which cold mode is defined to forbid,
    * while WITHIN one query Spark's own
    * exchange/stage reuse already dedups identical shuffle subtrees —
    * and a persisted stage costs extra AQE jobs (the InMemoryRelation
    * executes its own adaptive plan) plus a cached-scan read that the
    * r20 profile measured SLOWER than recomputing a native-expression
    * stage at bench scale (cached groupBy over a 260k-row stage: 10-16
    * task-CPU-s vs 0.2 for the same rows straight off the parquet scan).
    * Full-suite same-day A/B at sf0.1, 139 queries, cold: 68.2 s with
    * per-query persist vs 64.8 s identity. Each query still pays every
    * one of its own stages — identity mode recomputes strictly MORE, so
    * the cold leg stays honest. Warm mode (default): registered,
    * persisted, plan-matched across queries.
    */
  def mat(df: DataFrame): DataFrame =
    if (enabled) register(df)._1 else df

  /** Register + persist; returns (df, freshlyRegistered). */
  private def register(df: DataFrame): (DataFrame, Boolean) = {
    val key = df.queryExecution.analyzed.canonicalized
    // Equal plan already registered → skip the re-persist entirely. The
    // CacheManager substitutes the materialized stage by plan identity at
    // execution time, so THIS DataFrame object needs no persist call of
    // its own; calling it anyway would be a no-op that logs
    // "WARN CacheManager: Asked to cache already cached data" — dozens of
    // times per parallel Verify run. The access-ordered get refreshes LRU
    // recency. (Two threads racing an unregistered equal plan may both
    // persist — one benign WARN, not a storm. Anything that unpersists
    // behind the registry's back must go through [[clear]], which resets
    // both sides.)
    val hit = registered.synchronized { registered.get(key) != null }
    if (hit) {
      // CROSS-THREAD FIRST-CONSUMER GUARD (ADVICE r17): two threads
      // racing the FIRST materialization of one lazily-persisted stage
      // was observed (once, full-scale parallel Verify) to dump an EMPTY
      // result for the queries sharing it. A hit from a thread that did
      // NOT register the stage is exactly the moment that hazard becomes
      // live — this second consumer's action could start concurrently
      // with the registrant's. Close the window here, synchronously:
      // materialize once under the stage's own monitor before returning,
      // so by the time the second thread's query RUNS the blocks are
      // finished. Single-threaded callers (Bench, batch pipelines) never
      // hit this path — same-thread reuse stays fully lazy; after the
      // one-time count the flag short-circuits every later hit. This is
      // a library-level fix, not harness configuration: any concurrent
      // caller on the lazy default gets finished blocks, not a race.
      val st = states.get(key)
      if (st != null && !st.materialized && (st.owner ne Thread.currentThread())) {
        st.synchronized {
          if (!st.materialized) {
            st.df.count()
            st.materialized = true
          }
        }
      }
      return (df, false)
    }
    df.persist(StorageLevel.MEMORY_AND_DISK)
    registered.synchronized {
      registered.put(key, df)
      states.put(key, new StageState(Thread.currentThread(), df))
      while (registered.size() > maxEntries) {
        val it = registered.entrySet().iterator()
        val eldest = it.next()
        it.remove()
        states.remove(eldest.getKey)
        try eldest.getValue.unpersist(false) catch { case _: Throwable => () }
      }
    }
    (df, true)
  }

  /** Drop every stage this registry persisted (tests; or after
    * overwriting the underlying inputs in place).
    */
  def clear(): Unit = registered.synchronized {
    registered.values().forEach(df => try df.unpersist(false) catch { case _: Throwable => () })
    registered.clear()
    states.clear()
  }
}
