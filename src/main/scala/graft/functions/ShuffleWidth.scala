package graft.functions

import org.apache.spark.sql.SparkSession

/** Pinned exchange width for stages whose work would otherwise be
  * serialized by AQE's input-size partition coalescing (r22).
  *
  * AQE sizes a reduce stage by its INPUT bytes: any exchange under the
  * 64 MB advisory coalesces to ONE partition, even when the stage's
  * work is row-shaped (a 600k-row merge aggregation, a window rank over
  * the whole corpus) or its OUTPUT explodes (a candidate-expansion join
  * at the 10x fixture wrote 410 MB of map output from one task).
  * Repartitioning with an EXPLICIT count is never coalesced, so an
  * operator can pin its required exchange — the window/join/aggregation
  * distribution it needs at any scale — at the session's configured
  * shuffle parallelism. The width is therefore scale-parameterised
  * (spark.sql.shuffle.partitions: cpus in local mode, the tuned value
  * on a cluster), never a constant.
  *
  * Use ONLY on exchanges the plan already requires (pinning width),
  * never to ADD a payload shuffle a cluster-scale plan wouldn't want —
  * e.g. a single-split local scan doing heavy per-row compute stays
  * serial here rather than paying a corpus-wide text shuffle at scale.
  *
  * AND only where the win is HOST-REGIME-ROBUST (r22, measured): pinning
  * pays N-task scheduling every run but buys parallel compute only when
  * effective cores ≈ configured cores. On a contended host (effective
  * cores << configured — the benchmark driver's usual regime) the same
  * pin that won 1.5-2x on a quiet host measured 10-60% SLOWER
  * (same code, same day, back-to-back legs). Keep a pin only when a
  * back-to-back A/B wins in BOTH regimes — true for reduces doing real
  * per-row work (the TS merge family, the interval sweep, containment's
  * candidate machinery), false for cheap window passes and cached-stage
  * re-layouts (reverted; numbers in OPTIMIZATION_r22.md).
  */
object ShuffleWidth {
  def pinned(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .toOption.filter(_ >= 1).getOrElse(200)
}
