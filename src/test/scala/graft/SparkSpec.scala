package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  // the harness session (GraftSession) at a fixed 4 cores: plan pins
  // (PlanSpec) assert the LAZY-stage shapes the Bench/Verify harnesses run
  // with (r17 demotion — see Bench.scala); suites exercising eager mode
  // set it themselves and restore it
  lazy val spark: SparkSession = GraftSession(4)

  def ldt(s: String): java.time.LocalDateTime =
    java.time.LocalDateTime.parse(if (s.contains("T")) s else s.replace(" ", "T"))

  /** Spark jobs started while `f` runs (by any thread), counted by a
    * listener once the (asynchronous) listener bus has gone quiet.
    */
  def jobsDuring(f: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      var last = -1; var stable = 0
      while (stable < 6) { // 6 × 50 ms with no new events
        Thread.sleep(50)
        if (jobs.get == last) stable += 1 else { last = jobs.get; stable = 0 }
      }
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Live data files (store-relative paths) per partition directory of a store (`chunk_index=5`,
    * `bucket=3`), from the store's own live listing: its manifest, or its
    * directory listing before its first commit.
    */
  def liveFiles(store: String): Map[String, Seq[String]] =
    graft.store.PartitionCommit.liveFiles(store).groupBy(f => f.take(f.lastIndexOf('/')))

  /** Temp dir for store tests. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"
}
