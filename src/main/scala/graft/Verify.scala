package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Verify KEEPS eager matHot (unlike Bench, lazy as of r17): this
    // harness runs queries on 4 CONCURRENT THREADS, and two threads
    // racing the FIRST materialization of one shared lazily-persisted
    // stage can dump an EMPTY result (observed r17: one full lazy run
    // wrote 0 rows for q_tfidf/q_bigram_ppl/q_mix_apply, the next ran
    // 121/121 — a cross-thread heisenbug, disqualifying for the
    // correctness gate). Eager registration materializes the stage
    // before any consumer's action can race it. Bench is sequential —
    // one query at a time — so the hazard doesn't apply there.
    StageCache.setEager(true)
    // optional 3rd arg: comma-separated query names (local iteration);
    // the driver's 2-arg form runs everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
    }
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Concurrent dumps: each query writes its own directory, Spark's
    // scheduler handles concurrent actions on one session, and the only
    // conf-mutating reader (SparkEntry.events) is synchronized. 4 threads
    // roughly quarters the t2 gate's Spark wall next to the small jobs'
    // scheduling latency.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = SparkEntry.queries
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          pool.submit(new Runnable {
            override def run(): Unit =
              try {
                fn(spark, sfDir).coalesce(1).write.mode("overwrite")
                  .parquet(s"$outDir/$name")
              } catch { case e: Throwable =>
                System.err.println(s"[verify] $name failed: ${e.getMessage}")
              }
          })
        }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // ALWAYS dump the complete oracle map: a filtered local-iteration run
    // into an existing full artifact dir must not shrink oracle_sql.json,
    // or a later full selfcheck over that dir would silently validate
    // only the filtered subset. The filter applies to the parquet dumps
    // (selfcheck skips oracle entries with no result dir), never the map.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
