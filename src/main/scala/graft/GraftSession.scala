package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every harness runs on
  * (Bench, Verify, Explain, LoadHeavy, the test suites): `local[cpus]`
  * with the graft extensions, one shuffle partition per core, AQE
  * coalescing by size, UTC session and JVM time zone, no UI, WARN logs.
  *
  * AQE sizing over raw parallelism: the default parallelismFirst
  * splinters small shuffles into one tiny task per core, which at bench
  * scale is pure scheduler overhead and at cluster scale is the
  * anti-pattern the Spark tuning guide tells you to turn off ("it's
  * recommended to set this config to false and respect the configured
  * target size"). Shuffle/cache compression stays at Spark's defaults:
  * turning it off measured no change at sf0.1 (r17: 52.56 vs 52.68 s cold).
  */
object GraftSession {
  /** Core count of the harness session: `SPARK_GRAFT_CPUS`, default 4. */
  private def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim.toInt

  def apply(cpus: Int = envCpus): SparkSession = {
    // literals are JVM-tz-proof (LocalDateTime-based), but pin UTC anyway
    // so any stray instant math in a dependency can't shift on a non-UTC host
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
