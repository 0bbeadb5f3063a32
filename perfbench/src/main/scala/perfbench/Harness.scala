package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one workload run hands back to [[Main]]. `endToEnd` carries every
  * end-to-end metric, `layers` every per-layer metric the workload
  * measures (filled only in traced runs), `details` goes to the artifact
  * only.
  */
final case class Outcome(
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    details: Map[String, Any])

/** Per-run context: the session, the run's private temp root, the tracer,
  * and the op/check counters behind `attempted`, `failed` and `correct`.
  */
final class Ctx(val spark: SparkSession, val root: File, val seconds: Int, val traced: Boolean) {
  val tracer = new Tracer(spark.sparkContext)
  val meter: Option[SparkMeter] = if (traced) Some(new SparkMeter(spark).install()) else None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def dir(name: String): File = new File(root, name)

  /** Count one operation; a thrown exception marks it failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Count one output check. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val r = try ok catch {
      case e: Throwable => System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    if (!r) fail(s"check failed: $name")
    r
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.length < 50) failures += msg
    System.err.println(s"[perfbench] $msg")
  }

  private var finished: Option[Trace] = None

  /** The run's trace, finished on first use (traced runs only): spans
    * recorded later are not in it.
    */
  def trace(): Option[Trace] = {
    if (finished.isEmpty) finished = meter.map { m =>
      m.awaitQuiet()
      val spans = tracer.spans
      new Trace(spans, m.attribute(spans))
    }
    finished
  }
}

object Harness {
  def timeNs(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }

  /** The session settings of the program's own timing harness
    * (`graft.Bench`): local[cores], the graft extensions, one shuffle
    * partition per core, AQE coalescing by size, no UI.
    */
  def session(cores: Int, localDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(localDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Parquet files under `dir` (recursive): (relative path, bytes). */
  def parquetFiles(dir: File): Seq[(String, Long)] = {
    val base = dir.toPath
    if (!dir.exists()) Nil
    else {
      val s = java.nio.file.Files.walk(base)
      try {
        val it = s.iterator()
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(p => p.getFileName.toString.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p))
          .map(p => base.relativize(p).toString -> java.nio.file.Files.size(p)).toVector
      } finally s.close()
    }
  }

  /** SHA-256 over the bytes of every parquet file under `dir`, in
    * directory order (file names carry a random write id, so only the
    * enclosing directory and the contents count).
    */
  def contentHash(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parquetFiles(dir).map(_._1).sortBy(p => (new File(p).getParent, p)).foreach { rel =>
      Option(new File(rel).getParent).foreach(d => md.update(d.getBytes("UTF-8")))
      md.update(java.nio.file.Files.readAllBytes(new File(dir, rel).toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Host-sanity stamp written into every run artifact, so a noisy run is
  * recognisable from the artifact alone.
  */
object Host {
  /** Median of 5 one-million-row range sums (the program's own floor probe). */
  def floorMs(spark: SparkSession): Double =
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e6
    })

  def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def versions(spark: SparkSession): Map[String, Any] = Map(
    "cores_used" -> spark.sparkContext.defaultParallelism,
    "cores_visible" -> Runtime.getRuntime.availableProcessors,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}
