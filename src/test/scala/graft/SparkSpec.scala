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

  /** Temp dir for store tests. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/store"
}
