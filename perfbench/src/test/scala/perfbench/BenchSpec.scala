package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  private val tmp = Files.createTempDirectory("perfbench-spec").toFile

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteRecursively(tmp)
  }

  private def ctx(traced: Boolean) = new Ctx(spark, new File(tmp, s"ctx-${System.nanoTime()}"), 1, traced)

  test("the same seed generates identical inputs; another seed different ones") {
    val a = MeterGen.generate(7, 4, 10, 3)
    assert(a == MeterGen.generate(7, 4, 10, 3))
    assert(a != MeterGen.generate(8, 4, 10, 3))
    // the history crosses the DST change: one local day has 100 readings
    assert(MeterGen.daySlots(java.time.LocalDate.of(2024, 10, 27)).length == 100)
  }

  test("the same seed writes byte-identical input files; another seed different bytes") {
    val c = ctx(traced = false)
    val (_, _, setup) = MeterStore.prepare(c, MeterGen.generate(7, 4, 10, 3), copies = 2)
    assert(setup.length == 2 && c.failed == 0, c.failures)
    val other = new File(tmp, "other-seed")
    MeterStore.writeInputs(spark, other, MeterGen.generate(8, 4, 10, 3))
    assert(Harness.contentHash(c.dir("inputs0")) == Harness.contentHash(c.dir("inputs1")))
    assert(Harness.contentHash(c.dir("inputs0")) != Harness.contentHash(other))
  }

  test("the tail percentile is the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(5) == 0.5)
    assert(Stats.tailPercentile(19) == 0.5)
    assert(Stats.tailPercentile(25) == 0.6)
    assert(Stats.tailPercentile(38) == 0.7)
    assert(Stats.tailPercentile(40) == 0.75)
    assert(Stats.tailPercentile(99) == 0.85)
    assert(Stats.tailPercentile(100) == 0.9)
    assert(Stats.tailPercentile(200) == 0.95)
    assert(Stats.tailPercentile(1000) == 0.99)
    assert(Stats.tailPercentile(10000) == 0.999)
    val t = Stats.timing((1 to 40).map(_.toDouble))
    assert(t.p50 == 20.5 && t.tailPct == 0.75 && t.tail == 30.25 && t.n == 40)
  }

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "root.call", 0, 100),
      Span(2, 1, "a.x", 10, 40),
      Span(3, 1, "a.y", 30, 60),  // overlaps a.x: covered once
      Span(4, 1, "a.z", 90, 120), // runs past the parent: clipped
      Span(5, 2, "b.w", 15, 35))  // a grandchild only counts against a.x
    val self = Tracer.selfTimes(spans)
    assert(self == Map(1 -> 40L, 2 -> 10L, 3 -> 30L, 4 -> 30L, 5 -> 20L))
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L))) == 30L)
  }

  test("jobs are attributed to the span whose job group they carry") {
    val c = ctx(traced = true)
    val sc = spark.sparkContext
    c.tracer.recording = true
    c.tracer.span("test.outer") {
      c.tracer.span("test.twoJobs") {
        sc.parallelize(1 to 100, 2).count()
        sc.parallelize(1 to 100, 2).map(_ * 2).collect()
      }
      sc.parallelize(1 to 10, 1).count() // the outer span's own job
      c.tracer.span("test.noJobs")(Thread.sleep(5))
    }
    c.tracer.recording = false
    sc.parallelize(1 to 10, 1).count() // outside any span: unattributed
    val tr = c.trace().get
    val Seq(outer) = tr.named("test.outer")
    val Seq(two) = tr.named("test.twoJobs")
    val Seq(none) = tr.named("test.noJobs")
    assert(tr.work(two).jobs == 2 && tr.work(two).tasks == 4)
    assert(tr.work(none).jobs == 0)
    assert(tr.work(outer).jobs == 3)
    assert(tr.driverOnlyNs(none) == none.durNs)
    assert(tr.self.values.sum <= outer.durNs)
  }

  test("the metric catalog matches BENCHMARK.json") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def listed(key: String) = {
      val arr = spec.get(key)
      (0 until arr.size).map(i => arr.get(i).get("name").asText -> arr.get(i).get("unit").asText)
    }
    assert(listed("end_to_end") == Catalog.EndToEnd)
    assert(listed("per_layer") == Catalog.PerLayer)
  }
}
