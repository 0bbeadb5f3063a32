package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** One benchmark run:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--home <dir>]`.
  *
  * Writes the full run artifact (host stamp, every metric, details, and
  * with `--trace 1` every span) to `<home>/out/`, and prints as its last
  * stdout line `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
  * Exits non-zero when any operation or output check failed.
  */
object Main {
  val Workloads = Seq("meter_ingest", "meter_read", "query_surface")

  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --name, got $k"); k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val a = parse(args)
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a.getOrElse("trace", "0") == "1"
    val home = new File(a.getOrElse("home", "perfbench")).getAbsoluteFile
    val root = new File(home, s".work/run-${java.util.UUID.randomUUID().toString.take(8)}")
    root.mkdirs()
    val code =
      try runIn(root, home, workload, seed, seconds, traced)
      finally Harness.deleteRecursively(root)
    sys.exit(code)
  }

  private def runIn(root: File, home: File, workload: String, seed: Long, seconds: Int,
      traced: Boolean): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Harness.session(cores, new File(root, "spark-local"))
    try {
      val mapper = new ObjectMapper()
      val art = mapper.createObjectNode()
      art.put("workload", workload).put("seed", seed).put("seconds", seconds).put("trace", traced)
      val host = art.putObject("host")
      Host.versions(spark).foreach { case (k, v) => put(host, k, v) }
      host.put("load_avg_1m_before", Host.loadAverage())
      host.put("floor_ms_before", Host.floorMs(spark))

      val ctx = new Ctx(spark, root, seconds, traced)
      val t0 = System.nanoTime()
      val outcome = workload match {
        case "meter_ingest"  => MeterIngest.run(ctx, seed)
        case "meter_read"    => MeterRead.run(ctx, seed)
        case "query_surface" =>
          QuerySurface.run(ctx, new File(home, "fixture/sf0.001"), new File(home, "fixture/expected_rows.tsv"))
      }
      art.put("wall_s", (System.nanoTime() - t0) / 1e9)
      host.put("floor_ms_after", Host.floorMs(spark))
      host.put("load_avg_1m_after", Host.loadAverage())

      ctx.trace().foreach { tr =>
        val wall = if (tr.spans.isEmpty) 0L else tr.spans.map(_.endNs).max - tr.spans.map(_.startNs).min
        ctx.check("span self times sum to no more than wall time")(tr.self.values.sum <= wall)
        writeSpans(art.putArray("spans"), tr)
      }

      val catalog = if (traced) Catalog.PerLayer else Catalog.EndToEnd
      val values = if (traced) outcome.layers else outcome.endToEnd
      val missing = catalog.map(_._1).filterNot(values.contains)
      if (!traced) require(missing.isEmpty, s"workload did not measure ${missing.mkString(", ")}")
      val metrics = mapper.createObjectNode()
      catalog.foreach { case (name, unit) =>
        metrics.putObject(name).put("value", values.getOrElse(name, 0.0)).put("unit", unit)
      }
      val all = art.putObject("metrics")
      (outcome.endToEnd ++ outcome.layers).toSeq.sortBy(_._1).foreach { case (k, v) => all.put(k, v) }
      val details = art.putObject("details")
      outcome.details.foreach { case (k, v) => put(details, k, v) }
      val fails = art.putArray("failures")
      ctx.failures.foreach(f => fails.add(f))

      val result = mapper.createObjectNode()
      result.put("correct", ctx.failed == 0).put("attempted", ctx.attempted).put("failed", ctx.failed)
      result.set[ObjectNode]("metrics", metrics)
      art.set[ObjectNode]("result", result.deepCopy())

      val out = new File(home, "out")
      out.mkdirs()
      mapper.writerWithDefaultPrettyPrinter().writeValue(
        new File(out, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"), art)
      println(s"host: ${mapper.writeValueAsString(host)}")
      println(mapper.writeValueAsString(result))
      if (ctx.failed == 0) 0 else 1
    } finally spark.stop()
  }

  private def writeSpans(arr: com.fasterxml.jackson.databind.node.ArrayNode, tr: Trace): Unit = {
    val origin = if (tr.spans.isEmpty) 0L else tr.spans.map(_.startNs).min
    tr.spans.foreach { s =>
      val w = tr.work(s)
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("start_ms", (s.startNs - origin) / 1e6).put("end_ms", (s.endNs - origin) / 1e6)
        .put("self_ms", tr.self(s.id) / 1e6).put("driver_only_ms", tr.driverOnlyNs(s) / 1e6)
        .put("jobs", w.jobs).put("tasks", w.tasks).put("task_ms", w.taskMs).put("plan_ms", w.planMs)
    }
  }

  private def put(node: ObjectNode, k: String, v: Any): Unit = v match {
    case d: Double  => node.put(k, d)
    case i: Int     => node.put(k, i)
    case l: Long    => node.put(k, l)
    case b: Boolean => node.put(k, b)
    case s: Seq[_]  =>
      val arr = node.putArray(k)
      s.foreach {
        case d: Double => arr.add(d)
        case x         => arr.add(x.toString)
      }
    case m: Map[_, _] =>
      val o = node.putObject(k)
      m.foreach { case (mk, mv) => put(o, mk.toString, mv) }
    case other => node.put(k, String.valueOf(other))
  }
}
