package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.store.{ChunkStore, StoreConfig}
import graft.sync.{Sync, SyncHttp, SyncHttpClient}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.atomic.AtomicInteger

/** HTTP sync transport (reference client/server pair, ts_sync.py:60-296;
  * integration suite test_chunk_timeserie_sync.py:79-261): full
  * client↔server lifecycle over a REAL ephemeral server — seed → pull →
  * update → pull, tombstone propagation, partial-filter pull, multi-page
  * paging with next/previous links — plus the failure modes protocol code
  * hides: crash-resume mid-pull (kill after N requests, re-pull, assert
  * client ≡ server), the ADVICE r14 tombstone-before-live resume hole
  * (page-atomic import means a died-mid-page pull skips nothing), the 429
  * retry schedule via the injectable sleepFn (Retry-After honored then
  * expo backoff, non-integer Retry-After raises, max-tries gives up), and
  * wire tolerance (tz-suffixed timestamps, missing `results`, limit=0
  * rejected).
  */
class SyncHttpSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper()

  private val keySchema = StructType(Seq(
    StructField("version", IntegerType), StructField("kind", StringType)))

  private def newStore(): ChunkStore =
    new ChunkStore(spark, tmpDir("synchttp"), keySchema,
      StoreConfig(freq = "1h", tz = "UTC", syncEnabled = true))

  private def hourly(start: String, hours: Int, f: Int => Option[Double]): DataFrame = {
    val t0 = java.time.LocalDateTime.parse(start)
    (0 until hours).map(i => (t0.plusHours(i), f(i))).toDF("ts", "value")
  }

  private val now0 = ldt("2024-06-01T00:00")

  /** Full comparable state: every stored row incl. tombstones and the
    * updated_at the import must mirror from the server.
    */
  private def stateOf(st: ChunkStore): Seq[String] =
    st.load()
      .select(col("version"), col("kind"), col("chunk_index"), col("ts"),
        col("value"), col("is_deleted"), col("updated_at"))
      .collect()
      .map(_.toString).sorted.toSeq

  /** Ephemeral server with wrappable handlers — the fault-injection seam
    * the protocol code exposes (updatesHandler/packHandler are
    * private[graft] precisely for this).
    */
  private def serveWrapped(store: ChunkStore)(
      wrapUpdates: HttpHandler => HttpHandler = identity,
      wrapPack: HttpHandler => HttpHandler = identity): (HttpServer, String) = {
    val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/ts/updates/", wrapUpdates(SyncHttp.updatesHandler(store)))
    http.createContext("/ts/pack/", wrapPack(SyncHttp.packHandler(store)))
    http.start()
    (http, s"http://127.0.0.1:${http.getAddress.getPort}/ts")
  }

  private def respondRaw(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def rawGet(url: String): (Int, String) = {
    val http = java.net.http.HttpClient.newHttpClient()
    val resp = http.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  // ------------------------------------------------------------------
  // lifecycle
  // ------------------------------------------------------------------

  test("lifecycle: seed -> pull -> update -> pull; client mirrors server incl. updated_at") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-30T00:00", 24 * 3, i => if (i % 7 == 3) None else Some(i.toDouble)),
      update = true, now = now0)
    server.setTs(Map("version" -> 1, "kind" -> "b"),
      hourly("2024-02-10T00:00", 48, i => Some(i * 0.5)), update = true, now = now0.plusHours(1))

    val srv = SyncHttp.serve(server)
    try {
      val cli = new SyncHttpClient(srv.endpoint, client)
      val (fetched1, deleted1) = cli.pull()
      assert(fetched1 > 0 && deleted1 === 0)
      assert(stateOf(client) === stateOf(server))

      // delta: one new series at a later clock; the >= boundary re-fetches
      // at most the chunks sharing the high-water updated_at
      server.setTs(Map("version" -> 2, "kind" -> "c"),
        hourly("2024-03-01T00:00", 12, i => Some(-i.toDouble)), update = true,
        now = now0.plusHours(2))
      val full = server.load()
        .select("version", "kind", "chunk_index").distinct().count()
      val (fetched2, _) = cli.pull()
      assert(fetched2 < full, s"second pull must be incremental (got $fetched2 of $full chunks)")
      assert(stateOf(client) === stateOf(server))
    } finally srv.stop()
  }

  test("tombstone propagation: replace on server vacates chunks; pull mirrors the tombstones") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 24, i => Some(1.0)), update = true, now = now0)       // Jan
    val srv = SyncHttp.serve(server)
    try {
      val cli = new SyncHttpClient(srv.endpoint, client)
      cli.pull()
      assert(stateOf(client) === stateOf(server))
      // replace moves the series to Feb → Jan chunk becomes a tombstone
      server.setTs(Map("version" -> 0, "kind" -> "a"),
        hourly("2024-02-01T00:00", 24, i => Some(2.0)), replace = true,
        now = now0.plusHours(1))
      val (_, deleted) = cli.pull()
      assert(deleted === 1, "the vacated Jan chunk must arrive as a tombstone")
      assert(stateOf(client) === stateOf(server))
      val tomb = client.load().filter(col("is_deleted")).collect()
      assert(tomb.length === 1 && tomb(0).getAs[Int]("chunk_index") === 2024 * 12)
    } finally srv.stop()
  }

  test("partial-filter pull fetches only the filtered subset") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 24, i => Some(1.0)), update = true, now = now0)
    server.setTs(Map("version" -> 1, "kind" -> "b"),
      hourly("2024-01-01T00:00", 24, i => Some(2.0)), update = true, now = now0)
    val srv = SyncHttp.serve(server)
    try {
      val cli = new SyncHttpClient(srv.endpoint, client)
      cli.pull(filters = Map("version" -> 0))
      val got = client.load().select("version").distinct().collect().map(_.getInt(0)).toSeq
      assert(got === Seq(0), s"only version=0 may arrive (got $got)")
    } finally srv.stop()
  }

  // ------------------------------------------------------------------
  // paging
  // ------------------------------------------------------------------

  test("multi-page pull: small pageSize pages through next links; state converges") {
    val server = newStore()
    val client = newStore()
    // six chunks at six distinct updated_at values → deterministic order
    (0 until 6).foreach { i =>
      server.setTs(Map("version" -> i, "kind" -> "k"),
        hourly("2024-01-01T00:00", 4, h => Some(i * 10.0 + h)), update = true,
        now = now0.plusHours(i))
    }
    val srv = SyncHttp.serve(server)
    try {
      val cli = new SyncHttpClient(srv.endpoint, client)
      val (fetched, _) = cli.pull(pageSize = 2, batch = 1)
      assert(fetched === 6)
      assert(stateOf(client) === stateOf(server))
    } finally srv.stop()
  }

  test("updates page carries DRF-shaped count/next/previous links") {
    val server = newStore()
    (0 until 5).foreach { i =>
      server.setTs(Map("version" -> i, "kind" -> "k"),
        hourly("2024-01-01T00:00", 2, h => Some(h.toDouble)), update = true,
        now = now0.plusHours(i))
    }
    val srv = SyncHttp.serve(server)
    try {
      val since = java.net.URLEncoder.encode("2000-01-01T00:00:00.000000", "UTF-8")
      val (code, body) = rawGet(s"${srv.endpoint}/updates/?since=$since&limit=2&offset=2")
      assert(code === 200)
      val page = mapper.readTree(body)
      assert(page.get("count").asLong === 5)
      assert(page.get("next").asText.contains("offset=4"))
      assert(page.get("previous").asText.contains("offset=0"))
      assert(page.get("results").size === 2)
      val item = page.get("results").get(0)
      assert(item.has("attrs") && item.has("chunk_index") && item.has("dtype")
        && item.has("start_ts") && item.has("updated_at") && item.has("is_deleted"))
      // middle page, deterministic (updated_at, keys, chunk_index) order
      assert(item.get("attrs").get("version").asInt === 2)
    } finally srv.stop()
  }

  test("server rejects limit <= 0 (a limit=0 next link would loop forever)") {
    val server = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 2, h => Some(1.0)), update = true, now = now0)
    val srv = SyncHttp.serve(server)
    try {
      val since = java.net.URLEncoder.encode("2000-01-01T00:00:00.000000", "UTF-8")
      val (code, body) = rawGet(s"${srv.endpoint}/updates/?since=$since&limit=0")
      assert(code === 400 && body.contains("limit"))
    } finally srv.stop()
  }

  test("client treats a missing results key as an empty page") {
    val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/ts/updates/", (ex: HttpExchange) =>
      respondRaw(ex, 200, """{"count":0,"next":null,"previous":null}"""))
    http.start()
    try {
      val client = newStore()
      val cli = new SyncHttpClient(s"http://127.0.0.1:${http.getAddress.getPort}/ts", client)
      assert(cli.pull() === ((0L, 0L)))
    } finally http.stop(0)
  }

  test("client tolerates tz-suffixed updated_at on tombstone items (DRF serializes aware datetimes)") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 2, h => Some(1.0)), update = true, now = now0)
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-02-01T00:00", 2, h => Some(2.0)), replace = true, now = now0.plusHours(1))
    // proxy that rewrites updated_at to carry a trailing Z, like a DRF server
    val (inner, innerBase) = serveWrapped(server)()
    val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def proxy(path: String): HttpHandler = (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val httpc = java.net.http.HttpClient.newHttpClient()
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$innerBase/$path/$q"))
      val req = (if (body.nonEmpty)
        b.method("GET", java.net.http.HttpRequest.BodyPublishers.ofString(body))
      else b.GET()).build()
      val resp = httpc.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      val rewritten = resp.body.replaceAll(
        """("updated_at":"[0-9T:.\-]+)"""", "$1Z\"")
      respondRaw(ex, resp.statusCode, rewritten)
    }
    http.createContext("/ts/updates/", proxy("updates"))
    http.createContext("/ts/pack/", proxy("pack"))
    http.start()
    try {
      val cli = new SyncHttpClient(s"http://127.0.0.1:${http.getAddress.getPort}/ts", client)
      val (_, deleted) = cli.pull()
      assert(deleted === 1)
      assert(stateOf(client) === stateOf(server))
    } finally { http.stop(0); inner.stop(0) }
  }

  // ------------------------------------------------------------------
  // crash-resume (reference test_chunk_timeserie_sync.py:223-261)
  // ------------------------------------------------------------------

  test("crash-resume: die on page 2 of 3, re-pull, client converges with no skipped updates") {
    val server = newStore()
    val client = newStore()
    (0 until 6).foreach { i =>
      server.setTs(Map("version" -> i, "kind" -> "k"),
        hourly("2024-01-01T00:00", 4, h => Some(i * 10.0 + h)), update = true,
        now = now0.plusHours(i))
    }
    val pageReqs = new AtomicInteger(0)
    val (http, base) = serveWrapped(server)(wrapUpdates = inner => (ex: HttpExchange) => {
      if (pageReqs.incrementAndGet() == 2) respondRaw(ex, 500, """{"error":"injected crash"}""")
      else inner.handle(ex)
    })
    try {
      val cli = new SyncHttpClient(base, client)
      val ex1 = intercept[java.io.IOException] { cli.pull(pageSize = 2, batch = 1) }
      assert(ex1.getMessage.contains("HTTP 500"))
      // page 1 landed atomically; nothing after it did
      assert(client.load().select("version").distinct().count() === 2)

      val (fetched, _) = cli.pull(pageSize = 2, batch = 1) // healthy now (counter moved past 2)
      // >= since re-fetches at most the boundary chunk (version=1 at its
      // updated_at) plus the four never-imported ones
      assert(fetched === 5, s"resume must re-fetch boundary + remaining only (got $fetched)")
      assert(stateOf(client) === stateOf(server))
    } finally http.stop(0)
  }

  test("crash between tombstone and live import cannot skip live updates (page-atomic import)") {
    val server = newStore()
    val client = newStore()
    // live update at u1, tombstone at u2 > u1, SAME page: the reference
    // client imports the tombstone first — dying before the live /pack/
    // fetch advances since past u1 and skips the live row forever
    server.setTs(Map("version" -> 0, "kind" -> "live"),
      hourly("2024-01-01T00:00", 3, h => Some(h.toDouble)), update = true, now = now0)
    server.setTs(Map("version" -> 1, "kind" -> "dead"),
      hourly("2024-01-01T00:00", 3, h => Some(9.0)), update = true, now = now0)
    val cli0 = {
      val (h0, b0) = serveWrapped(server)()
      try { new SyncHttpClient(b0, client).pull() } finally h0.stop(0)
    }
    // now: tombstone "dead" at now0+2h, and a NEW live chunk at now0+1h —
    // both in the next pull's single page, tombstone carrying max updated_at
    server.setTs(Map("version" -> 0, "kind" -> "live"),
      hourly("2024-03-01T00:00", 3, h => Some(100.0 + h)), update = true, now = now0.plusHours(1))
    server.delete(Map("version" -> 1, "kind" -> "dead"), now = now0.plusHours(2))

    val (httpFail, baseFail) = serveWrapped(server)(wrapPack = _ => (ex: HttpExchange) =>
      respondRaw(ex, 500, """{"error":"injected pack crash"}"""))
    try {
      val cli = new SyncHttpClient(baseFail, client)
      intercept[java.io.IOException] { cli.pull() }
    } finally httpFail.stop(0)
    // the failed page imported NOTHING — the high-water mark did not move,
    // so a healthy re-pull still sees the live update
    val (httpOk, baseOk) = serveWrapped(server)()
    try {
      new SyncHttpClient(baseOk, client).pull()
      assert(stateOf(client) === stateOf(server))
      val march = client.load().filter(col("kind") === "live" && col("value") >= 100.0).count()
      assert(march === 3, "the live update sharing the page with the tombstone must not be skipped")
    } finally httpOk.stop(0)
  }

  // ------------------------------------------------------------------
  // retry discipline (reference _get, ts_sync.py:264-296)
  // ------------------------------------------------------------------

  test("429 with Retry-After: honored sleep then expo backoff, then success") {
    val server = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 2, h => Some(1.0)), update = true, now = now0)
    val n = new AtomicInteger(0)
    val (http, base) = serveWrapped(server)(wrapUpdates = inner => (ex: HttpExchange) => {
      if (n.incrementAndGet() <= 2)
        respondRaw(ex, 429, "{}", Map("Retry-After" -> "3"))
      else inner.handle(ex)
    })
    try {
      val client = newStore()
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val cli = new SyncHttpClient(base, client, sleepFn = sleeps.append(_))
      val (fetched, _) = cli.pull()
      assert(fetched === 1)
      // per 429: Retry-After seconds first, then expo 1s, 2s, 4s, ...
      assert(sleeps.toSeq === Seq(3000L, 1000L, 3000L, 2000L))
    } finally http.stop(0)
  }

  test("non-integer Retry-After raises (reference: int(...) in the predicate)") {
    val server = newStore()
    val (http, base) = serveWrapped(server)(wrapUpdates = _ => (ex: HttpExchange) =>
      respondRaw(ex, 429, "{}", Map("Retry-After" -> "soon")))
    try {
      val cli = new SyncHttpClient(base, newStore(), sleepFn = _ => ())
      intercept[NumberFormatException] { cli.pull() }
    } finally http.stop(0)
  }

  test("persistent 429 gives up after retryMaxTries") {
    val server = newStore()
    val (http, base) = serveWrapped(server)(wrapUpdates = _ => (ex: HttpExchange) =>
      respondRaw(ex, 429, "{}"))
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val cli = new SyncHttpClient(base, newStore(), retryMaxTries = 2, sleepFn = sleeps.append(_))
      val ex1 = intercept[java.io.IOException] { cli.pull() }
      assert(ex1.getMessage.contains("giving up after 2 tries"))
      assert(sleeps.toSeq === Seq(1000L)) // one expo sleep before the final try
    } finally http.stop(0)
  }

  test("non-429 errors raise immediately (raise_for_status semantics)") {
    val server = newStore()
    val (http, base) = serveWrapped(server)(wrapUpdates = _ => (ex: HttpExchange) =>
      respondRaw(ex, 503, """{"error":"down"}"""))
    try {
      val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
      val cli = new SyncHttpClient(base, newStore(), sleepFn = sleeps.append(_))
      val ex1 = intercept[java.io.IOException] { cli.pull() }
      assert(ex1.getMessage.contains("HTTP 503") && sleeps.isEmpty)
    } finally http.stop(0)
  }

  // ------------------------------------------------------------------
  // spec validation, job budget, derived count
  // ------------------------------------------------------------------

  test("a tombstone item with a null or missing chunk_index rejects the page before any write") {
    val server = newStore()
    val client = newStore()
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-01-01T00:00", 24, _ => Some(1.0)), update = true, now = now0)
    server.setTs(Map("version" -> 1, "kind" -> "b"),
      hourly("2024-01-01T00:00", 24, _ => Some(2.0)), update = true, now = now0)
    val (h0, b0) = serveWrapped(server)()
    try new SyncHttpClient(b0, client).pull() finally h0.stop(0)
    // next page: one tombstone (Jan of "a" vacated) and one live chunk
    server.setTs(Map("version" -> 0, "kind" -> "a"),
      hourly("2024-02-01T00:00", 24, _ => Some(3.0)), replace = true, now = now0.plusHours(1))
    val before = stateOf(client)
    val (healthy, healthyBase) = serveWrapped(server)()
    try {
      for (corrupt <- Seq[ObjectNode => Unit](_.putNull("chunk_index"), _.remove("chunk_index"))) {
        val (http, base) = serveWrapped(server)(wrapUpdates = _ => (ex: HttpExchange) => {
          val page = mapper.readTree(
            rawGet(s"$healthyBase/updates/?${ex.getRequestURI.getRawQuery}")._2)
          page.get("results").forEach(item =>
            if (item.get("is_deleted").asBoolean) corrupt(item.asInstanceOf[ObjectNode]))
          respondRaw(ex, 200, mapper.writeValueAsString(page))
        })
        try {
          val e = intercept[IllegalArgumentException](new SyncHttpClient(base, client).pull())
          assert(e.getMessage.contains("chunk_index missing"))
          assert(stateOf(client) === before)
        } finally http.stop(0)
      }
      new SyncHttpClient(healthyBase, client).pull()
      assert(stateOf(client) === stateOf(server))
    } finally healthy.stop(0)
  }

  test("a one-page pull costs at most 9 Spark jobs, client and server handlers together") {
    val server = newStore()
    val client = newStore()
    (0 until 4).foreach { i =>
      server.setTs(Map("version" -> i, "kind" -> "k"),
        hourly("2024-01-30T00:00", 24 * 3, h => if (h % 5 == 2) None else Some(i + h * 0.5)),
        update = true, now = now0)
    }
    val srv = SyncHttp.serve(server)
    try {
      val cli = new SyncHttpClient(srv.endpoint, client)
      val boot = jobsDuring(assert(cli.pull() === ((8L, 0L))))
      assert(boot <= 9, s"bootstrap pull ran $boot jobs")
      // a day: one chunk corrected, one series replaced (a tombstone)
      server.setTs(Map("version" -> 0, "kind" -> "k"),
        hourly("2024-02-01T00:00", 2, _ => Some(7.0)), update = true, now = now0.plusHours(1))
      server.setTs(Map("version" -> 1, "kind" -> "k"),
        hourly("2024-02-01T00:00", 2, _ => Some(8.0)), replace = true, now = now0.plusHours(1))
      val day = jobsDuring(cli.pull())
      assert(day <= 9, s"daily pull ran $day jobs")
      info(s"jobs: bootstrap $boot, day $day")
      assert(stateOf(client) === stateOf(server))
    } finally srv.stop()
  }

  test("/updates/ count, next and previous match the count()-based page on every edge") {
    val server = newStore()
    WireFixture.write(server, now0)
    val total = Sync.updates(server, ldt("2000-01-01T00:00")).count()
    val srv = SyncHttp.serve(server)
    try {
      val since = java.net.URLEncoder.encode("2000-01-01T00:00:00.000000", "UTF-8")
      // short single page, short last page, full pages (exact multiple of
      // limit), offset at and past the end
      for (((limit, offset), golden) <- WireFixture.updates) {
        val (code, body) = rawGet(s"${srv.endpoint}/updates/?since=$since&limit=$limit&offset=$offset")
        assert(code === 200)
        assert(body === golden, s"limit=$limit offset=$offset")
        val page = mapper.readTree(body)
        assert(page.get("count").asLong === total)
        val next = Option(page.get("next")).filterNot(_.isNull).map(_.asText)
        val prev = Option(page.get("previous")).filterNot(_.isNull).map(_.asText)
        assert(next.isDefined === (offset + limit < total), s"next at $limit/$offset")
        next.foreach(n => assert(n.endsWith(s"limit=$limit&offset=${offset + limit}")))
        assert(prev.isDefined === (offset > 0), s"previous at $limit/$offset")
        prev.foreach(p => assert(p.endsWith(s"limit=$limit&offset=${math.max(0, offset - limit)}")))
      }
    } finally srv.stop()
  }
}
