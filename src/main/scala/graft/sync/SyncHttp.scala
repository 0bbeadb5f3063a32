package graft.sync

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.store.ChunkStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The HTTP hop of the sync protocol — SURVEY §2.1 S8's transport,
  * completing the reference's client/server pair (server ViewSet:
  * hostore/utils/ts_sync.py:60-165; client: ts_sync.py:168-296) over the
  * batch dataflow that already exists in [[Sync]]. Both halves are JDK-only
  * (`com.sun.net.httpserver` + `java.net.http`) — no framework, no new
  * dependency — because the wire format is the contract, not the stack:
  *
  *  - `GET {base}/updates/?since=ISO&limit=N&offset=M&<filters>` →
  *    DRF-style page `{"count": c, "next": url|null, "previous":
  *    url|null, "results": [{"attrs": {...}, "chunk_index", "dtype",
  *    "start_ts", "updated_at", "is_deleted"}]}` (limit/offset paging with
  *    `next` links, exactly what the reference's LimitOffsetPagination
  *    emits and its client follows).
  *  - `GET {base}/pack/` with a JSON spec body (the update items to
  *    fetch) → JSON array of `/pack/` envelopes — each element is
  *    byte-identical to [[Sync.packEnvelope]]'s `envelope_json` (blob =
  *    base64 lz4-frame, attrs, meta), the wire shape SyncPackSpec pins.
  *
  * The driver-side JSON in both halves is metadata-sized (one object per
  * chunk page, never payload rows — blobs ride inside envelope strings
  * built and parsed IN PLAN by Spark jobs), so serialization here is
  * Jackson on the driver over at most `pageSize` nodes per round-trip.
  * The same driver-side parse yields each request's chunk specs — a
  * `/pack/` body, the envelopes and tombstone items a client page
  * received — as `(keys..., chunk_index)` rows that enter the plan as
  * literal predicates ([[Sync.exportChunks]], [[Sync.importChunks]]), so
  * no job runs to learn which chunks a request touches; `/updates/`
  * takes its `count` from a short page instead of a second aggregation.
  */
object SyncHttp {
  private val mapper = new ObjectMapper()
  private[sync] val IsoMicros =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  private def iso(t: java.time.LocalDateTime): String = IsoMicros.format(t)
  private[sync] def parseTs(s: String): java.time.LocalDateTime = {
    // accept naive ISO (our own format) plus any offset spelling a
    // tolerant server/client might emit (Z, +00:00, +00, +0000, or a
    // genuine non-UTC offset — pandas isoformat and DRF all occur in the
    // wild). Offset-bearing values are converted to UTC wall time; the
    // store is NTZ-in-UTC, so that is lossless.
    try java.time.OffsetDateTime.parse(s)
      .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDateTime.parse(s.stripSuffix("Z"))
        catch {
          case _: java.time.format.DateTimeParseException =>
            try
              // bare '+00'/'+0000' suffixes OffsetDateTime's strict ISO
              // parser rejects
              java.time.LocalDateTime.parse(
                s.replaceFirst("(Z|[+-]00(:?00)?)$", ""))
            catch {
              case _: java.time.format.DateTimeParseException =>
                // last resort: non-colon GENUINE offset (strftime '%z'
                // emits +0200) — insert the colon and retry strict ISO
                java.time.OffsetDateTime.parse(
                    s.replaceFirst("([+-][0-9]{2})([0-9]{2})$", "$1:$2"))
                  .withOffsetSameInstant(java.time.ZoneOffset.UTC).toLocalDateTime
            }
        }
    }
  }

  /** String → business-key value of the column's type (query-param filters
    * and JSON attrs arrive untyped; the store schema is the contract).
    */
  private def typed(dt: DataType, v: String): Any = dt match {
    case IntegerType => v.toInt
    case LongType    => v.toLong
    case ShortType   => v.toShort
    case DoubleType  => v.toDouble
    case FloatType   => v.toFloat
    case BooleanType => v.toBoolean
    case _           => v
  }

  private def typedNode(dt: DataType, n: JsonNode): Any = dt match {
    case IntegerType => n.asInt
    case LongType    => n.asLong
    case ShortType   => n.asInt.toShort
    case DoubleType  => n.asDouble
    case FloatType   => n.asDouble.toFloat
    case BooleanType => n.asBoolean
    case _           => n.asText
  }

  /** One `(businessKeys..., chunk_index)` spec row from wire JSON: the
    * keys from `attrs`, the chunk index from `chunkIndex` (beside `attrs`
    * on an update item, inside it on an envelope). A null or missing
    * chunk_index rejects the whole batch, as import_chunks does
    * (reference tests/test_import_chunks.py:31-51).
    */
  private[sync] def specRow(keySchema: StructType, attrs: JsonNode, chunkIndex: JsonNode): Row = {
    if (chunkIndex == null || chunkIndex.isNull)
      throw new IllegalArgumentException("import_chunks: chunk_index missing — whole batch rejected")
    Row.fromSeq(keySchema.fields.toSeq.map(f => typedNode(f.dataType, attrs.get(f.name))) :+
      chunkIndex.asInt)
  }

  private def putAny(node: ObjectNode, k: String, v: Any): Unit = v match {
    case null       => node.putNull(k)
    case i: Int     => node.put(k, i)
    case l: Long    => node.put(k, l)
    case s: Short   => node.put(k, s.toInt)
    case d: Double  => node.put(k, d)
    case f: Float   => node.put(k, f.toDouble)
    case b: Boolean => node.put(k, b)
    case s: String  => node.put(k, s)
    case other      => node.put(k, other.toString)
  }

  // ------------------------------------------------------------------
  // server
  // ------------------------------------------------------------------

  final class Server private[SyncHttp] (private val http: HttpServer) {
    def port: Int = http.getAddress.getPort
    /** Client-ready endpoint root (the `{base}` of the two routes). */
    def endpoint: String = s"http://127.0.0.1:$port/ts"
    def stop(): Unit = http.stop(0)
  }

  /** Serve `store` on `127.0.0.1:port` (0 = ephemeral). Routes are rooted
    * at `/ts` (the reference registers its ViewSet under a router prefix
    * the same way).
    */
  def serve(store: ChunkStore, port: Int = 0): Server = {
    val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    http.createContext("/ts/updates/", updatesHandler(store))
    http.createContext("/ts/pack/", packHandler(store))
    http.start()
    new Server(http)
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
        if (i < 0) dec(kv) -> "" else dec(kv.take(i)) -> dec(kv.drop(i + 1))
      }.toMap

  /** `GET /updates/?since=ISO&limit=N&offset=M&<filters>` — the
    * reference's `updates` action (ts_sync.py:81-115): `since` + filters
    * run [[Sync.wireUpdates]]; limit/offset slice the deterministic
    * ordering; `next`/`previous` are relative URLs the client follows.
    * The page is collected first; a short page that is non-empty or
    * starts at offset 0 ends the listing, so `count` is `offset + page
    * size` without a second aggregation — only a full page or an offset
    * past the end runs `count()`.
    * Exposed (not just mounted) so tests can wrap it in fault-injecting
    * decorators — 429s, 500s, crash-after-N — without touching the
    * protocol code.
    */
  private[graft] def updatesHandler(store: ChunkStore): HttpHandler = (ex: HttpExchange) =>
    try {
      require(store.config.syncEnabled, "sync disabled on this store (ALLOW_CLIENT_SERVER_SYNC)")
      val params = queryParams(ex)
      val since = parseTs(params.getOrElse("since",
        throw new IllegalArgumentException("missing required query param: since")))
      val limit = params.get("limit").map(_.toInt).getOrElse(200)
      val offset = params.get("offset").map(_.toInt).getOrElse(0)
      // limit<=0 would emit a next link that repeats the same offset
      // forever (offset+0 < count for any non-empty listing) — a strict
      // next-following client would loop; reject up front.
      require(limit >= 1, s"limit must be >= 1 (got $limit)")
      require(offset >= 0, s"offset must be >= 0 (got $offset)")
      val filters: Map[String, Any] = params.view
        .filterKeys(k => !Set("since", "limit", "offset").contains(k))
        .map { case (k, v) => k -> typed(store.keySchema(k).dataType, v) }.toMap
      val listing = Sync.wireUpdates(store, since, filters)
      val page = listing.offset(offset).limit(limit).collect()
      val count =
        if (page.length < limit && (offset == 0 || page.nonEmpty)) offset.toLong + page.length
        else listing.count()

      val root = mapper.createObjectNode()
      root.put("count", count)
      def pageUrl(off: Int): String = {
        val f = filters.map { case (k, v) =>
          s"&${java.net.URLEncoder.encode(k, "UTF-8")}=${java.net.URLEncoder.encode(v.toString, "UTF-8")}"
        }.mkString
        s"/ts/updates/?since=${java.net.URLEncoder.encode(IsoMicros.format(since), "UTF-8")}&limit=$limit&offset=$off$f"
      }
      if (offset + limit < count) root.put("next", pageUrl(offset + limit)) else root.putNull("next")
      if (offset > 0) root.put("previous", pageUrl(math.max(0, offset - limit))) else root.putNull("previous")
      val results = root.putArray("results")
      page.foreach { r =>
        val item = results.addObject()
        val attrs = item.putObject("attrs")
        store.keys.foreach(k => putAny(attrs, k, r.getAs[Any](k)))
        item.put("chunk_index", r.getAs[Int]("chunk_index"))
        Option(r.getAs[String]("dtype")) match {
          case Some(d) => item.put("dtype", d); case None => item.putNull("dtype")
        }
        Option(r.getAs[java.time.LocalDateTime]("start_ts")) match {
          case Some(t) => item.put("start_ts", iso(t)); case None => item.putNull("start_ts")
        }
        item.put("updated_at", iso(r.getAs[java.time.LocalDateTime]("updated_at")))
        item.put("is_deleted", r.getAs[Boolean]("is_deleted"))
      }
      respond(ex, 200, mapper.writeValueAsString(root))
    } catch {
      case e: IllegalArgumentException => respond(ex, 400, errJson(e))
      case e: Throwable                => respond(ex, 500, errJson(e))
    }

  /** `GET /pack/` with a JSON spec body — the reference's `pack` action
    * (ts_sync.py:119-144): the body is the client's to-fetch update items
    * (attrs + chunk_index); the response is the JSON array of envelopes
    * [[Sync.packEnvelope]] builds. Method is not checked (the reference
    * client sends a GET with a JSON body, `requests.get(json=spec)`).
    */
  private[graft] def packHandler(store: ChunkStore): HttpHandler = (ex: HttpExchange) =>
    try {
      require(store.config.syncEnabled, "sync disabled on this store (ALLOW_CLIENT_SERVER_SYNC)")
      val body = new String(ex.getRequestBody.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      val spec = mapper.readTree(if (body.isEmpty) "[]" else body)
      require(spec.isArray, "pack spec must be a JSON array")
      val specs = (0 until spec.size).map(spec.get).map(item =>
        specRow(store.keySchema, item.get("attrs"), item.get("chunk_index")))
      val envelopes =
        if (specs.isEmpty) Array.empty[String]
        else Sync.packEnvelope(store, specs).select("envelope_json").collect().map(_.getString(0))
      respond(ex, 200, envelopes.mkString("[", ",", "]"))
    } catch {
      case e: Throwable => respond(ex, 500, errJson(e))
    }

  private def errJson(e: Throwable): String = {
    val n = mapper.createObjectNode()
    n.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
    mapper.writeValueAsString(n)
  }
}

/** The pull client (reference `TimeseriesChunkStoreSyncClient`,
  * ts_sync.py:168-296): page through `/updates/`, fetch the page's live
  * chunks from `/pack/` in `batch`-sized specs, then import the page's
  * tombstones AND live rows in ONE atomic [[Sync.importChunks]] (both
  * carry the SERVER's `updated_at`, so a re-pull does not re-fetch them)
  * whose specs are the tombstone items and the envelopes that arrived.
  * A null or missing chunk_index on either rejects the page before any
  * write.
  * Page-atomic import is what makes crash-resume exact, same as
  * [[Sync.pull]]: the local high-water mark (max `updated_at`) can never
  * advance past an un-imported item — a crash mid-page imports nothing of
  * that page, pages already imported persist, and the `>= since` boundary
  * re-fetches at most one listing row. (The reference client imports
  * tombstones before live batches within a page, which can skip live
  * updates if it dies between the two — we deliberately strengthen that.)
  *
  * Retry discipline mirrors `_get` (ts_sync.py:264-296): ONLY HTTP 429
  * retries — with the server's integer `Retry-After` honored first when
  * present (a non-integer value raises, as in the reference), then an
  * exponential backoff sleep (1s, 2s, 4s, ...) — bounded by
  * `retryMaxTries` attempts and `retryMaxTimeMs` total. Every other
  * non-2xx raises immediately (`raise_for_status` semantics), and
  * connection errors propagate. `sleepFn` is injectable so tests assert
  * the backoff schedule without wall-clock sleeps.
  */
final class SyncHttpClient(
    endpoint: String,
    store: ChunkStore,
    retryMaxTries: Int = 5,
    retryMaxTimeMs: Long = 300000L,
    sleepFn: Long => Unit = Thread.sleep) {
  require(store.config.syncEnabled,
    "sync requires ALLOW_CLIENT_SERVER_SYNC on the client store")

  private val base = endpoint.stripSuffix("/")
  private val mapper = new ObjectMapper()
  private val http = java.net.http.HttpClient.newHttpClient()

  /** Pull server updates into the local store; returns
    * `(totalFetched, totalDeleted)` like the reference client.
    */
  def pull(
      filters: Map[String, Any] = Map.empty,
      batch: Int = 50,
      pageSize: Int = 200): (Long, Long) = {
    require(batch >= 1 && pageSize >= 1, "batch and pageSize must be >= 1")
    val since = store.lastUpdatedAt(filters)
    val f = filters.map { case (k, v) =>
      s"&${java.net.URLEncoder.encode(k, "UTF-8")}=${java.net.URLEncoder.encode(v.toString, "UTF-8")}"
    }.mkString
    var url: Option[String] = Some(
      s"$base/updates/?since=${java.net.URLEncoder.encode(SyncHttp.IsoMicros.format(since), "UTF-8")}&limit=$pageSize$f")
    var totalFetch = 0L
    var totalDelete = 0L
    while (url.isDefined) {
      val page = mapper.readTree(get(url.get))
      // a missing/non-array `results` is an empty page, not a crash (the
      // reference client reads page.get("results", []))
      val results = Option(page.get("results")).filter(_.isArray).map(_.asInstanceOf[ArrayNode])
      val items = results.toSeq.flatMap(r => (0 until r.size).map(r.get))
      if (items.isEmpty) url = None
      else {
        val (toDelete, toFetch) = items.partition(_.get("is_deleted").asBoolean)
        // Fetch ALL of the page's live envelopes BEFORE importing anything,
        // then import tombstones + live rows as one atomic batch. Importing
        // tombstones first (as the reference does) lets a tombstone carrying
        // the page's max updated_at advance `lastUpdatedAt` past live items
        // whose /pack/ fetch never ran — a crash there would skip them
        // forever on the next pull.
        val tombSpecs = toDelete.map(item =>
          SyncHttp.specRow(store.keySchema, item.get("attrs"), item.get("chunk_index")))
        val envelopes = toFetch.grouped(batch).toSeq.flatMap { group =>
          val spec = mapper.createArrayNode()
          group.foreach(spec.add)
          val pack = mapper.readTree(get(s"$base/pack/", body = Some(mapper.writeValueAsString(spec))))
          (0 until pack.size).map(pack.get)
        }
        // the import's specs are the chunks that actually arrived — a
        // listed chunk the server did not pack keeps its local rows
        val liveSpecs = envelopes.map(e =>
          SyncHttp.specRow(store.keySchema, e.get("attrs"), e.get("attrs").get("chunk_index")))
        val live = Sync.unpackEnvelope(store,
          store.spark.createDataset(envelopes.map(mapper.writeValueAsString))(
            org.apache.spark.sql.Encoders.STRING).toDF("envelope_json"))
        Sync.importChunks(store, tombstoneRows(toDelete, tombSpecs).unionByName(live),
          tombSpecs ++ liveSpecs)
        totalFetch += toFetch.size
        totalDelete += toDelete.size
        url = Option(page.get("next")).filter(!_.isNull).map(n =>
          java.net.URI.create(base).resolve(n.asText).toString)
      }
    }
    (totalFetch, totalDelete)
  }

  /** Server tombstone items and their spec rows → full local tombstone
    * rows (null ts/value, server `updated_at`) for [[Sync.importChunks]] —
    * one import path for deletes and data, like [[Sync.pull]].
    */
  private def tombstoneRows(items: Seq[JsonNode], specs: Seq[Row]): DataFrame = {
    val rows = items.zip(specs).map { case (item, spec) =>
      Row.fromSeq(spec.toSeq ++ Seq(
        null, null, null, true,
        // parseTs, not bare parse: a reference (DRF) server serializes
        // aware datetimes with a trailing Z / +00:00 suffix
        SyncHttp.parseTs(item.get("updated_at").asText)))
    }
    store.spark.createDataFrame(java.util.Arrays.asList(rows: _*), store.schema)
  }

  /** One HTTP round-trip with the reference's retry discipline. */
  private[sync] def get(url: String, body: Option[String] = None): String = {
    val t0 = System.nanoTime()
    var tries = 0
    while (true) {
      tries += 1
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      val req = (body match {
        case Some(j) => b.method("GET", java.net.http.HttpRequest.BodyPublishers.ofString(j))
          .header("Content-Type", "application/json")
        case None => b.GET()
      }).build()
      val resp = http.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode == 429) {
        // honor an integer Retry-After first (non-integer raises, like the
        // reference — DRF only ever sends integers)
        val ra = resp.headers.firstValue("Retry-After")
        if (ra.isPresent) sleepFn(ra.get.trim.toInt * 1000L)
        val elapsedMs = (System.nanoTime() - t0) / 1000000L
        if (tries >= retryMaxTries || elapsedMs >= retryMaxTimeMs)
          throw new java.io.IOException(
            s"sync: giving up after $tries tries / ${elapsedMs}ms (HTTP 429 from $url)")
        sleepFn(1000L << math.min(tries - 1, 6)) // expo: 1s, 2s, 4s, ... cap 64s
      } else if (resp.statusCode >= 400) {
        throw new java.io.IOException(
          s"sync: HTTP ${resp.statusCode} from $url: ${resp.body.take(200)}")
      } else return resp.body
    }
    throw new IllegalStateException("unreachable")
  }
}
