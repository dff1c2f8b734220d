package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.planner.Errors

/** Minimal JSON writer for the serving edge — standard library only (the
  * environment pins the dependency set; a JSON library would add nothing
  * but a version to manage). Emits RFC 8259 JSON; non-finite doubles render
  * as `null` (the reference's `json.dumps` emits bare `NaN`, which is not
  * valid JSON — this is the one deliberate divergence). */
private[serve] object Json {
  def str(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  /** Python-`str(float)` rendering: integral doubles keep one decimal and
    * negative zero keeps its sign. (Known divergence: magnitudes outside
    * [1e-4, 1e15) use Java's exponent syntax `6.3E-5`, not Python's
    * `6.3e-05` — no served band/frequency value lives there.) */
  def pyFloat(d: Double): String =
    if (d == 0.0) { if (1.0 / d < 0) "-0.0" else "0.0" }
    else if (d == math.rint(d) && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString
  def num(d: Double): String =
    if (java.lang.Double.isFinite(d)) pyFloat(d) else "null"
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = if (b) "true" else "false"
  def arr(items: Iterable[String]): String = items.mkString("[", ",", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def orNull(o: Option[String]): String = o.map(str).getOrElse("null")
}

/** The reference's HTTP surface — seven data endpoints plus `/health` —
  * over [[AmbientService]], on the JDK's built-in `HttpServer` (public
  * platform API; no added dependency).
  *
  * Route, parameter, response-shape, header, and status-code parity with
  * the FastAPI app:
  *  - routes: `/root/reference/app/main.py:14-18` and the `app/api` modules
  *  - response models: `app/models/responses.py:10-129` (snake_case JSON)
  *  - count headers: `X-Point-Count` / `X-Expected-Point-Count` /
  *    `X-Time-Count` / `X-Frequency-Count` (`app/api/timeseries.py:30-31`,
  *    `app/api/aggregations.py:96,125-126`)
  *  - error mapping (`app/api/timeseries.py:33-38`): validation → 400,
  *    options dependency → 503, lookup/aggregation/integrity → 502;
  *    unparseable query params → 422 (FastAPI request validation);
  *    bodies are `{"detail": msg}`
  *  - permissive CORS + a per-request timing log line (`app/main.py:20-81`).
  *
  * The Spark work happens inside AmbientService (bounded, cached, point-
  * capped); this layer only parses, dispatches, shapes, and serializes —
  * it holds no DataFrames and runs no Spark job. It encodes each 200
  * response object once: a service LRU hit returns the same object, so
  * the edge answers it with the stored bytes instead of re-encoding it
  * (see `encodeOnce`). Every request still calls the service.
  */
object HttpApi {
  private[serve] final case class ParamError(msg: String) extends RuntimeException(msg)

  /** A response body as sent, with the `X-*` count headers that go with it. */
  private final case class Encoded(body: Array[Byte], headers: Seq[(String, String)])

  /** Encode-memo key: the service's response object by IDENTITY, plus the
    * request text the body echoes that the service's own key does not pin
    * (the raw `start_date`, say). A recomputed or swapped-in response is a
    * new object and misses, so stored bytes are never stale. The object is
    * held weakly: the memo never keeps alive a response the service's LRU
    * has dropped, and such an entry simply ages out. */
  private final class EncodeKey(resp: AnyRef, private val echo: Any) {
    private val ref = new java.lang.ref.WeakReference(resp)
    private val hash = System.identityHashCode(resp) * 31 + echo.##
    override def hashCode(): Int = hash
    override def equals(o: Any): Boolean = o match {
      case k: EncodeKey =>
        val r = ref.get
        r != null && (r eq k.ref.get) && echo == k.echo
      case _ => false
    }
  }

  /** One memo entry per response object the service's LRUs hold at once. */
  private val EncodedEntries =
    AmbientService.OptionsCacheSize + AmbientService.AggCacheSize +
      AmbientService.TsCacheSize
}

/** @param logDir directory for the timing log (ref writes
  *   `logs/api-timing.log` relative to the process cwd via a
  *   `logging.FileHandler`, `app/main.py:40-45`); created on first start. */
final class HttpApi(
    service: AmbientService,
    logDir: java.nio.file.Path = java.nio.file.Paths.get("logs"),
    /** When set, each request's Spark jobs run in a FAIR scheduler pool
      * named for its request CLASS (`heatmap`/`daily`/`raw`/`meta`) — the
      * concurrent-serving guard: one 30 d heatmap monopolizing the
      * cluster would otherwise starve the dashboard's raw-timeseries
      * polls behind it in the FIFO queue. Pools share the executors
      * fairly (equal weights; no allocation file needed), so a heavy
      * request slows its OWN class, not everyone. Requires the session
      * to be built with `spark.scheduler.mode=FAIR` (ServeMain and
      * Profile's serving modes do) — in FIFO mode the property is
      * ignored, so passing the session is always safe. */
    scheduler: Option[org.apache.spark.sql.SparkSession] = None) {

  // ---- lifecycle ---------------------------------------------------------

  /** Start on `port` (0 → ephemeral). Returns the live server; callers stop
    * it with `.stop(0)`. `threads` sizes the handler pool — raise it for
    * concurrent-serving experiments; excess connections queue in the
    * accept backlog either way. */
  def start(port: Int, threads: Int = 8): HttpServer = {
    // the reference opens logs/api-timing.log at init (mkdir + FileHandler,
    // app/main.py:40-45) — mirror that so tailers see the file pre-traffic
    logLock.synchronized { openTimingLog() }
    // TCP_NODELAY: without it the JDK server's header+body writes trip
    // Nagle against the client's delayed ACK and EVERY response stalls a
    // constant ~40 ms — measured flat p50=44 ms at every concurrency in
    // `Profile http_bench`, dropping an order of magnitude with this on.
    // ONE-SHOT semantics: sun.net.httpserver.ServerConfig reads the
    // property in its STATIC initializer, i.e. once per JVM at the first
    // HttpServer class use. Setting it here covers every process whose
    // first JDK http server is ours (ServeMain, tests, Profile); an
    // embedder that created some other HttpServer earlier has already
    // frozen the config and must pass -Dsun.net.httpserver.nodelay=true
    // on the command line instead — which is why the launcher docs say
    // so, and why this assignment sits before create() rather than
    // claiming to be sufficient on its own.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/", handler _)
    // small pool: Spark jobs serialize on the shared session anyway; the
    // cap bounds memory, excess connections queue in the accept backlog.
    // Daemon threads: HttpServer.stop() does not shut down a user-supplied
    // executor, and a non-daemon pool would pin the JVM forever.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(threads, r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }

  // ---- request plumbing --------------------------------------------------

  // FastAPI's request-validation failure (unparseable/missing params) —
  // top-level in the companion so the catch-side type test is exact
  import HttpApi.{Encoded, EncodeKey, EncodedEntries, ParamError}

  private val encoded = new AmbientService.LruCache[EncodeKey, Encoded](EncodedEntries)

  /** Encode `resp` once. A later request whose service call returns the
    * same object (an LRU hit) with the same `echo` gets the stored bytes;
    * two concurrent first encodings may both run, and they are identical. */
  private def encodeOnce(resp: AnyRef, echo: Any = ())(
      enc: => (String, Seq[(String, String)])): Encoded =
    encoded.memo(new EncodeKey(resp, echo)) {
      val (body, headers) = enc
      Encoded(body.getBytes(UTF_8), headers)
    }

  private def plain(body: String): Encoded = Encoded(body.getBytes(UTF_8), Nil)
  private def detail(msg: String): Encoded = plain(Json.obj("detail" -> Json.str(msg)))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.nonEmpty).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(dec(k) -> dec(v))
          case Array(k) => Some(dec(k) -> "")
          case _ => None
        }
      }.toMap

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, UTF_8)

  private def required(p: Map[String, String], name: String): String =
    p.getOrElse(name, throw ParamError(s"missing required query parameter '$name'"))

  private def parseInstant(name: String, raw: String): Instant =
    try Instant.parse(raw)
    catch { case _: Exception =>
      try LocalDateTime.parse(raw.replace(' ', 'T')).toInstant(ZoneOffset.UTC)
      catch { case _: Exception =>
        throw ParamError(s"invalid datetime for '$name': '$raw'") }
    }

  private def parseDate(name: String, raw: String): LocalDate =
    try LocalDate.parse(raw)
    catch { case _: Exception => throw ParamError(s"invalid date for '$name': '$raw'") }

  private def parseInt(name: String, raw: String): Int =
    try raw.toInt
    catch { case _: Exception => throw ParamError(s"invalid integer for '$name': '$raw'") }

  private def parseBool(name: String, raw: String): Boolean = raw.toLowerCase match {
    case "true" | "1" | "yes" | "on" => true
    case "false" | "0" | "no" | "off" => false
    case other => throw ParamError(s"invalid boolean for '$name': '$other'")
  }

  /** The reference serves lowercase hydrophone slugs. */
  private def lower(h: String): String = h.toLowerCase

  // ---- dispatch ----------------------------------------------------------

  /** Request class → FAIR pool name. Daily endpoints are split from the
    * other aggregations because their cost profile differs (maintained
    * rollup vs raw window scan) — each class competes only with itself. */
  private[serve] def poolFor(path: String): String =
    if (path.startsWith("/aggregations/daily")) "daily"
    else if (path.startsWith("/aggregations/")) "heatmap"
    else if (path.startsWith("/timeseries/")) "raw"
    else "meta"

  private def handler(ex: HttpExchange): Unit = {
    // spark.scheduler.pool is a thread-LOCAL property and handler threads
    // are pooled: set it for this request, clear after so a later request
    // of another class never inherits it
    scheduler.foreach(_.sparkContext.setLocalProperty(
      "spark.scheduler.pool", poolFor(ex.getRequestURI.getPath)))
    try handleRequest(ex)
    finally scheduler.foreach(
      _.sparkContext.setLocalProperty("spark.scheduler.pool", null))
  }

  private def handleRequest(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    var status = 200
    var contentType = "application/json"
    val Encoded(bytes, extraHeaders) =
      try {
        if (ex.getRequestMethod == "OPTIONS") {
          // CORS preflight: answer permissively like the reference's
          // CORSMiddleware (allow_methods=["*"], allow_headers=["*"])
          ex.getResponseHeaders.set("Access-Control-Allow-Methods", "*")
          ex.getResponseHeaders.set("Access-Control-Allow-Headers", "*")
          plain("{}")
        } else if (ex.getRequestMethod != "GET")
          { status = 405; detail("method not allowed") }
        else {
          val p = queryParams(ex)
          path match {
            case "/health" => plain(Json.obj("status" -> Json.str("ok")))
            case "/openapi.json" => plain(OpenApi.json)
            case "/docs" => contentType = "text/html; charset=utf-8"; plain(OpenApi.docsHtml)
            case "/options" => options(p)
            case "/timeseries/broadband" => broadbandTimeseries(p)
            case "/timeseries/psd" => psdTimeseries(p)
            case "/aggregations/broadband" => broadbandAggregation(p)
            case "/aggregations/psd" => psdHeatmap(p)
            case "/aggregations/daily-summary" => dailySummary(p)
            case "/aggregations/daily-broadband-summary" => dailyBroadband(p)
            case _ => status = 404; detail("Not Found")
          }
        }
      } catch {
        case e: ParamError => status = 422; detail(e.getMessage)
        case e: Errors.ValidationError => status = 400; detail(e.getMessage)
        case e: Errors.OptionsDependencyError => status = 503; detail(e.getMessage)
        case e: Errors.EngineError => // lookup / aggregation / integrity
          status = 502; detail(e.getMessage)
        case e: Exception =>
          status = 500; detail(
            s"internal error: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
      }
    val hs = ex.getResponseHeaders
    hs.set("Content-Type", contentType)
    hs.set("Access-Control-Allow-Origin", "*") // ref CORS middleware
    extraHeaders.foreach { case (k, v) => hs.set(k, v) }
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
    // timing middleware (ref app/main.py:48-81): skip /.well-known/, then
    // one line per request to stderr AND logs/api-timing.log, same format
    // as the reference's `%(asctime)s %(levelname)s %(name)s %(message)s`
    // with the X-header data summary.
    if (!path.startsWith("/.well-known/")) {
      val ms = (System.nanoTime() - t0) / 1e6
      val q = Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty).getOrElse("-")
      val eh = extraHeaders.toMap
      val data = Seq(
        eh.get("X-Point-Count").map(v => s"points=$v"),
        eh.get("X-Expected-Point-Count").map(v => s"expected_points=$v"),
        eh.get("X-Time-Count").map(v => s"time_count=$v"),
        eh.get("X-Frequency-Count").map(v => s"frequency_count=$v")
      ).flatten match { case Nil => "-"; case parts => parts.mkString(" ") }
      val method = ex.getRequestMethod
      logLine(
        f"$method $path query=$q -> $status in $ms%.1fms size=${bytes.length} data=$data")
    }
  }

  // ---- timing log ----------------------------------------------------------

  private val logTsFormat =
    // Python logging's default asctime: "2026-08-12 20:00:00,123" (local time)
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss,SSS")

  // One append-mode writer per instance, like the reference's FileHandler;
  // writes are line-buffered. Open/write/close all synchronize on logLock
  // and respect `closed`, so a handler still draining after stop() can't
  // re-open the file close() just released.
  private val logLock = new Object
  private var timingLog: java.io.PrintWriter = null // guarded by logLock
  private var closed = false                        // guarded by logLock

  private def openTimingLog(): Unit = // caller holds logLock
    if (timingLog == null && !closed) {
      java.nio.file.Files.createDirectories(logDir)
      timingLog = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(
        logDir.resolve("api-timing.log"), UTF_8,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND))
    }

  /** Release the timing-log file handle. Call after `server.stop(...)` —
    * HttpServer.stop does not know about this instance's resources.
    * Idempotent; later requests still log to stderr, never the file. */
  def close(): Unit = logLock.synchronized {
    closed = true
    if (timingLog != null) { timingLog.close(); timingLog = null }
  }

  private def logLine(msg: String): Unit = {
    val line = s"${logTsFormat.format(java.time.LocalDateTime.now())} INFO ambient_sound_api $msg"
    System.err.println(line)
    logLock.synchronized {
      openTimingLog()
      if (timingLog != null) { timingLog.println(line); timingLog.flush() }
    }
  }

  // ---- endpoint bodies ---------------------------------------------------
  // Each endpoint parses, calls the service, and hands the response object
  // to `encodeOnce` with whatever request text its body echoes beyond the
  // object's own fields.

  private def options(p: Map[String, String]): Encoded = {
    val r = service.getOptions(p.get("hydrophone").filter(_.nonEmpty))
    def timeRes(o: Responses.CoverageOption) = Json.obj(
      "delta_t" -> Json.num(o.deltaT.toLong),
      "first_start" -> Json.orNull(o.firstStart),
      "last_end" -> Json.orNull(o.lastEnd),
      "file_count" -> Json.num(o.fileCount))
    def freqBand(o: Responses.CoverageOption) = Json.obj(
      "delta_f" -> Json.num(o.deltaF.getOrElse(0).toLong),
      "delta_t" -> Json.num(o.deltaT.toLong),
      "first_start" -> Json.orNull(o.firstStart),
      "last_end" -> Json.orNull(o.lastEnd),
      "file_count" -> Json.num(o.fileCount))
    encodeOnce(r) {
      (Json.obj("hydrophones" -> Json.arr(r.hydrophones.map { h =>
        Json.obj(
          "hydrophone" -> Json.str(lower(h.hydrophone)),
          "broadband" -> Json.arr(
            h.options.filter(_.freqType == "broadband").map(timeRes)),
          "octave_bands" -> Json.arr(
            h.options.filter(_.freqType == "octave_bands").map(freqBand)),
          "delta_hz" -> Json.arr(
            h.options.filter(_.freqType == "delta_hz").map(freqBand)))
      })), Nil)
    }
  }

  private def broadbandTimeseries(p: Map[String, String]): Encoded = {
    val start = parseInstant("start", required(p, "start"))
    val end = parseInstant("end", required(p, "end"))
    val deltaT = p.get("delta_t").map(parseInt("delta_t", _)).getOrElse(1)
    val validate = p.get("validate").map(parseBool("validate", _)).getOrElse(true)
    val r = service.getBroadbandTimeseries(required(p, "hydrophone"), start, end,
      deltaT, validate)
    encodeOnce(r) {
      val body = Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "delta_t" -> Json.num(r.deltaT.toLong),
        "start" -> Json.str(r.startTime),
        "end" -> Json.str(r.endTime),
        "expected_point_count" -> Json.num(r.expectedPointCount),
        "point_count" -> Json.num(r.pointCount),
        "points" -> Json.arr(r.points.map(pt => Json.obj(
          "timestamp" -> Json.str(pt.timestamp),
          "value" -> Json.num(pt.value)))))
      (body, Seq(
        "X-Point-Count" -> r.pointCount.toString,
        "X-Expected-Point-Count" -> r.expectedPointCount.toString))
    }
  }

  private def psdTimeseries(p: Map[String, String]): Encoded = {
    val start = parseInstant("start", required(p, "start"))
    val end = parseInstant("end", required(p, "end"))
    val deltaT = p.get("delta_t").map(parseInt("delta_t", _)).getOrElse(1)
    val validate = p.get("validate").map(parseBool("validate", _)).getOrElse(true)
    val r = service.getPsdTimeseries(required(p, "hydrophone"), start, end,
      deltaT, required(p, "delta_f"), validate)
    val expected = graft.ops.TimeseriesOps.expectedPointCount(start, end, deltaT.toLong)
    encodeOnce(r, expected) {
      val body = Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "delta_t" -> Json.num(r.deltaT.toLong),
        "delta_f" -> Json.str(r.deltaF),
        "start" -> Json.str(r.startTime),
        "end" -> Json.str(r.endTime),
        "expected_point_count" -> Json.num(expected),
        "point_count" -> Json.num(r.times.length.toLong),
        "columns" -> Json.arr(r.frequencies.map(f => Json.str(Json.pyFloat(f)))),
        "points" -> Json.arr(r.times.zip(r.values).map { case (t, row) =>
          Json.obj("timestamp" -> Json.str(t),
            "values" -> Json.arr(row.map(Json.num)))
        }))
      (body, Seq(
        "X-Point-Count" -> r.times.length.toString,
        "X-Expected-Point-Count" -> expected.toString,
        "X-Frequency-Count" -> r.frequencies.length.toString))
    }
  }

  private def broadbandAggregation(p: Map[String, String]): Encoded = {
    val start = parseInstant("start", required(p, "start"))
    val end = parseInstant("end", required(p, "end"))
    val deltaT = p.get("delta_t").map(parseInt("delta_t", _)).getOrElse(1)
    val validate = p.get("validate").map(parseBool("validate", _)).getOrElse(true)
    val r = service.getBroadbandAggregation(required(p, "hydrophone"), start, end,
      required(p, "interval"), deltaT, validate)
    encodeOnce(r, (start, end)) {
      val body = Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "start" -> Json.str(AmbientService.isoT(start)),
        "end" -> Json.str(AmbientService.isoT(end)),
        "interval" -> Json.str(r.interval),
        "summary_purpose" -> Json.str(
          "This endpoint returns a chronologically aggregated broadband series for browser " +
          "plotting. It starts from true broadband timeseries data and groups it into the " +
          "requested time bucket."),
        "point_count" -> Json.num(r.pointCount),
        "points" -> Json.arr(r.points.map(pt => Json.obj(
          "timestamp" -> Json.str(pt.timestamp),
          "value" -> Json.num(pt.value)))))
      (body, Seq("X-Point-Count" -> r.pointCount.toString))
    }
  }

  private def psdHeatmap(p: Map[String, String]): Encoded = {
    val start = parseInstant("start", required(p, "start"))
    val end = parseInstant("end", required(p, "end"))
    val deltaT = p.get("delta_t").map(parseInt("delta_t", _)).getOrElse(1)
    val deltaF = required(p, "delta_f")
    val validate = p.get("validate").map(parseBool("validate", _)).getOrElse(true)
    val r = service.getPsdAggregation(required(p, "hydrophone"), start, end,
      required(p, "interval"), deltaF, deltaT, validate)
    encodeOnce(r, (start, end, deltaT, deltaF)) {
      val body = Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "start" -> Json.str(AmbientService.isoT(start)),
        "end" -> Json.str(AmbientService.isoT(end)),
        "delta_t" -> Json.num(deltaT.toLong),
        "delta_f" -> Json.str(deltaF.trim.toLowerCase),
        "interval" -> Json.str(r.interval),
        "summary_purpose" -> Json.str(
          "This endpoint returns a time-frequency matrix for browser plotting. " +
          "Each row is one aggregated time bucket, each column is one archived PSD band, " +
          "and each cell is the mean PSD value for that bucket."),
        "time_count" -> Json.num(r.times.length.toLong),
        "frequency_count" -> Json.num(r.frequencies.length.toLong),
        "times" -> Json.arr(r.times.map(Json.str)),
        "frequencies" -> Json.arr(r.frequencies.map(f => Json.str(Json.pyFloat(f)))),
        "values" -> Json.arr(r.values.map(row => Json.arr(row.map(Json.num)))))
      (body, Seq(
        "X-Time-Count" -> r.times.length.toString,
        "X-Frequency-Count" -> r.frequencies.length.toString))
    }
  }

  private def dailySummary(p: Map[String, String]): Encoded = {
    val numDays = parseInt("num_days", required(p, "num_days"))
    if (numDays <= 0) throw Errors.ValidationError("num_days must be greater than 0")
    val bandLow = p.get("band_low").map(parseInt("band_low", _)).getOrElse(63)
    val bandHigh = p.get("band_high").map(parseInt("band_high", _)).getOrElse(8000)
    val hydrophone = required(p, "hydrophone")
    val startDate = required(p, "start_date")
    val r = service.getDailySummary(hydrophone,
      parseDate("start_date", startDate), numDays,
      bandLow.toDouble, bandHigh.toDouble,
      p.getOrElse("interval", "auto"))
    // ref _series_to_points drops non-finite values per series
    def series(values: Seq[Double]): String =
      Json.arr(r.series.labels.zip(values)
        .filter { case (_, v) => java.lang.Double.isFinite(v) }
        .map { case (l, v) =>
          Json.obj("time_of_day" -> Json.str(l), "value" -> Json.num(v)) })
    def seriesLen(values: Seq[Double]): Long =
      values.count(java.lang.Double.isFinite).toLong
    encodeOnce(r, (startDate, numDays, bandLow, bandHigh)) {
      (Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "start_date" -> Json.str(startDate),
        "num_days" -> Json.num(numDays.toLong),
        "band_low" -> Json.num(bandLow.toLong),
        "band_high" -> Json.num(bandHigh.toLong),
        "interval" -> Json.str(r.interval),
        "description" -> Json.str(
          "This summary shows the typical daily sound pattern for a hydrophone within a " +
          "specified frequency range. The four series mean, min, max, and count are " +
          "aggregated by time-of-day bucket."),
        "mean_length" -> Json.num(seriesLen(r.series.mean)),
        "min_length" -> Json.num(seriesLen(r.series.min)),
        "max_length" -> Json.num(seriesLen(r.series.max)),
        "count_length" -> Json.num(seriesLen(r.series.count)),
        "mean" -> series(r.series.mean),
        "min" -> series(r.series.min),
        "max" -> series(r.series.max),
        "count" -> series(r.series.count)), Nil)
    }
  }

  private def dailyBroadband(p: Map[String, String]): Encoded = {
    val numDays = parseInt("num_days", required(p, "num_days"))
    if (numDays <= 0) throw Errors.ValidationError("num_days must be greater than 0")
    val hydrophone = required(p, "hydrophone")
    val startDate = required(p, "start_date")
    val r = service.getDailyBroadband(hydrophone,
      parseDate("start_date", startDate), numDays)
    encodeOnce(r, (startDate, numDays)) {
      val pts = r.days.zip(r.values).filter { case (_, v) => java.lang.Double.isFinite(v) }
      (Json.obj(
        "hydrophone" -> Json.str(lower(r.hydrophone)),
        "start_date" -> Json.str(startDate),
        "num_days" -> Json.num(numDays.toLong),
        "summary_purpose" -> Json.str(
          "This endpoint shows one true broadband average per day across the " +
          "requested date window. Unlike the PSD-band daily summary, it uses the " +
          "upstream broadband product rather than averaging selected PSD bands."),
        "point_count" -> Json.num(pts.length.toLong),
        "points" -> Json.arr(pts.map { case (d, v) =>
          Json.obj("date" -> Json.str(d), "value" -> Json.num(v)) })), Nil)
    }
  }
}
