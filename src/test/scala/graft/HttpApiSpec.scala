package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.{AmbientService, HttpApi}

/** End-to-end HTTP tests: a real server on an ephemeral port, a real
  * client, asserting the reference's route surface, response shapes
  * (`app/models/responses.py`), count headers, and status-code mapping
  * (400/422/502/503 — `app/api/timeseries.py:33-38`). */
class HttpApiSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  override def afterAll(): Unit = { server.stop(0); api.close() }

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val service: AmbientService = {
    val bbRows = (0 until 7200 by 60).map { s =>
      ("ORCASOUND_LAB", 1, ts("2024-01-01 00:00:00").toLocalDateTime
        .plusSeconds(s.toLong), 100.0 + s / 100.0)
    }
    val bb = bbRows.map { case (h, dt, t, v) => (h, dt, Timestamp.valueOf(t), v) }
      .toDF("hydrophone", "delta_t", "ts", "value")
    val psd = bbRows.flatMap { case (h, dt, t, v) =>
      Seq((h, "octave_bands", 3, dt, Timestamp.valueOf(t), 63.0, v - 1),
          (h, "octave_bands", 3, dt, Timestamp.valueOf(t), 125.0, v + 1))
    }.toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
    AmbientService.fromFrames(bb, psd)
  }

  private lazy val logDir =
    java.nio.file.Files.createTempDirectory("graft-http-logs")
  private lazy val api = new HttpApi(service, logDir)
  private lazy val server = api.start(0)
  private lazy val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def get(pathAndQuery: String, at: String = base): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$at$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("/health returns ok") {
    val r = get("/health")
    assert(r.statusCode() == 200)
    assert(r.body() == """{"status":"ok"}""")
    assert(r.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
  }

  test("/options groups coverage by frequency type with lowercase slugs") {
    val r = get("/options")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""hydrophone":"orcasound_lab""""))
    assert(r.body().contains(""""broadband":[{"delta_t":1,"first_start":"2024-01-01T00:00:00""""))
    assert(r.body().contains(""""octave_bands":[{"delta_f":3,"delta_t":1,"""))
    assert(r.body().contains(""""delta_hz":[]"""))
  }

  test("/timeseries/broadband: envelope, points, count headers") {
    val r = get("/timeseries/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_t=1")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Point-Count").get() == "60")
    assert(r.headers().firstValue("X-Expected-Point-Count").get() == "3600")
    assert(r.body().contains(""""hydrophone":"orcasound_lab""""))
    assert(r.body().contains(""""start":"2024-01-01T00:00:00""""))
    assert(r.body().contains(
      """"points":[{"timestamp":"2024-01-01T00:00:00","value":100.0}"""))
  }

  test("/timeseries/psd: columns, row-major points, frequency header") {
    val r = get("/timeseries/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T00:03:00&delta_t=1&delta_f=3oct")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Frequency-Count").get() == "2")
    assert(r.body().contains(""""columns":["63.0","125.0"]"""))
    assert(r.body().contains(""""delta_f":"3oct""""))
    assert(r.body().contains(""""values":[99.0,101.0]"""))
  }

  test("/aggregations/broadband: resolved interval, purpose, header") {
    val r = get("/aggregations/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=1h")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Point-Count").get() == "2")
    assert(r.body().contains(""""interval":"1h""""))
    assert(r.body().contains("chronologically aggregated broadband series"))
  }

  test("/aggregations/psd: heatmap shape with time/frequency counts") {
    val r = get("/aggregations/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=1h&delta_f=3oct")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Time-Count").get() == "2")
    assert(r.headers().firstValue("X-Frequency-Count").get() == "2")
    assert(r.body().contains(""""frequencies":["63.0","125.0"]"""))
    assert(r.body().contains("time-frequency matrix"))
  }

  test("/aggregations/daily-summary: four series with lengths") {
    val r = get("/aggregations/daily-summary?hydrophone=orcasound_lab" +
      "&start_date=2024-01-01&num_days=1&interval=1h")
    assert(r.statusCode() == 200)
    val b = r.body()
    assert(b.contains(""""band_low":63"""))
    assert(b.contains(""""mean_length":2""")) // data spans 2h → two 1h buckets
    assert(b.contains(""""mean":[{"time_of_day":"00:00:00","value":"""))
    assert(b.contains(""""count":[{"time_of_day":"""))
  }

  test("/aggregations/daily-broadband-summary: one point per day") {
    val r = get("/aggregations/daily-broadband-summary?hydrophone=orcasound_lab" +
      "&start_date=2024-01-01&num_days=1")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""point_count":1"""))
    assert(r.body().contains(""""points":[{"date":"2024-01-01","value":"""))
  }

  test("status mapping: 400 validation, 422 parse, 404 route, 405 method") {
    // unknown combination → ValidationError → 400 with detail
    val bad = get("/timeseries/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_t=10&delta_f=500hz")
    assert(bad.statusCode() == 400)
    assert(bad.body().contains("detail"))
    // out-of-coverage window → 400 (ref test_get_timeseries :68-93)
    val oow = get("/timeseries/broadband?hydrophone=orcasound_lab" +
      "&start=2030-01-01T00:00:00&end=2030-01-02T00:00:00")
    assert(oow.statusCode() == 400)
    // unparseable datetime → 422 (FastAPI request validation)
    val parse = get("/timeseries/broadband?hydrophone=orcasound_lab" +
      "&start=not-a-date&end=2024-01-01T01:00:00")
    assert(parse.statusCode() == 422)
    // missing required param → 422
    val missing = get("/timeseries/broadband?hydrophone=orcasound_lab")
    assert(missing.statusCode() == 422)
    assert(get("/nope").statusCode() == 404)
    val post = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/health"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(post.statusCode() == 405)
  }

  test("malformed parameters never escape as 500s") {
    val bads = Seq(
      "/timeseries/broadband?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_t=ten",
      "/timeseries/broadband?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&validate=maybe",
      "/timeseries/psd?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_f=",
      "/timeseries/psd?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_f=12parsecs",
      "/timeseries/broadband?hydrophone=orcasound_lab&start=2024-01-02T00:00:00&end=2024-01-01T00:00:00", // end before start
      "/aggregations/broadband?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&interval=eleventy",
      "/aggregations/daily-summary?hydrophone=orcasound_lab&start_date=2024-13-40&num_days=1",
      "/aggregations/daily-summary?hydrophone=orcasound_lab&start_date=2024-01-01&num_days=-3",
      "/aggregations/daily-broadband-summary?hydrophone=orcasound_lab&start_date=2024-01-01&num_days=2147483648",
      "/timeseries/broadband?hydrophone=%00&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00")
    bads.foreach { p =>
      val code = get(p).statusCode()
      assert(code >= 400 && code < 500, s"$p -> $code")
    }
    // and the server is still healthy afterwards
    assert(get("/health").statusCode() == 200)
  }

  test("CORS preflight OPTIONS answers permissively, not 405") {
    val pre = client.send(
      HttpRequest.newBuilder(URI.create(s"$base/timeseries/broadband"))
        .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(pre.statusCode() == 200)
    assert(pre.headers().firstValue("Access-Control-Allow-Methods").get() == "*")
    assert(pre.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
  }

  test("concurrent mixed requests all succeed over the shared session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val paths = Seq(
      "/health",
      "/options",
      "/timeseries/broadband?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00",
      "/timeseries/psd?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T00:03:00&delta_f=3oct",
      "/aggregations/broadband?hydrophone=orcasound_lab&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=15m",
      "/aggregations/daily-broadband-summary?hydrophone=orcasound_lab&start_date=2024-01-01&num_days=1")
    // two wavefronts: cold (all compute concurrently) then warm (LRU hits)
    (0 until 2).foreach { _ =>
      val codes = Await.result(
        Future.sequence(paths.map(p => Future(get(p).statusCode()))), 120.seconds)
      assert(codes.forall(_ == 200), codes.zip(paths).toString)
    }
  }

  test("cache coherence under race: identical concurrent requests return " +
       "ONE body; a conf-mutating co-tenant can't bleed into request handling") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = TestSpark.spark
    val confKeys = Seq(
      "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.session.timeZone",
      "spark.sql.shuffle.partitions")
    val before = confKeys.map(k => k -> spark.conf.getOption(k))
    // co-resident workload following the documented recipe — Tables.events
    // mutates ITS session's confs, so it runs on newSession(); racing it
    // against the request storm pins that the recipe actually isolates:
    // responses stay coherent and the serving session's confs never move
    val mutator = Future {
      (0 until 3).foreach { _ =>
        graft.tables.Tables.events(spark.newSession(), TestSpark.Sf0001)
          .count(): Unit
      }
    }
    val path = "/aggregations/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=15m"
    val responses = Await.result(
      Future.sequence((0 until 16).map(_ => Future(get(path)))), 120.seconds)
    assert(responses.forall(_.statusCode() == 200))
    // C2/C3 memo under race: however the 16 threads interleave on a cold
    // cache, every caller must see the SAME payload — one coherent answer,
    // never a half-built cache entry or a conf-dependent variant
    assert(responses.map(_.body()).distinct.size == 1)
    Await.result(mutator, 120.seconds)
    val after = confKeys.map(k => k -> spark.conf.getOption(k))
    assert(after == before, s"session confs drifted: $before -> $after")
  }

  test("validate=false serves an empty window as success (SURVEY §7.5.7)") {
    val r = get("/timeseries/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T00:10:00&delta_t=10" +
      "&delta_f=500hz&validate=false")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""point_count":0"""))
  }

  test("aggregations honor validate=false like the timeseries paths (ref aggregations.py:80,113)") {
    // delta_t=10 broadband exists only as delta_t=1 in the fixture archive:
    // with validation this combination 400s; validate=false serves best-effort
    val checked = get("/aggregations/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=15m&delta_t=10")
    assert(checked.statusCode() == 400)
    val bb = get("/aggregations/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=15m&delta_t=10" +
      "&validate=false")
    assert(bb.statusCode() == 200, bb.body())
    val psd = get("/aggregations/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&interval=15m" +
      "&delta_f=500hz&delta_t=10&validate=false")
    assert(psd.statusCode() == 200, psd.body())
  }

  test("timing log file mirrors the reference's api-timing.log line (ref app/main.py:40-81)") {
    val r = get("/timeseries/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T01:00:00&delta_t=1")
    assert(r.statusCode() == 200)
    val logFile = logDir.resolve("api-timing.log")
    assert(java.nio.file.Files.exists(logFile))
    val lines = java.nio.file.Files.readAllLines(logFile)
    // `%(asctime)s %(levelname)s %(name)s GET <path> query=<q> -> <status>
    //  in <ms>ms size=<bytes> data=<X-header summary>`
    val pat = ("""\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} INFO ambient_sound_api """ +
      """GET /timeseries/broadband query=hydrophone=orcasound_lab\S* -> 200 """ +
      """in \d+\.\dms size=\d+ data=points=60 expected_points=3600""").r
    assert(lines.asScala.exists(l => pat.findFirstIn(l).isDefined),
      s"no matching line in:\n${lines.asScala.mkString("\n")}")
    // requests without count headers log data=-
    get("/health")
    val healthLines = java.nio.file.Files.readAllLines(logFile).asScala
    assert(healthLines.exists(_.matches(
      """.* INFO ambient_sound_api GET /health query=- -> 200 in \d+\.\dms size=\d+ data=-""")))
  }

  test("/openapi.json describes every route; /docs links it (ref FastAPI auto-docs)") {
    val r = get("/openapi.json")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get().startsWith("application/json"))
    // round-trip through a real JSON parser (Jackson ships with Spark)
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(r.body())
    assert(root.get("openapi").asText() == "3.1.0")
    val paths = root.get("paths")
    Seq("/health", "/options", "/timeseries/broadband", "/timeseries/psd",
        "/aggregations/broadband", "/aggregations/psd",
        "/aggregations/daily-summary", "/aggregations/daily-broadband-summary")
      .foreach(p => assert(paths.has(p), s"missing path $p"))
    // parameter parity spot-checks against the reference route declarations
    val psdParams = paths.get("/timeseries/psd").get("get").get("parameters")
    val names = (0 until psdParams.size()).map(psdParams.get(_).get("name").asText())
    assert(names == Seq("hydrophone", "start", "end", "delta_t", "delta_f", "validate"))
    val deltaT = psdParams.get(3)
    assert(!deltaT.get("required").asBoolean())
    assert(deltaT.get("schema").get("default").asInt() == 1)
    val ds = paths.get("/aggregations/daily-summary").get("get").get("parameters")
    val dsDefaults = (0 until ds.size()).map(ds.get(_)).map { p =>
      p.get("name").asText() -> Option(p.get("schema").get("default")).map(_.asText())
    }.toMap
    assert(dsDefaults("band_low").contains("63"))
    assert(dsDefaults("band_high").contains("8000"))
    assert(dsDefaults("interval").contains("auto"))
    val docs = get("/docs")
    assert(docs.statusCode() == 200)
    assert(docs.headers().firstValue("Content-Type").get().startsWith("text/html"))
    assert(docs.body().contains("/openapi.json"))
  }

  test("serving path vs contract path on an exact-halfway bucket: the " +
      "documented 1-ulp-of-round-6 divergence, pinned (PERF r12)") {
    // The contract queries compute round-6 means in exact integer space
    // (ResampleOps.microMeanHalfUp) for cross-engine bit-identity; the
    // serving path deliberately keeps general-precision avg with NO
    // rounding, mirroring the reference's pandas .resample().mean()
    // (get_aggregations.py serves raw float means). On a bucket whose
    // mean is an EXACTLY-halfway 7-decimal rational the two therefore
    // differ by up to one unit of the 6th decimal. This fixture makes
    // that bucket real and asserts both sides of the divergence.
    //
    // 1600 points in one 1h bucket: 1100 × 49.882 + 500 × 49.881 →
    // mean = 79810.7/1600 = 49.8816875 exactly (halfway at round-6).
    val vals = Seq.fill(1100)(49.882) ++ Seq.fill(500)(49.881)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      ("ORCASOUND_LAB", 1, ts("2024-03-01 00:00:00").toLocalDateTime
        .plusSeconds(2L * i), v)
    }
    val bb = rows.map { case (h, dt, t, v) => (h, dt, Timestamp.valueOf(t), v) }
      .toDF("hydrophone", "delta_t", "ts", "value")
    val psd1 = Seq(("ORCASOUND_LAB", "octave_bands", 3, 1,
        ts("2024-03-01 00:00:00"), 63.0, 1.0))
      .toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
    val svc = AmbientService.fromFrames(bb, psd1)
    val api2 = new HttpApi(svc,
      java.nio.file.Files.createTempDirectory("graft-http-halfway"))
    val srv2 = api2.start(0)
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv2.getAddress.getPort}/aggregations/broadband" +
          "?hydrophone=orcasound_lab&start=2024-03-01T00:00:00" +
          "&end=2024-03-01T01:00:00&interval=1h")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      val served = """"value":([-0-9.eE]+)""".r
        .findFirstMatchIn(r.body()).get.group(1).toDouble
      // serving edge preserves the general-precision avg bit-for-bit
      val plainAvg = bb.agg(org.apache.spark.sql.functions.avg("value"))
        .head().getDouble(0)
      assert(served == plainAvg,
        s"service no longer serves the unrounded avg: $served vs $plainAvg")
      // the contract path rounds the same bucket HALF_UP in integer space
      val contract = graft.ops.ResampleOps
        .resampleMeanMilli(bb, "ts", "value", "1h")
        .head().getDouble(1)
      assert(contract == 49.881688,
        s"exact-milli round-6 of the halfway mean drifted: $contract")
      // ...and the divergence is exactly the documented class: real,
      // bounded by one unit of the 6th decimal, nothing more
      assert(served != contract, "fixture no longer exercises the halfway case")
      assert(math.abs(served - contract) <= 5.1e-7,
        s"divergence exceeds 1 ulp-of-round-6: $served vs $contract")
    } finally { srv2.stop(0); api2.close() }
  }

  test("point-cap violation surfaces as 400, not truncation") {
    val r = get("/aggregations/broadband?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-01T02:00:00&interval=10s")
    // 2h / 10s = 720 ≤ 2000 → fine; force the cap with a longer window
    assert(r.statusCode() == 200)
    val capped = get("/aggregations/psd?hydrophone=orcasound_lab" +
      "&start=2024-01-01T00:00:00&end=2024-01-02T00:00:00&interval=10s&delta_f=3oct")
    assert(capped.statusCode() == 400)
    assert(capped.body().contains("cap"))
  }

  // ---- encode memo and handler pool --------------------------------------

  private def getBytes(pathAndQuery: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def xHeaders(r: HttpResponse[_]): Map[String, java.util.List[String]] =
    r.headers().map().asScala.toMap.filter(_._1.toLowerCase.startsWith("x-"))

  /** A service with no archive behind it: only the endpoints a test
    * overrides can answer. */
  private class StubService extends AmbientService(
    throw new IllegalStateException("no broadband"),
    throw new IllegalStateException("no psd"), Nil)

  /** Serve `svc` on its own ephemeral port; the body gets its base URL. */
  private def withStub(svc: AmbientService, threads: Int = 8)(body: String => Unit): Unit = {
    val stubApi = new HttpApi(svc, java.nio.file.Files.createTempDirectory("graft-http-stub"))
    val srv = stubApi.start(0, threads)
    try body(s"http://127.0.0.1:${srv.getAddress.getPort}")
    finally { srv.stop(0); stubApi.close() }
  }

  test("a repeated request gets byte-identical bytes, the same X-* headers " +
       "and one timing-log line each") {
    val q = "hydrophone=orcasound_lab&start=2024-01-01T00:30:00" +
      "&end=2024-01-01T01:30:00&interval=15m&delta_f=3oct"
    val first = getBytes(s"/aggregations/psd?$q")
    val second = getBytes(s"/aggregations/psd?$q")
    assert(first.statusCode() == 200 && second.statusCode() == 200)
    assert(java.util.Arrays.equals(first.body(), second.body()))
    assert(xHeaders(first).keySet.map(_.toLowerCase) ==
      Set("x-time-count", "x-frequency-count"))
    assert(xHeaders(second) == xHeaders(first))
    val lines = java.nio.file.Files.readAllLines(logDir.resolve("api-timing.log"))
      .asScala.filter(_.contains(s"GET /aggregations/psd query=$q -> 200 "))
    assert(lines.size == 2, lines.mkString("\n"))
    assert(lines.map(l => "size=(\\d+)".r.findFirstMatchIn(l).get.group(1)).toSet ==
      Set(first.body().length.toString))
  }

  test("the encode memo is keyed by response identity, not by URL") {
    // a fresh object per call for the same URL, as a swapped-in service
    // gives after new data lands: every answer reflects its own object
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val svc = new StubService {
      override def getDailyBroadband(hydrophone: String, startDate: java.time.LocalDate,
          numDays: Int, deltaT: Int) = graft.serve.Responses.DailyBroadbandResponse(
        "ORCASOUND_LAB", Seq(startDate.toString), Seq(calls.incrementAndGet().toDouble))
    }
    withStub(svc) { at =>
      val path = "/aggregations/daily-broadband-summary?hydrophone=orcasound_lab" +
        "&start_date=2024-01-01&num_days=1"
      val bodies = (1 to 3).map(_ => get(path, at).body())
      bodies.zipWithIndex.foreach { case (b, i) =>
        assert(b.contains(s""""points":[{"date":"2024-01-01","value":${i + 1}.0}]"""), b)
      }
    }
  }

  test("one response object is encoded once per echoed request text") {
    // the service hands back ONE object whatever the request, as an LRU
    // hit does; its values column counts how often the edge reads it
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val values = new scala.collection.immutable.AbstractSeq[Double] {
      def apply(i: Int): Double = 1.0
      def length: Int = 1
      def iterator: Iterator[Double] = { reads.incrementAndGet(); Iterator(1.0) }
    }
    val shared = graft.serve.Responses.DailyBroadbandResponse(
      "ORCASOUND_LAB", Seq("2024-01-01"), values)
    val svc = new StubService {
      override def getDailyBroadband(hydrophone: String, startDate: java.time.LocalDate,
          numDays: Int, deltaT: Int) = shared
    }
    withStub(svc) { at =>
      def day(d: String) = get("/aggregations/daily-broadband-summary" +
        s"?hydrophone=orcasound_lab&start_date=$d&num_days=1", at).body()
      val first = day("2024-01-01")
      assert(first.contains(""""value":1.0"""), first)
      val encodeReads = reads.get
      assert(encodeReads > 0)
      // same object, same echo: the stored bytes, not a re-encoding
      assert(day("2024-01-01") == first)
      assert(reads.get == encodeReads)
      // same object, another start_date: encoded again, echoing the request
      val other = day("2024-01-02")
      assert(other.contains(""""start_date":"2024-01-02""""), other)
      assert(reads.get > encodeReads)
    }
  }

  test("a repeated error answers with its own status and detail each time") {
    val cases = Seq(
      // service-side validation (unknown combination)
      "/timeseries/psd?hydrophone=orcasound_lab&start=2024-01-01T00:00:00" +
        "&end=2024-01-01T01:00:00&delta_t=10&delta_f=500hz" -> 400,
      // edge-side validation
      "/aggregations/daily-summary?hydrophone=orcasound_lab" +
        "&start_date=2024-01-01&num_days=0" -> 400,
      "/timeseries/broadband?hydrophone=orcasound_lab" +
        "&start=not-a-date&end=2024-01-01T01:00:00" -> 422)
    cases.foreach { case (path, code) =>
      val rs = (1 to 2).map(_ => get(path))
      assert(rs.map(_.statusCode()) == Seq(code, code), path)
      assert(rs.forall(_.body().startsWith("""{"detail":""")), path)
      assert(rs.map(_.body()).distinct.size == 1, path)
    }
  }

  test("start(port, threads) serves `threads` requests at once") {
    import scala.jdk.FutureConverters._
    import scala.concurrent.Await
    import scala.concurrent.duration._
    // each request holds its handler thread until all n have arrived, so
    // a pool smaller than n leaves the rest queued and the holders time out
    val n = 12
    val arrived = new java.util.concurrent.CountDownLatch(n)
    val svc = new StubService {
      override def getOptions(hydrophone: Option[String]) = {
        arrived.countDown()
        if (!arrived.await(10, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException(s"${arrived.getCount} of $n requests never arrived")
        graft.serve.Responses.OptionsResponse(Nil)
      }
    }
    withStub(svc, threads = n) { at =>
      val req = HttpRequest.newBuilder(URI.create(s"$at/options")).GET().build()
      val codes = (1 to n).map(_ =>
        client.sendAsync(req, HttpResponse.BodyHandlers.ofString()).asScala)
        .map(f => Await.result(f, 60.seconds).statusCode())
      assert(codes == Seq.fill(n)(200), codes)
    }
  }
}
