package graft.serve

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.PartitionedArchive

/** The flagship serving head-to-head (r14 verdict #4): the engine's
  * endpoint latencies measured against the reference's PUBLISHED request
  * wall-clocks (BASELINE.md — `docs/upstream-notes.md:112-118`,
  * `docs/performance-enhancements.md:22-24` in the reference) on an
  * archive of the reference's own deployment shape.
  *
  * The north-star claim (`upstream-notes.md:122-127`): the reference's
  * cost is dominated by FULL-RESOLUTION MONTHLY READS before aggregation
  * — a 7 d and a 30 d PSD heatmap return nearly the same output size
  * (649 vs 687 buckets) yet differ ~3.6× in runtime, because every
  * request re-reads whole monthly parquet files. The Spark layout
  * eliminates that cost class by construction: directory partition
  * pruning (hydrophone/freq_type/delta_f/delta_t), parquet `ts`
  * row-group pushdown inside the ts-sorted files, and a parallel scan of
  * what remains. This driver demonstrates it END-TO-END — real HTTP
  * requests against [[HttpApi]] over a [[PartitionedArchive]] written at
  * the reference's data scale (22 months @ delta_t=1 ≈ 57.7 M broadband
  * rows and ~1.27 B PSD long rows — the reference's ~2.6 M rows/month at
  * 1 s resolution, BASELINE.md) — so the comparison is reference-shaped
  * on BOTH axes: same request set, same data extent. The reference's
  * numbers were measured against live S3 from a devcontainer and are
  * network-amplified; ours are local-disk — the honest read is "the
  * read-amplification class is gone", not a hardware-for-hardware race
  * (PERF.md carries that caveat next to the table).
  *
  * [[tools.Profile]] mode `serve_h2h` runs it at full scale;
  * HeadToHeadSpec pins the identical code path (build → serve → the same
  * request set) at toy scale, so the demo cannot rot.
  */
object HeadToHead {

  val Hydrophone = "ORCASOUND_LAB"

  /** ANSI third-octave nominal centers 63–8000 Hz — the band set behind
    * the reference's `delta_f=3oct` product and the daily-summary
    * default `band_low/band_high` of 63/8000 (22 bands). */
  val ThirdOctaveBands: Seq[Double] = Seq(
    63, 80, 100, 125, 160, 200, 250, 315, 400, 500, 630, 800,
    1000, 1250, 1600, 2000, 2500, 3150, 4000, 5000, 6300, 8000)
    .map(_.toDouble)

  /** Write the reference-shaped archive: `months` months from
    * `startDate`, one sample per `rateSec` seconds, one broadband row and
    * one PSD row per band per sample, through the [[PartitionedArchive]]
    * writers (zstd, TIMESTAMP_MICROS for row-group `ts` stats, ts-sorted
    * within files). Values are ambient-LOOKING but fully deterministic —
    * a diel sine + per-sample hash jitter + a per-band spectral tilt; no
    * `rand()`, so retried/speculative tasks write identical bytes. */
  def buildArchive(spark: SparkSession, root: String, startDate: LocalDate,
      months: Int, rateSec: Int, bands: Seq[Double] = ThirdOctaveBands,
      slicesPerMonth: Int = 16): Unit = {
    val startEpoch = startDate.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val endEpoch =
      startDate.plusMonths(months.toLong).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val n = (endEpoch - startEpoch) / rateSec
    val slices = math.max(32, months * slicesPerMonth)
    val base = spark.range(0L, n, 1L, slices)
      .select(lit(Hydrophone).as("hydrophone"),
        timestamp_seconds(lit(startEpoch) + col("id") * rateSec).as("ts"),
        col("id"))
    def level(seed: Column): Column =
      lit(35.0) +
        lit(6.0) * sin(col("id") * lit(2 * math.Pi * rateSec / 86400.0)) +
        pmod(seed * lit(2654435761L), lit(1000)).cast("double") / lit(100.0)
    PartitionedArchive.writeBroadband(
      base.select(col("hydrophone"), lit(rateSec).as("delta_t"), col("ts"),
        level(col("id")).as("value")), root)
    val psd = base
      .withColumn("band", explode(array(bands.map(lit(_)): _*)))
      .select(col("hydrophone"), lit("octave_bands").as("freq_type"),
        lit(3).as("delta_f"), lit(rateSec).as("delta_t"), col("ts"),
        col("band"),
        (level(col("id") + col("band").cast("long")) -
          log10(col("band")) * lit(3.0)).as("value"))
    PartitionedArchive.writePsd(psd, root)
  }

  /** One measured request: `refSec` is the reference's published
    * wall-clock for the same request shape (-1 = not published),
    * `count` the response's bucket/point count evidence. */
  final case class Cell(label: String, path: String, refSec: Double,
      coldSec: Double, warmSec: Double, status: Int, count: Long)

  private def isoDT(d: LocalDateTime): String =
    d.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))

  /** The BASELINE.md request set, anchored to the archive's END (the
    * dashboard pattern: the most recent 1 h/24 h/7 d/30 d). All
    * aggregations use `interval=auto`, which resolves exactly like the
    * reference's `_resolve_interval` (finest interval with ≤1000
    * buckets) — 7 d → 15 m and 30 d → 1 h buckets, the reference's 649-
    * and 687-bucket requests. */
  def requestSet(startDate: LocalDate, months: Int, rateSec: Int)
      : Seq[(String, Double, String)] = {
    val end = startDate.plusMonths(months.toLong).atStartOfDay()
    val h = s"hydrophone=${Hydrophone.toLowerCase}"
    def psd(hours: Long) =
      s"/aggregations/psd?$h&start=${isoDT(end.minusHours(hours))}" +
        s"&end=${isoDT(end)}&interval=auto&delta_f=3oct&delta_t=$rateSec"
    // the reference's daily endpoints pin delta_t=1 (no query param,
    // app/api/aggregations.py:24-60) — so these cells require a
    // rateSec=1 archive, exactly the reference's product
    def daily(days: Int) =
      s"/aggregations/daily-summary?$h" +
        s"&start_date=${end.minusDays(days.toLong).toLocalDate}" +
        s"&num_days=$days"
    Seq(
      ("psd_1h", 6.4, psd(1)),
      ("psd_6h", 7.2, psd(6)),
      ("psd_24h", 30.5, psd(24)),
      ("psd_7d", 63.3, psd(24 * 7)),
      ("psd_30d", 226.1, psd(24 * 30)),
      ("daily_summary_1d", 25.0, daily(1)),
      ("daily_summary_7d", 25.0, daily(7)),
      ("daily_summary_30d", 25.0, daily(30)),
      ("daily_broadband_30d", 11.67,
        s"/aggregations/daily-broadband-summary?$h" +
          s"&start_date=${end.minusDays(30).toLocalDate}&num_days=30"),
      // "10-25 s for valid requests" (upstream-notes.md:71) — a 30 min
      // raw window stays under the 2000-point cap at delta_t=1
      ("raw_timeseries_30m", 10.0,
        s"/timeseries/broadband?$h&start=${isoDT(end.minusMinutes(30))}" +
          s"&end=${isoDT(end)}&delta_t=$rateSec"),
    )
  }

  /** Serve the archive and fire the request set over real HTTP — each
    * request once cold (computes + memoizes) and once warm (LRU-served,
    * the reference's `lru_cache` comparison rows). Returns
    * (catalog-bootstrap seconds, rollup-maintenance seconds, cells). */
  def run(spark: SparkSession, root: String, startDate: LocalDate,
      months: Int, rateSec: Int): (Double, Double, Seq[Cell]) = {
    val t0 = System.nanoTime()
    // r16: sidecar bootstrap (one listing + tiny parquet read once the
    // persisted catalog exists) replaces the fromFrames full-archive
    // min/max/count — the 9-29 s restart cost the r15 head-to-head
    // measured. First run on a sidecar-less archive builds it (footer
    // reads, O(files)); every later process start is sub-second.
    val service = AmbientService.fromArchive(spark, root)
    val bootstrap = (System.nanoTime() - t0) / 1e9
    // r16: maintain the trailing daily-summary rollups (1/7/30 d — the
    // dashboard windows this request set fires). Reported as its own
    // cost: this is the offline once-per-landed-day maintenance job, not
    // request latency; daily cells then serve from ~1.9 M pre-aggregated
    // rows instead of a 57 M-row raw window scan.
    val m0 = System.nanoTime()
    new DailySummaryStore(spark, root)
      .maintainTrailing(Hydrophone, "octave_bands", 3, rateSec, Seq(1, 7, 30))
    val rollupMaint = (System.nanoTime() - m0) / 1e9
    val api = new HttpApi(service,
      java.nio.file.Files.createTempDirectory("graft-h2h"),
      scheduler = Some(spark))
    val server = api.start(0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      def hit(path: String): (Double, Int, Long) = {
        val u0 = System.nanoTime()
        val c = new java.net.URI(base + path).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setReadTimeout(30 * 60 * 1000)
        val code = c.getResponseCode
        val body = new String(
          (if (code == 200) c.getInputStream
           else Option(c.getErrorStream).getOrElse(c.getInputStream))
            .readAllBytes(), "UTF-8")
        val sec = (System.nanoTime() - u0) / 1e9
        // response evidence: the bucket/point count header when the
        // endpoint sets one, else the first *_length/point_count field
        val count = Option(c.getHeaderField("X-Time-Count"))
          .orElse(Option(c.getHeaderField("X-Point-Count")))
          .map(_.toLong)
          .orElse("\"(?:mean_length|point_count)\":(\\d+)".r
            .findFirstMatchIn(body).map(_.group(1).toLong))
          .getOrElse(-1L)
        (sec, code, count)
      }
      val cells = requestSet(startDate, months, rateSec).map {
        case (label, ref, path) =>
          val (cold, code, count) = hit(path)
          val (warm, _, _) = hit(path)
          Cell(label, path, ref, cold, warm, code, count)
      }
      (bootstrap, rollupMaint, cells)
    } finally { server.stop(0); api.close() }
  }

  // ---- concurrent serving (r15 verdict #5) -------------------------------

  /** Per-class latency quantiles at one concurrency level. */
  final case class ConcStats(cls: String, count: Int, errors: Int,
      p50: Double, p99: Double, max: Double)

  private def quantiles(cls: String, xs: Seq[(Double, Int)]): ConcStats = {
    val ok = xs.collect { case (s, 200) => s }.sorted
    def q(p: Double) =
      if (ok.isEmpty) -1.0
      else ok(math.min(ok.size - 1, math.ceil(p * ok.size).toInt - 1).max(0))
    ConcStats(cls, xs.size, xs.count(_._2 != 200), q(0.5), q(0.99),
      if (ok.isEmpty) -1.0 else ok.last)
  }

  /** Drive N concurrent mixed clients (heatmaps + daily summaries + raw
    * timeseries) against the served archive — the serving failure mode
    * that matters at scale is STARVATION: one 30 d heatmap monopolizing
    * the shared session while dashboard polls queue behind it. The FAIR
    * pools per request class ([[HttpApi.poolFor]]) are the guard; this
    * measures them: per-class p50/p99 at each concurrency, cold
    * (every request a distinct variant → every request computes) then
    * warm (same requests again → LRU-served, the steady dashboard
    * state). The no-starvation criterion (PERF.md): each class's
    * concurrent p99 stays within ~2× its solo cold latency from
    * [[run]]'s table times the work dilution N·perClass/cores.
    *
    * Returns (concurrency → cold stats, concurrency → warm stats). */
  def runConcurrent(spark: SparkSession, root: String, startDate: LocalDate,
      months: Int, rateSec: Int, clientCounts: Seq[Int] = Seq(8, 32),
      perClassOverride: Int = 0): Seq[(Int, Seq[ConcStats], Seq[ConcStats])] = {
    val service = AmbientService.fromArchive(spark, root)
    new DailySummaryStore(spark, root)
      .maintainTrailing(Hydrophone, "octave_bands", 3, rateSec, Seq(1, 7, 30))
    val api = new HttpApi(service,
      java.nio.file.Files.createTempDirectory("graft-conc"),
      scheduler = Some(spark))
    val server = api.start(0, threads = 64)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val end = startDate.plusMonths(months.toLong).atStartOfDay()
      val h = s"hydrophone=${Hydrophone.toLowerCase}"
      // variant generators: k makes every cold request a DISTINCT cache
      // key with the same work shape (shifted window / widened band cap)
      def heatmap(k: Int) =
        s"/aggregations/psd?$h&start=${isoDT(end.minusHours(24L + k))}" +
          s"&end=${isoDT(end.minusHours(k.toLong))}&interval=auto" +
          s"&delta_f=3oct&delta_t=$rateSec"
      def daily(k: Int) =
        s"/aggregations/daily-summary?$h" +
          s"&start_date=${end.minusDays(30).toLocalDate}&num_days=30" +
          s"&band_high=${8000 + k}" // ≥ 8000 keeps the full band set
      def raw(k: Int) =
        s"/timeseries/broadband?$h" +
          s"&start=${isoDT(end.minusMinutes(30L * (k + 1)))}" +
          s"&end=${isoDT(end.minusMinutes(30L * k))}&delta_t=$rateSec"
      var k = 0
      def fire(path: String): (Double, Int) = {
        val t0 = System.nanoTime()
        val c = new java.net.URI(base + path).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        c.setReadTimeout(30 * 60 * 1000)
        val code = c.getResponseCode
        (if (code == 200) c.getInputStream
         else Option(c.getErrorStream).getOrElse(c.getInputStream))
          .readAllBytes()
        ((System.nanoTime() - t0) / 1e9, code)
      }
      def drive(lists: Seq[Seq[(String, String)]]): Seq[(String, Double, Int)] = {
        val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Int)]
        val go = new java.util.concurrent.CountDownLatch(1)
        val threads = lists.map { list =>
          val t = new Thread(() => {
            go.await()
            list.foreach { case (cls, path) =>
              val (sec, code) = fire(path)
              out.add((cls, sec, code))
            }
          })
          t.setDaemon(true); t.start(); t
        }
        go.countDown()
        threads.foreach(_.join())
        import scala.jdk.CollectionConverters._
        out.asScala.toIndexedSeq
      }
      def statsOf(rs: Seq[(String, Double, Int)]): Seq[ConcStats] =
        rs.groupBy(_._1).toSeq.sortBy(_._1).map { case (cls, xs) =>
          quantiles(cls, xs.map(r => (r._2, r._3))) }
      clientCounts.map { n =>
        // rounds per client sized so one level's heatmap+daily keys fit
        // the service's 64-entry agg LRU exactly — otherwise the cold
        // pass would evict its own entries and the "warm" pass would
        // silently re-compute (n·perClass ≤ 32 → 2·32 agg keys ≤ 64)
        val perClass =
          if (perClassOverride > 0) perClassOverride else math.max(1, 32 / n)
        val lists = (0 until n).map { _ =>
          (0 until perClass).flatMap { _ =>
            val reqs = Seq(("heatmap", heatmap(k)), ("daily", daily(k)),
              ("raw", raw(k)))
            k += 1
            reqs
          }
        }
        val cold = statsOf(drive(lists))
        val warm = statsOf(drive(lists)) // same keys → LRU-served
        (n, cold, warm)
      }
    } finally { server.stop(0); api.close() }
  }
}
