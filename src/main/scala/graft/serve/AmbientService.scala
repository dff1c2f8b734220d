package graft.serve

import java.time.{Instant, LocalDate, ZoneOffset}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.ArchiveCatalog
import graft.catalog.ArchiveCatalog.CatalogEntry
import graft.sources.PartitionedArchive
import graft.ops._
import graft.planner.{Errors, RequestPlanner}
import Responses._

/** The reference's seven endpoints as a typed service facade over the
  * engine ops (query lifecycle per SURVEY §3).
  *
  * The service holds two canonical datasets:
  *  - broadband: `(hydrophone, delta_t, ts, value)`
  *  - psd long:  `(hydrophone, freq_type, delta_f, delta_t, ts, band, value)`
  * At archive scale these leading columns are physical partition columns, so
  * every per-request filter below is partition pruning + parquet pushdown —
  * the Spark replacement for the reference's filename-based file selection
  * (`upstream-notes.md:182-186`, SURVEY §4.2.2).
  *
  * Caching mirrors §2.9: the catalog is computed once (C1), and each
  * endpoint memoizes responses by request key (C2/C3, reference lru_cache).
  */
class AmbientService(
    broadbandIn: => DataFrame,
    psdIn: => DataFrame,
    catalogEntries: Seq[CatalogEntry],
    /** S5 — metadata-only matching-file probe for the integrity check (ref
      * `_matching_file_count`, get_timeseries.py:71-81): returns how many
      * archive FILES cover the requested (hydrophone, delta_t) window. The
      * reference 502s only when files matched but no rows were read; with
      * no probe (data-derived catalogs) empty windows are plain success. */
    integrityFileCount: (String, Int, Instant, Instant) => Long =
      (_, _, _, _) => 0L,
    /** Maintained (second-of-day × band) stats for a daily-summary window
      * ([[DailySummaryStore.statsFor]], [[DailySummaryOps.meanStats]]
      * columns); None → raw-scan path. The hook returns the A4 aggregate
      * the raw path computes (means equal up to float addition order), so
      * serving from it is invisible except in latency
      * (DailySummaryStoreSpec). */
    dailySummaryStats: (String, String, Int, Int, Instant, Instant) => Option[DataFrame] =
      (_, _, _, _, _, _) => None) {

  import AmbientService._

  /** The archive frames, resolved LAZILY: datasource resolution lists the
    * archive tree and (without an explicit schema) reads a footer — work a
    * sidecar-bootstrapped process must not pay before its first data
    * request. By-name construction keeps `fromArchive` pure-metadata;
    * `fromFrames` callers pass already-resolved frames, so nothing
    * changes for them. */
  lazy val broadband: DataFrame = broadbandIn
  lazy val psd: DataFrame = psdIn

  // ---- request caches (C1-C3; ref lru_cache(16/64/128)) -----------------
  private val optionsCache = new LruCache[Option[String], OptionsResponse](OptionsCacheSize)
  private val tsCache = new LruCache[Any, Any](TsCacheSize)
  private val aggCache = new LruCache[Any, Any](AggCacheSize)

  // ---- /options (SURVEY §3.3; ref get_options.py:54-56 lru_cache(16)) ----
  def getOptions(hydrophone: Option[String]): OptionsResponse = {
    val key = hydrophone.map(RequestPlanner.normalizeName)
    optionsCache.memo(key) {
      val wanted = key match {
        case Some(h) => Seq(h)
        // P6: default scan skips sandbox (ref get_options.py:59-64)
        case None => catalogEntries.map(_.hydrophone).distinct
          .filterNot(_.equalsIgnoreCase("SANDBOX")).sorted // O3
      }
      OptionsResponse(wanted.map { h =>
        val opts = catalogEntries.filter(_.hydrophone == h)
          .sortBy(e => (e.freqType, e.deltaF.getOrElse(-1), e.deltaT)) // O2
          .map(e => CoverageOption(e.freqType, e.deltaF, e.deltaT,
            Some(isoT(e.firstStart)), Some(isoT(e.lastEnd)), e.fileCount))
        HydrophoneOptions(h, opts)
      })
    }
  }

  // ---- validation (J1 + J2; ref get_timeseries.py:101-184) --------------
  private def validate(h: String, freqType: String, deltaF: Option[Int],
      deltaT: Int, start: Instant, end: Instant): CatalogEntry = {
    val e = ArchiveCatalog.requireCombination(catalogEntries, h, freqType, deltaF, deltaT)
    ArchiveCatalog.requireOverlap(e, start, end)
    e
  }

  private def loadBroadband(h: String, deltaT: Int, start: Instant, end: Instant): DataFrame =
    TimeseriesOps.windowFilter(
      broadband.filter(col("hydrophone") === h && col("delta_t") === deltaT),
      "ts", start, end)

  private def loadPsd(h: String, freqType: String, deltaF: Int, deltaT: Int,
      start: Instant, end: Instant): DataFrame =
    TimeseriesOps.windowFilter(
      psd.filter(col("hydrophone") === h && col("freq_type") === freqType &&
        col("delta_f") === deltaF && col("delta_t") === deltaT),
      "ts", start, end)

  // ---- /timeseries/broadband (SURVEY §3.1) ------------------------------
  def getBroadbandTimeseries(hydrophone: String, start: Instant, end: Instant,
      deltaT: Int, doValidate: Boolean = true): BroadbandTimeseriesResponse =
    tsCache.memo(("bb", hydrophone, start, end, deltaT, doValidate)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      RequestPlanner.enforceRawWindow(start, end)
      if (doValidate) validate(h, "broadband", None, deltaT, start, end)
      val df = TimeseriesOps.finiteOnly(loadBroadband(h, deltaT, start, end), "value")
        .select(TimeseriesOps.isoTs(col("ts")).as("t"), col("value"))
        .orderBy("t")
      val pts = df.collect().map(r => TimeseriesPoint(r.getString(0), r.getDouble(1)))
      val expected = TimeseriesOps.expectedPointCount(start, end, deltaT.toLong)
      // integrity check (ref get_timeseries.py:223-229): archive FILES match
      // the window but the scan produced nothing → 502; an empty window with
      // no matching files is SUCCESS with point_count=0 (SURVEY §7.5.7)
      if (doValidate && pts.isEmpty &&
          integrityFileCount(h, deltaT, start, end) > 0)
        throw Errors.DataIntegrityError(
          s"files matched [$start,$end) for $h but no rows were read")
      BroadbandTimeseriesResponse(h, isoT(start), isoT(end), deltaT,
        pts.length.toLong, expected, pts.toIndexedSeq)
    }.asInstanceOf[BroadbandTimeseriesResponse]

  // ---- /timeseries/psd ---------------------------------------------------
  def getPsdTimeseries(hydrophone: String, start: Instant, end: Instant,
      deltaT: Int, deltaFSel: String, doValidate: Boolean = true): PsdMatrixResponse =
    tsCache.memo(("psd", hydrophone, start, end, deltaT, deltaFSel, doValidate)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      val (freqType, deltaF) = RequestPlanner.parseDeltaF(deltaFSel)
      RequestPlanner.enforceRawWindow(start, end)
      if (doValidate) validate(h, freqType, Some(deltaF), deltaT, start, end)
      val df = loadPsd(h, freqType, deltaF, deltaT, start, end)
      matrix(df, PsdMatrixResponse(h, isoT(start), isoT(end), deltaT, deltaFSel, _, _, _))
    }.asInstanceOf[PsdMatrixResponse]

  /** Long → serving matrix (times × sorted frequencies), NaN-safe (P4). */
  private def matrix[R](long: DataFrame, mk: (Seq[String], Seq[Double], Seq[Seq[Double]]) => R): R = {
    val rows = TimeseriesOps.finiteOnly(long, "value")
      .select(TimeseriesOps.isoTs(col("ts")).as("t"),
        col("band").cast("double").as("band"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val times = rows.map(_._1).distinct.sorted.toIndexedSeq
    val freqs = rows.map(_._2).distinct.sorted.toIndexedSeq
    val byCell = rows.map(r => ((r._1, r._2), r._3)).toMap
    val values = times.map(t => freqs.map(f => byCell.getOrElse((t, f), Double.NaN)))
    mk(times, freqs, values)
  }

  // ---- /aggregations/broadband (A1 + F8/F9 + O4) ------------------------
  def getBroadbandAggregation(hydrophone: String, start: Instant, end: Instant,
      interval: String, deltaT: Int = 1,
      doValidate: Boolean = true): BroadbandAggregationResponse =
    aggCache.memo(("bbagg", hydrophone, start, end, interval, deltaT, doValidate)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      if (doValidate) validate(h, "broadband", None, deltaT, start, end)
      val iv = RequestPlanner.resolveInterval(interval, start, end)
      RequestPlanner.enforcePointCap(RequestPlanner.estimatedPoints(start, end, iv))
      val agg = ResampleOps.resampleMean(
          loadBroadband(h, deltaT, start, end), "ts", "value", iv)
        .orderBy("bucket_start")
      val pts = agg.collect().map(r => AggregationPoint(
        isoT(r.getTimestamp(0).toInstant), r.getDouble(1), r.getLong(2)))
      BroadbandAggregationResponse(h, iv, pts.length.toLong, pts.toIndexedSeq)
    }.asInstanceOf[BroadbandAggregationResponse]

  // ---- /aggregations/psd (A2; one scan replaces the day-chunk loop) -----
  def getPsdAggregation(hydrophone: String, start: Instant, end: Instant,
      interval: String, deltaFSel: String, deltaT: Int = 1,
      doValidate: Boolean = true): PsdHeatmapResponse =
    aggCache.memo(("psdagg", hydrophone, start, end, interval, deltaFSel, deltaT,
        doValidate)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      val (freqType, deltaF) = RequestPlanner.parseDeltaF(deltaFSel)
      if (doValidate) validate(h, freqType, Some(deltaF), deltaT, start, end)
      val iv = RequestPlanner.resolveInterval(interval, start, end)
      RequestPlanner.enforcePointCap(RequestPlanner.estimatedPoints(start, end, iv))
      val agg = ResampleOps.resampleBandsMean(
        loadPsd(h, freqType, deltaF, deltaT, start, end), "ts", "band", "value", iv)
        .select(col("bucket_start").as("ts"), col("band"), col("mean_value").as("value"))
      matrix(agg, PsdHeatmapResponse(h, iv, _, _, _))
    }.asInstanceOf[PsdHeatmapResponse]

  // ---- /aggregations/daily-summary (A3/A4/A5 + P2) ----------------------
  def getDailySummary(hydrophone: String, startDate: LocalDate, numDays: Int,
      bandLow: Double, bandHigh: Double, interval: String,
      deltaFSel: String = "3oct", deltaT: Int = 1): DailySummaryResponse =
    aggCache.memo(("daily", hydrophone, startDate, numDays, bandLow, bandHigh,
        interval, deltaFSel, deltaT)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      val (freqType, deltaF) = RequestPlanner.parseDeltaF(deltaFSel)
      val start = startDate.atStartOfDay(ZoneOffset.UTC).toInstant
      val end = startDate.plusDays(numDays.toLong).atStartOfDay(ZoneOffset.UTC).toInstant
      validate(h, freqType, Some(deltaF), deltaT, start, end)
      val iv = RequestPlanner.resolveInterval(interval,
        Instant.EPOCH, Instant.EPOCH.plusSeconds(86400)) // bucket the 24h typical day
      val bucketSecs = ResampleOps.IntervalSeconds(iv)
      RequestPlanner.enforcePointCap(86400L / bucketSecs)
      // A4: (sod, band) stats in one pass; P2: band range; A3: mean across
      // bands per tod; A5: re-anchored bucketing of the typical day itself.
      // The stats come from the maintained rollup when its fresh blocks or
      // a materialized window cover this window (band filtering on top —
      // band is a grouping key, so filtering stats == filtering rows);
      // otherwise the raw-scan aggregate, unchanged. Both carry the
      // integer second-of-day.
      val stats = dailySummaryStats(h, freqType, deltaF, deltaT, start, end)
        .map(s => BandOps.bandRange(s, "band", bandLow, bandHigh))
        .getOrElse(DailySummaryOps.meanStats(DailySummaryOps.timeOfDayStats(
          BandOps.bandRange(loadPsd(h, freqType, deltaF, deltaT, start, end),
            "band", bandLow, bandHigh), "ts", "band", "value")))
      // group by the INTEGER bucket and render the label on the ≤2000
      // result rows after — formatting + hash-shuffling a string key per
      // fact row is the same trap the A4 kernel fixed in r15 (17× on the
      // head-to-head archive). The orderBy moves to the driver for the
      // same reason: a whole sort stage for ≤2000 rows (zero-padded
      // labels sort lexicographically == chronologically).
      val bucketed = stats
        .groupBy(((floor(col("sod") / bucketSecs) * bucketSecs).cast("long")).as("sod_bucket"))
        .agg(avg("mean_value").as("mean"), avg("min_value").as("min"),
             avg("max_value").as("max"),
             // §7.5.5: the served `count` is the MEAN of per-band counts
             avg(col("point_count").cast("double")).as("count"))
        .withColumn("tod_bucket", DailySummaryOps.todLabel(col("sod_bucket")))
        .select("tod_bucket", "mean", "min", "max", "count")
      val rows = bucketed.collect().sortBy(_.getString(0))
      DailySummaryResponse(h, iv, bandLow, bandHigh, DailySummarySeries(
        rows.map(_.getString(0)).toIndexedSeq,
        rows.map(_.getDouble(1)).toIndexedSeq,
        rows.map(_.getDouble(2)).toIndexedSeq,
        rows.map(_.getDouble(3)).toIndexedSeq,
        rows.map(_.getDouble(4)).toIndexedSeq))
    }.asInstanceOf[DailySummaryResponse]

  // ---- /aggregations/daily-broadband-summary (A6) -----------------------
  def getDailyBroadband(hydrophone: String, startDate: LocalDate, numDays: Int,
      deltaT: Int = 1): DailyBroadbandResponse =
    aggCache.memo(("dailybb", hydrophone, startDate, numDays, deltaT)) {
      val h = RequestPlanner.normalizeName(hydrophone)
      val start = startDate.atStartOfDay(ZoneOffset.UTC).toInstant
      val end = startDate.plusDays(numDays.toLong).atStartOfDay(ZoneOffset.UTC).toInstant
      validate(h, "broadband", None, deltaT, start, end)
      val rows = DailySummaryOps.dailyMean(
          loadBroadband(h, deltaT, start, end), "ts", "value")
        .orderBy("day").collect()
      DailyBroadbandResponse(h,
        rows.map(_.getDate(0).toString).toIndexedSeq,
        rows.map(_.getDouble(1)).toIndexedSeq)
    }.asInstanceOf[DailyBroadbandResponse]
}

object AmbientService {

  /** Entries per request cache (ref lru_cache(16/64/128)). */
  val OptionsCacheSize = 16
  val AggCacheSize = 64
  val TsCacheSize = 128

  /** The served timestamp text, `yyyy-MM-dd'T'HH:mm:ss` in UTC. One shared
    * formatter: `DateTimeFormatter` is immutable and thread-safe. */
  private val IsoSeconds =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(ZoneOffset.UTC)
  private[serve] def isoT(i: Instant): String = IsoSeconds.format(i)

  /** Bounded LRU memo (reference `lru_cache`; C1-C3). */
  final class LruCache[K, V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](capacity * 2, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size() > capacity
    }
    /** The loader runs OUTSIDE the lock (a Spark job can take minutes —
      * holding the monitor would serialize every request behind it); two
      * concurrent misses on the same key may both compute, last write wins
      * — the same soft guarantee python's lru_cache gives under threads. */
    def memo(k: K)(f: => V): V = {
      val hit = m.synchronized {
        if (m.containsKey(k)) Some(m.get(k)) else None
      }
      hit.getOrElse {
        val v = f
        m.synchronized { m.put(k, v) }
        v
      }
    }
  }

  /** Build a service over canonical frames, deriving the catalog from the
    * data itself (min/max ts per product — the Spark replacement for the
    * reference's filename-derived coverage, which upstream data violates;
    * `docs/upstream-notes.md:27-41`). One small aggregate, computed once. */
  def fromFrames(broadband: DataFrame, psd: DataFrame): AmbientService =
    new AmbientService(broadband, psd,
      ArchiveCatalog.collectEntries(derivedCatalog(broadband, psd)))

  /** The data-derived A7 inventory `fromFrames` bootstraps from — a full
    * pass over both frames (min/max/count per product key). Exposed so
    * the persisted sidecar ([[graft.catalog.CatalogSidecar]]) can be
    * pinned value-identical to this recompute (CatalogSidecarSpec). */
  def derivedCatalog(broadband: DataFrame, psd: DataFrame): DataFrame = {
    val bbCat = broadband.groupBy("hydrophone", "delta_t")
      .agg(min("ts").as("first_start"), max("ts").as("last_end"),
        count(lit(1)).as("file_count"))
      .withColumn("freq_type", lit("broadband"))
      .withColumn("delta_f", lit(null).cast("int"))
    val psdCat = psd.groupBy("hydrophone", "freq_type", "delta_f", "delta_t")
      .agg(min("ts").as("first_start"), max("ts").as("last_end"),
        count(lit(1)).as("file_count"))
    bbCat.select("hydrophone", "freq_type", "delta_f", "delta_t",
        "first_start", "last_end", "file_count")
      .unionByName(psdCat.select("hydrophone", "freq_type", "delta_f", "delta_t",
        "first_start", "last_end", "file_count"))
  }

  /** Build a service over an archive ROOT, bootstrapping the catalog from
    * the persisted [[graft.catalog.CatalogSidecar]] instead of a
    * full-archive aggregate — the r15 head-to-head's remaining structural
    * cost (9–29 s `fromFrames` groupBy over 1.27 B rows at every process
    * start; with an up-to-date sidecar this is one listing + one tiny
    * parquet read). The sidecar self-heals against appends, deletes and
    * compaction via the listing diff, so entries here are always the same
    * values `fromFrames` would recompute (CatalogSidecarSpec pins that,
    * including after mutations). The root form also gains the S5
    * integrity probe for free: the footer index knows exactly which
    * broadband FILES overlap a window — the reference's
    * `_matching_file_count` (get_timeseries.py:71-81), answered from
    * driver-held metadata. */
  def fromArchive(spark: org.apache.spark.sql.SparkSession, root: String)
      : AmbientService = {
    // load each product index ONCE; entries + zones are driver folds of
    // the same values — an up-to-date bootstrap runs zero Spark jobs
    val bbIdx = graft.catalog.CatalogSidecar.load(spark, s"$root/broadband")
    val psdIdx = graft.catalog.CatalogSidecar.load(spark, s"$root/psd")
    val entries = graft.catalog.CatalogSidecar.entriesFrom(spark, root, bbIdx, psdIdx)
    val zones = graft.catalog.CatalogSidecar.zonesFrom(bbIdx)
    val store = new DailySummaryStore(spark, root)
    new AmbientService(
      PartitionedArchive.readBroadband(spark, root),
      PartitionedArchive.readPsd(spark, root),
      entries,
      integrityFileCount = (h, deltaT, start, end) =>
        zones.overlapping(h, deltaT,
          start.getEpochSecond * 1000000L + start.getNano / 1000L,
          end.getEpochSecond * 1000000L + end.getNano / 1000L),
      dailySummaryStats = store.statsFor)
  }
}
