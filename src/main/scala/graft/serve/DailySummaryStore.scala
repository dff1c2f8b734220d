package graft.serve

import java.time.{Instant, LocalDate, ZoneOffset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.CatalogSidecar
import graft.ops.{BandOps, DailySummaryOps}
import graft.sources.PartitionedArchive

/** Maintained daily-summary rollup (r15 verdict #2): the daily-summary
  * cells were the slowest serving rows in the head-to-head (3.3–4.8 s vs
  * ~1 s heatmaps) because every request re-aggregates the raw window
  * (30 d × 86 400 s × 22 bands ≈ 57 M rows) into 1.9 M
  * (second-of-day × band) groups. This store materializes that A4
  * aggregate per SERVING WINDOW, refreshed by a maintenance job as new
  * days land; requests then read ~1.9 M pre-aggregated rows (one small
  * parquet) and do only the request-time work on top — band filtering,
  * tod-bucketing, cross-band averaging — well under a second.
  *
  * Why windows and not one grand (sod × band) table: the served stats
  * aggregate ACROSS the requested days per (second-of-day, band) —
  * `mean` is a ratio of window sums, `min`/`max` are window extrema.
  * Extrema are not subtractable, and at the daily endpoints' pinned
  * delta_t=1 a per-(day, sod, band) partial table IS the raw data (one
  * sample per key) — no compression exists that serves arbitrary
  * windows exactly. What a dashboard actually asks for is the trailing
  * 1/7/30-day windows anchored at the newest data (the reference's own
  * request shape, BASELINE.md), so the store maintains exactly those:
  * maintenance pays one window scan per landed day (an offline batch
  * job at 100 TB), requests pay O(86 400 × bands) regardless of window
  * length. Requests for any other window fall back to the raw-scan path
  * unchanged — the materialization is invisible except in latency
  * (DailySummaryStoreSpec pins maintained ≡ recompute, including
  * staleness fallback after new data lands).
  *
  * Freshness needs no coordination with writers: each window's stats
  * carry a fingerprint of the psd footer-index rows
  * ([[CatalogSidecar]]) whose zones overlap the window — file set, row
  * counts, ts zones. Any append/delete/compaction touching the window
  * changes the fingerprint, and `statsFor` returns None (fall back to
  * raw) until the next maintenance run. The fingerprint check is
  * metadata-only: one listing diff + a driver hash over ~1e2..1e5 index
  * rows. */
final class DailySummaryStore(spark: SparkSession, root: String) {

  private def dir(h: String, freqType: String, deltaF: Int, deltaT: Int,
      startDay: LocalDate, numDays: Int): String =
    s"$root/psd/_daily_summary/hydrophone=$h/freq_type=$freqType/" +
      s"delta_f=$deltaF/delta_t=$deltaT/window=${startDay}_$numDays"

  private def us(i: Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  private def psdIndex(): CatalogSidecar.ProductIndex =
    CatalogSidecar.load(spark, s"$root/psd")

  /** Fingerprint of the archive state a window's stats derive from: the
    * psd footer-index rows under this product key whose ts zones overlap
    * the window. `idx` comes from [[CatalogSidecar.load]], which
    * reconciles the index against the live listing, so the fingerprint
    * sees appends/deletes/compaction immediately — and the whole check
    * is driver-side metadata (one FS walk + tiny parquet read), fast
    * enough to run per request. */
  private def fingerprint(idx: CatalogSidecar.ProductIndex, h: String,
      freqType: String, deltaF: Int, deltaT: Int,
      start: Instant, end: Instant): String = {
    val part = s"hydrophone=$h/freq_type=$freqType/delta_f=$deltaF/delta_t=$deltaT/"
    val rows = idx.rows.iterator
      .filter(r => r.file.contains(part) &&
        r.minUs < us(end) && r.maxUs >= us(start))
      .map(r => s"${r.file}|${r.nRows}|${r.minUs}|${r.maxUs}")
      .toIndexedSeq.sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def loadWindow(h: String, freqType: String, deltaF: Int,
      deltaT: Int, start: Instant, end: Instant): DataFrame =
    graft.ops.TimeseriesOps.windowFilter(
      PartitionedArchive.readPsd(spark, root)
        .filter(col("hydrophone") === h && col("freq_type") === freqType &&
          col("delta_f") === deltaF && col("delta_t") === deltaT),
      "ts", start, end)

  /** Recompute and persist one window's (tod × band) stats — the exact
    * A4 aggregate the raw-scan path computes per request
    * ([[graft.ops.DailySummaryOps.timeOfDaySummary]], full band set;
    * band filtering stays request-time). Fingerprint is written LAST, so
    * a crash mid-maintenance leaves a stale/absent fingerprint and
    * `statsFor` keeps falling back — never serves torn stats. */
  def maintain(h: String, freqType: String, deltaF: Int, deltaT: Int,
      startDay: LocalDate, numDays: Int): Unit =
    maintainWith(psdIndex(), h, freqType, deltaF, deltaT, startDay, numDays)

  /** [[maintain]] against an index the caller loaded BEFORE this scan. */
  private def maintainWith(idx: CatalogSidecar.ProductIndex, h: String,
      freqType: String, deltaF: Int, deltaT: Int,
      startDay: LocalDate, numDays: Int): Unit = {
    val start = startDay.atStartOfDay(ZoneOffset.UTC).toInstant
    val end = startDay.plusDays(numDays.toLong).atStartOfDay(ZoneOffset.UTC).toInstant
    val d = dir(h, freqType, deltaF, deltaT, startDay, numDays)
    val fs = new org.apache.hadoop.fs.Path(d)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpPath = new org.apache.hadoop.fs.Path(d, "_FINGERPRINT")
    // compute the fingerprint BEFORE the scan: a write racing into the
    // window between scan and stamp then mismatches at read time
    // (conservative — falls back) instead of serving stats that miss it
    val fp = fingerprint(idx, h, freqType, deltaF, deltaT, start, end)
    if (fs.exists(fpPath)) fs.delete(fpPath, false)
    val summary = DailySummaryOps.timeOfDaySummary(
        loadWindow(h, freqType, deltaF, deltaT, start, end),
        "ts", "band", "value")
    val parts = split(col("tod"), ":")
    summary
      // precompute second-of-day: serving re-buckets ~1.9 M rows per
      // request, and parsing it back out of the `tod` label there costs
      // a string split per row; here it's paid once per maintenance
      .withColumn("sod", parts.getItem(0).cast("long") * 3600L +
        parts.getItem(1).cast("long") * 60L + parts.getItem(2).cast("long"))
      // one file per band: requests read ~1.9 M rows — a single file
      // would serialize the scan on one task (measured 2.2 s), and
      // per-band files carry exact band min/max footer stats, so a
      // narrowed band range prunes whole files
      .repartition(col("band"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$d/stats")
    val out = fs.create(fpPath, true)
    out.write(fp.getBytes("UTF-8")); out.close()
  }

  /** Trailing windows anchored at the newest psd data (the dashboard
    * request shape): end-day = the day after the last ts zone in the
    * footer index. Returns the (days, startDay) windows maintained. The
    * index is loaded once for the whole pass: every window's freshness
    * check and every stale window's fingerprint read it, and it is still
    * taken before any scan, so a racing append falls back. */
  def maintainTrailing(h: String, freqType: String, deltaF: Int,
      deltaT: Int, days: Seq[Int]): Seq[(Int, LocalDate)] = {
    val idx = psdIndex()
    val part = s"hydrophone=$h/freq_type=$freqType/delta_f=$deltaF/delta_t=$deltaT/"
    val zones = idx.rows
      .filter(r => r.file.contains(part) && r.maxUs != Long.MinValue)
      .map(_.maxUs)
    if (zones.isEmpty) Seq.empty
    else {
      val endDay = Instant.ofEpochSecond(zones.max / 1000000L)
        .atZone(ZoneOffset.UTC).toLocalDate.plusDays(1)
      days.map { n =>
        val startDay = endDay.minusDays(n.toLong)
        val start = startDay.atStartOfDay(ZoneOffset.UTC).toInstant
        val end = endDay.atStartOfDay(ZoneOffset.UTC).toInstant
        // incremental: a window whose fingerprint still matches the
        // archive needs no work — re-running maintenance with no new
        // data costs one metadata check per window, not a window scan
        if (statsWith(idx, h, freqType, deltaF, deltaT, start, end).isEmpty)
          maintainWith(idx, h, freqType, deltaF, deltaT, startDay, n)
        n -> startDay
      }
    }
  }

  /** The serving hook: up-to-date stats for EXACTLY this window, or None
    * (request falls back to the raw-scan path). Same schema as
    * `timeOfDaySummary` — callers band-filter and bucket on top. */
  def statsFor(h: String, freqType: String, deltaF: Int, deltaT: Int,
      start: Instant, end: Instant): Option[DataFrame] =
    statsWith(psdIndex(), h, freqType, deltaF, deltaT, start, end)

  /** [[statsFor]] against `idx`, which is loaded only once a stored
    * fingerprint exists to compare (by-name: off-anchor requests skip the
    * listing walk). */
  private def statsWith(idx: => CatalogSidecar.ProductIndex, h: String,
      freqType: String, deltaF: Int, deltaT: Int,
      start: Instant, end: Instant): Option[DataFrame] = {
    val startZ = start.atZone(ZoneOffset.UTC)
    val endZ = end.atZone(ZoneOffset.UTC)
    // stats exist only at whole-day windows (the daily endpoints' shape)
    if (startZ.toLocalTime != java.time.LocalTime.MIDNIGHT ||
        endZ.toLocalTime != java.time.LocalTime.MIDNIGHT) return None
    val startDay = startZ.toLocalDate
    val numDays = java.time.temporal.ChronoUnit.DAYS
      .between(startDay, endZ.toLocalDate).toInt
    val d = dir(h, freqType, deltaF, deltaT, startDay, numDays)
    val fpPath = new org.apache.hadoop.fs.Path(d, "_FINGERPRINT")
    val fs = fpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fpPath)) return None
    val stored = new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(fs.open(fpPath)),
      "UTF-8")
    if (stored != fingerprint(idx, h, freqType, deltaF, deltaT, start, end)) None
    else Some(spark.read.parquet(s"$d/stats"))
  }
}
