package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** "Typical day" time-of-day summaries (reference:
  * `app/services/get_aggregations.py:310-430` + upstream
  * `DailyNoiseAnalysis`, semantics `upstream-notes.md:11-13`).
  *
  * The upstream bundle is four pandas frames `{mean,min,max,count}` keyed by
  * `HH:MM:SS` string. A single grouped aggregate over
  * `(second_of_day, band)` expresses all four at once (SURVEY §1.1 row 6) —
  * one shuffle, bounded output (86 400 × bands rows max).
  */
object DailySummaryOps {

  /** A4 — group N days of PSD rows by time-of-day and band; four stats in
    * one pass, rendered with the `HH:mm:ss` label the reference serves
    * (ref `app/services/get_aggregations.py:99`) on top of
    * [[timeOfDayStats]]. */
  def timeOfDaySummary(df: DataFrame, tsCol: String, bandCol: String,
      valueCol: String, exactMilli: Boolean = false): DataFrame =
    meanStats(timeOfDayStats(df, tsCol, bandCol, valueCol, exactMilli), exactMilli)
      .select(todLabel(col("sod")).as("tod"), col("band"), col("mean_value"),
        col("min_value"), col("max_value"), col("point_count"))

  /** The A4 kernel: `(sod, band, sum, count, min, max)` per integer
    * second-of-day and band — the mergeable form the daily-summary store
    * persists ([[graft.serve.DailySummaryStore]]), and the raw-scan
    * fallback's aggregate.
    *
    * The GROUPING key is the integer second-of-day, not the label: the
    * r15 head-to-head measured the label-keyed formulation at 81 s for a
    * 30 d × 22-band window (57 M rows → 1.9 M groups) where the
    * equivalent heatmap scan ran 8 s — a per-row `date_format`
    * (DateTimeFormatter) plus variable-width string keys in every
    * per-task partial aggregation map. Epoch-second arithmetic keys the
    * same groups fixed-width and codegen-cheap; a label renders AFTER
    * aggregation over the bounded (≤86 400 × bands) result. `ts % 86400`
    * is the UTC second-of-day — identical to the session-timezone label
    * because the engine pins sessions to UTC (F3, `Tables.scala`), which
    * is also what [[todLabel]]'s arithmetic already assumes. */
  def timeOfDayStats(df: DataFrame, tsCol: String, bandCol: String,
      valueCol: String, exactMilli: Boolean = false): DataFrame =
    mergeStats(df.select(rowStats(col(tsCol), col(bandCol), col(valueCol), exactMilli): _*),
      col("sod"), col("band"))

  /** One raw row as a stats partial `(sod, band, sum, count, min, max)`:
    * the value NaN-normalized ([[ResampleOps.nanToNull]]) and counted once
    * when present. `exactMilli` sums milli-unit longs (the determinism
    * form of [[ResampleOps.meanOf]]). */
  def rowStats(ts: Column, band: Column, value: Column,
      exactMilli: Boolean = false): Seq[Column] = {
    val v = ResampleOps.nanToNull(value)
    Seq(pmod(ts.cast("long"), lit(86400L)).as("sod"), band.as("band"),
      (if (exactMilli) round(v * 1000, 0).cast("long") else v).as("sum"),
      when(v.isNull, 0L).otherwise(1L).as("count"), v.as("min"), v.as("max"))
  }

  /** Merge stats partials per key: sums and counts add, extrema fold.
    * Associative and commutative, so any grouping of the partials (raw
    * rows, day blocks, merged blocks) gives the same count, min and max,
    * and the same sum up to floating-point addition order. */
  def mergeStats(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(sum("sum").as("sum"), sum("count").as("count"),
      min("min").as("min"), max("max").as("max"))

  /** Stats → the served columns `(sod, band, mean_value, min_value,
    * max_value, point_count)`, mean = sum / count: the same division
    * `avg` performs, NULL for an all-NULL group (its sum is NULL). */
  def meanStats(stats: DataFrame, exactMilli: Boolean = false): DataFrame = {
    val mean =
      if (exactMilli)
        ResampleOps.microMeanHalfUp(col("sum"), col("count")).cast("double") / 1e6
      else col("sum") / col("count").cast("double")
    stats.select(col("sod"), col("band"), mean.as("mean_value"),
      col("min").as("min_value"), col("max").as("max_value"),
      col("count").as("point_count"))
  }

  /** A5 — re-anchored resample of a typical-day series: bucket the
    * second-of-day axis itself (the reference re-anchors `HH:MM:SS` onto
    * 2000-01-01, resamples, and strftime's back —
    * `_aggregate_daily_summary_series`, `:88-100`). Buckets are
    * midnight-anchored by construction, matching `origin='start_day'`. */
  def todBucketMean(df: DataFrame, tsCol: String, valueCol: String,
      bucketSeconds: Long, exactMilli: Boolean = false): DataFrame = {
    val sod = hour(col(tsCol)) * 3600L + minute(col(tsCol)) * 60L + second(col(tsCol))
    val bucketSod = (floor(sod / bucketSeconds) * bucketSeconds).cast("long")
    df.groupBy(todLabel(bucketSod).as("tod_bucket"))
      .agg(ResampleOps.meanOf(ResampleOps.nanToNull(col(valueCol)), exactMilli)
        .as("mean_value"))
      .filter(col("mean_value").isNotNull)
  }

  /** `HH:mm:ss` label from a second-of-day value via pure arithmetic — a
    * `timestamp_seconds` + `date_format` round-trip would re-apply the
    * session timezone offset and shift labels/anchors on non-UTC sessions. */
  def todLabel(secondOfDay: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    format_string("%02d:%02d:%02d",
      (secondOfDay / 3600).cast("int"),
      ((secondOfDay % 3600) / 60).cast("int"),
      (secondOfDay % 60).cast("int"))

  /** A6 — one broadband mean per calendar day (upstream
    * `create_broadband_daily_noise`, ref `README.md:156-160`). */
  def dailyMean(df: DataFrame, tsCol: String, valueCol: String,
      exactMilli: Boolean = false): DataFrame =
    df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(ResampleOps.meanOf(ResampleOps.nanToNull(col(valueCol)), exactMilli)
        .as("mean_value"),
           count(ResampleOps.nanToNull(col(valueCol))).as("point_count"))
      .filter(col("point_count") > 0)
}
