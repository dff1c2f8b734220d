package graft.queries

import java.time.Instant
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.ops._

/** The reference-parity operator surface (SURVEY §2), embodied as concrete
  * queries over the driver testdata. `events(ts, value)` plays the
  * broadband-series role; `event_type` and `user_id` play the band /
  * hydrophone partition roles (FIXTURES.md §5).
  *
  * Every query here has a DuckDB oracle in [[oracleSql]] with IDENTICAL
  * output column names and rounding (floating-point aggregates are rounded
  * to 6 decimals on both sides so summation-order noise cannot flip the
  * driver's hash compare).
  */
object ParityQueries {

  // Shared request-window constants (events spans 2024-01-01 → 2024-01-31).
  private val WStart = Instant.parse("2024-01-05T00:00:00Z")
  private val WEnd   = Instant.parse("2024-01-12T00:00:00Z")

  private def events(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1/P3/O1/F4 — raw window point extraction, start-inclusive/end-exclusive.
    "q_ts_points" -> ((s, dir) =>
      TimeseriesOps.windowFilter(events(s, dir), "ts", WStart, WEnd)
        .select(col("event_id"), col("ts"),
          TimeseriesOps.isoTs(col("ts")).as("iso_ts"), col("value"))
        .orderBy("event_id")),

    // A1 — broadband resample to 1h buckets (epoch == day aligned).
    // Determinism-grade milli form: the sf1 sweep caught the double-avg
    // round(,6) flipping on exactly-halfway bucket means (2/720 buckets
    // once 10× replication made populations 2^a·5^b-sized) — Spark
    // rounds the shortest decimal string, DuckDB the binary value. The
    // milli sum + integer HALF_UP mean is identical in both engines at
    // any scale (ResampleOps.microMeanHalfUp; oracle mirrors with `//`).
    "q_resample_broadband" -> ((s, dir) =>
      ResampleOps.resampleMeanMilli(events(s, dir), "ts", "value", "1h")
        .orderBy("bucket_start")),

    // A2 — per-band resample (long PSD form; event_type as band) on a 3-day
    // window. exactMilli: the whole parity mean family rides the exact
    // integer round-6 form after the sf1 sweep's rounding-divergence find
    // (see q_resample_broadband / PERF r12) — same plan, exact compare.
    "q_resample_bands" -> ((s, dir) =>
      ResampleOps.resampleBandsMean(
          TimeseriesOps.windowFilter(events(s, dir), "ts", WStart,
            Instant.parse("2024-01-08T00:00:00Z")),
          "ts", "event_type", "value", "5m", exactMilli = true)
        .orderBy("bucket_start", "band")),

    // P2/A3 — band-range filter (user_id as numeric band label) + per-ts mean.
    "q_band_range_mean" -> ((s, dir) =>
      BandOps.rowMeanAcrossBands(
          BandOps.bandRange(events(s, dir), "user_id", 30, 90), "ts", "value",
          exactMilli = true)
        .orderBy("ts")),

    // A4 — time-of-day summary: four stats per (HH:mm:ss, band) in one pass
    // (mean exact-milli; min/max of ≤3-decimal values can't sit on a 6-dp
    // half-boundary, so plain rounds stay).
    "q_daily_summary" -> ((s, dir) =>
      DailySummaryOps.timeOfDaySummary(events(s, dir), "ts", "event_type",
          "value", exactMilli = true)
        .withColumn("min_value", round(col("min_value"), 6))
        .withColumn("max_value", round(col("max_value"), 6))
        .orderBy("tod", "band")),

    // A5 — re-anchored typical-day bucketing (15m buckets of second-of-day).
    "q_tod_bucket_mean" -> ((s, dir) =>
      DailySummaryOps.todBucketMean(events(s, dir), "ts", "value", 900,
          exactMilli = true)
        .orderBy("tod_bucket")),

    // A6 — daily broadband mean.
    "q_daily_broadband" -> ((s, dir) =>
      DailySummaryOps.dailyMean(events(s, dir), "ts", "value", exactMilli = true)
        .orderBy("day")),

    // A7 — inventory/coverage catalog (user_id×event_type as the product key).
    "q_catalog_inventory" -> ((s, dir) =>
      events(s, dir).groupBy(col("user_id"), col("event_type"))
        .agg(min("ts").as("first_start"), max("ts").as("last_end"),
             count(lit(1)).as("file_count"))
        .orderBy("user_id", "event_type")),

    // A8 — distinct + sort.
    "q_distinct_sorted" -> ((s, dir) =>
      events(s, dir).select("event_type").distinct().orderBy("event_type")),

    // A2+pivot — the serving-edge wide matrix (`/aggregations/psd` shape):
    // long per-band means pivoted to one column per band label.
    // exact-milli, single shuffle kept: pivot cells carry the exact
    // (Σmilli, count) pair (pivot aggs can't wrap the compound milli
    // expression, but they CAN carry its two ingredients), and the
    // post-select computes each cell's micro mean from them.
    "q_psd_matrix" -> ((s, dir) => {
      val v = ResampleOps.nanToNull(col("value"))
      val bands = Seq("click", "error", "purchase", "signup", "view")
      events(s, dir)
        .groupBy(ResampleOps.bucket(col("ts"), "1d").as("bucket_start"))
        .pivot("event_type", bands)
        .agg(sum(round(v * 1000, 0).cast("long")).as("s"), count(v).as("n"))
        .select(col("bucket_start") +: bands.map(b =>
          (ResampleOps.microMeanHalfUp(col(s"${b}_s"), col(s"${b}_n"))
            .cast("double") / 1e6).as(b)): _*)
        .orderBy("bucket_start")
    }),

    // P4 — non-finite drop: synthesize NaN/Inf, then keep only finite values.
    "q_finite_filter" -> ((s, dir) => {
      val withBad = events(s, dir).withColumn("v",
        when(col("user_id") % 11 === 0, lit(Double.NaN))
          .when(col("user_id") % 13 === 0, lit(Double.PositiveInfinity))
          .otherwise(col("value")))
      TimeseriesOps.finiteOnly(withBad, "v")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          ResampleOps.meanOf(col("v"), exactMilli = true).as("mean_value"))
        .orderBy("event_type")
    }),

    // S5 — metadata-only matching-file count (the reference's integrity
    // probe, get_timeseries.py:71-81): how many data files back each
    // product partition, without opening any. The archive fixture lands
    // through the replay-idempotent batch appender in weekly micro-batches
    // coalesced to one task each, so each (hydrophone, delta_t) partition
    // holds EXACTLY one file per week with data — the physical file count
    // equals a relational fact DuckDB can state: distinct weeks per band.
    "q_file_match_count" -> ((s, dir) => {
      import s.implicits._
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_s5_archive/" +
        new java.io.File(dir.replaceAll("/+$", "")).getName
      graft.util.LocalFs.deleteRecursively(new java.io.File(root))
      // fresh build: stale commit markers would short-circuit the appends
      val bb = events(s, dir).select(col("event_type").as("hydrophone"),
        lit(60).as("delta_t"), col("ts"), col("value"))
      // the 5 weekly appends are independent jobs on disjoint batch
      // namespaces (staging/marker/file names all carry the batch tag) —
      // overlap them so the tail of one write back-fills the executors
      // the next needs (guide §2.6); each lands the same one-file-per-
      // partition layout as the sequential loop did.
      graft.util.Par.overlap(3)((0 to 4).map { w => () =>
        graft.sources.PartitionedArchive.appendBroadbandBatch(
          bb.filter(floor((dayofmonth(col("ts")) - 1) / lit(7))
            .cast("int") === w).coalesce(1), root, w.toLong, "s5")
      })
      // the bands are the archive's hydrophone= partition directories
      val product = new org.apache.hadoop.fs.Path(s"$root/broadband")
      val bands = product.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(product).toSeq.filter(_.isDirectory)
        .flatMap(d => graft.sources.PartitionedArchive.partitionValues(product, d.getPath)
          .get("hydrophone")).sorted
      bands.map { h =>
        (h, graft.sources.PartitionedArchive.matchingFileCount(
          s, root, "broadband", Map("hydrophone" -> h, "delta_t" -> 60)))
      }.toDF("hydrophone", "n_files").orderBy("hydrophone")
    }),

    // A9 — expected-point estimator `ceil((end-start)/delta_t)` (ref
    // get_timeseries.py:36-40), driven by per-band catalog windows
    // (metadata-scale collect — the reference computes this per request
    // from request params; here the request grid is each band's coverage
    // at three delta_t grades).
    "q_expected_points" -> ((s, dir) => {
      import s.implicits._
      val mm = events(s, dir).groupBy(col("event_type"))
        .agg(min("ts").as("lo"), max("ts").as("hi"))
        .collect()
      val rows = for {
        r <- mm.toSeq
        d <- Seq(60L, 300L, 3600L)
      } yield (r.getString(0), d,
        TimeseriesOps.expectedPointCount(
          r.getTimestamp(1).toInstant, r.getTimestamp(2).toInstant, d))
      rows.toDF("band", "delta_t", "n_expected").orderBy("band", "delta_t")
    }),

    // S6 — empty-relation source is SUCCESS, not error (ref
    // get_timeseries.py:255-271): a window with no data returns the
    // response envelope (zero points, expected count, completeness flag)
    // rather than failing — the serving edge's distinction between "no
    // data here" and "broken archive".
    "q_empty_window" -> ((s, dir) => {
      val start = Instant.parse("2023-06-01T00:00:00Z")
      val end = Instant.parse("2023-06-02T00:00:00Z")
      val expected = TimeseriesOps.expectedPointCount(start, end, 60)
      TimeseriesOps.windowFilter(events(s, dir), "ts", start, end)
        .agg(count(lit(1)).as("n_points"))
        .select(col("n_points"), lit(expected).as("n_expected"),
          (col("n_points") >= lit(expected)).cast("int").as("complete"))
    }),

    // J3/U1 — last-wins chunk merge: two overlapping daily aggregates, the
    // later chunk (restricted to value<400) overrides on collision.
    "q_merge_lastwins" -> ((s, dir) => {
      val ev = events(s, dir)
      val c1 = DailySummaryOps.dailyMean(
          ev.filter(col("ts") < lit("2024-01-16 00:00:00")), "ts", "value",
          exactMilli = true)
      val c2 = DailySummaryOps.dailyMean(
          ev.filter(col("ts") >= lit("2024-01-10 00:00:00") && col("value") < 400),
          "ts", "value", exactMilli = true)
      MergeOps.lastWinsMerge(Seq(c1, c2), Seq("day")).orderBy("day")
    }),
  )

  import OracleSql.{milliMeanSql, sMilliSql}

  val oracleSql: Map[String, String] = Map(
    "q_ts_points" ->
      """SELECT event_id, ts, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso_ts, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin,

    // exact-milli mirror of ResampleOps.resampleMeanMilli: HALF_UP micro
    // mean in integer space, then one deterministic /1e6 — immune to the
    // engines' different round(double, 6) realizations on halfway means
    "q_resample_broadband" ->
      """WITH m AS (
        |  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
        |         CAST(sum(CAST(round(value * 1000, 0) AS BIGINT)) AS HUGEINT) AS s,
        |         count(value) AS n
        |  FROM events GROUP BY 1)
        |SELECT bucket_start,
        |       CAST(CASE WHEN s < 0 THEN -((abs(s) * 2000 + n) // (2 * n))
        |                 ELSE (s * 2000 + n) // (2 * n) END AS DOUBLE) / 1e6
        |         AS mean_value,
        |       n AS point_count
        |FROM m WHERE n > 0 ORDER BY 1""".stripMargin,

    "q_resample_bands" ->
      s"""WITH m AS (
         |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket_start,
         |         event_type AS band,
         |         ${sMilliSql("value")} AS s, count(value) AS n
         |  FROM events
         |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-08 00:00:00'
         |  GROUP BY 1, 2)
         |SELECT bucket_start, band, ${milliMeanSql("s", "n")} AS mean_value,
         |       n AS point_count
         |FROM m WHERE n > 0 ORDER BY 1, 2""".stripMargin,

    "q_band_range_mean" ->
      s"""WITH m AS (
         |  SELECT ts, ${sMilliSql("value")} AS s, count(value) AS n
         |  FROM events
         |  WHERE CAST(user_id AS DOUBLE) >= 30 AND CAST(user_id AS DOUBLE) <= 90
         |  GROUP BY ts)
         |SELECT ts, ${milliMeanSql("s", "n")} AS mean_value
         |FROM m WHERE n > 0 ORDER BY ts""".stripMargin,

    "q_daily_summary" ->
      s"""WITH m AS (
         |  SELECT strftime(ts, '%H:%M:%S') AS tod, event_type AS band,
         |         ${sMilliSql("value")} AS s, count(value) AS n,
         |         min(value) AS mn, max(value) AS mx
         |  FROM events GROUP BY 1, 2)
         |SELECT tod, band, ${milliMeanSql("s", "n")} AS mean_value,
         |       round(mn, 6) AS min_value, round(mx, 6) AS max_value,
         |       n AS point_count
         |FROM m ORDER BY 1, 2""".stripMargin,

    "q_tod_bucket_mean" ->
      s"""WITH m AS (
         |  SELECT printf('%02d:%02d:%02d', CAST(b // 3600 AS INT),
         |                CAST((b % 3600) // 60 AS INT), CAST(b % 60 AS INT)) AS tod_bucket,
         |         ${sMilliSql("value")} AS s, count(value) AS n
         |  FROM (SELECT ((hour(ts) * 3600 + minute(ts) * 60 + second(ts)) // 900) * 900 AS b,
         |               value
         |        FROM events)
         |  GROUP BY 1)
         |SELECT tod_bucket, ${milliMeanSql("s", "n")} AS mean_value
         |FROM m WHERE n > 0 ORDER BY 1""".stripMargin,

    "q_daily_broadband" ->
      s"""WITH m AS (
         |  SELECT CAST(ts AS DATE) AS day,
         |         ${sMilliSql("value")} AS s, count(value) AS n
         |  FROM events GROUP BY 1)
         |SELECT day, ${milliMeanSql("s", "n")} AS mean_value, n AS point_count
         |FROM m WHERE n > 0 ORDER BY 1""".stripMargin,

    "q_catalog_inventory" ->
      """SELECT user_id, event_type, min(ts) AS first_start, max(ts) AS last_end,
        |       count(*) AS file_count
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_distinct_sorted" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",

    "q_psd_matrix" ->
      s"""WITH m AS (
         |  SELECT time_bucket(INTERVAL '1 day', ts) AS bucket_start,
         |         event_type AS band,
         |         ${sMilliSql("value")} AS s, count(value) AS n
         |  FROM events GROUP BY 1, 2),
         |x AS (SELECT bucket_start, band, ${milliMeanSql("s", "n")} AS m FROM m)
         |SELECT bucket_start,
         |       max(m) FILTER (WHERE band = 'click') AS click,
         |       max(m) FILTER (WHERE band = 'error') AS error,
         |       max(m) FILTER (WHERE band = 'purchase') AS purchase,
         |       max(m) FILTER (WHERE band = 'signup') AS signup,
         |       max(m) FILTER (WHERE band = 'view') AS view
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_finite_filter" ->
      s"""WITH bad AS (
         |  SELECT event_type,
         |         CASE WHEN user_id % 11 = 0 THEN CAST('NaN' AS DOUBLE)
         |              WHEN user_id % 13 = 0 THEN CAST('Infinity' AS DOUBLE)
         |              ELSE value END AS v
         |  FROM events),
         |m AS (
         |  SELECT event_type, count(*) AS n_kept,
         |         ${sMilliSql("v")} AS s, count(v) AS n
         |  FROM bad WHERE isfinite(v)
         |  GROUP BY 1)
         |SELECT event_type, n_kept, ${milliMeanSql("s", "n")} AS mean_value
         |FROM m ORDER BY 1""".stripMargin,

    "q_file_match_count" ->
      """SELECT event_type AS hydrophone,
        |       CAST(count(DISTINCT (day(ts) - 1) // 7) AS BIGINT) AS n_files
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_expected_points" ->
      """WITH w AS (SELECT event_type AS band,
        |                  CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
        |                  CAST(floor(epoch(max(ts))) AS BIGINT) AS hi
        |           FROM events GROUP BY 1),
        |     d AS (SELECT CAST(unnest([60, 300, 3600]) AS BIGINT) AS delta_t)
        |SELECT band, delta_t,
        |       CAST(CASE WHEN hi <= lo THEN 0
        |                 ELSE (hi - lo + delta_t - 1) // delta_t END AS BIGINT) AS n_expected
        |FROM w, d ORDER BY band, delta_t""".stripMargin,

    "q_empty_window" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_points,
        |       CAST(1440 AS BIGINT) AS n_expected,
        |       CAST(count(*) >= 1440 AS INT) AS complete
        |FROM events
        |WHERE ts >= TIMESTAMP '2023-06-01 00:00:00'
        |  AND ts < TIMESTAMP '2023-06-02 00:00:00'""".stripMargin,

    "q_merge_lastwins" ->
      s"""WITH m1 AS (
         |  SELECT CAST(ts AS DATE) AS day, ${sMilliSql("value")} AS s,
         |         count(value) AS n
         |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1),
         |c1 AS (SELECT day, ${milliMeanSql("s", "n")} AS mean_value,
         |              n AS point_count FROM m1 WHERE n > 0),
         |m2 AS (
         |  SELECT CAST(ts AS DATE) AS day, ${sMilliSql("value")} AS s,
         |         count(value) AS n
         |  FROM events
         |  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND value < 400 GROUP BY 1),
         |c2 AS (SELECT day, ${milliMeanSql("s", "n")} AS mean_value,
         |              n AS point_count FROM m2 WHERE n > 0),
        |u AS (SELECT *, 0 AS chunk FROM c1 UNION ALL SELECT *, 1 AS chunk FROM c2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY day ORDER BY chunk DESC) AS rn FROM u)
        |SELECT day, mean_value, point_count FROM r WHERE rn = 1 ORDER BY day""".stripMargin,
  )
}
