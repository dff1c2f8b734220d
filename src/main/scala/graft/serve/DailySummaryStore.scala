package graft.serve

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalTime, ZoneOffset}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.CatalogSidecar
import graft.ops.DailySummaryOps
import graft.sources.PartitionedArchive

/** Maintained daily-summary rollup (r15 verdict #2): the daily-summary
  * cells were the slowest serving rows in the head-to-head because every
  * request re-aggregates the raw window (30 d × 86 400 s × 22 bands ≈
  * 57 M rows) into 1.9 M (second-of-day × band) groups. This store keeps
  * that A4 aggregate in mergeable form, `(sod, band, sum, count, min,
  * max)` ([[DailySummaryOps.timeOfDayStats]]), as dyadic day blocks:
  *
  *  - a level-k block covers 2^k days aligned on the epoch day (its start
  *    is a multiple of 2^k); sums and counts add and extrema fold, so a
  *    block holds one day's worth of keys, 1/2^k of its raw rows;
  *  - a whole-day window is the merge of the aligned blocks that tile it
  *    greedily, at most 2·⌈log2 n⌉ of them ([[dyadic]]).
  *
  * Blocks are stored only where a trailing window's tiling uses them. A
  * level-0 block holds one row per (second-of-day, band) of its day, as
  * many as the raw day at one sample per key: storing one for every day
  * would copy the archive. So the raw day serves as the level-0 block
  * wherever none is stored, and a block is built from the fresh stored
  * blocks under it, else from raw days.
  *
  * Each pass builds, in at most two queries of one shuffle each, first
  * the single-block windows (the 1-day window IS its level-0 block), then
  * the other windows' missing or stale tiling blocks and the stale
  * windows themselves. A landed day therefore scans a few raw days and
  * reads a few blocks, not the window. `statsFor` serves a fresh
  * materialized window, or any other whole-day window whose tiling blocks
  * are all stored and fresh (never more blocks than the window has days,
  * each at most a raw day's rows); otherwise the request scans raw.
  *
  * Freshness needs no coordination with writers: every stored aggregate
  * carries a fingerprint of the psd footer-index rows ([[CatalogSidecar]])
  * whose zones overlap its days — file set, row counts, ts zones. An
  * append/delete/compaction changes exactly the fingerprints of the
  * blocks and windows it touches, which then read as stale (raw fallback)
  * until the next pass rebuilds them. The check is metadata-only: one
  * listing diff + a driver hash over ~1e2..1e5 index rows.
  *
  * Layout, all under `psd/_daily_summary/<product key>/`:
  * `block=L<k>_<start day>/` and `window=<start day>_<days>/`, each the
  * parquet stats plus `_FINGERPRINT`. A build's merge is partitioned by
  * (sod, band) into one partition per input, at most two per shuffle
  * partition, and every merge task writes one file of each target: a
  * merge of n inputs writes min(n, 2 × `spark.sql.shuffle.partitions`)
  * files per aggregate (8 on the benchmark's `local[4]`). Files are never
  * rewritten in place: a rebuilt aggregate's directory is deleted, the
  * new one renamed in from the build's staging directory, and its
  * fingerprint created last. */
final class DailySummaryStore(spark: SparkSession, root: String) {
  import DailySummaryStore._

  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def keyDir(k: Key): Path =
    new Path(s"$root/psd/_daily_summary/${k.part}")

  private def dir(k: Key, a: Agg): Path = new Path(keyDir(k), a.name)

  private def psdIndex(): CatalogSidecar.ProductIndex =
    CatalogSidecar.load(spark, s"$root/psd")

  private def stored(k: Key, a: Agg): Option[String] = {
    val p = new Path(dir(k, a), "_FINGERPRINT")
    try scala.util.Using.resource(fs(p).open(p))(in => Some(new String(in.readAllBytes(), UTF_8)))
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def fresh(k: Key, fps: => Fingerprints)(a: Agg): Boolean =
    stored(k, a).exists(_ == fps.of(a))

  /** Maintain one window's stats (and the blocks under it) from the
    * current archive; an up-to-date window costs metadata only. */
  def maintain(h: String, freqType: String, deltaF: Int, deltaT: Int,
      startDay: LocalDate, numDays: Int): Unit =
    maintainWith(psdIndex(), Key(h, freqType, deltaF, deltaT),
      Seq(Window(startDay.toEpochDay, numDays)))

  /** One pass: the stale single-block windows, then the missing or stale
    * tiling blocks of the other windows and those windows themselves;
    * nothing (no Spark job, no write) when all are fresh. The
    * single-block windows land first, in their own query, so a request
    * for a landed day's window is served from its block while the rest
    * is merged. `idx` is loaded BEFORE the scan and every fingerprint
    * comes from it, so a write racing into a day between load and scan
    * mismatches at read time (conservative — falls back) instead of
    * serving stats that miss it. */
  private def maintainWith(idx: CatalogSidecar.ProductIndex, k: Key,
      windows: Seq[Window]): Unit = {
    val fps = new Fingerprints(idx, k)
    val freshness = scala.collection.mutable.Map.empty[Agg, Boolean]
    def isFresh(a: Agg): Boolean = freshness.getOrElseUpdate(a, fresh(k, fps)(a))
    val (single, multi) = windows.partition(_.tiling.size == 1)
    for (aggs <- Seq(single.flatMap(_.tiling), multi.flatMap(_.tiling) ++ multi)) {
      val stale = aggs.distinct.filterNot(isFresh)
      if (stale.nonEmpty) {
        build(k, fps, isFresh, stale)
        stale.foreach(freshness(_) = true)
      }
    }
  }

  /** Build `targets` in one query with one shuffle, each from the fresh
    * blocks under it that are not targets themselves, else their
    * children, down to the raw day; then publish each: old directory
    * out, new data renamed in, fingerprint created last. The staging
    * directory goes whatever happens. */
  private def build(k: Key, fps: Fingerprints, fresh: Agg => Boolean,
      targets: Seq[Agg]): Unit = {
    val ids = targets.zipWithIndex.toMap
    def cover(b: Block): Seq[Either[Long, Block]] =
      if (fps.empty(b)) Nil
      else if (!ids.contains(b) && fresh(b)) Seq(Right(b))
      else if (b.level == 0) Seq(Left(b.start))
      else b.children.flatMap(cover)
    val feeds = targets.flatMap(t => t.tiling.flatMap(cover).map(_ -> ids(t)))
      .groupMap(_._1)(_._2).toSeq.zipWithIndex
    val staging = new Path(keyDir(k), s"_staging-${java.util.UUID.randomUUID}")
    val f = fs(staging)
    try {
      if (feeds.nonEmpty) {
        val rawDays = feeds.collect { case ((Left(d), _), i) => d -> i }.toMap
        val blocks = feeds.collect { case ((Right(b), _), i) => b.name -> i }.toMap
        val inputs = Seq(
          if (rawDays.isEmpty) None else Some(rawStats(k, rawDays)),
          if (blocks.isEmpty) None else Some(blockStats(k, blocks))).flatten
        // one shuffle, of the inputs: with every day of a (sod, band) key
        // in one task, each input row fans out to the targets it feeds and
        // all targets aggregate there, without a second exchange. One merge
        // partition per input (a day's rows), up to two per shuffle
        // partition: a one-day build is one task and one file, and a merge
        // of many inputs runs as tasks short enough that a concurrent
        // request soon gets a core, while every task still writes a file
        // per target
        val parts = math.min(feeds.size,
          2 * spark.conf.get("spark.sql.shuffle.partitions").toInt)
        val fanned = inputs.reduce(_ unionByName _)
          .repartition(parts, col("sod"), col("band"))
          .select(explode(typedLit(feeds.map(_._1._2)).apply(col("input"))).as("target") +:
            StatsSchema.fieldNames.toSeq.map(col): _*)
        // dictionary encoding is off: the stats columns are near-unique
        // doubles, and trying a dictionary per page before falling back to
        // plain cost ~20 % of the merge stage's task time. snappy, not
        // zstd: parquet's zstd codec opens a finalizable zstd-jni stream per
        // page that pins its file writer's 1 MB output buffer until the
        // finalizer has run, so a pass's dozens of files outlived the next
        // full GC; zstd saves only ~20 % on these near-unique doubles
        DailySummaryOps.mergeStats(fanned, col("target"), col("sod"), col("band"))
          .write.option("compression", "snappy").option("parquet.enable.dictionary", "false")
          .partitionBy("target").parquet(staging.toString)
      }
      targets.foreach { t =>
        val d = dir(k, t)
        val out = new Path(staging, s"target=${ids(t)}")
        f.delete(d, true)
        if (!f.exists(out)) f.mkdirs(d) // no rows: an empty (all-empty-day) aggregate
        else if (!f.rename(out, d))
          throw new java.io.IOException(s"daily summary: rename $out -> $d failed")
        val fp = f.create(new Path(d, "_FINGERPRINT"), false)
        try fp.write(fps.of(t).getBytes(UTF_8)) finally fp.close()
      }
    } finally f.delete(staging, true)
  }

  /** The raw rows of `days` as stats partials, each tagged with its
    * day's input id. */
  private def rawStats(k: Key, days: Map[Long, Int]): DataFrame = {
    val secs = col("ts").cast("long")
    def at(day: Long) = lit(java.sql.Timestamp.from(Instant.ofEpochSecond(day * 86400L)))
    val runs = days.keys.toSeq.sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, d) if d == b => (a, d + 1) :: rest
      case (acc, d) => (d, d + 1) :: acc
    }
    PartitionedArchive.readPsd(spark, root)
      .filter(col("hydrophone") === k.h && col("freq_type") === k.freqType &&
        col("delta_f") === k.deltaF && col("delta_t") === k.deltaT)
      .filter(runs.map { case (a, b) => col("ts") >= at(a) && col("ts") < at(b) }.reduce(_ || _))
      .select(typedLit(days).apply(floor(secs / 86400L)).as("input") +:
        DailySummaryOps.rowStats(col("ts"), col("band"), col("value")): _*)
  }

  /** Stored blocks, named by directory, in one scan, each row tagged with
    * its block's input id (the `block=` directory level read as a
    * partition column). */
  private def blockStats(k: Key, blocks: Map[String, Int]): DataFrame =
    spark.read.schema(StatsSchema.add("block", StringType))
      .option("basePath", keyDir(k).toString)
      .parquet(blocks.keys.toSeq.map(b => new Path(keyDir(k), b).toString): _*)
      .select(typedLit(blocks.map { case (b, i) => b.stripPrefix("block=") -> i })
        .apply(col("block")).as("input") +: StatsSchema.fieldNames.toSeq.map(col): _*)

  /** Trailing windows anchored at the newest psd data (the dashboard
    * request shape): end-day = the day after the last ts zone in the
    * footer index. Returns the (days, startDay) windows maintained. The
    * index is loaded once for the whole pass. Trailing windows older than
    * the previous pass's are deleted after the new ones land; the
    * previous generation stays, so a request that already resolved one
    * keeps its files. Blocks are never deleted for age. */
  def maintainTrailing(h: String, freqType: String, deltaF: Int,
      deltaT: Int, days: Seq[Int]): Seq[(Int, LocalDate)] = {
    val idx = psdIndex()
    val k = Key(h, freqType, deltaF, deltaT)
    val zones = idx.rows
      .filter(r => r.file.contains(k.part) && r.maxUs != Long.MinValue)
      .map(_.maxUs)
    if (zones.isEmpty) Seq.empty
    else {
      val endDay = Math.floorDiv(zones.max, UsPerDay) + 1
      val windows = days.map(n => Window(endDay - n, n))
      maintainWith(idx, k, windows)
      val f = fs(keyDir(k))
      val kept = if (!f.exists(keyDir(k))) Nil else f.listStatus(keyDir(k)).toSeq
        .flatMap(s => Window.parse(s.getPath.getName).map(s.getPath -> _))
      kept.map(_._2.end).filter(_ < endDay).maxOption.foreach { previous =>
        kept.foreach { case (p, w) => if (w.end < previous) f.delete(p, true) }
      }
      windows.map(w => w.days -> LocalDate.ofEpochDay(w.start))
    }
  }

  /** The serving hook: up-to-date stats for EXACTLY this whole-day
    * window — its materialized window when fresh, else the merge of its
    * tiling blocks when all are stored and fresh — or None (request falls
    * back to the raw-scan path). Columns of [[DailySummaryOps.meanStats]];
    * callers band-filter and bucket on top. The index is loaded only once
    * a stored fingerprint exists to compare. */
  def statsFor(h: String, freqType: String, deltaF: Int, deltaT: Int,
      start: Instant, end: Instant): Option[DataFrame] = {
    val startZ = start.atZone(ZoneOffset.UTC)
    val endZ = end.atZone(ZoneOffset.UTC)
    if (startZ.toLocalTime != LocalTime.MIDNIGHT ||
        endZ.toLocalTime != LocalTime.MIDNIGHT) return None
    val w = Window(startZ.toLocalDate.toEpochDay,
      (endZ.toLocalDate.toEpochDay - startZ.toLocalDate.toEpochDay).toInt)
    if (w.days < 1) return None
    val k = Key(h, freqType, deltaF, deltaT)
    lazy val fps = new Fingerprints(psdIndex(), k)
    Seq(Seq(w), w.tiling).find(_.forall(fresh(k, fps))).map { as =>
      val stats = spark.read.schema(StatsSchema).parquet(as.map(dir(k, _).toString): _*)
      DailySummaryOps.meanStats(
        if (as.size == 1) stats
        else DailySummaryOps.mergeStats(stats, col("sod"), col("band")))
    }
  }
}

object DailySummaryStore {

  private val UsPerDay = 86400L * 1000000L

  /** The one schema of every stored aggregate (block or window). */
  val StatsSchema: StructType = StructType(Seq(
    StructField("sod", LongType), StructField("band", DoubleType),
    StructField("sum", DoubleType), StructField("count", LongType),
    StructField("min", DoubleType), StructField("max", DoubleType)))

  private final case class Key(h: String, freqType: String, deltaF: Int, deltaT: Int) {
    val part = s"hydrophone=$h/freq_type=$freqType/delta_f=$deltaF/delta_t=$deltaT/"
  }

  /** A stored aggregate over the epoch days [start, end). */
  private sealed trait Agg {
    def start: Long
    def end: Long
    def name: String
    def tiling: Seq[Block]
  }

  private final case class Block(level: Int, start: Long) extends Agg {
    def end: Long = start + (1L << level)
    def name = s"block=L${level}_${LocalDate.ofEpochDay(start)}"
    def tiling: Seq[Block] = Seq(this)
    def children: Seq[Block] =
      Seq(Block(level - 1, start), Block(level - 1, start + (1L << (level - 1))))
  }

  private final case class Window(start: Long, days: Int) extends Agg {
    def end: Long = start + days
    def name = s"window=${LocalDate.ofEpochDay(start)}_$days"
    def tiling: Seq[Block] = dyadic(start, end)
  }

  private object Window {
    private val Name = """window=(\d{4}-\d{2}-\d{2})_(\d+)""".r
    def parse(name: String): Option[Window] = name match {
      case Name(d, n) => Some(Window(LocalDate.parse(d).toEpochDay, n.toInt))
      case _ => None
    }
  }

  /** The aligned blocks tiling the epoch days [s, e): at each day the
    * largest block that starts there aligned and ends inside — at most
    * 2·⌈log2 n⌉ blocks. */
  private def dyadic(s: Long, e: Long): Seq[Block] = {
    val out = Seq.newBuilder[Block]
    var a = s
    while (a < e) {
      var l = 0
      while (Math.floorMod(a, 2L << l) == 0 && a + (2L << l) <= e) l += 1
      out += Block(l, a)
      a += 1L << l
    }
    out.result()
  }

  /** The fingerprints of one product key's aggregates: a hash of the
    * footer-index rows whose ts zones overlap the aggregate's days, after
    * a tag of the stored schema (a change of format reads as stale). A
    * row's file is hashed by its path relative to the product root, so a
    * copied or moved archive keeps its rollup fresh. */
  private final class Fingerprints(idx: CatalogSidecar.ProductIndex, k: Key) {
    private val rows = idx.rows.filter(_.file.contains(k.part))
    private def overlaps(a: Agg)(r: CatalogSidecar.FileStat): Boolean =
      r.minUs < a.end * UsPerDay && r.maxUs >= a.start * UsPerDay
    def empty(a: Agg): Boolean = !rows.exists(overlaps(a))
    def of(a: Agg): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(StatsSchema.simpleString.getBytes(UTF_8))
      rows.filter(overlaps(a))
        .map(r => s"${r.file.substring(r.file.indexOf(k.part))}|${r.nRows}|" +
          s"${r.minUs}|${r.maxUs}").sorted
        .foreach(s => md.update(("\n" + s).getBytes(UTF_8)))
      md.digest().map("%02x".format(_)).mkString
    }
  }
}
