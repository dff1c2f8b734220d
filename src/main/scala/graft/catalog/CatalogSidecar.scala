package graft.catalog

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{PartitionedArchive, SkipIndex}

/** Persisted, incrementally-maintained catalog for a
  * [[graft.sources.PartitionedArchive]] — kills the one full-archive scan
  * left in the serving lifecycle (r15: `AmbientService.fromFrames` paid a
  * 9–29 s min/max/count groupBy over 1.27 B rows at EVERY process start;
  * the reference re-lists+re-parses S3 keys per options call,
  * `app/services/get_options.py:86-134`).
  *
  * Design: the sidecar is NOT a bespoke summary file — it is the
  * product's footer-stats index ([[SkipIndex]] discipline, one row per
  * parquet FILE with `ts` min/max + row count, persisted under
  * `<product>/_skipindex`), and the catalog is a metadata-scale
  * aggregation of it:
  *
  *  - per-(hydrophone, freq_type, delta_f, delta_t) keys come from the
  *    file PATHS (they are the archive's physical partition columns), so
  *    deriving them costs nothing;
  *  - `first_start`/`last_end` = min/max of the files' footer `ts` zones
  *    (writers force INT64 TIMESTAMP_MICROS, so footer stats are exact
  *    data min/max — stats-less files get a bounded data-scan fallback);
  *  - `file_count` = Σ footer row counts (the data-derived catalog counts
  *    ROWS — `AmbientService.fromFrames` semantics, kept bit-identical so
  *    the sidecar is invisible to every consumer).
  *
  * Freshness needs no markers and no writer hooks: [[load]] is the one
  * index maintainer, [[SkipIndex.load]], which diffs the persisted index
  * against the live listing — new files (batch ingest, plain appends,
  * compaction rewrites) get O(new) footer reads; rows for deleted files
  * drop out of the kept set.
  *
  * EVERYTHING here is metadata-scale (one row per FILE — ~1e5 rows at
  * 100 TB), so the whole bootstrap path runs ON THE DRIVER: the listing
  * is one recursive `FileSystem` walk, the persisted index is read with
  * the parquet-hadoop record reader (no Spark job, no datasource
  * resolution), and the inventory is a driver fold. Spark enters only
  * where scale genuinely needs it: a distributed footer-read fan-out when
  * a refresh finds MANY new files (initial builds over large archives),
  * the bounded data-scan fallback for stats-less files, and the index
  * persist (a 1-task write, paid only when the listing changed). A
  * restart with an up-to-date sidecar therefore costs a few milliseconds
  * of FS metadata — vs 9–29 s for the recompute and ~14 s for the r16
  * first-cut Spark-job spelling of this same aggregation (PERF.md r16).
  */
object CatalogSidecar {

  /** One persisted index row (the [[SkipIndex]] footer-index schema,
    * driver-held). `file` is stored in [[SkipIndex.canonPath]] spelling. */
  type FileStat = SkipIndex.FileStat

  /** A product's footer index as a driver VALUE (same rationale as
    * SkipIndex's localize contract: index frames left as live plans
    * re-run their reads and race overwrites). */
  final class ProductIndex(val rows: IndexedSeq[FileStat])

  /** The product's footer index, current with its listing — the one
    * maintainer [[SkipIndex.load]]: persisted back only if the listing
    * changed (append/delete/compaction). Steady state (unchanged listing)
    * is a pure-metadata no-op: one FS walk + one driver parquet read,
    * zero Spark jobs, zero writes. */
  def load(spark: SparkSession, productDir: String): ProductIndex =
    new ProductIndex(SkipIndex.load(spark, productDir))

  // ---- inventory (A7) ----------------------------------------------------

  private final case class InvKey(hydrophone: String, freqType: String,
      deltaF: Option[Int], deltaT: Int)

  private def pathValue(file: String, key: String): Option[String] = {
    val tag = s"/$key="
    val i = file.indexOf(tag)
    if (i < 0) None
    else {
      val from = i + tag.length
      val to = file.indexOf('/', from)
      Some(if (to < 0) file.substring(from) else file.substring(from, to))
    }
  }

  /** Driver fold of one product's index into inventory partials:
    * key → (minUs, maxUs, rowCount), plus the stats-less files that need
    * the bounded scan fallback. Mirrors `AmbientService.derivedCatalog`'s
    * per-product groupBy exactly (row counts include stats-less files;
    * zones come from footers or the fallback scan). */
  private def productPartials(idx: ProductIndex, broadband: Boolean)
      : (collection.mutable.LinkedHashMap[InvKey, (Long, Long, Long)], IndexedSeq[FileStat]) = {
    val acc = collection.mutable.LinkedHashMap.empty[InvKey, (Long, Long, Long)]
    val statless = IndexedSeq.newBuilder[FileStat]
    idx.rows.foreach { r =>
      val key = InvKey(
        pathValue(r.file, "hydrophone").getOrElse(""),
        if (broadband) "broadband"
        else pathValue(r.file, "freq_type").getOrElse(""),
        if (broadband) None else pathValue(r.file, "delta_f").flatMap(_.toIntOption),
        pathValue(r.file, "delta_t").flatMap(_.toIntOption).getOrElse(0))
      val hasStats = r.minUs != Long.MaxValue
      if (!hasStats && r.nRows > 0) statless += r
      val (mn0, mx0, n0) = acc.getOrElse(key, (Long.MaxValue, Long.MinValue, 0L))
      acc(key) = (
        if (hasStats) math.min(mn0, r.minUs) else mn0,
        if (hasStats) math.max(mx0, r.maxUs) else mx0,
        n0 + r.nRows)
    }
    (acc, statless.result())
  }

  /** Fold the stats-less files' DATA-scan zones (the rare foreign-writer
    * case: `ts` carried no INT64 footer stats) into the partials. Bounded
    * to exactly those files; `basePath` keeps the partition columns in
    * scope. */
  private def mergeStatlessScan(spark: SparkSession, productDir: String,
      broadband: Boolean, statless: IndexedSeq[FileStat],
      acc: collection.mutable.LinkedHashMap[InvKey, (Long, Long, Long)]): Unit = {
    if (statless.isEmpty) return
    val partCols =
      if (broadband) PartitionedArchive.BroadbandPartitions
      else PartitionedArchive.PsdPartitions
    spark.read.option("basePath", productDir)
      .parquet(statless.map(_.file): _*)
      .groupBy(partCols.map(col): _*)
      .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
      .collect().foreach { row =>
        val key = InvKey(
          row.getAs[String]("hydrophone"),
          if (broadband) "broadband" else row.getAs[String]("freq_type"),
          if (broadband) None
          else Option(row.getAs[Any]("delta_f")).map(_.toString.toInt),
          row.getAs[Any]("delta_t").toString.toInt)
        def us(t: java.sql.Timestamp): Long =
          t.getTime / 1000L * 1000000L + t.getNanos / 1000L
        val (mn0, mx0, n0) = acc.getOrElse(key, (Long.MaxValue, Long.MinValue, 0L))
        acc(key) = (
          math.min(mn0, us(row.getAs[java.sql.Timestamp]("mn"))),
          math.max(mx0, us(row.getAs[java.sql.Timestamp]("mx"))), n0)
      }
  }

  /** The full A7 inventory from already-loaded indexes — values identical
    * to `AmbientService.derivedCatalog`'s data-derived recompute
    * (CatalogSidecarSpec pins it, including after appends + deletes). */
  def entriesFrom(spark: SparkSession, root: String,
      bb: ProductIndex, psd: ProductIndex): Seq[ArchiveCatalog.CatalogEntry] = {
    def product(idx: ProductIndex, dir: String, broadband: Boolean) = {
      val (acc, statless) = productPartials(idx, broadband)
      mergeStatlessScan(spark, dir, broadband, statless, acc)
      acc
    }
    val all = product(bb, s"$root/broadband", broadband = true) ++
      product(psd, s"$root/psd", broadband = false)
    all.iterator.collect {
      // a key whose zones never resolved (all files empty AND stats-less)
      // has no first/last — derivedCatalog would not produce it either
      // (no rows to group); drop it
      case (k, (mn, mx, n)) if mn != Long.MaxValue =>
        ArchiveCatalog.CatalogEntry(k.hydrophone, k.freqType, k.deltaF,
          k.deltaT, usToInstant(mn), usToInstant(mx), n)
    }.toIndexedSeq
  }

  private def usToInstant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L)

  def entries(spark: SparkSession, root: String)
      : Seq[ArchiveCatalog.CatalogEntry] =
    entriesFrom(spark, root,
      load(spark, s"$root/broadband"), load(spark, s"$root/psd"))

  /** The inventory as a frame — schema and values identical to
    * `AmbientService.derivedCatalog` (the spec's comparison surface). */
  def inventory(spark: SparkSession, root: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("hydrophone", StringType),
      StructField("freq_type", StringType),
      StructField("delta_f", IntegerType),
      StructField("delta_t", IntegerType),
      StructField("first_start", TimestampType),
      StructField("last_end", TimestampType),
      StructField("file_count", LongType)))
    val rows = new java.util.ArrayList[Row]()
    entries(spark, root).foreach { e =>
      rows.add(Row(e.hydrophone, e.freqType, e.deltaF.orNull, e.deltaT,
        java.sql.Timestamp.from(e.firstStart),
        java.sql.Timestamp.from(e.lastEnd), e.fileCount))
    }
    spark.createDataFrame(rows, schema)
  }

  // ---- S5 integrity probe ------------------------------------------------

  /** Per-file broadband zones for the S5 integrity probe: how many
    * archive FILES of (hydrophone, delta_t) overlap `[startUs, endUs)`?
    * Metadata-only — answered from the driver-held footer index, the
    * Spark spelling of the reference's `_matching_file_count` key-name
    * window test (`get_timeseries.py:71-81`). */
  final class FileZones(zones: Map[(String, Int), IndexedSeq[(Long, Long)]]) {
    def overlapping(hydrophone: String, deltaT: Int,
        startUs: Long, endUs: Long): Long =
      zones.getOrElse((hydrophone, deltaT), IndexedSeq.empty)
        .count { case (mn, mx) => mn < endUs && mx >= startUs }
        .toLong
  }

  def zonesFrom(bb: ProductIndex): FileZones =
    new FileZones(bb.rows
      .filter(_.minUs != Long.MaxValue)
      .map { r =>
        ((pathValue(r.file, "hydrophone").getOrElse(""),
          pathValue(r.file, "delta_t").flatMap(_.toIntOption).getOrElse(0)),
          (r.minUs, r.maxUs))
      }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) })
}
