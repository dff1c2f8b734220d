package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Sessions

/** The canonical partitioned archive layout (SURVEY §4.2.2).
  *
  * The reference encodes product metadata in S3 filenames
  * (`{start}_{end}_{secs}s_{freq}.parquet`, `docs/upstream-notes.md:23`) and
  * re-derives it by listing+parsing on every options scan; monthly 2.6 M-row
  * files make interactive reads hostile (`docs/upstream-notes.md:62-74`) and
  * shared prefixes caused cross-hydrophone reads (`:43-58`). Directory
  * partitioning fixes all three by construction:
  *
  *   broadband/hydrophone=X/delta_t=1/part-*.parquet
  *   psd/hydrophone=X/freq_type=octave_bands/delta_f=3/delta_t=1/part-*.parquet
  *
  * Partition-column predicates prune directories (never open a file);
  * row-group stats on `ts` prune within files. Writes go through
  * `partitionBy` so ingest at any scale lays data out correctly.
  */
object PartitionedArchive {

  val BroadbandPartitions: Seq[String] = Seq("hydrophone", "delta_t")
  val PsdPartitions: Seq[String] = Seq("hydrophone", "freq_type", "delta_f", "delta_t")

  /** All archive writes force INT64 `TIMESTAMP_MICROS` parquet timestamps.
    * Spark's default is legacy INT96, which carries NO column statistics —
    * with it, `ts` row-group pruning silently never happens and every
    * window query scans the whole partition (caught by the 10×-archive
    * scan-metrics test in ArchiveLayoutSpec). Writers apply it through
    * [[graft.util.Sessions.scoped]], so it never reaches the caller's
    * session. */
  private[graft] val MicrosTs = "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"

  /** Ingest a broadband frame `(hydrophone, delta_t, ts, value)`.
    * Rows are sorted by `ts` within each partition so parquet row-group
    * min/max stats are tight — time-window pushdown then skips whole row
    * groups, the columnar replacement for the reference's filename time
    * ranges. zstd trades a little CPU for the scan bandwidth that
    * dominates at archive scale. */
  def writeBroadband(df: DataFrame, root: String): Unit =
    Sessions.scoped(df, MicrosTs) {
      _.sortWithinPartitions("hydrophone", "delta_t", "ts")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(BroadbandPartitions: _*)
        .parquet(s"$root/broadband")
    }

  /** Ingest a PSD long frame
    * `(hydrophone, freq_type, delta_f, delta_t, ts, band, value)`. */
  def writePsd(df: DataFrame, root: String): Unit =
    Sessions.scoped(df, MicrosTs) {
      _.sortWithinPartitions("hydrophone", "freq_type", "delta_f", "delta_t", "ts")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(PsdPartitions: _*)
        .parquet(s"$root/psd")
    }

  /** Idempotent micro-batch append — the `foreachBatch` target for
    * [[graft.streaming.StreamingOps.archiveIngest]]. `foreachBatch` is
    * at-least-once: if the JVM dies after data lands but before the
    * checkpoint records the batch id, the whole batch is re-delivered. A
    * blind append would then duplicate rows; this writer makes the replay
    * converge to exactly-once output instead:
    *
    *  1. a commit marker `_ingest_commits/<streamId>-<batchId>`
    *     short-circuits a replay of a fully committed batch (the stream id
    *     scopes batch numbers to one query's checkpoint);
    *  2. the batch is written to `_staging/batch=<streamId>-<batchId>`
    *     with
    *     mode=overwrite (underscore dirs are invisible to partition
    *     discovery, and overwrite makes THIS step self-cleaning);
    *  3. staged files move into their live partition dirs under
    *     DETERMINISTIC names `b<streamId>-<batchId>-<taskPart>.parquet`,
    *     after deleting any same-tag leftovers from a crashed earlier
    *     attempt (same batch id ⇒ same checkpointed source offsets ⇒ same
    *     data ⇒ same partition set, so the pre-delete covers every file a
    *     partial attempt can have produced);
    *  4. the marker is created, then staging is removed.
    *
    * A crash between any two steps replays into the same end state.
    * File-level `rename` is atomic on HDFS/local; on an object store the
    * rename is copy+delete and a transactional table layer is the real
    * answer — same caveat as [[compactPartition]]. */
  def appendBroadbandBatch(df: DataFrame, root: String, batchId: Long,
      streamId: String = ""): Unit =
    appendBatch(df, s"$root/broadband", BroadbandPartitions, batchId, streamId)

  /** PSD micro-batches get the identical replay-idempotent path. */
  def appendPsdBatch(df: DataFrame, root: String, batchId: Long,
      streamId: String = ""): Unit =
    appendBatch(df, s"$root/psd", PsdPartitions, batchId, streamId)

  private def appendBatch(df: DataFrame, productRoot: String,
      partitionCols: Seq[String], batchId: Long, streamId: String): Unit = {
    appendBatchAt(df, productRoot, partitionCols, partitionCols :+ "ts",
      batchId, streamId): Unit
  }

  /** The generic replay-idempotent micro-batch appender behind
    * [[appendBroadbandBatch]]/[[appendPsdBatch]] — same
    * marker/staging/deterministic-rename protocol, parameterized sort
    * columns so non-timeseries layouts (e.g. the persisted ANN index's
    * cell partitions, [[graft.sim.IndexOps.appendIvfBatch]]) share it.
    *
    * Returns the landed data files (qualified paths) — the appender is
    * the one place that knows EXACTLY which files a batch created, and
    * incremental index maintenance fed from this list costs zero
    * listings and zero jobs ([[SkipIndex.extendFooterIndex]]). A
    * marker-short-circuited replay reconstructs the list from the
    * batch's deterministic file names, so the caller's index update is
    * replay-idempotent too. */
  private[graft] def appendBatchAt(df: DataFrame, productRoot: String,
      partitionCols: Seq[String], sortCols: Seq[String],
      batchId: Long, streamId: String): Seq[String] = {
    // batch ids are scoped to ONE streaming query's checkpoint: two
    // queries ingesting into the same root both start at batch 0, so the
    // marker/staging/file namespace carries the caller's stream identity
    // (archiveIngest derives it from the checkpoint path) — without it,
    // stream B's batch 0 would be skipped as "already committed" by
    // stream A's marker
    val tag = if (streamId.isEmpty) s"$batchId" else s"$streamId-$batchId"
    val spark = df.sparkSession
    val base = new Path(productRoot)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(base, s"_ingest_commits/$tag")
    val staging = new Path(base, s"_staging/batch=$tag")
    if (fs.exists(marker)) {
      fs.delete(staging, true)
      // replay of a committed batch: its files are already live under
      // their deterministic names — walk them back out so the caller's
      // index update sees the same list the original delivery did
      val landed = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(base, true)
      while (it.hasNext) {
        val f = it.next().getPath
        val hidden = f.toUri.getPath.stripPrefix(base.toUri.getPath)
          .split("/").exists(s => s.startsWith("_") || s.startsWith("."))
        if (!hidden && f.getName.startsWith(s"b$tag-") &&
            f.getName.endsWith(".parquet"))
          landed += fs.makeQualified(f).toString
      }
      return landed.toSeq
    }
    Sessions.scoped(df, MicrosTs) {
      _.sortWithinPartitions(sortCols.map(col): _*)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy(partitionCols: _*)
        .parquet(staging.toString)
    }
    def leafDirs(dir: Path): Seq[Path] = {
      val kids = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      if (kids.isEmpty) Seq(dir) else kids.toSeq.flatMap(leafDirs)
    }
    val stagingPrefix = staging.toUri.getPath.stripSuffix("/") + "/"
    val landed = scala.collection.mutable.ArrayBuffer.empty[String]
    leafDirs(staging).foreach { leaf =>
      val rel = leaf.toUri.getPath.stripPrefix(stagingPrefix)
      val live = if (rel.isEmpty || rel.startsWith("/")) base else new Path(base, rel)
      fs.mkdirs(live)
      // partial earlier attempt of THIS batch: drop its files before re-landing
      Option(fs.globStatus(new Path(live, s"b$tag-*.parquet")))
        .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, false))
      fs.listStatus(leaf).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        // part-00007-<uuid>....parquet → task-partition index 00007: unique
        // within the leaf for one write, stable across replays of the batch
        val idx = f.getPath.getName.stripPrefix("part-").takeWhile(_ != '-')
        val tgt = new Path(live, s"b$tag-$idx.parquet")
        if (!fs.rename(f.getPath, tgt))
          throw new java.io.IOException(s"ingest batch $tag: rename ${f.getPath} -> $tgt failed")
        landed += fs.makeQualified(tgt).toString
      }
    }
    fs.create(marker, true).close()
    fs.delete(staging, true)
    landed.toSeq
  }

  /** The fixed archive schemas, spelled out so readers skip parquet
    * schema inference (a footer read per resolution) — the writers above
    * pin these exactly: data columns in file order, then the partition
    * columns in directory order (what inference would produce). */
  val BroadbandSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("ts", TimestampType), StructField("value", DoubleType),
      StructField("hydrophone", StringType), StructField("delta_t", IntegerType)))
  }

  val PsdSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("ts", TimestampType), StructField("band", DoubleType),
      StructField("value", DoubleType), StructField("hydrophone", StringType),
      StructField("freq_type", StringType), StructField("delta_f", IntegerType),
      StructField("delta_t", IntegerType)))
  }

  def readBroadband(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(BroadbandSchema).parquet(s"$root/broadband")

  def readPsd(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(PsdSchema).parquet(s"$root/psd")

  /** S1 — real filesystem listing → `(hydrophone, path)` DataFrame for
    * [[graft.catalog.ArchiveCatalog]]. Driver-side Hadoop FS walk: listing
    * is metadata-only (one row per FILE); even a 100 TB archive is ~1e5
    * keys, so no distributed listing job is warranted. */
  def listing(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (fs.exists(path)) {
      val it = fs.listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        val p = f.getPath.toString
        val hydro = "hydrophone=([^/]+)".r.findFirstMatchIn(p).map(_.group(1))
        rows += ((hydro.getOrElse(""), p))
      }
    }
    rows.toSeq.toDF("hydrophone", "path")
  }

  /** Compact one product partition: rewrite its files into
    * `ceil(bytes / targetFileBytes)` ts-RANGE-partitioned sorted files
    * (range, not round-robin: each output file must cover a disjoint time
    * slice or min/max stats match every file and pruning is lost).
    * Streaming ingest and per-batch writes accumulate small files that
    * poison scan planning at archive scale; periodic compaction restores
    * row-group-sized files with tight stats.
    *
    * The rewrite lands in an underscore-prefixed sibling (invisible to
    * Spark partition discovery, so readers never see mixed old+new data),
    * then swaps rename-aside: live → `_old_*`, `_compacting_*` → live,
    * delete `_old_*`. The unreadable window is ONE rename pair — never a
    * recursive delete (which on object stores is O(files), a wide-open
    * crash window). A crash mid-swap leaves the previous data intact in
    * `_old_*`; the next compaction run restores it automatically before
    * doing anything else. Full isolation still needs a transactional table
    * layer. */
  def compactPartition(spark: SparkSession, root: String, product: String,
      partitionValues: Seq[(String, Any)], targetFileBytes: Long = 128L << 20): Unit = {
    val dir = partitionValues.foldLeft(s"$root/$product") {
      case (acc, (k, v)) => s"$acc/$k=$v"
    }
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path.getParent, s"_old_${path.getName}")
    // crash recovery: a previous run renamed the live dir aside but died
    // before promoting its rewrite — put the old data back first
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
    if (!fs.exists(path)) return
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new Path(path.getParent, s"_compacting_${path.getName}")
    val df = spark.read.parquet(dir)
    val ranged = if (nFiles == 1) df.repartition(1)
      else df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col("ts"))
    Sessions.scoped(ranged, MicrosTs) {
      _.sortWithinPartitions("ts")
        .write.mode("overwrite").option("compression", "zstd").parquet(tmp.toString)
    }
    if (fs.exists(old)) fs.delete(old, true) // stale leftover from a crash AFTER promote
    // Hadoop FileSystem.rename reports failure as `false`, not an exception
    // (quota, transient store error, dest-exists). Every step checks: a
    // failed aside-rename aborts before touching live data; a failed
    // promote rolls the live dir back — the original partition is never
    // deleted until the rewrite is in place.
    if (!fs.rename(path, old))
      throw new java.io.IOException(s"compaction aborted: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      val restored = fs.rename(old, path)
      throw new java.io.IOException(
        s"compaction failed promoting $tmp -> $path; original " +
          (if (restored) s"restored from $old" else s"LEFT ASIDE at $old"))
    }
    fs.delete(old, true)
  }

  /** Retention: drop whole product partitions whose directory matches the
    * predicate (e.g. a hydrophone decommission) — pure metadata deletes,
    * never a rewrite. Time-based retention inside a partition is a
    * compaction-style rewrite with a `ts >= cutoff` filter instead. */
  def dropPartitions(spark: SparkSession, root: String, product: String,
      predicate: Map[String, String] => Boolean): Seq[String] = {
    val base = new Path(s"$root/$product")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    val leaves = scala.collection.mutable.ArrayBuffer.empty[Path]
    def walk(dir: Path): Unit = {
      val kids = fs.listStatus(dir).filter(_.isDirectory)
      if (kids.isEmpty) leaves += dir
      else kids.foreach(k => walk(k.getPath))
    }
    walk(base)
    // never match the product root itself (no partition segments parsed)
    val dropped = leaves.filter(l => l != base && partitionValues(base, l).nonEmpty &&
      predicate(partitionValues(base, l)))
    dropped.foreach(l => fs.delete(l, true))
    dropped.map(_.toString).toSeq
  }

  /** The `k=v` partition values in `p`'s path BELOW `base`: an '=' in
    * the root path (e.g. /data/env=prod/...) must not leak keys. */
  private[graft] def partitionValues(base: Path, p: Path): Map[String, String] =
    p.toUri.getPath.stripPrefix(base.toUri.getPath.stripSuffix("/") + "/")
      .split("/").filter(_.contains("="))
      .map { seg => val Array(k, v) = seg.split("=", 2); k -> v }.toMap

  /** S5 — metadata-only matching-file count (the reference's integrity
    * probe, `get_timeseries.py:71-81`): how many data files does the
    * partition for this product hold? One driver listing walk; never
    * opens a file and runs no Spark job. */
  def matchingFileCount(spark: SparkSession, root: String, product: String,
      partitionValues: Map[String, Any]): Long = {
    val dir = new Path(partitionValues.foldLeft(s"$root/$product") {
      case (acc, (k, v)) => s"$acc/$k=$v"
    })
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def count(d: Path): Long = fs.listStatus(d).iterator.map { st =>
      if (st.isDirectory) count(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) 1L else 0L
    }.sum
    if (fs.exists(dir)) count(dir) else 0L
  }
}
