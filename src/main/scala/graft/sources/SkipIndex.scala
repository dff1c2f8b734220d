package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._
import graft.util.Sessions

/** File-level ZONE-MAP skip index + small-file compaction for flat
  * (un-partitioned) parquet archives — the data-skipping layer every
  * 100 TB lakehouse needs beyond directory partition pruning.
  *
  * The reference archive prunes on coarse directory keys (hydrophone +
  * month in the filename, `docs/upstream-notes.md:23`); inside a
  * directory it reads whole files. Two problems appear at scale that
  * the reference never faces at its size:
  *
  *  1. A predicate on a clustered-but-not-partitioned column (time,
  *     within a month directory) still plans EVERY file. Parquet
  *     row-group stats skip pages at read time, but the scan still
  *     opens every footer on every query. A persisted zone-map index —
  *     one row per file carrying min/max/rows/bytes — turns file
  *     selection into a metadata-frame filter: ~100 k rows for 100 TB
  *     at 1 GB files, broadcastable, queryable in milliseconds.
  *  2. Streaming/incremental ingest produces many small files; scan
  *     cost degrades with per-file open overhead. Compaction bin-packs
  *     neighbors (in cluster order, so zone maps STAY selective) into
  *     target-sized files.
  *
  * Design rules encoded here:
  *  - The index build reads FOOTERS ONLY (`ParquetFileReader.readFooter`
  *    on the driver, distributed over the file list for large listings)
  *    — metadata-scale I/O, never a data scan. This is the Delta/Iceberg
  *    stats-collection discipline re-expressed on plain parquet.
  *  - ONE maintainer keeps the persisted `_skipindex` current: [[load]]
  *    diffs it against a driver listing walk and reads footers only for
  *    new files ([[reconcile]]). The serving catalog, the daily-summary
  *    fingerprints, streaming ingest and the layout cells all go
  *    through it.
  *  - Pruning is a filter on the index frame followed by a bounded
  *    collect of the surviving PATHS (the same metadata-bounded shape as
  *    [[graft.sim.IndexOps.queryIvfIndex]]'s probed-cell collect): the
  *    data scan is then PLANNED over only those files.
  *  - Compaction is order-preserving: files are binned by cumulative
  *    size in cluster order, so each output file covers a contiguous
  *    zone range and the index stays tight after rewrite.
  */
object SkipIndex {

  /** Write `df` as a flat multi-file parquet layout clustered on
    * `tsCol`: rows are hashed to writer tasks by calendar day, each task
    * sorts its days by `tsCol`, so every output file covers a small,
    * contiguous-ish time range WITHOUT any partition directories — the
    * layout whose pruning must come from file statistics alone.
    * Deterministic content per file for fixed input (hash partitioning
    * and the in-file sort are both deterministic). The partition count
    * is EXPLICIT — a bare `repartition(col)` lets AQE coalesce a small
    * input to one file and the zone maps degenerate to a full scan.
    * Timestamps are forced to INT64 TIMESTAMP_MICROS for the write:
    * Spark's legacy INT96 default carries NO parquet statistics, which
    * would leave every file unprunable (same rule as
    * [[PartitionedArchive]]'s writer, and the reason the footer index
    * treats stats-less files as must-read). */
  def writeTimeClustered(df: DataFrame, tsCol: String, dir: String,
                         numFiles: Int = 32): Unit =
    Sessions.scoped(df, PartitionedArchive.MicrosTs) {
      _.withColumn("__d", to_date(col(tsCol)))
        .repartition(numFiles, col("__d"))
        .sortWithinPartitions(col(tsCol))
        .drop("__d")
        .write.mode("overwrite").parquet(dir)
    }

  /** A from-scratch index over `dataDir`'s data files as a frame:
    * [[reconcile]] against an empty index. Footer-only, and nothing is
    * persisted. */
  def buildFooterIndex(spark: SparkSession, dataDir: String): DataFrame =
    toFrame(spark, reconcile(spark, dataDir, IndexedSeq.empty))

  /** Pin a frame's ROWS on the driver (metadata or serving scale by the
    * caller's contract). Index and result frames are consumed lazily by
    * joins, pruning and later maintenance; left as live plans they re-run
    * their reads at every evaluation, and a footer or version re-read
    * after a file was deleted/compacted out from under the plan fails the
    * job (observed as a cache-eviction-timing flake: a `.cache()`d index
    * evicted under memory pressure re-read a footer the test had
    * deleted). Localizing makes the frame a VALUE. */
  private[graft] def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = new java.util.ArrayList[Row](df.collect().toList.asJava)
    spark.createDataFrame(rows, df.schema)
  }

  /** The footer index is kept for this column: every archive indexed
    * here carries its event time as INT64 `ts` (TIMESTAMP_MICROS). */
  private val StatCol = "ts"

  /** Read one footer → its index row for the INT64 column `ts`. Files
    * with no non-null stats for the column surface as (Long.MaxValue,
    * Long.MinValue) — they never match a range and are listed by
    * [[unprunableFiles]] for safety audits. `nNulls` is the column's
    * null count, or -1 when any block lacks a null count — consumers
    * that need exact row accounting (metaWindowStats' interior path)
    * treat unknown as "must scan"; range PRUNING never needs it (a null
    * matches no range). */
  private def footerStats(conf: Configuration, file: String): FileStat = {
    val md = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new Path(file),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    var rows = 0L; var bytes = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var nulls = 0L; var nullsKnown = true
    md.getBlocks.asScala.foreach { b =>
      rows += b.getRowCount
      bytes += b.getCompressedSize
      b.getColumns.asScala
        .find(_.getPath.toDotString == StatCol)
        .foreach { cc =>
          val st = cc.getStatistics
          if (st != null && !st.isEmpty) {
            if (st.isNumNullsSet) nulls += st.getNumNulls
            else nullsKnown = false
            if (st.hasNonNullValue) {
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  mn = math.min(mn, lo); mx = math.max(mx, hi)
                case _ => // non-INT64 column: leave unprunable
              }
            }
          } else nullsKnown = false
        }
    }
    FileStat(canonPath(file), rows, bytes, mn, mx, if (nullsKnown) nulls else -1L)
  }

  /** Replay-idempotent micro-batch append into a FLAT archive: the
    * [[PartitionedArchive.appendBatchAt]] staging/marker/deterministic-
    * rename protocol with NO partition directories — batch rows are
    * day-clustered and time-sorted so each landed file carries a tight
    * zone. Redelivered batches (foreachBatch is at-least-once) hit the
    * commit marker and land nothing (but still report the batch's files,
    * so the caller's index update replays idempotently too). Returns the
    * landed file paths — feed them to [[extendFooterIndex]] for a
    * zero-listing, zero-job index refresh. */
  def appendClusteredBatch(df: DataFrame, tsCol: String, dir: String,
                           batchId: Long, streamId: String = ""): Seq[String] =
    PartitionedArchive.appendBatchAt(
      df.withColumn("__d", to_date(col(tsCol)))
        .repartition(col("__d")).drop("__d"),
      dir, Seq.empty, Seq(tsCol), batchId, streamId)

  /** The co-located persisted index lives at `dir/_skipindex` — the
    * underscore prefix hides it from every data scan (Spark's FileIndex
    * skips `_`/`.` paths), so index and data share one root. */
  def indexPath(dir: String): String = s"$dir/_skipindex"

  /** One index row, held on the driver: the `_skipindex` schema
    * (`file, n_rows, bytes, min_us, max_us, n_nulls`) of one parquet
    * file's `ts` footer stats. `file` is in [[canonPath]] spelling. */
  final case class FileStat(file: String, nRows: Long, bytes: Long,
      minUs: Long, maxUs: Long, nNulls: Long)

  private val IndexSchema = StructType(Seq(
    StructField("file", StringType), StructField("n_rows", LongType),
    StructField("bytes", LongType), StructField("min_us", LongType),
    StructField("max_us", LongType), StructField("n_nulls", LongType)))

  /** Index rows as a frame over driver-held rows (a local relation:
    * evaluating it never re-reads a footer or the persisted index). */
  def toFrame(spark: SparkSession, rows: Seq[FileStat]): DataFrame = {
    val rs = new java.util.ArrayList[Row](rows.size)
    rows.foreach(r => rs.add(Row(r.file, r.nRows, r.bytes, r.minUs, r.maxUs, r.nNulls)))
    spark.createDataFrame(rs, IndexSchema)
  }

  /** One path, several spellings: Spark's inputFiles listing renders
    * local files as `file:///x` while Hadoop's makeQualified (the
    * appender's form) renders `file:/x` — compared raw, every landed
    * file would re-enter an index beside its listing-spelled row and a
    * picks read would double its rows (caught by RollupSpec). Every
    * site that compares file paths across those two sources — index
    * rows, the maintenance loop's changed-day routing, the delete-apply
    * live-path intersection — must use THIS one canonicalizer; per-site
    * copies were drifting hazards. */
  def canonPath(s: String): String = s.replaceFirst("^file:/+", "file:///")

  // ---- the one index maintainer: listing diff, driver read, persist ----

  /** Above this many unindexed files [[reconcile]] reads footers through
    * a Spark fan-out instead of a driver loop — first builds over big
    * archives distribute; steady-state refreshes (0..few new files) stay
    * local. */
  private val FanOutThreshold = 512

  /** Recursive listing of `root`'s DATA files — Spark's FileIndex
    * visibility rule (`_`/`.`-prefixed names are metadata, at every path
    * depth), canonical spelling. Plain `listStatus` recursion that PRUNES
    * hidden directories instead of `listFiles(recursive=true)`: the
    * located-status iterator computes block locations per file (~5 ms
    * each on LocalFileSystem — 1.9 s for the 352-file head-to-head
    * archive vs 24 ms this way), locations we never use, and descending
    * into `_`-trees (`_rollup`, `_staging`, `_ingest_commits`, maintained
    * summary windows) would walk them for nothing. Also the right shape
    * for object stores: one LIST per directory, none under metadata
    * prefixes. */
  private def visibleDataFiles(fs: FileSystem, root: Path): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (!hidden(st.getPath.getName)) {
        if (st.isDirectory) walk(st.getPath)
        else out += canonPath(st.getPath.toString)
      }
    }
    walk(root)
    out.result()
  }

  /** Process-wide memo of driver index reads, keyed by data dir and
    * validated against a (name, mtime, length) snapshot of the index's
    * part files — parquet parts are immutable per identity, so a hit is
    * exact. Keeps the per-request freshness check (daily-summary
    * fingerprints reload the index on every request) at FS-metadata
    * cost. */
  private val idxReadCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], IndexedSeq[FileStat])]

  /** Read the persisted `_skipindex` rows on the driver with the
    * parquet-hadoop record reader — a handful of metadata rows must not
    * cost a Spark job + datasource resolution. Indexes persisted before
    * the `n_nulls` column existed read as -1 (null count unknown:
    * conservative for exact-count consumers, irrelevant for range
    * pruning). */
  private def readIndexDriver(conf: Configuration, dir: String)
      : IndexedSeq[FileStat] = {
    val idxDir = new Path(indexPath(dir))
    val fs = idxDir.getFileSystem(conf)
    if (!fs.exists(idxDir)) return IndexedSeq.empty
    val parts = fs.listStatus(idxDir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !(n.startsWith("_") || n.startsWith("."))
    }
    val snapshot = parts.map(st =>
      (st.getPath.getName, st.getModificationTime, st.getLen)).toSeq.sorted
    val hit = idxReadCache.get(dir)
    if (hit != null && hit._1 == snapshot) return hit._2
    val out = IndexedSeq.newBuilder[FileStat]
    parts.foreach { st =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          st.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val hasNulls = g.getType.containsField("n_nulls")
          out += FileStat(
            canonPath(g.getString("file", 0)),
            g.getLong("n_rows", 0), g.getLong("bytes", 0),
            g.getLong("min_us", 0), g.getLong("max_us", 0),
            if (hasNulls && g.getFieldRepetitionCount("n_nulls") > 0)
              g.getLong("n_nulls", 0)
            else -1L)
          g = reader.read()
        }
      } finally reader.close()
    }
    val rows = out.result()
    idxReadCache.put(dir, (snapshot, rows))
    rows
  }

  /** Bring `existing` index rows up to date with `dir`'s live listing:
    * rows for files no longer listed drop out (deletes, compaction
    * rewrites), and footers are read ONLY for listed files the index has
    * not seen — on the driver up to [[FanOutThreshold]] files, through a
    * Spark fan-out above it. Per-file rows are never re-read: parquet
    * files this engine writes never change in place (a rewrite, e.g.
    * [[Deletes.applyDeletes]], lands under a new name). A missing or
    * data-less `dir` lists empty. */
  def reconcile(spark: SparkSession, dir: String,
      existing: IndexedSeq[FileStat]): IndexedSeq[FileStat] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val listing =
      if (fs.exists(root)) visibleDataFiles(fs, root) else IndexedSeq.empty[String]
    val listed = listing.toSet
    val kept = existing.filter(r => listed.contains(r.file))
    val known = kept.iterator.map(_.file).toSet
    val newFiles = listing.filterNot(known)
    val fresh =
      if (newFiles.size <= FanOutThreshold)
        // driver loop: footer read ≈ one small ranged read per file
        newFiles.map(footerStats(conf, _))
      else {
        // initial build / bulk landing: distribute the footer reads, and
        // ship the session's Hadoop conf (spark.hadoop.* — object-store
        // creds) to the executors
        import spark.implicits._
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf))
        spark.createDataset(newFiles).mapPartitions { it =>
          val c = confBc.value.value
          it.map(footerStats(c, _))
        }.collect().toIndexedSeq // metadata scale: one row per file
      }
    kept ++ fresh
  }

  /** The index of `dir` as a driver value, current with its listing: the
    * persisted rows, [[reconcile]]d, and persisted back only if that
    * changed them. Steady state (unchanged listing) is a pure-metadata
    * no-op: one FS walk + one memoized driver read, zero Spark jobs, zero
    * writes. Every reader of `_skipindex` goes through here. */
  def load(spark: SparkSession, dir: String): IndexedSeq[FileStat] = {
    val existing = readIndexDriver(spark.sparkContext.hadoopConfiguration, dir)
    val rows = reconcile(spark, dir, existing)
    if (rows != existing) persistIndex(spark, dir, rows)
    rows
  }

  /** Per-dir persist lock: concurrent serving requests each [[load]] the
    * index (daily-summary fingerprints run per request), and two threads
    * that both see the same new files must not overwrite `_skipindex`
    * simultaneously — mode=overwrite deletes before writing, so an
    * interleaved pair can leave a torn index directory. JVM-level is
    * enough: one serving process owns an archive (the deployment shape);
    * other writers' changes are picked up by the next [[load]]. */
  private val persistLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Persist index rows at [[indexPath]] as one parquet part (a 1-task
    * write from driver-held rows, so nothing lazily reads `_skipindex`
    * while it is overwritten). */
  def persistIndex(spark: SparkSession, dir: String,
      rows: IndexedSeq[FileStat]): Unit =
    persistLocks.computeIfAbsent(dir, _ => new Object).synchronized {
      toFrame(spark, rows).coalesce(1)
        .write.mode("overwrite").parquet(indexPath(dir))
    }

  /** EXTEND index rows by exactly the given new files — the
    * per-micro-batch fast path: when the caller already knows which files
    * just landed ([[appendClusteredBatch]] returns them), the refresh
    * needs no directory listing, no datasource resolution, and no Spark
    * job — the handful of new footers is read ON THE DRIVER. Paths
    * already indexed are skipped, so a replayed batch's file list is
    * absorbed idempotently.
    *
    * Contract vs [[load]]: this trusts the caller's file list and does
    * NOT drop rows for files deleted out-of-band — an ingest loop
    * carrying its index through this path assumes no concurrent
    * deletions during the stream (true for the append-only archives it
    * serves); a restart goes through [[load]], which reconciles against
    * the real listing. */
  def extendFooterIndex(spark: SparkSession, existing: IndexedSeq[FileStat],
      newFiles: Seq[String]): IndexedSeq[FileStat] = {
    val known = existing.iterator.map(_.file).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    existing ++ newFiles.map(canonPath).distinct.filterNot(known)
      .map(footerStats(conf, _))
  }

  /** Changed-DAY derivation from index rows: every epoch day covered by
    * each row's `[min_us, max_us]` zone, plus a null-group flag when any
    * row carries (`n_nulls` > 0) or cannot rule out (−1) null stat-column
    * values — footer zones EXCLUDE nulls, so the NULL day is a changed
    * group zones can't name and must be routed explicitly. */
  def zoneChangedDays(rows: Seq[FileStat]): (Seq[java.time.LocalDate], Boolean) = {
    val days = rows.flatMap { r =>
      if (r.nRows == 0L || r.minUs > r.maxUs) Seq.empty
      else (Math.floorDiv(r.minUs, 86400000000L) to Math.floorDiv(r.maxUs, 86400000000L))
        .map(java.time.LocalDate.ofEpochDay)
    }.distinct
    (days, rows.exists(_.nNulls != 0L))
  }

  /** Pruned pick set for a changed-day recompute: the day-zone files,
    * the null-bearing files when the null group changed, and the
    * unprunable residue — DISTINCT applied after ALL contributors (an
    * all-null file satisfies both the null picks and the unprunable
    * test; deduping early double-reads it). */
  def picksForChangedDays(idx: Seq[FileStat], days: Seq[java.time.LocalDate],
      includeNullGroup: Boolean): Seq[String] = {
    def us(d: java.time.LocalDate): Long = d.toEpochDay * 86400000000L
    val dayPicks = days.flatMap(d =>
      idx.filter(r => r.maxUs >= us(d) && r.minUs < us(d) + 86400000000L))
    val nullPicks = if (includeNullGroup) idx.filter(_.nNulls != 0L) else Seq.empty
    val unprunable = idx.filter(r => r.nRows > 0 && r.minUs > r.maxUs)
    (dayPicks ++ nullPicks ++ unprunable).map(_.file).distinct
  }

  /** Files whose `[min_us, max_us]` zone intersects `[loUs, hiUs)`.
    * Unprunable files (no stats) have an empty zone and are excluded —
    * pair with [[unprunableFiles]] when the archive may contain them. */
  def pruneFiles(index: DataFrame, loUs: Long, hiUs: Long): DataFrame =
    index.filter(col("max_us") >= lit(loUs) && col("min_us") < lit(hiUs))

  /** Files the index cannot vouch for (footer carried no usable stats
    * despite holding rows); a correct pruned scan must ALSO read these.
    * Empty for any archive this engine writes — Spark's schema-carrier
    * empty files have no stats either, but zero rows means provably
    * prunable, not unprunable. */
  def unprunableFiles(index: DataFrame): DataFrame =
    index.filter(col("n_rows") > 0 && col("min_us") > col("max_us"))

  /** Plan a scan over only the files in `fileFrame` (an index selection
    * from [[pruneFiles]] + [[unprunableFiles]]). The collect is bounded
    * by the FILE COUNT — metadata scale, the catalog-listing shape —
    * and happens before planning so Catalyst sees a scan over exactly
    * the surviving files (still with its own row-group skipping within
    * them). */
  def readFiles(spark: SparkSession, fileFrame: DataFrame): DataFrame = {
    val paths = fileFrame.select("file").collect().map(_.getString(0))
    if (paths.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(paths.toIndexedSeq: _*)
  }

  /** Per-file Bloom membership index — the skip dimension zone maps
    * cannot provide: a point lookup on an OPAQUE key (UUID/trace/content
    * hash) hits a time-clustered archive whose per-file [min,max] ranges
    * on that key all span the whole key space, so range zones prune
    * nothing, while a ~2-bytes-per-row Bloom blob per file routes the
    * probe to the handful of files that might hold it (false positives
    * cost an extra file scan; false negatives are impossible). One data
    * pass at build — an INDEX build, amortized over every later lookup,
    * exactly like the footer index — producing a metadata-scale
    * `(file, bloom)` table. Blobs come from Spark's own
    * `BloomFilterAggregate` over `xxhash64(key)` (the runtime-filter
    * pair), so probe hashing provably matches the build side.
    *
    * SIZING defaults to the fpp ≲ 1/n_files rule (PERF.md's own
    * derivation): the expected false-positive ROUTE per probe key grows
    * as n_files × fpp, so a constant bits-per-row blob stops being flat
    * as the archive grows — a naive caller at 10⁴ files would silently
    * regress toward a scan. With the defaults (`0` = derive), the build
    * takes the file count and the LARGEST per-file row count from
    * [[reconcile]]'s footer rows (nothing is persisted), sets
    * `fpp = min(1%, 1/(2·n_files))`, and sizes bits with the standard
    * optimal formula — routed files stay ~true+O(1) at any archive
    * span. Both knobs remain overridable for callers that know their
    * keys-per-file better (e.g. a deduped key column far sparser than
    * rows). */
  def buildBloomIndex(spark: SparkSession, dataDir: String, keyCol: String,
      expectedItemsPerFile: Long = 0L, numBits: Long = 0L): DataFrame = {
    spark.catalog.refreshByPath(dataDir) // the build read lists through Spark
    val (items, bits) =
      if (expectedItemsPerFile > 0 && numBits > 0) (expectedItemsPerFile, numBits)
      else {
        val rows = reconcile(spark, dataDir, IndexedSeq.empty)
        val nFiles = math.max(1, rows.length)
        val i = if (expectedItemsPerFile > 0) expectedItemsPerFile
          else rows.iterator.map(_.nRows).foldLeft(1L)(math.max)
        val fpp = math.min(0.01, 1.0 / (2.0 * nFiles))
        val b = if (numBits > 0) numBits
          else math.max(64L,
            org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(i, fpp))
        (i, b)
      }
    // honor the derived sizing past BloomFilterAggregate's silent
    // runtime-filter clamps: the build runs on a child session whose caps
    // are raised to at least the sizing (same rule as bloomSemiJoin)
    val built = Sessions.child(spark,
      graft.functions.BloomFunctions.bloomCaps(spark, items, bits): _*)
    // keyCol is any SQL expression (a plain column name, or e.g.
    // `CAST(user_id AS STRING)` — probe-side pruneCollectedByKeys hashes
    // STRING keys, so non-string key columns are indexed via a cast)
    built.read.parquet(dataDir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(graft.functions.BloomFunctions.bloom_agg(
        expr(keyCol), items, bits).as("bloom"))
  }

  /** Files whose Bloom blob might contain ANY of `keys` (string keys,
    * hashed with the build side's xxhash64-seed-42). Driver-side over
    * the collected metadata table — the same catalog-scale collect as
    * [[readFiles]]; feed the result straight to it. */
  def pruneFilesByKeys(bloomIdx: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = bloomIdx.sparkSession
    val kept = pruneCollectedByKeys(
      bloomIdx.select("file", "bloom").collect().toIndexedSeq, keys)
    import spark.implicits._
    kept.toDF("file")
  }

  /** Driver-side core of [[pruneFilesByKeys]] over ALREADY-COLLECTED
    * `(file, bloom)` rows. Callers that also need the covered-file set
    * ([[Deletes.applyDeletes]]) collect the index once and reuse the rows
    * for both derivations — evaluating a lazy bloom-index plan twice
    * would re-run the full-archive bloom aggregate per evaluation. */
  def pruneCollectedByKeys(rows: Seq[org.apache.spark.sql.Row],
      keys: Seq[String]): Seq[String] = {
    val hashes = keys.map(k =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(k),
        StringType, 42L))
    rows.filter { r =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom")))
      hashes.exists(bf.mightContainLong)
    }.map(_.getAs[String]("file"))
  }

  /** Metadata-only windowed aggregate with boundary correction: count /
    * min / max of `ts` over `[loUs, hiUs)` where INTERIOR files
    * (zone fully inside the window — parquet INT64 stats are exact, so
    * footer rows/min/max ARE the file's true aggregate) contribute
    * straight from the index and only BOUNDARY files (zone straddles a
    * window edge) plus stats-less unprunable files are scanned with the
    * window predicate. The aggregate-pushdown-to-metadata trick: on a
    * time-clustered 100 TB archive a month-long window is thousands of
    * interior files and two boundary files, so "how many rows landed in
    * March" costs footer reads + two file scans, not a 10 TB scan. The
    * decomposition is exact, not approximate — the full-scan answer is
    * the oracle. Returns one row `(n_rows, min_us, max_us)`; min/max
    * are NULL when the window is empty. */
  def metaWindowStats(spark: SparkSession, dataDir: String,
      loUs: Long, hiUs: Long): DataFrame = {
    val idx = buildFooterIndex(spark, dataDir)
    val hasStats = col("min_us") <= col("max_us")
    // interior eligibility additionally needs a PROVABLY null-free stat
    // column: footer n_rows counts null-ts rows the window predicate
    // (and the full-scan oracle) exclude, so a file with nulls — or an
    // unknown null count — must take the scan path to stay exact
    val interiorP = hasStats && col("n_nulls") === lit(0L) &&
      col("min_us") >= lit(loUs) && col("max_us") < lit(hiUs)
    val boundary = pruneFiles(idx, loUs, hiUs).filter(!interiorP)
    val scanned = readFiles(spark, boundary.unionByName(unprunableFiles(idx)))
    val scanAgg =
      if (scanned.columns.isEmpty)
        spark.range(1).select(lit(0L).as("n_rows"),
          lit(null).cast("long").as("mn"), lit(null).cast("long").as("mx"))
      else scanned
        // timestamp-typed bounds (constant-folded) so the boundary scan
        // keeps row-group skipping on the ts column
        .filter(col(StatCol) >= timestamp_micros(lit(loUs)) &&
                col(StatCol) < timestamp_micros(lit(hiUs)))
        .agg(count(lit(1)).as("n_rows"),
          min(unix_micros(col(StatCol))).as("mn"),
          max(unix_micros(col(StatCol))).as("mx"))
    val metaAgg = idx.filter(interiorP)
      .agg(coalesce(sum("n_rows"), lit(0L)).as("n_rows"),
        min("min_us").as("mn"), max("max_us").as("mx"))
    metaAgg.unionByName(scanAgg)
      .agg(sum("n_rows").as("n_rows"),
        min("mn").as("min_us"), max("mx").as("max_us"))
  }

  /** In-order bin-packing as ONE window cumsum — no driver loop:
    * walking `manifest` in `orderCols` order, segment k goes to bin
    * `floor(cumulative_size_before_k / target)`. Bins are contiguous
    * runs with the compaction guarantees that matter: bin ids are
    * non-decreasing, at most `ceil(total/target)` bins exist, and no
    * bin exceeds `target + max_single_segment` (a bin MAY close below
    * target when one oversized segment straddles two boundaries — the
    * price of prefix-sum parallelism over a sequential greedy reset,
    * and harmless: the occasional small file, never an oversized one).
    *
    * The window is UNPARTITIONED by design: the manifest is the file
    * index (metadata scale — ~100 k rows at 100 TB), not data. At
    * multi-tenant scale run it per top-level partition key (hydrophone/
    * source), which is how the caller shards compaction jobs anyway. */
  def assignBins(manifest: DataFrame, sizeCol: String,
                 orderCols: Seq[String], target: Long): DataFrame = {
    val w = Window.orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    manifest.withColumn("bin",
      floor((sum(col(sizeCol)).over(w) - col(sizeCol)) / lit(target.toDouble))
        .cast("long"))
  }

  /** Execute a compaction plan (`(file, bin)` rows): each bin's files
    * are read and rewritten as ONE file, sorted on `tsCol` so the new
    * file's zone map is as tight as its inputs' union. Rows are routed
    * by a broadcast file→bin map (metadata scale); each bin lands in
    * exactly one task partition, so `partitionBy` emits exactly one
    * file per bin. Content- and clustering-preserving. */
  def compact(spark: SparkSession, plan: DataFrame, dataDir: String,
              tsCol: String, outDir: String): Unit = {
    // `inputFiles` and `_metadata.file_path` render the scheme
    // differently (`file:/x` vs `file:///x`); canonicalize both sides or
    // the join silently drops every row.
    val canon = (c: org.apache.spark.sql.Column) =>
      regexp_replace(c, "^file:/+", "/")
    val binOf = plan.select(canon(col("file")).as("file"), col("bin"))
    val nBins = 1.max(plan.agg(max("bin")).collect()(0).getLong(0).toInt + 1)
    val tagged = spark.read.parquet(dataDir)
      .withColumn("file", canon(col("_metadata.file_path")))
      .join(broadcast(binOf), Seq("file"))
      .drop("file")
    Sessions.scoped(tagged, PartitionedArchive.MicrosTs) {
      _.repartition(nBins, col("bin"))
        .sortWithinPartitions(col(tsCol))
        .write.mode("overwrite").partitionBy("bin").parquet(outDir)
    }
  }
}
