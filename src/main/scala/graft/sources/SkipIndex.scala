package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import scala.jdk.CollectionConverters._

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
  *    distributed over the file list) — metadata-scale I/O, never a data
  *    scan. This is the Delta/Iceberg stats-collection discipline
  *    re-expressed on plain parquet.
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
    PartitionedArchive.withMicrosTimestamps(df) {
      df.withColumn("__d", to_date(col(tsCol)))
        .repartition(numFiles, col("__d"))
        .sortWithinPartitions(col(tsCol))
        .drop("__d")
        .write.mode("overwrite").parquet(dir)
    }

  /** One index row per parquet file: `(file, n_rows, bytes, min_us,
    * max_us)` for an INT64-backed column `statCol` (TIMESTAMP_MICROS or
    * raw long — the min/max are whatever unit the file stores, callers
    * prune in the same unit). Footer-only: the executors open each
    * file's metadata tail, never a data page. The file list itself comes
    * from the catalog listing (`inputFiles` — the same driver-side
    * metadata op every table read performs). */
  def buildFooterIndex(spark: SparkSession, dataDir: String,
                       statCol: String): DataFrame = {
    // out-of-band deletes/compaction (Deletes.applyDeletes, external
    // cleanup) don't invalidate the session's FileStatusCache — a stale
    // listing would feed footerStats a vanished file and fail the job
    spark.catalog.refreshByPath(dataDir)
    val files = spark.read.parquet(dataDir).inputFiles.toIndexedSeq
    import spark.implicits._
    val ds: Dataset[String] = spark.createDataset(files)(Encoders.STRING)
    // ship the session's Hadoop conf (spark.hadoop.* — object-store
    // creds) to the executors; a bare Configuration() is local-FS-only
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    localize(spark, ds.mapPartitions { it =>
      val conf = confBc.value.value
      it.map { f => footerStats(conf, f, statCol) }
    }.toDF("file", "n_rows", "bytes", "min_us", "max_us", "n_nulls"))
  }

  /** Pin an index frame's ROWS on the driver (metadata scale by the
    * module contract — one row per file). Index frames are consumed
    * lazily by joins, pruning, and LATER refreshes; leaving them as live
    * plans would re-run the footer reads at every evaluation, and a
    * footer re-read after a file was deleted/compacted out from under
    * the plan fails the job (observed as a cache-eviction-timing flake:
    * a `.cache()`d index evicted under memory pressure re-read a footer
    * the test had deleted). Localizing makes the index a VALUE — the
    * same reason [[persistIndex]] materializes before overwriting. */
  private def localize(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
      df.collect().toList.asJava)
    spark.createDataFrame(rows, df.schema)
  }

  /** Read one footer → (file, rows, compressedBytes, min, max, nulls)
    * for the INT64 column `statCol`. Files with no non-null stats for
    * the column surface as (Long.MaxValue, Long.MinValue) — they never
    * match a range and are listed by [[unprunableFiles]] for safety
    * audits. `n_nulls` is the column's null count, or -1 when any block
    * lacks a null count — consumers that need exact row accounting
    * (metaWindowStats' interior path) treat unknown as "must scan";
    * range PRUNING never needs it (a null matches no range). */
  private[graft] def footerStats(conf: org.apache.hadoop.conf.Configuration,
                          file: String, statCol: String)
      : (String, Long, Long, Long, Long, Long) = {
    val md = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, new org.apache.hadoop.fs.Path(file),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    var rows = 0L; var bytes = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var nulls = 0L; var nullsKnown = true
    md.getBlocks.asScala.foreach { b =>
      rows += b.getRowCount
      bytes += b.getCompressedSize
      b.getColumns.asScala
        .find(_.getPath.toDotString == statCol)
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
    (file, rows, bytes, mn, mx, if (nullsKnown) nulls else -1L)
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

  /** Does `dir` hold at least one DATA file — a file outside `_`/`.`
    * sidecar paths? (Spark's FileIndex visibility rule: underscore and
    * dot prefixed names are metadata, at every path depth.) */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(q: org.apache.hadoop.fs.Path): Boolean = {
      var cur = q
      var ok = true
      while (ok && cur != null && cur.depth() > p.depth()) {
        val n = cur.getName
        ok = !(n.startsWith("_") || n.startsWith("."))
        cur = cur.getParent
      }
      ok
    }
    if (!fs.exists(p)) false
    else {
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val st = it.next()
        found = st.isFile && visible(st.getPath)
      }
      found
    }
  }

  /** Load the persisted index, or an empty frame with the index schema
    * when none exists yet (first batch of a fresh archive). */
  def loadIndexOrEmpty(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexPath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val idx = spark.read.parquet(indexPath(dir))
      // an index persisted before the n_nulls column existed: null
      // count UNKNOWN (-1) — conservative for exact-count consumers,
      // irrelevant for range pruning
      if (idx.columns.contains("n_nulls")) idx
      else idx.withColumn("n_nulls", lit(-1L))
    } else {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Long, Long, Long)]
        .toDF("file", "n_rows", "bytes", "min_us", "max_us", "n_nulls")
    }
  }

  /** Persist an index frame at [[indexPath]]. The frame is materialized
    * on the driver first — it is METADATA-scale by construction (one row
    * per file; ~1e5 rows at 100 TB), and reading `_skipindex` while
    * overwriting it would otherwise race the lazy scan. */
  def persistIndex(spark: SparkSession, idx: DataFrame, dir: String): Unit = {
    val rows = idx.collect().toIndexedSeq // metadata-scale
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), idx.schema)
      .write.mode("overwrite").parquet(indexPath(dir))
  }

  /** INCREMENTAL index maintenance: bring a persisted index up to date
    * with the archive by reading footers ONLY for files the index has
    * not seen (the shape continuous ingest needs — each refresh costs
    * O(new files), never O(archive); deleted files' rows are dropped so
    * compaction rewrites self-heal). The listing diff runs on the
    * metadata frames; stats merge by union since per-file rows are
    * immutable (parquet files never change in place — an overwritten
    * file has a new name). */
  def refreshFooterIndex(spark: SparkSession, dataDir: String,
                         statCol: String, existing: DataFrame): DataFrame = {
    import spark.implicits._
    // same stale-FileStatusCache guard as buildFooterIndex
    spark.catalog.refreshByPath(dataDir)
    // an archive with NO data files yet (first empty micro-batch of an
    // ingest loop: only _ingest_commits/_skipindex sidecars exist) fails
    // parquet schema inference — that's an empty listing, not an error.
    // The emptiness is established by an EXPLICIT fs walk, never by
    // catching AnalysisException: the same exception also covers
    // all-corrupt footers and path races over a POPULATED archive, and
    // treating those as "empty" would semi-join every existing index
    // row away — silent index loss where a loud failure is correct.
    val files =
      if (!hasDataFiles(spark, dataDir)) IndexedSeq.empty[String]
      else spark.read.parquet(dataDir).inputFiles.toIndexedSeq
    val listing = spark.createDataset(files)(Encoders.STRING).toDF("file")
    // joins on the metadata frames, never an N-file isin literal
    val kept = existing.join(listing, Seq("file"), "left_semi")
    val newFiles = listing
      .join(existing.select("file"), Seq("file"), "left_anti")
      .collect().map(_.getString(0)).toIndexedSeq // bounded: new files only
    // localize BOTH branches: a held reference to a live `kept` plan
    // would lazily re-read the persisted _skipindex and can fail or go
    // stale after a later overwrite — exactly the flake the localize
    // contract exists to prevent
    if (newFiles.isEmpty) localize(spark, kept)
    else {
      val confBc = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      val fresh = spark.createDataset(newFiles)(Encoders.STRING)
        .mapPartitions { it =>
          val conf = confBc.value.value
          it.map { f => footerStats(conf, f, statCol) }
        }.toDF("file", "n_rows", "bytes", "min_us", "max_us", "n_nulls")
      localize(spark, kept.unionByName(fresh))
    }
  }

  /** EXTEND an index by exactly the given new files — the per-micro-batch
    * fast path: when the caller already knows which files just landed
    * ([[appendClusteredBatch]] returns them), the refresh needs no
    * directory listing, no datasource resolution, and no Spark job — the
    * handful of new footers is read ON THE DRIVER (the same footerStats
    * kernel the distributed build uses) and appended to the localized
    * index value. Already-indexed paths are skipped, so a replayed
    * batch's file list is absorbed idempotently.
    *
    * Contract vs [[refreshFooterIndex]]: this trusts the caller's file
    * list and does NOT heal rows for files deleted out-of-band — an
    * ingest loop carrying its index through this path assumes no
    * concurrent deletions during the stream (true for the append-only
    * archives it serves); a restart goes through loadIndexOrEmpty +
    * refreshFooterIndex, which reconciles against the real listing. */
  /** One path, several spellings: Spark's inputFiles listing renders
    * local files as `file:///x` while Hadoop's makeQualified (the
    * appender's form) renders `file:/x` — compared raw, every landed
    * file would re-enter an index beside its listing-spelled row and a
    * picks read would double its rows (caught by RollupSpec). Every
    * site that compares file paths across those two sources — index
    * extension here, the maintenance loop's changed-day routing, the
    * delete-apply live-path intersection — must use THIS one
    * canonicalizer; per-site copies were drifting hazards. */
  def canonPath(s: String): String = s.replaceFirst("^file:/+", "file:///")

  def extendFooterIndex(spark: SparkSession, existing: DataFrame,
                        newFiles: Seq[String], statCol: String): DataFrame = {
    // store and compare ONE spelling (the listing's, so
    // refreshFooterIndex's listing-diff healing keeps working on
    // extended indexes) — see canonPath
    def canon(s: String) = canonPath(s)
    val existRows = existing.collect().toIndexedSeq
    val fileIdx = existing.schema.fieldIndex("file")
    val known = existRows.map(r => canon(r.getString(fileIdx))).toSet
    val conf = spark.sparkContext.hadoopConfiguration
    val fresh = newFiles.map(canon).distinct.filterNot(known).map { f =>
      val (file, rows, bytes, mn, mx, nulls) = footerStats(conf, f, statCol)
      org.apache.spark.sql.Row(canon(file), rows, bytes, mn, mx, nulls)
    }
    val all = new java.util.ArrayList[org.apache.spark.sql.Row](
      (existRows ++ fresh).asJava)
    spark.createDataFrame(all, existing.schema)
  }

  /** Changed-DAY derivation from index rows: every epoch day covered by
    * each row's `[min_us, max_us]` zone, plus a null-group flag when any
    * row carries (`n_nulls` > 0) or cannot rule out (−1) null stat-column
    * values — footer zones EXCLUDE nulls, so the NULL day is a changed
    * group zones can't name and must be routed explicitly. Shared by the
    * streamed maintenance loop and dim-delta IVM; the two must derive
    * identically or their maintained views diverge. */
  def zoneChangedDays(idxSchema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row])
      : (Seq[java.time.LocalDate], Boolean) = {
    val (nR, mnI, mxI, nnI) = (idxSchema.fieldIndex("n_rows"),
      idxSchema.fieldIndex("min_us"), idxSchema.fieldIndex("max_us"),
      idxSchema.fieldIndex("n_nulls"))
    val days = rows.flatMap { r =>
      val (rows0, mn, mx) = (r.getLong(nR), r.getLong(mnI), r.getLong(mxI))
      if (rows0 == 0L || mn > mx) Seq.empty
      else (Math.floorDiv(mn, 86400000000L) to Math.floorDiv(mx, 86400000000L))
        .map(java.time.LocalDate.ofEpochDay)
    }.distinct
    (days, rows.exists(_.getLong(nnI) != 0L))
  }

  /** Pruned pick set for a changed-day recompute: the day-zone files,
    * the null-bearing files when the null group changed, and the
    * unprunable residue — DISTINCT applied after ALL contributors (an
    * all-null file satisfies both the null picks and the unprunable
    * test; deduping early double-reads it). */
  def picksForChangedDays(idx: DataFrame, days: Seq[java.time.LocalDate],
      includeNullGroup: Boolean): DataFrame = {
    def us(d: java.time.LocalDate): Long = d.toEpochDay * 86400000000L
    val dayPicks = days.map(d => pruneFiles(idx, us(d), us(d) + 86400000000L))
    val nullPicks =
      if (includeNullGroup) Seq(idx.filter(col("n_nulls") =!= 0L)) else Seq.empty
    (dayPicks ++ nullPicks :+ unprunableFiles(idx))
      .reduce(_ unionByName _).distinct()
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
    * reads the footers (metadata-scale, the same budget as the footer
    * index) for the file count and the LARGEST per-file row count, sets
    * `fpp = min(1%, 1/(2·n_files))`, and sizes bits with the standard
    * optimal formula — routed files stay ~true+O(1) at any archive
    * span. Both knobs remain overridable for callers that know their
    * keys-per-file better (e.g. a deduped key column far sparser than
    * rows). */
  def buildBloomIndex(spark: SparkSession, dataDir: String, keyCol: String,
      expectedItemsPerFile: Long = 0L, numBits: Long = 0L): DataFrame = {
    spark.catalog.refreshByPath(dataDir) // same stale-listing guard as footer index
    val (items, bits) =
      if (expectedItemsPerFile > 0 && numBits > 0) (expectedItemsPerFile, numBits)
      else {
        val files = spark.read.parquet(dataDir).inputFiles.toIndexedSeq
        val nFiles = math.max(1, files.length)
        import spark.implicits._
        val confBc = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(
            spark.sparkContext.hadoopConfiguration))
        val maxRows = spark.createDataset(files)(Encoders.STRING)
          .mapPartitions { it =>
            val conf = confBc.value.value
            it.map { f =>
              org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                  conf, new org.apache.hadoop.fs.Path(f),
                  org.apache.parquet.format.converter
                    .ParquetMetadataConverter.NO_FILTER)
                .getBlocks.asScala.map(_.getRowCount.toLong).sum
            }
          }.reduce(math.max _)
        val i = if (expectedItemsPerFile > 0) expectedItemsPerFile
          else math.max(1L, maxRows)
        val fpp = math.min(0.01, 1.0 / (2.0 * nFiles))
        val b = if (numBits > 0) numBits
          else math.max(64L,
            org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(i, fpp))
        (i, b)
      }
    // honor the derived sizing past BloomFilterAggregate's silent
    // runtime-filter clamps (same monotone raise as bloomSemiJoin)
    def raiseTo(key: String, atLeast: Long): Unit =
      if (spark.conf.get(key).toLong < atLeast)
        spark.conf.set(key, atLeast.toString)
    raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", items)
    raiseTo("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    // keyCol is any SQL expression (a plain column name, or e.g.
    // `CAST(user_id AS STRING)` — probe-side pruneCollectedByKeys hashes
    // STRING keys, so non-string key columns are indexed via a cast)
    spark.read.parquet(dataDir)
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
    * min / max of `tsCol` over `[loUs, hiUs)` where INTERIOR files
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
  def metaWindowStats(spark: SparkSession, dataDir: String, tsCol: String,
      loUs: Long, hiUs: Long): DataFrame = {
    val idx = buildFooterIndex(spark, dataDir, tsCol)
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
        .filter(col(tsCol) >= timestamp_micros(lit(loUs)) &&
                col(tsCol) < timestamp_micros(lit(hiUs)))
        .agg(count(lit(1)).as("n_rows"),
          min(unix_micros(col(tsCol))).as("mn"),
          max(unix_micros(col(tsCol))).as("mx"))
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
    PartitionedArchive.withMicrosTimestamps(tagged) {
      tagged
        .repartition(nBins, col("bin"))
        .sortWithinPartitions(col(tsCol))
        .write.mode("overwrite").partitionBy("bin").parquet(outDir)
    }
  }
}
