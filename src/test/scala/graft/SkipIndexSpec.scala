package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{PartitionedArchive, SkipIndex}
import graft.tables.Tables

/** Zone-map skip index + compaction (SkipIndex): the footer-only index
  * must agree with the data, pruning must plan a strict file subset
  * while preserving the answer, and compaction must preserve content
  * while hitting one-file-per-bin with tight post-compaction zones. */
class SkipIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val flatDir = {
    val dir = new java.io.File("target/fixtures/events_flat").getAbsolutePath
    SkipIndex.writeTimeClustered(
      Tables.events(spark, TestSpark.Sf0001)
        .select("event_id", "ts", "user_id", "event_type", "value"),
      "ts", dir)
    dir
  }

  private lazy val index = SkipIndex.buildFooterIndex(spark, flatDir).cache()

  test("footer index agrees with a data scan: rows, min/max per file") {
    val fromData = spark.read.parquet(flatDir)
      .groupBy(regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("file"))
      .agg(count(lit(1)).as("n_rows"),
           min(unix_micros(col("ts"))).as("min_us"),
           max(unix_micros(col("ts"))).as("max_us"))
      .orderBy("file").collect().toSeq
    // a data scan can only see files with rows; the footer index also
    // lists Spark's empty schema-carrier file (0 rows, no stats)
    val fromFooter = index.filter(col("n_rows") > 0)
      .select(regexp_replace(col("file"), "^file:/+", "/").as("file"),
        col("n_rows"), col("min_us"), col("max_us"))
      .orderBy("file").collect().toSeq
    assert(fromFooter.nonEmpty)
    assert(fromFooter === fromData)
    // every non-empty file this engine writes carries usable stats
    assert(SkipIndex.unprunableFiles(index).count() === 0)
  }

  test("pruned scan: strict file subset, identical answer to full scan") {
    val lo = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-13T00:00:00Z")
    val picked = SkipIndex.pruneFiles(index,
      lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)
    val total = index.count()
    val kept = picked.count()
    assert(kept > 0 && kept < total, s"expected strict subset, kept $kept of $total")

    val winPred = (c: org.apache.spark.sql.Column) =>
      c >= lit(java.sql.Timestamp.from(lo)) && c < lit(java.sql.Timestamp.from(hi))
    val pruned = SkipIndex.readFiles(spark, picked).filter(winPred(col("ts")))
    // the planned scan covers only the picked files
    assert(pruned.inputFiles.length === kept.toInt)
    val full = spark.read.parquet(flatDir).filter(winPred(col("ts")))
    assert(pruned.count() === full.count())
    assert(pruned.agg(sum(col("event_id"))).collect()(0).getLong(0) ===
           full.agg(sum(col("event_id"))).collect()(0).getLong(0))
  }

  test("empty pruning window → empty frame, no files planned") {
    val picked = SkipIndex.pruneFiles(index, 0L, 1L) // 1970: before the archive
    assert(picked.count() === 0)
    assert(SkipIndex.readFiles(spark, picked).isEmpty)
  }

  test("metaWindowStats: footer-answered interior + boundary scan ≡ full scan") {
    val lo = java.time.Instant.parse("2024-01-05T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-20T00:00:00Z")
    val (loUs, hiUs) = (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)

    // the decomposition this window must exercise: interior files exist
    // (answered from footers alone) and the boundary set is a strict
    // subset of the archive — the files whose data pages get read
    val hasStats = col("min_us") <= col("max_us")
    val interior = index.filter(hasStats &&
      col("min_us") >= loUs && col("max_us") < hiUs).count()
    val boundary = SkipIndex.pruneFiles(index, loUs, hiUs)
      .filter(!(hasStats && col("min_us") >= loUs && col("max_us") < hiUs)).count()
    assert(interior > 0, "window too narrow: no interior files, nothing metadata-answered")
    assert(boundary < index.count(), "boundary not a strict subset")

    val got = SkipIndex.metaWindowStats(spark, flatDir, loUs, hiUs).head()
    val exp = spark.read.parquet(flatDir)
      .filter(col("ts") >= lit(java.sql.Timestamp.from(lo)) &&
              col("ts") < lit(java.sql.Timestamp.from(hi)))
      .agg(count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head()
    assert(got.getLong(0) === exp.getLong(0))
    assert(got.getLong(1) === exp.getLong(1))
    assert(got.getLong(2) === exp.getLong(2))
  }

  test("metaWindowStats: null-ts rows never inflate the metadata count") {
    import spark.implicits._
    val dir = new java.io.File("target/fixtures/events_nullts").getAbsolutePath
    // one wide window fully containing both files; file B carries nulls,
    // so its footer n_rows overcounts what the window predicate keeps —
    // it must take the scan path (n_nulls > 0 → not interior)
    val rows = Seq(
      (1L, Some(java.sql.Timestamp.valueOf("2024-01-02 10:00:00")), 1.0),
      (2L, Some(java.sql.Timestamp.valueOf("2024-01-02 11:00:00")), 2.0),
      (3L, Some(java.sql.Timestamp.valueOf("2024-01-03 10:00:00")), 3.0),
      (4L, None, 4.0),
      (5L, None, 5.0)).toDF("event_id", "ts", "value")
    SkipIndex.writeTimeClustered(rows, "ts", dir, numFiles = 2)
    val lo = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val hi = java.time.Instant.parse("2024-01-10T00:00:00Z")
    val got = SkipIndex.metaWindowStats(spark, dir,
      lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L).head()
    assert(got.getLong(0) === 3L, s"null-ts rows counted: ${got.getLong(0)}")
  }

  test("metaWindowStats: window inside one file (no interior) and empty window") {
    // narrow window: both edges inside the archive's day files → every
    // candidate file is boundary, the scan path carries the whole answer
    val lo = java.time.Instant.parse("2024-01-07T06:00:00Z")
    val hi = java.time.Instant.parse("2024-01-07T18:00:00Z")
    val (loUs, hiUs) = (lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)
    val got = SkipIndex.metaWindowStats(spark, flatDir, loUs, hiUs).head()
    val exp = spark.read.parquet(flatDir)
      .filter(col("ts") >= lit(java.sql.Timestamp.from(lo)) &&
              col("ts") < lit(java.sql.Timestamp.from(hi)))
      .count()
    assert(got.getLong(0) === exp && exp > 0)

    // empty window (1970): zero rows, NULL min/max, no crash
    val empty = SkipIndex.metaWindowStats(spark, flatDir, 0L, 1L).head()
    assert(empty.getLong(0) === 0L)
    assert(empty.isNullAt(1) && empty.isNullAt(2))
  }

  test("bloom skip index: routes opaque-key probes to a strict file subset, " +
       "no false negatives, zone maps provably useless for the same probe") {
    val dir = new java.io.File("target/fixtures/events_flat_bloom").getAbsolutePath
    SkipIndex.writeTimeClustered(
      Tables.events(spark, TestSpark.Sf0001)
        .withColumn("trace_id", md5(col("event_id").cast("string")))
        .select("event_id", "ts", "trace_id", "value"),
      "ts", dir)
    val all = spark.read.parquet(dir)
    val totalFiles = all.inputFiles.length
    val bidx = SkipIndex.buildBloomIndex(spark, dir, "trace_id",
      expectedItemsPerFile = 4096, numBits = 1L << 16)
    // one blob per DATA-BEARING file; the empty schema-carrier file has no
    // rows to index and provably holds no key — skipping it is pruning
    assert(bidx.count() ==
      all.select(col("_metadata.file_path")).distinct().count())
    assert(bidx.count() <= totalFiles)

    val md = java.security.MessageDigest.getInstance("MD5")
    def trace(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val probeIds = Seq(17L, 211L, 404L, 650L, 888L)
    val traces = probeIds.map(trace)

    val picked = SkipIndex.pruneFilesByKeys(bidx, traces)
      .collect().map(_.getString(0)).toSet
    // strict subset: 5 unique keys live in ≤5 true files (+ rare fps)
    assert(picked.nonEmpty && picked.size < totalFiles,
      s"picked ${picked.size} of $totalFiles")
    // no false negatives: every file truly holding a probe key is picked
    val trueFiles = all
      .filter(col("trace_id").isin(traces: _*))
      .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("f"))
      .distinct().collect().map(_.getString(0)).toSet
    val pickedNorm = picked.map(_.replaceAll("^file:/+", "/"))
    assert(trueFiles.subsetOf(pickedNorm), s"missed ${trueFiles -- pickedNorm}")
    // the probe recovers exactly the 5 rows
    val got = SkipIndex.readFiles(spark, SkipIndex.pruneFilesByKeys(bidx, traces))
      .filter(col("trace_id").isin(traces: _*))
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == probeIds.sorted)
    // and the honest comparison: a ZONE map on trace_id cannot prune this
    // archive — every file's hex-key [min,max] spans essentially the whole
    // space, so every per-file range contains at least one probe key
    val ranges = all
      .groupBy(col("_metadata.file_path"))
      .agg(min("trace_id").as("lo"), max("trace_id").as("hi"))
      .collect()
    val zonesPrunable = ranges.count(r =>
      !traces.exists(t => r.getString(1) <= t && t <= r.getString(2)))
    assert(zonesPrunable == 0,
      s"$zonesPrunable files were range-prunable — trace_id zones unexpectedly tight")
  }

  test("bloom DEFAULT sizing follows the fpp ≲ 1/n_files rule: at a 50×-" +
      "style file count the routed set stays ~true+O(1), and the derived " +
      "blob outsizes a constant-bits build on the same archive") {
    // many small files — the regime where a constant-numBits caller
    // silently decays: n_files × fpp false positives per probe key
    val dir = new java.io.File("target/fixtures/events_bloom_auto").getAbsolutePath
    val base = Tables.events(spark, TestSpark.Sf0001)
      .withColumn("trace_id", md5(col("event_id").cast("string")))
      .select("event_id", "ts", "trace_id", "value")
    graft.util.Sessions.scoped(base, PartitionedArchive.MicrosTs) {
      _.repartition(96, col("event_id"))
        .write.mode("overwrite").parquet(dir)
    }
    val nFiles = spark.read.parquet(dir).inputFiles.length
    assert(nFiles >= 90, s"fixture wants ~96 files, got $nFiles")

    val md = java.security.MessageDigest.getInstance("MD5")
    def trace(id: Long) =
      md.digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val traces = Seq(17L, 211L, 404L, 650L, 888L).map(trace)

    // DEFAULT sizing (derive items from footers, bits from the 1/n rule)
    val auto = SkipIndex.buildBloomIndex(spark, dir, "trace_id")
    val picked = SkipIndex.pruneFilesByKeys(auto, traces)
      .collect().map(_.getString(0)).toSet
    // 5 unique keys → ≤5 true files; the rule bounds expected fps per key
    // at 1/2, so true+O(1) — allow a small constant margin
    assert(picked.size <= 5 + 3,
      s"default sizing routed ${picked.size} of $nFiles files")
    // no false negatives (the safety property, independent of sizing)
    val trueFiles = spark.read.parquet(dir)
      .filter(col("trace_id").isin(traces: _*))
      .select(regexp_replace(col("_metadata.file_path"), "^file:/+", "/").as("f"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(trueFiles.subsetOf(picked.map(_.replaceAll("^file:/+", "/"))))

    // the derived sizing must be STRICTER than a constant-bits toy blob
    // (64 bits/file): the toy routes a large fraction of the archive,
    // which is exactly the decay the default exists to prevent
    val toy = SkipIndex.buildBloomIndex(spark, dir, "trace_id",
      expectedItemsPerFile = 4096, numBits = 64)
    val toyPicked = SkipIndex.pruneFilesByKeys(toy, traces)
      .collect().map(_.getString(0)).toSet
    assert(toyPicked.size > picked.size,
      s"toy=${toyPicked.size} vs auto=${picked.size} — expected the " +
        "undersized blob to route far more files")
  }

  test("assignBins: monotone bins, ≤ ceil(total/target) of them, none oversized") {
    val target = 200L
    val plan = SkipIndex.assignBins(
      index.filter(col("n_rows") > 0)
        .select(col("file"), col("n_rows"), col("min_us")),
      "n_rows", Seq("min_us"), target)
      .orderBy("min_us").collect().toSeq
    val bins = plan.map(_.getAs[Long]("bin"))
    assert(bins.head === 0L)
    bins.sliding(2).foreach { case Seq(a, b) => assert(b >= a); case _ => }
    val sizes = plan.map(_.getAs[Long]("n_rows"))
    val total = sizes.sum
    assert(bins.distinct.size <= ((total + target - 1) / target).toInt)
    // no bin exceeds target + the largest single segment
    val perBin = plan.groupBy(_.getAs[Long]("bin")).view
      .mapValues(_.map(_.getAs[Long]("n_rows")).sum).toMap
    perBin.foreach { case (b, sz) =>
      assert(sz <= target + sizes.max, s"bin $b oversized: $sz") }
    // and compaction is worthwhile: strictly fewer bins than input files
    assert(bins.distinct.size < plan.size)
  }

  /** A from-scratch index of `dir`, back as driver rows. */
  private def rebuilt(dir: String): Seq[SkipIndex.FileStat] =
    SkipIndex.buildFooterIndex(spark, dir).collect().toSeq.map(r =>
      SkipIndex.FileStat(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))

  /** Index rows in a spelling-free, order-free form for comparison. */
  private def norm(rows: Seq[SkipIndex.FileStat]) = rows
    .map(r => (r.file.replaceFirst("^file:/+", "/"), r.nRows, r.minUs, r.maxUs))
    .sorted

  test("reconcile/load: incremental ≡ rebuild; only new files' footers read; deletions dropped") {
    val dir = new java.io.File("target/fixtures/events_flat_refresh").getAbsolutePath
    val ev = Tables.events(spark, TestSpark.Sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    SkipIndex.writeTimeClustered(ev.filter(col("ts") <
      lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))), "ts", dir)
    val idx0 = SkipIndex.load(spark, dir) // first build, persisted
    assert(new java.io.File(SkipIndex.indexPath(dir)).isDirectory)

    // append the second half as new files (fresh subdir files via a
    // second write into a sibling then move — simplest: write with
    // append mode clustered on the remaining days)
    val rest = ev.filter(col("ts") >=
      lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
    graft.util.Sessions.scoped(rest, PartitionedArchive.MicrosTs) {
      _.withColumn("__d", to_date(col("ts")))
        .repartition(8, col("__d")).sortWithinPartitions("ts").drop("__d")
        .write.mode("append").parquet(dir)
    }

    val refreshed = SkipIndex.load(spark, dir)
    assert(norm(refreshed) === norm(rebuilt(dir)))
    assert(refreshed.size > idx0.size)
    // only new files' footers are read: a row already indexed is carried
    // as it stands, so a doctored row survives reconcile untouched
    val doctored = idx0.head.copy(nRows = -7L)
    val carried = SkipIndex.reconcile(spark, dir, doctored +: idx0.tail)
    assert(carried.contains(doctored))
    assert(carried.size === refreshed.size)

    // deletion heals: drop one file on disk → load forgets its row
    val victim = new java.io.File(norm(refreshed).head._1)
    assert(victim.exists()); victim.delete()
    val healed = SkipIndex.load(spark, dir)
    assert(!norm(healed).map(_._1).contains(victim.getPath))
    assert(healed.size === refreshed.size - 1)
    // and the healed index is what was persisted
    assert(SkipIndex.load(spark, dir) === healed)
  }

  test("streaming flat ingest: exactly-once files, index fresh per batch, pruning correct") {
    import spark.implicits._
    import java.sql.Timestamp
    val src = java.nio.file.Files.createTempDirectory("graft_flat_src").toString
    val dir = java.nio.file.Files.createTempDirectory("graft_flat_arch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_flat_ckpt").toString
    def rows(day: Int) = (0 until 50).map { i =>
      (day * 1000L + i,
        Timestamp.valueOf(f"2024-02-0$day 00:00:00").toLocalDateTime
          .plusSeconds(i * 60L), i.toDouble)
    }.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }
      .toDF("event_id", "ts", "value")
    rows(1).coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
    val q = graft.streaming.StreamingOps.flatArchiveIngest(stream, "ts", dir, ckpt)
    try {
      q.processAllAvailable()
      rows(2).coalesce(1).write.parquet(s"$src/f2")
      q.processAllAvailable()
    } finally q.stop()

    val data = spark.read.parquet(dir)
    assert(data.count() === 100)
    // the index is current: identical to a from-scratch rebuild
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(regexp_replace(col("file"), "^file:/+", "/").as("file"),
        col("n_rows"), col("min_us"), col("max_us"))
      .orderBy("file").collect().toSeq
    val idx = SkipIndex.toFrame(spark, SkipIndex.load(spark, dir))
    assert(idx.count() >= 2)
    assert(norm(idx) === norm(SkipIndex.buildFooterIndex(spark, dir)))
    // zone pruning serves straight off the streamed archive
    val lo = java.time.Instant.parse("2024-02-02T00:00:00Z")
    val hi = java.time.Instant.parse("2024-02-03T00:00:00Z")
    val picked = SkipIndex.pruneFiles(idx,
      lo.getEpochSecond * 1000000L, hi.getEpochSecond * 1000000L)
    assert(picked.count() > 0 && picked.count() < idx.count())
    assert(SkipIndex.readFiles(spark, picked)
      .filter(col("ts") >= lit(Timestamp.from(lo)) &&
              col("ts") < lit(Timestamp.from(hi))).count() === 50)
    // redelivery of a committed batch is a no-op (marker protocol)
    val streamId = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    SkipIndex.appendClusteredBatch(rows(1), "ts", dir, batchId = 0L, streamId)
    assert(spark.read.parquet(dir).count() === 100)
  }

  test("streamed archive with sidecars: CatalogSidecar.load ≡ rebuild and writes nothing") {
    import spark.implicits._
    import java.sql.Timestamp
    import graft.streaming.StreamingOps
    val src = java.nio.file.Files.createTempDirectory("graft_flat_side_src").toString
    val dir = java.nio.file.Files.createTempDirectory("graft_flat_side_arch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_flat_side_ckpt").toString
    def rows(day: Int) = (0 until 40).map { i =>
      (day * 1000L + i, Timestamp.valueOf(f"2024-03-0$day 00:00:00")
        .toLocalDateTime.plusSeconds(i * 90L), i.toDouble)
    }.map { case (id, t, v) => (id, Timestamp.valueOf(t), v) }
      .toDF("event_id", "ts", "value")
    rows(1).coalesce(1).write.parquet(s"$src/f1")
    rows(2).coalesce(1).write.parquet(s"$src/f2")
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
    val q = StreamingOps.flatArchiveIngest(stream, "ts", dir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // a rollup maintenance batch adds its `_rollup` version, and a
    // crashed batch leaves a staged data file behind
    StreamingOps.maintainRollupBatch(rows(3), 0L, "side", "ts", dir,
      _.groupBy("day").agg(count(lit(1)).as("n")))
    rows(4).coalesce(1).write.parquet(s"$dir/_staging/batch=crashed")
    Seq("_ingest_commits", "_staging", "_rollup", "_skipindex").foreach(d =>
      assert(new java.io.File(s"$dir/$d").isDirectory, s"missing sidecar $d"))

    val idxDir = new java.io.File(SkipIndex.indexPath(dir))
    def snapshot() = idxDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val before = snapshot()
    Thread.sleep(1100) // fs mtime granularity
    val loaded = graft.catalog.CatalogSidecar.load(spark, dir).rows
    assert(loaded.size >= 3) // every landed day's files ...
    assert(!loaded.exists(_.file.contains("/_"))) // ... and no sidecar's
    assert(loaded.sortBy(_.file) === rebuilt(dir).sortBy(_.file))
    assert(snapshot() === before,
      "an index current with the listing must not be rewritten")
  }

  test("compact: content preserved, exactly one file per bin, zones stay time-contiguous") {
    val plan = SkipIndex.assignBins(
      index.filter(col("n_rows") > 0)
        .select(col("file"), col("n_rows"), col("min_us")),
      "n_rows", Seq("min_us"), target = 200L).cache()
    val outDir = new java.io.File("target/fixtures/events_compacted").getAbsolutePath
    SkipIndex.compact(spark, plan, flatDir, "ts", outDir)

    val before = spark.read.parquet(flatDir)
    val after = spark.read.parquet(outDir)
    assert(after.count() === before.count())
    assert(after.agg(sum(col("event_id"))).collect()(0).getLong(0) ===
           before.agg(sum(col("event_id"))).collect()(0).getLong(0))
    // fewer files than before, exactly one per bin
    val nBins = plan.select("bin").distinct().count()
    assert(after.inputFiles.length.toLong === nBins)
    assert(after.inputFiles.length < before.inputFiles.length)
    // post-compaction zone maps stay ordered: binning walks files in
    // min_us order, so bin time-minima are non-decreasing. (Full
    // disjointness is not guaranteed — the day-hash writer may colocate
    // non-adjacent days in one input file, and compaction preserves,
    // never worsens, that inherited overlap.)
    val zones = after.groupBy(col("bin"))
      .agg(min(unix_micros(col("ts"))).as("mn"))
      .orderBy("bin").collect().toSeq
    zones.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.getAs[Long]("mn") <= b.getAs[Long]("mn"),
          s"bin minima regress between ${a.get(0)} and ${b.get(0)}")
      case _ =>
    }
  }
}
