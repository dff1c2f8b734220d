package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Key-level deletion vectors for flat parquet archives — the
  * delete-without-rewrite lakehouse primitive (Delta deletion vectors /
  * Iceberg equality deletes, re-expressed Spark-first): a delete lands as
  * a TOMBSTONE row in a `_deletes` sidecar (O(keys), instant, no data
  * touched), every logical read anti-joins the broadcast tombstone set
  * (map-side, no shuffle), and a later MAINTENANCE pass applies the
  * tombstones physically — routed by the [[SkipIndex.buildBloomIndex]]
  * Bloom blobs to only the files that might hold a doomed key, so a
  * 5-key GDPR erasure on a 100 TB archive rewrites ~5 files, not the
  * archive.
  *
  * Tombstone keys are strings (the same opaque trace/UUID keys the Bloom
  * index serves); the doomed-key set is bounded by deletion REQUESTS
  * (human-scale), which is what licenses the driver-side collects here —
  * the same metadata-scale contract as [[SkipIndex.readFiles]]. */
object Deletes {

  def tombstonePath(dir: String): String = s"$dir/_deletes"

  /** Record keys for deletion — append-only, O(keys), no data touched.
    * The `_` prefix hides the sidecar from data scans (Spark FileIndex
    * skips `_`/`.` paths), same trick as `_skipindex`. */
  def addTombstones(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    import spark.implicits._
    keys.toDF("key").coalesce(1)
      .write.mode("append").parquet(tombstonePath(dir))
  }

  /** The distinct tombstoned keys (empty frame when none — including a
    * sidecar dir whose parquet files were all cleared by a maintenance
    * pass: schema inference over a markers-only dir would throw). */
  def loadTombstones(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(tombstonePath(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).map(_.getPath).toSeq
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
    if (files.nonEmpty) spark.read.parquet(files: _*).distinct()
    else { import spark.implicits._; Seq.empty[String].toDF("key") }
  }

  /** Logical read: archive minus tombstoned keys, via a broadcast
    * LEFT ANTI join — a map-side row filter at scan speed (the tombstone
    * set is request-scale), never a shuffle of the archive. This is what
    * every query between a delete request and the next maintenance
    * window runs. */
  def readWithDeletes(spark: SparkSession, dir: String, keyCol: String): DataFrame = {
    val tomb = loadTombstones(spark, dir)
    spark.read.parquet(dir)
      .join(broadcast(tomb), col(keyCol) === col("key"), "left_anti")
  }

  /** Apply tombstones PHYSICALLY: rewrite only the files that hold a
    * doomed key, then clear the sidecar.
    *
    * File routing: `bloomIdx` (a [[SkipIndex.buildBloomIndex]] frame over
    * `keyCol`) narrows the candidates to the files whose blob might
    * contain any doomed key — no-false-negative, so no deleted row can
    * survive in an unrouted file; candidates are then confirmed by
    * scanning just those files (a false positive costs one file scan,
    * never a wrong rewrite). Each affected file rewrites in place —
    * survivors to a staging dir, deterministic rename over the original,
    * file dropped entirely when nothing survives — preserving the
    * archive's file-per-zone layout for every untouched file (their
    * paths, bytes, and zone stats stay bit-identical; DeletesSpec pins
    * it). Callers holding a `_skipindex` bring it current with
    * [[SkipIndex.load]]: rewrites land under fresh `rw-*` names, so the
    * listing diff drops the originals' rows and reads only the rewrites'
    * footers.
    *
    * Returns the rewritten (or deleted) file paths. */
  def applyDeletes(spark: SparkSession, dir: String, keyCol: String,
      bloomIdx: DataFrame): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // snapshot the sidecar FILES first: only these are cleared at the
    // end, so a tombstone appended concurrently (the streaming
    // acknowledgment path) survives for the next maintenance pass
    // instead of being wiped unapplied
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(dir))
    val tfs = tp.getFileSystem(conf)
    val sidecarFiles =
      if (!tfs.exists(tp)) Seq.empty[org.apache.hadoop.fs.Path]
      else tfs.listStatus(tp).map(_.getPath).toSeq
        .filter(_.getName.endsWith(".parquet"))
    if (sidecarFiles.isEmpty) return Seq.empty
    val doomed = spark.read.parquet(sidecarFiles.map(_.toString): _*)
      .distinct().collect().map(_.getString(0)).toIndexedSeq
    // candidate files = bloom-routed ∪ files the index does not COVER:
    // a bloom index built before a later ingest knows nothing about the
    // new files, and an uncovered file may hold a doomed key — the
    // no-false-negative claim only holds inside the index's coverage
    spark.catalog.refreshByPath(dir)
    // URI forms differ between sources (`file:/`, `file:///`): compare
    // canonically or every file looks uncovered and routing degrades to
    // a full confirm scan
    def canon(s: String) = SkipIndex.canonPath(s)
    // collect the (file, bloom) index ONCE — metadata scale — and derive
    // both the covered set and the key routing from the same rows: an
    // uncached bloomIdx is a lazy full-archive aggregate, and evaluating
    // it twice would make a 5-key erasure cost two full data scans
    val bloomRows = bloomIdx.select(col("file"), col("bloom"))
      .collect().toIndexedSeq
    val covered = bloomRows.map(r => canon(r.getString(0))).toSet
    val live = spark.read.parquet(dir).inputFiles.toIndexedSeq
    val uncovered = live.filterNot(f => covered.contains(canon(f)))
    // a MATERIALIZED index built before an earlier applyDeletes or
    // compaction can route to files that no longer exist — reading them
    // would kill the maintenance pass with path-not-found. Dead routed
    // paths are dropped (their keys, if live anywhere, are in files a
    // fresher index covers or in `uncovered`); routing maps back to the
    // LIVE path spelling so the read uses names the filesystem serves.
    val liveByCanon = live.map(f => canon(f) -> f).toMap
    val routed = SkipIndex.pruneCollectedByKeys(bloomRows, doomed)
      .flatMap(f => liveByCanon.get(canon(f)))
    val candidates = routed ++ uncovered
    val affected =
      if (candidates.isEmpty) IndexedSeq.empty[String]
      else spark.read.parquet(candidates: _*)
        .filter(col(keyCol).isInCollection(doomed))
        .select(col("_metadata.file_path"))
        .distinct().collect().map(_.getString(0)).toIndexedSeq
    affected.foreach { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val fs = path.getFileSystem(conf)
      // NULL keys survive: `NOT (NULL IN ...)` is NULL and would silently
      // drop every null-key row, diverging from the logical read (whose
      // left_anti join keeps them)
      val survivors = spark.read.parquet(f)
        .filter(col(keyCol).isNull || !col(keyCol).isInCollection(doomed))
      val n = survivors.count()
      if (n == 0L) fs.delete(path, false)
      else {
        val staging = new org.apache.hadoop.fs.Path(
          path.getParent, s"_rewrite_${path.getName}")
        // same stats-bearing micros encoding as the original writer, so
        // the rewritten file stays zone-prunable
        graft.util.Sessions.scoped(survivors, PartitionedArchive.MicrosTs) {
          _.coalesce(1).write.mode("overwrite").parquet(staging.toString)
        }
        val part = fs.listStatus(staging)
          .map(_.getPath).find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"rewrite of $f produced no parquet part"))
        // land under a FRESH name: files are immutable-by-name — the
        // incremental footer-index refresh diffs listings by name, so an
        // in-place rewrite would keep serving the file's PRE-delete
        // stats forever; a fresh name makes the refresh re-read it
        val fresh = new org.apache.hadoop.fs.Path(path.getParent,
          s"rw-${graft.text.TextOps.md5Hex(path.getName + doomed.mkString(","))}.parquet")
        fs.delete(path, false)
        fs.rename(part, fresh)
        fs.delete(staging, true)
      }
    }
    // clear exactly the sidecar files this pass READ
    sidecarFiles.foreach(tfs.delete(_, false))
    // deletes + renames under this path: invalidate cached listings
    spark.catalog.refreshByPath(dir)
    affected
  }
}
