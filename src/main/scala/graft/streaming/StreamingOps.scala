package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.util.Sessions

/** Structured Streaming embodiment of the resample family (SURVEY §2.10:
  * the reference is batch-only, but its tumbling-bucket shapes ARE what
  * `window()` over a stream produces — this module is the ingest extension).
  *
  * `runResampleOnce` drives the events table through a real streaming query
  * (parquet source → event-time window aggregate → sink) synchronously and
  * returns the result, so the SAME DuckDB oracle that checks the batch
  * resample checks the streaming path. Complete output mode is used for the
  * oracle run (emits every window); the watermarked append-mode variant is
  * exercised in StreamingSpec.
  */
object StreamingOps {

  /** The one-shot runner: every finite replay (`run*Once`) goes through
    * one. Creating it makes the run's [[StateConf]] child session `ses`
    * and a fresh scratch directory `dir` under `java.io.tmpdir`, which
    * holds whatever the run stages (source tranches, index, sentinel) and
    * its `foreachBatch` checkpoint — no two runs, in one JVM or in two
    * processes, share a checkpoint or an index root. [[drain]] or [[each]] then replays
    * the stream once. [[drain]] deletes the directory with its result
    * localized; after [[each]] it outlives the run, since the rollup, deletes,
    * CDC, snapshot and index drivers return lazy frames over it. */
  private[graft] final class OneShot(spark: SparkSession) {
    val ses: SparkSession = Sessions.child(spark, StateConf)
    val dir: String = java.nio.file.Files.createTempDirectory("graft_stream_").toString
    val checkpoint: String = s"$dir/_checkpoint"

    /** Replay `stream` into a memory sink in `mode` and return the sink
      * localized, its view dropped on every path — a leaked view retains
      * the full materialized result in the driver for the session
      * lifetime (Bench runs every query twice; a long-lived service would
      * grow without bound). Results here are serving-edge sized (hundreds
      * of rows), so the local copy is fine. The sink keeps Spark's own
      * temporary checkpoint, which Spark deletes when the query stops, and
      * the local copy depends on nothing staged, so `dir` is deleted too:
      * a memory run leaves nothing on disk. */
    def drain(stream: DataFrame, mode: String,
        landings: Seq[() => Unit] = Nil): DataFrame = {
      val (s, name) = (stream.sparkSession, new java.io.File(dir).getName)
      try {
        await(stream.writeStream.outputMode(mode)
          .format("memory").queryName(name).start(), landings)
        graft.sources.SkipIndex.localize(s, s.table(name))
      } finally {
        s.catalog.dropTempView(name)
        graft.util.LocalFs.deleteRecursively(new java.io.File(dir))
      }
    }

    /** Replay `stream` through `f(batch, batchId, streamId)` ([[eachBatch]]). */
    def each(stream: DataFrame, landings: Seq[() => Unit] = Nil)(
        f: (DataFrame, Long, String) => Unit): Unit =
      await(eachBatch(stream, checkpoint)(f), landings)

    /** Process everything available; then, per landing step, land it and
      * process again. Stop the query and release the state-store
      * providers it loaded into this JVM on every path.
      *
      * In local mode every stateful operator leaves its providers in the
      * process-wide `StateStore.loadedProviders` registry after the query
      * stops — each holding the last in-memory state maps plus maintenance
      * bookkeeping. One query's residue is harmless; a long-lived embedding
      * running MANY one-shot drivers (Bench runs ~15 stateful drivers twice
      * per pass family) accumulates tens of provider sets, and the heap
      * pressure taxes LATER stateful queries: round 10's bench shipped
      * q_stream_neardup at 2.0 s cold → 9.7 s warm with proportional CPU
      * growth — real (GC) work, invisible to the contended gate by design.
      * `unloadAll()` drops the providers (the next stateful query reloads
      * from its checkpoint as usual), making every driver pass-idempotent:
      * warm workload ≡ cold workload. The long-running ingest helpers
      * ([[archiveIngest]], [[flatArchiveIngest]]) keep their providers —
      * they're still using them. */
    private def await(q: StreamingQuery, landings: Seq[() => Unit]): Unit =
      try (Seq(() => ()) ++ landings).foreach { land => land(); q.processAllAvailable() }
      finally {
        q.stop()
        org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
      }
  }

  /** The one `foreachBatch` sink: `f(batch, batchId, streamId)` per
    * micro-batch behind `checkpoint`. Batch ids restart at 0 per
    * checkpoint, so `streamId` — the checkpoint's [[streamScope]] —
    * scopes commit markers and version names to let several streams
    * share one root without mistaking each other's batch 0. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      f: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val streamId = streamScope(checkpoint)
    stream.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => f(batch, batchId, streamId))
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Stage a tranche feed: `tagged`'s rows go to the tranche its int
    * column `__tranche` names (rows outside `[0, n)` are never landed),
    * all tranches in ONE write job (tag + one shuffle on the tag, vs one
    * filtered source scan + write job PER tranche — guide §1.2 step 1
    * applied to the tranche-feed drivers). Returns the landings:
    * `land(i)()` ATOMICALLY moves tranche i into `src` as `f<i>`.
    *
    * `repartition(n, tag)` keeps each tranche in one task → one file,
    * the one-file-per-tranche contract `maxFilesPerTrigger=1` turns into
    * one micro-batch per tranche. An empty tranche lands a schema-only
    * part file of its own: every tranche is one micro-batch (a zero-row
    * one when empty), batch numbering (and q_stream_snapshots' version
    * numbering) does not drift whether tranches land up front or one at
    * a time, and `f0` always carries the schema the stream is read with.
    * Part-file mtimes are STRICTLY INCREASING in tranche order: the file
    * source orders its listing by timestamp, and one job writes all files
    * in the same millisecond (drivers whose apply is
    * arrival-order-independent don't need it; q_stream_snapshots'
    * version contents do).
    *
    * Atomicity (r15 sf3 finding): writing directly into the watched
    * glob while the query runs is a RACE — the always-on trigger can
    * list the directory mid-write and split one tranche's part files
    * across two micro-batches in TASK-COMPLETION order (not event-time
    * order), breaking the ordered drivers' "batch order = event-time
    * order by construction" contract (the 30× sf3 sweep caught
    * q_stream_attribution crediting purchases to FUTURE touches this
    * way). Staging OUTSIDE the glob and renaming in is one atomic
    * directory move on a local fs (and HDFS): the file source sees all
    * of a tranche or none of it. That contract lives in the RENAME, not
    * the write — so computing all tranches in one partitioned write job
    * changes nothing about what a trigger can observe. */
  private[graft] def stageTranches(tagged: DataFrame, n: Int,
      src: String): IndexedSeq[() => Unit] = {
    import java.nio.file.{Files, Paths}
    val stage = s"$src.stage"
    tagged.repartition(n, col("__tranche"))
      .write.partitionBy("__tranche").parquet(stage)
    val base = System.currentTimeMillis() - 60000L
    (0 until n).map { i => () =>
      val from = Paths.get(stage, s"__tranche=$i")
      if (!Files.exists(from))
        tagged.drop("__tranche").limit(0).write.parquet(from.toString)
      val t = java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L)
      // Files.list must be closed (it holds a directory handle)
      val listing = Files.list(from)
      try listing.forEach(p => Files.setLastModifiedTime(p, t))
      finally listing.close()
      val dst = Paths.get(src, s"f$i")
      Files.createDirectories(dst.getParent)
      Files.move(from, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
    }
  }

  /** The landed tranches under `src` as a stream, one tranche per
    * micro-batch. */
  private def trancheStream(ses: SparkSession, src: String): DataFrame =
    footerSchemaStream(ses, s"$src/*", "*.parquet", maxFilesPerTrigger = Some(1))

  /** [[stageTranches]] of `ev` in 6 equal TIME slices of its `us` range
    * [min, max], for the ordered drivers. Slice i holds exactly
    * `lo + i·step ≤ us < lo + (i+1)·step`, since
    * `(us − lo) div step = i` for us ≥ lo. */
  private def timeSlices(ev: DataFrame, src: String): IndexedSeq[() => Unit] = {
    val Array(lo, hi) = ev.agg(min(col("us")), max(col("us")))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
    val step = (hi - lo) / 6 + 1
    stageTranches(ev.withColumn("__tranche", expr(s"(us - ${lo}L) div ${step}L")), 6, src)
  }

  /** Streaming parquet source whose schema comes from the FILE FOOTER (via
    * a one-off batch read of the same glob), never from a hand-declared
    * StructType. `readStream.schema(...)` with a wrong user schema does not
    * fail — it silently miscasts (round 9: a stale `ts: LongType`
    * declaration coerced a native-micros column, the `div 1000` shrank
    * every timestamp 1000×, and three streaming queries returned
    * confidently wrong answers while the batch path at least died loudly).
    * Deriving the schema from what the files actually contain makes the
    * stream track the archive's physical layout by construction. */
  private def footerSchemaStream(spark: SparkSession, dir: String,
      glob: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val footer = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val r = spark.readStream.schema(footer).option("pathGlobFilter", glob)
    maxFilesPerTrigger
      .fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
      .parquet(dir)
  }

  /** Streaming source over the events parquet. Same dtype-adaptive `ts`
    * handling as the batch reader ([[graft.tables.Tables.adaptTs]]): raw
    * int64 nanos → derived µs timestamp; native parquet timestamp → used
    * directly. Output dtype is TimestampType either way. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // resolved under the read confs like Tables.events, then rebound; the
    // streaming source wants a directory, so glob-filter to the events table
    val child = Sessions.child(spark, graft.tables.Tables.TsReadConfs: _*)
    PlanBridge.ofRows(spark, graft.tables.Tables.adaptTs(
      footerSchemaStream(child, dir, "events.parquet")).queryExecution.analyzed)
  }

  /** Event-time tumbling-window mean over a stream (A1 as a stream). */
  def windowedMean(stream: DataFrame, duration: String,
      watermark: Option[String] = None): DataFrame = {
    val wm = watermark.fold(stream)(stream.withWatermark("ts", _))
    // group on the window STRUCT (extracting .start here would hide the
    // event-time column from the watermark tracker); project start after
    wm.groupBy(window(col("ts"), duration).as("w"))
      .agg(avg("value").as("mean_value"), count("value").as("point_count"))
      .select(col("w.start").as("bucket_start"), col("mean_value"), col("point_count"))
  }

  /** [[windowedMean]] in the determinism-grade milli form of
    * `ResampleOps.resampleMeanMilli`: the streaming state carries exact
    * (Σmilli, count) longs — sum/count are order-insensitive, so the
    * emitted mean is bit-identical to the batch milli path no matter how
    * micro-batches split the archive, where a streamed double `avg`
    * accumulates in arrival order and can land one ulp across a round-6
    * boundary from the batch/oracle reading (seen at sf1). */
  def windowedMeanMilli(stream: DataFrame, duration: String,
      watermark: Option[String] = None): DataFrame = {
    val wm = watermark.fold(stream)(stream.withWatermark("ts", _))
    val v = graft.ops.ResampleOps.nanToNull(col("value"))
    wm.groupBy(window(col("ts"), duration).as("w"))
      .agg(sum(round(v * 1000, 0).cast("long")).as("s_milli"),
           count(v).as("point_count"))
      .select(col("w.start").as("bucket_start"),
        (graft.ops.ResampleOps.microMeanHalfUp(col("s_milli"), col("point_count"))
          .cast("double") / 1e6).as("mean_value"),
        col("point_count"))
  }

  /** Stateful-operator partition count for the one-shot drivers. A
    * streaming query pins `spark.sql.shuffle.partitions` into its
    * checkpoint at START and instantiates one state store per partition
    * per stateful operator — the right number tracks key cardinality and
    * throughput, NOT the batch engine's shuffle width. These drivers run
    * over the test tables (≤ thousands of keys), where the batch default
    * of 32 means 32 mostly-empty state stores per operator side paying
    * fixed open/commit/snapshot cost every micro-batch. A production
    * deployment of the same operators sizes this UP with load; the point
    * is that it is sized deliberately either way. Each run's [[OneShot]]
    * session (its sink view and drain included) carries it. */
  private val StateConf = "spark.sql.shuffle.partitions" -> "8"

  /** Run the streaming resample to completion over the (finite) events
    * table and return the full result. Complete mode + memory sink: every
    * window is emitted, so the result equals the batch aggregation and the
    * batch oracle applies. */
  def runResampleOnce(spark: SparkSession, dir: String, duration: String): DataFrame = {
    val run = new OneShot(spark)
    run.drain(windowedMeanMilli(eventsStream(run.ses, dir), duration), "complete")
  }

  /** Streaming source over the documents parquet — footer-derived schema
    * like [[eventsStream]] (no timestamp column, so no adaptation). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    footerSchemaStream(spark, dir, "documents.parquet")

  /** BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark` —
    * the 100 TB continuous-ingest variant the unbounded
    * [[runStreamDedupOnce]] docstring promises: duplicate re-deliveries
    * arrive within the event-time watermark, so state for keys older
    * than the watermark is EVICTED instead of growing forever. Driven
    * over a doubled events archive (every row twice, the two copies in
    * different files) with a 1-day watermark: all duplicates fall
    * inside it, so the streamed output must equal the plain DISTINCT —
    * the deterministic oracle — while the operator exercised is the
    * state-evicting one. Emits per-type counts of the surviving rows. */
  def runStreamDedupWatermarkOnce(spark: SparkSession, dir: String): DataFrame = {
    // doubled fixture: two files with identical content → duplicates
    // exist physically, and a micro-batch split between them re-delivers
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_dupstream/" +
      new java.io.File(dir.replaceAll("/+$", "")).getName
    val marker = new java.io.File(root, "_COMPLETE")
    if (!marker.exists()) {
      graft.util.LocalFs.deleteRecursively(new java.io.File(root))
      new java.io.File(root).mkdirs()
      val ev = graft.tables.Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      Seq("copy_a", "copy_b").foreach { name =>
        val tmp = new java.io.File(root, s"_tmp_$name")
        Sessions.scoped(ev, graft.sources.PartitionedArchive.MicrosTs) {
          _.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        }
        val part = tmp.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(root, s"$name.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.util.LocalFs.deleteRecursively(tmp)
      }
      marker.createNewFile(): Unit
    }
    val run = new OneShot(spark)
    // ONE FILE PER TRIGGER: without it the source loads both copies in a
    // single micro-batch and the cross-batch re-delivery path this
    // driver exists to exercise never runs — the duplicate of every row
    // must arrive in a LATER batch than its original
    val src = graft.tables.Tables.adaptTs(
      footerSchemaStream(run.ses, root, "*.parquet", maxFilesPerTrigger = Some(1)))
    run.drain(src
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_type")), "append")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  /** STREAMING event detection (detection at INGEST): burst waveforms
    * arrive in micro-batches, the fused FFT kernel maps statelessly, a
    * running integer aggregate keyed (recording, frame) carries frame
    * totals, and the gaps-and-islands stage runs batch-side on the
    * drained totals — integer sums are batch-boundary-free, so the
    * streamed detections are bit-identical to the batch query's and the
    * same DuckDB islands replay applies. */
  def runAudioDetectionsOnce(spark: SparkSession, dir: String,
      sampleRate: Int, nSamples: Int, frameLen: Int, hop: Int,
      thresholdNano: Long): DataFrame = {
    import graft.audio.SpectralOps
    val run = new OneShot(spark)
    val bursts = SpectralOps.synthesizeBursts(
      documentsStream(run.ses, dir).select("doc_id"), "doc_id", sampleRate, nSamples)
    val partials = SpectralOps.bandPartialsFused(
      SpectralOps.frameWaveform(bursts, "samples", frameLen, hop),
      "doc_id", sampleRate, frameLen)
    val totals = run.drain(partials.groupBy(col("doc_id"), col("frame_idx"))
      .agg(sum(col("p_nano")).as("frame_p")), "complete")
    SpectralOps.detectEventsFromTotals(
      totals, "doc_id", thresholdNano, sampleRate, hop)
  }

  /** STREAMING spectral pipeline (the ingest-time shape of q_audio_psd):
    * waveforms arrive in micro-batches, the fused frame→FFT→band kernel
    * runs as a STATELESS per-partition map, and the only stateful
    * operator is the running Welch aggregate per (recording, band) —
    * state is one (long sum, long count) per key, never samples or
    * spectra. Partials are integer nano-units and integer sums are
    * associative, so the streamed complete-mode result is bit-identical
    * to the batch pipeline whatever the micro-batch boundaries — the
    * batch oracle applies unchanged. This is the hydrophone-ingest
    * deployment story: decode+FFT at the edge of the stream, only
    * band-level partials ever enter the shuffle/state machinery. */
  def runAudioPsdOnce(spark: SparkSession, dir: String, sampleRate: Int,
      nSamples: Int, frameLen: Int, hop: Int): DataFrame = {
    import graft.audio.SpectralOps
    val run = new OneShot(spark)
    val waves = SpectralOps.synthesizeWaves(
      documentsStream(run.ses, dir).select("doc_id"), "doc_id", sampleRate, nSamples)
    val partials = SpectralOps.bandPartialsFused(
      SpectralOps.frameWaveform(waves, "samples", frameLen, hop),
      "doc_id", sampleRate, frameLen)
    // dB + noise-floor drop on the drained aggregate — same final math as
    // SpectralOps.welchBandDb, applied batch-side after the stream ends
    run.drain(partials.groupBy(col("doc_id"), col("band"))
      .agg(sum(col("p_nano")).as("p_sum"), count(lit(1)).as("n_frames")), "complete")
      .filter(col("p_sum") > 0)
      .select(col("doc_id"), col("band"),
        round(lit(10.0) * log(10.0,
          col("p_sum").cast("double") / col("n_frames") / lit(1e9)), 6)
          .as("value_db"),
        col("n_frames"))
  }

  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    footerSchemaStream(spark, dir, "embeddings.parquet")

  /** Streaming ingest into a persisted IVF index
    * ([[graft.sim.IndexOps]]), driven over a finite embeddings stream
    * into a FRESH index dir: each micro-batch of vectors is assigned
    * against the FIXED centroid table and appended to the cell
    * partitions through the replay-idempotent batch appender — the ANN
    * index stays fresh at ingest, the same way [[archiveIngest]] keeps
    * the timeseries archive fresh. The streamed index is then searched
    * with the standard q_ann_ivf query set; it must answer exactly like
    * the batch-built one, so the batch oracle applies verbatim. The
    * centroid frame is the deterministic lowest-16 quantizer, persisted
    * up front (search needs it; ingest closes over it). */
  def runStreamIndexOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    val idx = s"${run.dir}/index"
    val e = graft.tables.Tables.embeddings(spark, dir)
    val cent = e.select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .orderBy("cell").limit(16).localCheckpoint(true)
    cent.coalesce(1).write.mode("overwrite").parquet(s"$idx/centroids")
    run.each(embeddingsStream(run.ses, dir))(
      graft.sim.IndexOps.appendIvfBatch(_, "vec_id", "embedding", cent, idx, _, _))
    val queries = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    graft.sim.IndexOps.queryIvfIndex(spark, idx, queries, k = 5, nProbe = 2)
  }

  /** Continuous inverted-index maintenance, driven over a finite
    * documents stream into a FRESH index dir: each micro-batch tokenizes
    * and lands in the term-bucket partitions through the
    * replay-idempotent appender ([[graft.text.InvertedIndex
    * .appendBatch]]) — the lexical index stays fresh at ingest the same
    * way [[runStreamIndexOnce]] keeps the ANN index fresh. df and
    * collection stats are DERIVED at query time (df is bucket-local;
    * stats rows are exact-integer increments), so appends never
    * invalidate anything already written. The standard q_bm25_topk query
    * set is then answered off the streamed index — streamed index ≡
    * batch-built index ≡ the per-query scan path (postings are per-doc
    * rows, stats increments are exact integers, so arrival batching
    * cannot change a single score), hence the scan path's oracle applies
    * verbatim. */
  def runStreamTextIndexOnce(spark: SparkSession, dir: String,
      queryTerms: DataFrame, k: Int): DataFrame = {
    val run = new OneShot(spark)
    val idx = s"${run.dir}/index"
    run.each(documentsStream(run.ses, dir))(
      graft.text.InvertedIndex.appendBatch(_, "doc_id", "text", idx, 64, _, _))
    graft.text.InvertedIndex.bm25TopKIndexed(spark, idx, queryTerms, k)
  }

  /** STREAMING exact dedup: `dropDuplicates` on the 16-byte content hash —
    * Spark's stateful dedup operator, state keyed by the hash (never the
    * text), exactly the ingest-time shape of the batch `exactDedup`.
    * Append mode emits each content hash once, on first arrival; the set
    * of emitted hashes is arrival-order-independent, so the batch DISTINCT
    * oracle applies. Unbounded state is fine for a finite replay; a 100 TB
    * continuous ingest bounds it with `dropDuplicatesWithinWatermark`
    * (late re-crawls of the same content arrive within the watermark). */
  def runStreamDedupOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      .select(md5(col("text").cast("binary")).as("content_hash"))
      .dropDuplicates("content_hash"), "append")
  }

  /** Near-dup CANDIDATE edge emitted at ingest. */
  final case class NearDupEdge(id_a: Long, id_b: Long)

  /** Per-bucket state transition for the streaming near-dup: FIRST
    * CLAIMANT wins — once a bucket has a representative (hub) it keeps
    * it; every doc in the batch except the hub emits `hub → doc`.
    * Re-minning the hub against a later batch's smaller doc_id would
    * both orphan the already-emitted edges and SWALLOW the edge between
    * the stored hub and the new arrival (hub := newMin makes the new doc
    * filter itself out). Within a micro-batch the group's arrival order
    * is not defined, so ties resolve by doc_id — a bounded one-batch
    * replay therefore resolves every hub to min(doc_id), which is what
    * the DuckDB oracle replays. Extracted pure over (ids, state) so
    * StreamingSpec pins the multi-batch transitions with TestGroupState
    * — the one-batch end-to-end run cannot reach them. */
  private[graft] def nearDupEmit(docIds: Iterator[Long],
      state: org.apache.spark.sql.streaming.GroupState[Long]): Iterator[NearDupEdge] = {
    val ids = docIds.toArray.sorted
    if (ids.isEmpty) Iterator.empty
    else {
      val hub = state.getOption.getOrElse(ids.head)
      state.update(hub)
      ids.iterator.filter(_ != hub).map(NearDupEdge(hub, _))
    }
  }

  /** STREAMING MinHash-LSH near-dup detection at ingest — the
    * flag-at-ingest / resolve-offline shape every large-scale crawl
    * pipeline runs: each arriving document is signed ([[graft.functions
    * .MinHashSig]] — the MAP-ONLY signature kernel, no shuffle, which is
    * what makes it composable with a downstream stateful operator),
    * banded into LSH buckets ([[graft.dedup.DedupOps.bandBuckets]], the
    * SAME projection the batch path uses, so batch and stream bucket
    * identically by construction), and checked against per-bucket state:
    * the first doc to claim a bucket becomes its representative (hub);
    * every later arrival sharing the bucket emits a candidate edge
    * `hub → doc`. State is ONE long per occupied bucket — the star-edge
    * shape of the batch capped path ([[graft.dedup.DedupOps
    * .lshCandidates]] `maxBucket`), which is exactly what scales: a
    * boilerplate family of B near-identical docs costs B−1 edges and one
    * state row per band, never a B² clique. Candidates feed the offline
    * verify/cluster stages; a production deployment bounds state with a
    * timeout (bucket representatives older than the dedup horizon
    * expire) — the bounded replay here needs none.
    *
    * Replayed over the finite corpus in one micro-batch, per-bucket
    * first-arrival resolves deterministically to min(doc_id), so the
    * drained, distinct-ed edge set equals the batch star edges — the
    * DuckDB oracle replays exactly that from the banded fixture. */
  def runStreamNearDupOnce(spark: SparkSession, dir: String,
      n: Int, kHashes: Int, bands: Int, seed: Long = 42L): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // minhashSignatures is a pure projection + empty-signature filter, so
    // it applies to the stream unchanged — and keeps the stream's
    // semantics identical to the batch family (sub-n-token docs carry the
    // all-Prime empty signature, which would otherwise collide into one
    // giant bucket of spurious "near-dups" in every band)
    val sigs = graft.dedup.DedupOps.minhashSignatures(
      documentsStream(run.ses, dir), "doc_id", "text", n, kHashes, seed)
    val banded = graft.dedup.DedupOps.bandBuckets(sigs, kHashes, bands)
      .select(col("band"), col("bucket"), col("doc_id"))
      .as[(Int, Long, Long)]
    val edges = banded.groupByKey { case (band, bucket, _) => (band, bucket) }
      .flatMapGroupsWithState[Long, NearDupEdge](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Int, Long, Long)], state: GroupState[Long]) =>
          nearDupEmit(rows.map(_._3), state)
      }
    // the same pair surfaces once per shared band: collapse to the edge
    // set (serving-edge post-processing, same as the other one-shot
    // drivers' drains)
    run.drain(edges.toDF(), "append").distinct()
  }

  /** STREAMING Count-Min sketch: [[graft.functions.CmsSketchAgg]] as a
    * streaming global aggregate — the aggregation STATE is the sketch
    * buffer itself (a constant depth·width longs regardless of stream
    * length), serialized through the state store between micro-batches.
    * Because the sketch is a linear projection of the count vector,
    * incremental merge across batches/partitions yields the IDENTICAL
    * counter matrix to one batch pass over the same rows (pinned in
    * StreamingSpec), so the batch oracle applies unchanged. This is the
    * continuous-ingest shape of frequency tracking at 100 TB: per-batch
    * state update cost is O(rows in batch), state size never grows. */
  def runStreamCmsOnce(spark: SparkSession, dir: String,
      depth: Int, width: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      .select(explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      // pre-projected fields: same interpreted-child rule as the batch
      // query (see q_cms_counts)
      .select(graft.text.TextOps.md5Fields(col("bg"), depth, width).as("rc"))
      .agg(graft.functions.CmsSketchAgg.cms_sketch(
        col("rc"), depth, width).as("sk")), "complete")
  }

  /** STREAMING HyperLogLog: [[graft.functions.HllRegisterAgg]] as a
    * streaming GROUPED aggregate — the state per group is the fixed
    * `2^p`-byte register array, serialized through the state store
    * between micro-batches. Register merge is element-wise MAX
    * (idempotent + commutative), so the streamed register state is
    * bit-identical to one batch pass regardless of how rows split into
    * micro-batches — the batch oracle applies unchanged. The
    * continuous-ingest shape of distinct-counting at 100 TB: exact
    * streaming `count(distinct)` needs state per distinct key;
    * this needs 512 bytes per group, forever. */
  def runStreamHllOnce(spark: SparkSession, dir: String, p: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      .select(col("lang"), explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      // pre-projected key: same interpreted-child rule as the batch query
      .select(col("lang"),
        graft.text.TextOps.md5Key64(col("bg"), "hll:").as("k"))
      .groupBy(col("lang"))
      .agg(graft.functions.HllRegisterAgg.hll_registers(col("k"), p).as("regs")),
      "complete")
  }

  /** STREAMING histogram-quantile sketch
    * ([[graft.functions.HistogramAgg]]): per-group state is the fixed
    * 8·bins-byte count array riding the state store, and exact
    * element-wise ADD merge makes the streamed counts bit-identical to
    * one batch pass however rows split into micro-batches — the batch
    * oracle applies unchanged (the CMS/HLL streaming contract, for
    * quantiles). Continuous-ingest percentile tracking: exact streaming
    * percentiles would need every value in state; this needs 512 bytes
    * per group, forever. */
  def runStreamHistOnce(spark: SparkSession, dir: String,
                        lo: Double, hi: Double, bins: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(eventsStream(run.ses, dir)
      .groupBy(col("event_type"))
      .agg(graft.functions.HistogramAgg.hist_sketch(
        col("value"), lo, hi, bins).as("h")), "complete")
  }

  /** STREAMING Misra-Gries frequent-items summary
    * ([[graft.functions.MisraGriesAgg]]): the ≤k-entry counter map rides
    * the state store between micro-batches; each batch's partials fold in
    * through the mergeable-summaries rule. Unlike the CMS/HLL/histogram
    * states this one is ORDER-DEPENDENT — different micro-batch splits
    * yield different candidate maps — but the MG invariant (every key
    * with true frequency > n/(k+1) is present) holds under ANY merge
    * tree, so the exact second-pass recount built on the drained summary
    * ([[graft.ops.FrequencyOps.recountHeavy]]) is deterministic and the
    * batch heavy-hitter oracle applies unchanged (MisraGriesSpec pins
    * stream ≡ batch at the ANSWER level, not the state level). The
    * continuous-ingest shape of "what's trending" at 100 TB: ≤k entries
    * of state, forever, vs per-distinct-key state for exact counting. */
  def runStreamMgOnce(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      // pre-projected key: same interpreted-child rule as the batch query
      .select(explode(graft.text.TextOps.wsTokens(lower(col("text")))).as("word"))
      .agg(graft.functions.MisraGriesAgg.misra_gries(col("word"), k).as("mg")),
      "complete")
  }

  /** Streaming ingest into the canonical partitioned archive: each
    * micro-batch lands through the same sorted, stats-bearing writer the
    * bulk path uses, so data is servable the moment the batch commits and
    * window pruning holds from the first file. `foreachBatch` (not the
    * parquet sink) so the append shares [[graft.sources.PartitionedArchive]]
    * layout discipline. `foreachBatch` alone is at-least-once — a crash
    * between the data landing and the checkpoint advancing re-delivers the
    * batch — so the writer is [[graft.sources.PartitionedArchive.appendBroadbandBatch]],
    * whose batch-id-scoped staging + deterministic file names + commit
    * marker make the replay idempotent (exactly-once OUTPUT, at-least-once
    * delivery). Compaction runs out of band. */
  def archiveIngest(stream: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint)(
      graft.sources.PartitionedArchive.appendBroadbandBatch(_, root, _, _))

  /** STREAMING KMV distinct sketch ([[graft.functions.KmvAgg]]): the
    * per-group state is the ≤k-element sorted key set in the state
    * store, and SET-union merge is idempotent and commutative — the
    * streamed minima are bit-identical to one batch pass no matter how
    * rows split into micro-batches (stronger even than the add-merge
    * sketches: redelivered ROWS are absorbed, not double-counted). The
    * continuous-ingest shape of distinct + set-overlap tracking. */
  def runStreamKmvOnce(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      .select(col("lang"), explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      .select(col("lang"),
        graft.text.TextOps.md5Key64(col("bg"), "kmv:").as("k"))
      .groupBy(col("lang"))
      .agg(graft.functions.KmvAgg.kmv_sketch(col("k"), k).as("mins")), "complete")
  }

  /** Streaming ingest into a FLAT skip-indexed archive: each micro-batch
    * lands through the replay-idempotent clustered appender
    * ([[graft.sources.SkipIndex.appendClusteredBatch]] — staging +
    * deterministic names + commit marker, so at-least-once redelivery is
    * exactly-once on disk), then the co-located zone-map index is
    * brought up to date INCREMENTALLY by [[graft.sources.SkipIndex.load]]
    * (footer reads for the new files only) and persisted beside the
    * data. Data is prunable the moment the batch commits — the
    * skip-index twin of [[archiveIngest]]'s partition-directory path and
    * the ANN index's streamed postings. */
  def flatArchiveIngest(stream: DataFrame, tsCol: String, dir: String,
      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId, streamId) =>
      import graft.sources.SkipIndex
      SkipIndex.appendClusteredBatch(batch, tsCol, dir, batchId, streamId)
      SkipIndex.load(batch.sparkSession, dir): Unit
    }

  /** Checkpoint-scoped stream identity: batch ids restart at 0 per
    * checkpoint, so commit markers / version names are scoped by the
    * checkpoint's hash to let several streams share one root. */
  private[graft] def streamScope(checkpoint: String): String =
    graft.text.TextOps.md5Hex(checkpoint).take(8)

  private def rollupRoot(dir: String) = s"$dir/_rollup"
  private[graft] def rollupVersionPath(dir: String, streamId: String,
      batchId: Long): String =
    f"${rollupRoot(dir)}/v_${streamId}_$batchId%09d"

  /** Latest committed rollup version at or before `beforeId` (every id
    * when None) — the underscore-prefixed `_rollup` dir is invisible to
    * data scans, same trick as `_skipindex`.
    *
    * `streamId` scopes the lookup to ONE lineage: batch ids restart at
    * 0 per checkpoint, so comparing raw ids across streams (or across a
    * checkpoint restart) would mix lineages — a restarted stream's
    * batch 0 must not see, or be shadowed by, the old stream's
    * higher-numbered versions. The per-batch maintenance paths always
    * pass their own scope; `None` (read-side convenience) means "the
    * single lineage in this dir" and asserts that's the case. */
  private[graft] def latestRollup(spark: SparkSession, dir: String,
      beforeId: Option[Long] = None,
      streamId: Option[String] = None): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(rollupRoot(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val all = fs.listStatus(p).map(_.getPath).toSeq
        .filter(_.getName.startsWith("v_"))
        .map { q =>
          val parts = q.getName.split("_") // v_<sid>_<batchId>
          (parts(1), parts(2).toLong, q)
        }
      if (streamId.isEmpty) {
        val sids = all.map(_._1).distinct
        require(sids.size <= 1,
          s"rollup root $dir holds ${sids.size} version lineages " +
            s"(${sids.mkString(", ")}) — pass streamId to pick one")
      }
      val versions = all
        .filter { case (sid, id, _) =>
          streamId.forall(_ == sid) && beforeId.forall(id < _)
        }
      if (versions.isEmpty) None
      else Some(spark.read.parquet(versions.maxBy(_._2)._3.toString))
    }
  }

  /** Retention for the rollup version lineage — VACUUM: keep the newest
    * `keepLast` versions (time-travel window), delete the rest. Versions
    * are self-contained snapshots (each carries the WHOLE rollup, not a
    * delta), so deleting old ones never affects later reads — pinned in
    * RollupSpec together with `latestRollup(beforeId)` time travel.
    * Returns the number of versions deleted. */
  def vacuumRollups(spark: SparkSession, dir: String, keepLast: Int,
      streamId: Option[String] = None): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val p = new org.apache.hadoop.fs.Path(rollupRoot(dir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      // retention is PER LINEAGE: keepLast applies within each stream's
      // version chain, never across streams sharing the root
      val byStream = fs.listStatus(p).map(_.getPath).toSeq
        .filter(_.getName.startsWith("v_"))
        .map { q => val parts = q.getName.split("_"); (parts(1), parts(2).toLong, q) }
        .filter { case (sid, _, _) => streamId.forall(_ == sid) }
        .groupBy(_._1)
      val doomed = byStream.values.flatMap(
        _.sortBy(_._2).dropRight(keepLast).map(_._3)).toSeq
      doomed.foreach(fs.delete(_, true))
      doomed.size
    }
  }

  /** Driver-held state the CONTINUOUS maintenance loop carries between
    * micro-batches so each batch is metadata-work-free:
    *  - `idx`: the footer-index rows (extended per batch from the
    *    appender's landed-file list — zero listings, zero jobs);
    *  - `prev`: the last rollup version THIS loop wrote, as a localized
    *    value with its batch id (re-reading the version parquet each
    *    batch cost a datasource resolution + scan).
    * Both are pure caches of on-disk state: an empty carry (fresh loop,
    * restart, or a direct [[maintainRollupBatch]] call as in RollupSpec's
    * replay pins) falls back to disk and reconciles via
    * [[graft.sources.SkipIndex.load]] — round 11 measured the carry at
    * ~2× on the streamed maintenance cell. */
  private[graft] final class RollupCarry {
    var idx: Option[IndexedSeq[graft.sources.SkipIndex.FileStat]] = None
    var prev: Option[(Long, DataFrame)] = None
    var persistCountdown: Int = 0
  }

  /** How many micro-batches may extend the CARRIED footer index before
    * it is re-persisted. The on-disk `_skipindex` is a warm-start CACHE,
    * not a correctness input — every fresh loop (and every non-loop
    * reader) reconciles it against the real listing via
    * [[graft.sources.SkipIndex.load]], which costs one footer read per
    * file persisted-behind. Writing it every batch was
    * ~0.15 s/batch of the streamed-maintenance cell for zero recovery
    * benefit; this bounds restart reconcile work to ≤16 footers while
    * removing the write from the steady-state batch path. */
  private val IndexPersistEvery = 16

  /** One micro-batch of continuous rollup maintenance — the body
    * [[runStreamRollupOnce]] runs per batch, factored out so the replay
    * path is directly testable:
    *  1. the batch lands in the flat skip-indexed archive through the
    *     replay-idempotent clustered appender, and the zone-map index
    *     refreshes incrementally (exactly [[flatArchiveIngest]]);
    *  2. the SAME maintenance kernel the batch ETL uses
    *     ([[graft.ops.RollupOps.maintainByKey]]) brings the persisted
    *     per-day rollup up to date: the batch's days recompute from a
    *     zone-map-PRUNED archive read (per-day file picks — never a
    *     history scan), every other row carries from the previous rollup
    *     version untouched;
    *  3. the result lands as an overwrite-mode, batch-id-named VERSION:
    *     redelivery rewrites the same version from the same idempotent
    *     archive state, so at-least-once delivery is exactly-once output
    *     (RollupSpec replays a mid-stream batch and pins both the rewrite
    *     and the untouched later versions).
    * At 100 TB the dashboard aggregate trails ingest by one pruned
    * recompute instead of a nightly full scan. */
  private[graft] def maintainRollupBatch(batch: DataFrame, batchId: Long,
      streamId: String, tsCol: String, dir: String,
      recompute: DataFrame => DataFrame,
      carry: RollupCarry = new RollupCarry): Unit = {
    import graft.sources.SkipIndex
    val s = batch.sparkSession
    // the appender returns EXACTLY the files this batch landed (also on
    // marker-short-circuited replay), so index maintenance is a driver
    // footer read per new file — no listing, no resolution, no job
    val landed = SkipIndex.appendClusteredBatch(batch, tsCol, dir, batchId, streamId)
    // a fresh loop (or restart) reconciles against the real listing once
    // — load persists the index if that changed it, so a brand-new
    // archive gets one at all — then stays incremental; the steady-state
    // batch extends only the carried copy, persisted every
    // [[IndexPersistEvery]] batches (the cache contract there)
    val freshCarry = carry.idx.isEmpty
    val idx = SkipIndex.extendFooterIndex(s,
      carry.idx.getOrElse(SkipIndex.load(s, dir)), landed)
    carry.persistCountdown =
      if (freshCarry) IndexPersistEvery else carry.persistCountdown - 1
    if (carry.persistCountdown <= 0) {
      SkipIndex.persistIndex(s, dir, idx)
      carry.persistCountdown = IndexPersistEvery
    }
    carry.idx = Some(idx)
    // changed days come from the landed files' FOOTER ZONES (already in
    // the extended index — no extra pass over the batch): every day in a
    // landed file's [min_us, max_us] recomputes. A zone may span a day
    // the batch didn't actually touch; recomputing it from the archive
    // reproduces its rows unchanged, so the superset is correct — and
    // the enumeration is driver arithmetic, not a Spark job. LocalDate
    // (timezone-free proleptic days) matches to_date(ts) under the UTC
    // session exactly: epoch-day = floor(µs / 86400e6).
    val landedSet = landed.map(SkipIndex.canonPath).toSet
    // changed days from footer zones + the NULL-day flag (zones exclude
    // nulls, so null-ts rows are a changed group zones can't name)
    val (changedDays, landedNulls) =
      SkipIndex.zoneChangedDays(idx.filter(r => landedSet.contains(r.file)))
    val changed: Seq[Any] =
      if (landedNulls) changedDays :+ (null: Any) else changedDays
    if (changed.nonEmpty) {
      // (index rows are canonPath-spelled, so picks compare directly)
      val picks = SkipIndex.picksForChangedDays(idx, changedDays, landedNulls)
      // The landed files' rows ARE this batch's rows: the appender wrote
      // exactly the batch (and a marker-short-circuited replay returns
      // the files that hold the same batch's content) — so the recompute
      // serves them from the IN-MEMORY batch frame and reads only the
      // OTHER picked files (boundary days straddling an earlier file),
      // saving a per-batch datasource resolution + re-scan of parquet
      // written milliseconds ago (r16 verdict item 5; guide §6). Every
      // landed file is always picked — its footer zone is a subset of
      // the changed-day set by construction — which the require pins.
      require(landedSet.subsetOf(picks.toSet),
        s"maintainRollupBatch: landed files missing from picks: " +
          s"${landedSet.diff(picks.toSet)}")
      val otherPaths = picks.filterNot(landedSet)
      val data = (if (otherPaths.isEmpty) batch
        else batch.unionByName(s.read.parquet(otherPaths: _*)))
        .withColumn("day", to_date(col(tsCol)))
      // prev = latest version STRICTLY BEFORE this batch id: on
      // redelivery a half-written own version must not become input —
      // the carried copy obeys the same rule (its id must be < batchId,
      // so an engine retry of the same id falls back to disk). The
      // changed-day set is already in hand — maintainByKeys skips the
      // second per-batch distinct-collect maintainByKey would pay.
      val prev = carry.prev.collect { case (id, v) if id < batchId => v }
        .orElse(latestRollup(s, dir, beforeId = Some(batchId),
          streamId = Some(streamId)))
      val next = SkipIndex.localize(s, prev match {
        case Some(p) =>
          graft.ops.RollupOps.maintainByKeys(p, data, changed, "day", recompute)
        case None =>
          // same null-safe membership maintainByKeys uses — a plain
          // isInCollection would drop the null-day group here
          recompute(data.filter(
            graft.ops.RollupOps.keyMembership(changed, col("day"))))
      })
      next.coalesce(1).write.mode("overwrite")
        .parquet(rollupVersionPath(dir, streamId, batchId))
      carry.prev = Some((batchId, next))
    }
  }

  /** Drive the continuous rollup over the (finite) events table split
    * into 6 contiguous ts-range files, one micro-batch each, and return
    * the final rollup version. The result must equal one batch aggregate
    * over the same rows — maintenance is exact — so the batch full-scan
    * oracle applies unchanged. */
  def runStreamRollupOnce(spark: SparkSession, dir: String,
      recompute: DataFrame => DataFrame): DataFrame = {
    val run = new OneShot(spark)
    val (src, arch) = (s"${run.dir}/src", s"${run.dir}/arch")
    graft.tables.Tables.events(run.ses, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .repartitionByRange(6, col("ts"))
      .write.parquet(src)
    val carry = new RollupCarry // one loop = one carried index/version
    run.each(footerSchemaStream(run.ses, src, "*.parquet", maxFilesPerTrigger = Some(1)))(
      maintainRollupBatch(_, _, _, "ts", arch, recompute, carry))
    latestRollup(run.ses, arch, streamId = Some(streamScope(run.checkpoint))).get
  }

  /** STREAMING deletion requests: each micro-batch of doomed keys lands
    * as tombstones in the archive's `_deletes` sidecar
    * ([[graft.sources.Deletes.addTombstones]] — O(keys) per batch, the
    * erasure-request ACKNOWLEDGMENT path), so every logical read
    * ([[graft.sources.Deletes.readWithDeletes]]) excludes them the
    * moment the batch commits; the PHYSICAL rewrite stays an
    * out-of-band maintenance pass. Append-mode tombstones make
    * redelivery idempotent for free: duplicate keys are absorbed by the
    * tombstone set's distinct (DeletesSpec pins it). Returns the
    * post-stream logical view. */
  def runStreamDeletesOnce(spark: SparkSession, dataDir: String,
      keyCol: String, requestBatches: Seq[Seq[String]]): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    val src = s"${run.dir}/src"
    stageTranches(requestBatches.zipWithIndex
        .flatMap { case (keys, i) => keys.map(_ -> i) }.toDF("key", "__tranche"),
      requestBatches.size, src).foreach(_())
    run.each(trancheStream(run.ses, src)) { (b, _, _) =>
      // request-scale collect — the same bounded contract as the
      // batch delete path
      graft.sources.Deletes.addTombstones(b.sparkSession, dataDir,
        b.select("key").collect().map(_.getString(0)).toIndexedSeq)
    }
    graft.sources.Deletes.readWithDeletes(run.ses, dataDir, keyCol)
  }

  /** One micro-batch of the continuous CDC sink: the previous snapshot
    * VERSION (or the seed `base` for the first batch) advances through
    * [[graft.ops.MergeOps.applyCdcVersioned]] and lands as the next
    * batch-id-named version — the rollup lineage's overwrite/replay
    * discipline applied to MERGE INTO. Batch ids arrive in order (the
    * engine assigns them), but the CONTENT does not: which seq-group
    * file lands in which micro-batch is arrival luck, and redelivery
    * re-runs a batch against its unchanged predecessor — the versioned
    * apply's `seq > stored-seq` guard makes both converge to the same
    * snapshot (RollupSpec permutes the content-to-batch assignment and
    * replays a batch to pin it). */
  private[graft] def maintainCdcBatch(base: DataFrame, batch: DataFrame,
      batchId: Long, streamId: String, dir: String, keyCol: String,
      opCol: String, seqCol: String): Unit = {
    val s = batch.sparkSession
    val prev = latestRollup(s, dir, beforeId = Some(batchId),
      streamId = Some(streamId)).getOrElse(base)
    graft.ops.MergeOps.applyCdcVersioned(prev, batch, keyCol, opCol, seqCol)
      .coalesce(1).write.mode("overwrite")
      .parquet(rollupVersionPath(dir, streamId, batchId))
  }

  /** Drive the continuous CDC sink over the q_cdc_apply change feed
    * split into its three seq-group files (one micro-batch each, arrival
    * order uncontrolled) and return the final snapshot version. The
    * versioned apply makes the result arrival-order-independent, so the
    * batch end-state oracle applies unchanged. */
  def runStreamCdcOnce(spark: SparkSession, dir: String,
      feedOf: DataFrame => Seq[DataFrame]): DataFrame = {
    val run = new OneShot(spark)
    val (src, snapDir) = (s"${run.dir}/src", s"${run.dir}/snap")
    val snap = graft.tables.Tables.events(run.ses, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val base = snap.withColumn("__seq", lit(0L))
      .withColumn("__deleted", lit(false))
    // the change feed comes from the CALLER's builder — the same one the
    // batch q_cdc_apply runs, so the two paths cannot drift apart from
    // each other (or from the shared end-state oracle) silently
    val feed = feedOf(snap)
    stageTranches(feed.zipWithIndex
        .map { case (f, i) => f.withColumn("__tranche", lit(i)) }
        .reduce(_ unionByName _), feed.size, src).foreach(_())
    run.each(trancheStream(run.ses, src))(
      maintainCdcBatch(base, _, _, _, snapDir, "event_id", "op", "seq"))
    // live view: tombstones out, bookkeeping columns dropped
    latestRollup(run.ses, snapDir, streamId = Some(streamScope(run.checkpoint))).get
      .filter(!col("__deleted")).drop("__seq", "__deleted")
  }

  /** Streaming ingest with SNAPSHOT ISOLATION: every micro-batch lands
    * as one [[graft.sources.Snapshots]] commit, so a reader always sees
    * a consistent table version (all of a batch or none of it) and the
    * commit history doubles as replayable time travel over the ingest.
    * `foreachBatch` is at-least-once, so the commit is the
    * token-idempotent [[graft.sources.Snapshots.commitAppendOnce]]
    * keyed by (streamScope, batchId) — a re-delivered batch returns its
    * already-assigned version instead of appending twice. The staged
    * feed mirrors [[runStreamCdcOnce]]: tranche files written in day
    * order, `maxFilesPerTrigger=1` → one commit per tranche. Returns
    * the per-version aggregate across ALL committed versions — the
    * same side-by-side shape as batch q_time_travel, cumulative
    * because streaming ingest only ever appends. */
  def runStreamSnapshotsOnce(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshots
    val run = new OneShot(spark)
    val (src, table) = (s"${run.dir}/src", s"${run.dir}/table")
    val ev = graft.tables.Tables.events(spark, dir).select(
      to_date(col("ts")).as("day"), col("event_type"),
      round(col("value") * 1e6, 0).cast("long").as("vm"))
    val d11 = lit("2024-01-11").cast("date")
    val d21 = lit("2024-01-21").cast("date")
    // a null day lands in no tranche
    stageTranches(ev.select(col("event_type"), col("vm"),
        when(col("day") < d11, 0).when(col("day") < d21, 1)
          .when(col("day") >= d21, 2).as("__tranche")), 3, src).foreach(_())
    run.each(trancheStream(run.ses, src)) { (b, id, sid) =>
      Snapshots.commitAppendOnce(b.sparkSession, table, b, s"$sid-$id"): Unit
    }
    val cur = Snapshots.currentVersion(spark, table)
    (0 to cur).map { v =>
        Snapshots.readSnapshot(spark, table, v)
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
      .groupBy(col("version"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("vm")).cast("double") / 1e6, 6).as("v_sum"))
      .orderBy("version", "event_type")
  }

  /** STREAMING stratified sample: per-stratum bottom-k-by-hash
    * ([[graft.functions.TopKByAgg]] over the negated md5 key) as the
    * aggregation state — ≤k (ord, id) pairs per stratum ride the state
    * store. Bottom-k of a hash-keyed SET is order-independent and
    * split-invariant (k-bounded merge of partials = bottom-k of the
    * union; md5 keys are collision-distinct at corpus scale), so the
    * streamed sample is bit-identical to the batch q_strat_sample under
    * any micro-batch arrival — the two share one oracle verbatim.
    * Continuous-ingest uniform-sample maintenance: "always hold a fresh
    * k-doc uniform preview per source" with constant state. */
  def runStreamSampleOnce(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    val run = new OneShot(spark)
    run.drain(documentsStream(run.ses, dir)
      .select(col("source"),
        graft.text.TextOps.md5Key64(col("doc_id")).as("hv"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKByAgg.topk_by(
        -col("hv"), col("doc_id"), k).as("tk")), "complete")
  }

  /** STREAM-STATIC point-in-time enrichment: the lineitem fact stream
    * joins the STATIC SCD2 order-version dimension through the same
    * [[graft.ops.JoinOps.pitLookup]] the batch path uses — a stateless
    * stream-static broadcast left-outer join (no watermark, no state
    * store: the static side is fixed per micro-batch, Spark re-plans it
    * into each batch), followed by a streaming aggregate. This is the
    * third join topology next to q_stream_join's stream-stream interval
    * join and the ANN ingest's static-centroid assignment: continuous
    * fact enrichment against versioned dimensions, THE feature-pipeline
    * ingest shape, with the same no-leakage guarantee as batch (a fact
    * before its entity's first version aggregates into the matched=0
    * bucket, never a later version's). Complete-mode aggregate over a
    * bounded (month × matched) grid, so the batch oracle applies
    * unchanged. */
  def runStreamPitOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    val orders = graft.tables.Tables.orders(run.ses, dir)
    val dim = graft.ops.MergeOps.scd2Intervals(
        orders.select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        "o_custkey", "o_orderdate",
        tieBreak = "o_orderkey", endOfTime = "9999-12-31 00:00:00")
      .select(col("o_custkey").as("dim_custkey"),
        col("o_orderkey").as("version_key"),
        col("o_totalprice").as("version_price"),
        col("valid_from"), col("valid_to"))
    val probes = footerSchemaStream(run.ses, dir, "lineitem.parquet")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")
    run.drain(graft.ops.JoinOps.pitLookup(probes, dim,
        factKey = "o_custkey", factTs = "l_shipdate", dimKey = "dim_custkey")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        when(col("version_key").isNotNull, 1).otherwise(0).as("matched"))
      .agg(count(lit(1)).as("n"),
        sum(round(coalesce(col("version_price"), lit(0.0)) * 100, 0)
          .cast("long")).as("price_cents")), "complete")
  }

  /** STREAM-STREAM interval join (§2.10's remaining operator family):
    * purchases matched to the same user's clicks in the preceding hour —
    * the attribution-join shape. Both sides carry watermarks, and the join
    * condition bounds event-time lag, so Spark derives a state-eviction
    * bound for each side: buffered rows older than
    * `watermark + interval` drop from the state store — state is
    * O(users · events-per-hour), not O(stream length), which is what makes
    * the operator runnable on an unbounded 100 TB/day firehose. Inner
    * append-mode: each match emits exactly once, so the finite replay
    * equals the batch join and the batch oracle applies. */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
      maxLagSecs: Long): DataFrame =
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $maxLagSecs SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_secs"))

  /** Drive the interval join over the (finite) events table: two streaming
    * readers over the same source, self-joined — the purchase side and the
    * click side each maintain their own keyed state.
    *
    * The watermark delay (31 days) exceeds the fixture's whole event-time
    * span, so the replay equals the batch join REGARDLESS of how the
    * source splits into micro-batches — with a short delay, batch 1 would
    * advance the watermark and evict click state that batch 2's purchases
    * still need. The delay is the replay-exactness knob, not the scale
    * knob: production picks it from actual event lateness (minutes), which
    * bounds state; a bounded-lateness replay of ordered history gets the
    * same exactness with that small delay. */
  def runStreamJoinOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    val purchases = eventsStream(run.ses, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "31 days")
    val clicks = eventsStream(run.ses, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "31 days")
    run.drain(intervalJoin(purchases, clicks, maxLagSecs = 3600L), "append")
  }

  /** STREAMING sessionization via `session_window` — the merging-session
    * state store, a different stateful operator from the tumbling-window
    * aggregate (windows GROW and MERGE as members arrive; state is keyed by
    * (user, open session), evicted when the watermark passes a session's
    * close). Append mode only emits a session once the watermark proves no
    * more members can join it, so a finite replay would strand every user's
    * LAST session in the state store. The flush is a single far-future
    * SENTINEL row for an out-of-band user (-1) unioned into the stream:
    * its event time drives the global watermark past every real session's
    * close, the post-batch no-data micro-batch flushes them, and the
    * sentinel's own (never-closed) session is invisible to append output
    * and filtered by user anyway. Same operator semantics as the batch
    * `session_window` — the batch oracle applies verbatim. A production
    * stream needs no sentinel: the next day's data IS the watermark driver;
    * the sentinel only finalizes a bounded replay. */
  def runStreamSessionsOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    // sentinel parquet written into the run's scratch dir with a NATIVE
    // timestamp column, then read back through the same footer-derived +
    // adaptive path as the real stream — both sides surface ts as
    // TimestampType whatever the events archive's physical layout is
    val sentinelDir = s"${run.dir}/sentinel"
    val farFuture = java.sql.Timestamp.from(
      java.time.Instant.parse("2030-01-01T00:00:00Z"))
    import run.ses.implicits._
    Seq((0L, farFuture, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(sentinelDir)
    val real = eventsStream(run.ses, dir).select(col("user_id"), col("ts"))
    val sentinel = graft.tables.Tables.adaptTs(
        footerSchemaStream(run.ses, sentinelDir, "*.parquet"))
      .select(col("user_id"), col("ts"))
    run.drain(real.union(sentinel)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events")), "append")
      .filter(col("user_id") >= 0)
  }

  /** Per-user running totals emitted by batch. */
  final case class UserStat(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user funnel progression (event-time micros; stages set-once). */
  final case class FunnelProgress(user: Long, t1: Option[Long],
    t2: Option[Long], t3: Option[Long])

  /** Per-user retention state emission (`seq` = update count, monotone —
    * the drain's max_by key; `mask` bit i = active on cohort day + i). */
  final case class RetentionEmit(user: Long, seq: Long, cohort_day: Int,
    mask: Long)

  /** STREAMING cohort retention with 16 bytes of state per user: cohort
    * = running MIN epoch-day, activity = a 64-day offset BITMASK —
    * min-rebase (mask shifts up when an earlier day arrives) and OR are
    * both commutative/associative, so unlike the funnel state machine
    * this needs NO ordering contract: any batch arrival order converges
    * to the same state, and the batch oracle (q_cohort_retention's SQL)
    * applies unchanged. The 64-day horizon is the bounded-state price —
    * offsets ≥ 64 drop (events span 30 days here; a production horizon
    * widens the mask array). The streamed twin of
    * [[graft.ops.BehaviorOps.cohortRetention]]. */
  def runStreamRetentionOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // UTC epoch-day = floor(µs / 86400e6) — matches to_date(ts) exactly
    // under the UTC session (the zoneChangedDays identity)
    val ev = eventsStream(run.ses, dir)
      .select(col("user_id"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("int").as("d"))
      .as[(Long, Int)]
    val updated = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, Long, Long), RetentionEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Int)],
         state: GroupState[(Int, Long, Long)]) =>
          var (cohort, mask, seq) =
            state.getOption.getOrElse((Int.MaxValue, 0L, 0L))
          rows.foreach { case (_, d) =>
            if (d < cohort) {
              // earlier day: re-base — existing offsets shift UP
              val sh = cohort.toLong - d
              mask = if (cohort == Int.MaxValue || sh >= 64) 1L
                     else (mask << sh) | 1L
              cohort = d
            } else {
              val off = d - cohort
              if (off < 64) mask |= 1L << off
            }
          }
          seq += 1
          state.update((cohort, mask, seq))
          Iterator(RetentionEmit(user, seq, cohort, mask))
      }
    // last emission per user (seq monotone), then decode mask bits to
    // the (cohort_day, day_offset, n_active) retention matrix
    run.drain(updated.toDF(), "update").groupBy(col("user"))
      .agg(max_by(struct(col("cohort_day"), col("mask")), col("seq")).as("m"))
      .select(col("m.cohort_day").as("cd"), col("m.mask").as("mask"))
      .select(date_add(to_date(lit("1970-01-01")), col("cd")).as("cohort_day"),
        explode(sequence(lit(0), lit(63))).as("i"), col("mask"))
      .filter(expr("shiftright(mask, i) & 1") === 1L)
      .groupBy(col("cohort_day"), col("i").cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Tagged as-of input row (`side` 0 = event, 1 = probe; events carry
    * `(tie, value)`, probes carry `okey`). */
  final case class AsofIn(user_id: Long, us: Long, side: Int,
    tie: Long, value: Double, okey: Long)

  /** Per-key as-of carry: the latest `(ts, tie)` event's payload — the
    * EXACT state the batch merge operator ([[graft.plans.AsOfJoinExec]])
    * holds per key while it streams a partition, lifted into the state
    * store. 24 bytes per key. */
  final case class AsofCarry(us: Long, tie: Long, value: Double)

  /** One probe's as-of answer (payload None when no event qualifies). */
  final case class AsofHit(o_orderkey: Long, user_id: Long, us: Long,
    value: Option[Double], event_id: Option[Long])

  /** Per-key batch step of the streaming as-of: order the batch's rows
    * by `(ts, side, tie)` — events before probes at equal ts, so ties
    * match, highest tie wins — then run the single-pass merge with the
    * carry seeded from state. INGEST-TIME semantics across batches: a
    * probe matches the latest event SEEN SO FAR (the carry), so an
    * event arriving in a later micro-batch never retro-matches an
    * already-answered probe, and a probe older than the carry answers
    * NULL rather than resurrecting history the state no longer holds —
    * the last-tick contract of market-data stream joins. Within one
    * batch (the one-shot replay) this reduces exactly to the batch
    * as-of, which is what the shared DuckDB ASOF oracle checks. */
  private[graft] def asofEmit(rows: Iterator[AsofIn],
      state: org.apache.spark.sql.streaming.GroupState[AsofCarry])
      : Iterator[AsofHit] = {
    val sorted = rows.toArray.sortBy(r => (r.us, r.side, r.tie))
    var carry = state.getOption
    val out = Vector.newBuilder[AsofHit]
    sorted.foreach { r =>
      if (r.side == 0) {
        if (carry.forall(c =>
            c.us < r.us || (c.us == r.us && c.tie <= r.tie)))
          carry = Some(AsofCarry(r.us, r.tie, r.value))
      } else {
        val m = carry.filter(_.us <= r.us)
        out += AsofHit(r.okey, r.user_id, r.us, m.map(_.value), m.map(_.tie))
      }
    }
    carry.foreach(state.update)
    out.result().iterator
  }

  /** STREAMING as-of join — the ingest twin of [[graft.plans
    * .AsOfJoinExec]], completing the batch/stream twin pattern for the
    * one operator family that lacked it: probes (orders) and events
    * arrive as TWO streaming sources unioned tagged, group by key, and
    * a `flatMapGroupsWithState` carries the latest event per key (the
    * merge exec's cursor state, persisted in the state store). State is
    * O(keys), never O(events) — the 100 TB shape: a day's trillion
    * ticks flow through; only the last tick per instrument stays.
    * One-shot replay lands everything in one micro-batch, so the result
    * equals the batch as-of and q_asof_join's DuckDB ASOF oracle
    * applies verbatim; the cross-batch carry/late-event semantics are
    * pinned separately in StreamingSpec. */
  def runStreamAsofOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = eventsStream(run.ses, dir).select(
      col("user_id"), unix_micros(col("ts")).as("us"),
      lit(0).as("side"), col("event_id").as("tie"), col("value"),
      lit(0L).as("okey")).as[AsofIn]
    // same probe derivation as q_asof_join (orders → synthetic Jan-2024
    // probe times), streamed from the orders parquet
    val probes = footerSchemaStream(run.ses, dir, "orders.parquet").select(
      (col("o_custkey") % 150).as("user_id"),
      unix_micros(to_timestamp(concat(lit("2024-01-"),
        lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
        lit(" 00:00:00")))).as("us"),
      lit(1).as("side"), lit(0L).as("tie"), lit(0.0).as("value"),
      col("o_orderkey").as("okey")).as[AsofIn]
    val hits = ev.unionByName(probes).groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofCarry, AsofHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[AsofIn], state: GroupState[AsofCarry]) =>
          asofEmit(rows, state)
      }
    run.drain(hits.toDF(), "append").select(
      col("o_orderkey"), col("user_id"),
      timestamp_micros(col("us")).as("ts"),
      col("value"), col("event_id"))
  }

  /** STREAMING first-touch funnel: a per-user 3-stage state machine via
    * `flatMapGroupsWithState` — the online twin of
    * [[graft.ops.BehaviorOps.funnel3]]. Each user's state is just the
    * `(t1, t2, t3)` progression (24 bytes — funnel state for 10⁹ users
    * fits one executor's memory budget), advanced strictly:
    * view sets t1, the first later click sets t2, the first later
    * purchase sets t3; set-once, so emissions are monotone and the
    * drain reduces by `max`.
    *
    * Order contract: a bounded state machine cannot reconcile an
    * out-of-order view that would retroactively lower t1 — so the
    * driver lands the archive's 6 ts-contiguous slices ONE AT A TIME,
    * draining the engine between landings (batch order = event-time
    * order BY CONSTRUCTION, unlike a pre-populated source dir where
    * file→batch assignment is arrival luck, cf. [[runStreamCdcOnce]]),
    * and the state function sorts each group's in-batch rows by ts.
    * Per-user event-time order is then global, and the streamed result
    * equals the batch funnel EXACTLY — the same oracle applies. A
    * production deployment gets the same guarantee from a watermark +
    * per-trigger sort or an upstream log ordered per key (e.g. a
    * keyed Kafka partition). */
  def runStreamFunnelOnce(spark: SparkSession, dir: String,
      stage1: String, stage2: String, stage3: String): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = s"${run.dir}/src"
    val ev = graft.tables.Tables.events(run.ses, dir)
      .select(unix_micros(col("ts")).as("us"), col("user_id"),
        col("event_type"))
    // 6 equal TIME slices of [min, max], all staged in ONE write job;
    // slice i still LANDS (atomic rename) only after the engine drained
    // slice i-1 — see stageTranches
    val lands = timeSlices(ev, src)
    lands.head()
    val stream = trancheStream(run.ses, src).as[(Long, Long, String)]
    val progressed = stream.groupByKey(_._2)
      .flatMapGroupsWithState[(Option[Long], Option[Long], Option[Long]),
        FunnelProgress](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, String)],
         state: GroupState[(Option[Long], Option[Long], Option[Long])]) =>
          var (t1, t2, t3) = state.getOption.getOrElse(
            (Option.empty[Long], Option.empty[Long], Option.empty[Long]))
          // in-batch event-time order (the group iterator is unordered);
          // group batch size is bounded by events-per-user-per-slice
          rows.toArray.sortBy(_._1).foreach { case (us, _, et) =>
            if (t1.isEmpty) { if (et == stage1) t1 = Some(us) }
            else if (t2.isEmpty) { if (et == stage2 && us > t1.get) t2 = Some(us) }
            else if (t3.isEmpty) { if (et == stage3 && us > t2.get) t3 = Some(us) }
          }
          state.update((t1, t2, t3))
          if (t1.isDefined) Iterator(FunnelProgress(user, t1, t2, t3))
          else Iterator.empty
      }
    // stages are set-once → max over a user's emissions = final state
    run.drain(progressed.toDF(), "update", lands.tail).groupBy(col("user"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
  }

  /** STREAMING Welch moments: the per-(type, cohort) DECIMAL(38,0)
    * moment triple (n, Σx, Σx²) as a streaming grouped aggregate in
    * complete mode — the partial sums ARE the state-store state, and
    * integer sums are linear (order/batch-split invariant), so the
    * streamed moments are bit-identical to one batch pass. The caller
    * ([[graft.queries.StatsQueries]] q_stream_welch) applies the same
    * closed form as the batch test; constant state per group forever. */
  def runStreamWelchMomentsOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    run.drain(eventsStream(run.ses, dir)
      .select(col("event_type"), (col("user_id") % 2).as("grp"),
        round(col("value") * 1e6, 0).cast("long")
          .cast("decimal(38,0)").as("x"))
      .groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx")), "complete")
  }

  /** A purchase attributed at ingest (`us` = event-time micros,
    * `vmicro` = purchase value in micro-units). */
  final case class AttributionEmit(user: Long, us: Long, channel: String,
    vmicro: Long)

  /** STREAMING last-touch attribution — the online twin of
    * [[graft.ops.BehaviorOps.attributeLastTouch]]: per-user state is
    * ONE (touch_type, touch_us) pair (~24 bytes — live attribution for
    * 10⁹ users fits one executor), each non-purchase event overwrites
    * it, each purchase emits its credited channel immediately (the
    * real-time "which campaign just converted" feed). Purchases emit
    * exactly once, so the drain is append-only — no max_by reduction.
    *
    * Order contract: identical to [[runStreamFunnelOnce]] and stated
    * once there — a bounded last-touch state cannot reconcile an
    * out-of-order touch arriving AFTER the purchase it should have
    * credited, so the driver lands 6 ts-contiguous slices one at a
    * time and the state function sorts each group's in-batch rows by
    * (us, event_id). Streamed ≡ batch exactly; q_attribution's oracle
    * applies unchanged. */
  def runStreamAttributionOnce(spark: SparkSession, dir: String,
      lookbackHours: Long): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = s"${run.dir}/src"
    val ev = graft.tables.Tables.events(run.ses, dir)
      .select(unix_micros(col("ts")).as("us"), col("event_id"),
        col("user_id"), col("event_type"),
        round(col("value") * 1e6, 0).cast("long").as("vmicro"))
    // all 6 slices staged in one write job; ordered atomic landings below
    val lands = timeSlices(ev, src)
    lands.head()
    val stream = trancheStream(run.ses, src).as[(Long, Long, Long, String, Long)]
    val lookbackUs = lookbackHours * 3600L * 1000000L
    val credited = stream.groupByKey(_._3)
      .flatMapGroupsWithState[(String, Long), AttributionEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Long)],
         state: GroupState[(String, Long)]) =>
          var touch = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionEmit]
          rows.toArray.sortBy(r => (r._1, r._2)).foreach {
            case (us, _, _, et, vm) =>
              if (et == "purchase") {
                val ch = touch match {
                  case Some((t, tus)) if us - tus <= lookbackUs => t
                  case _ => "direct"
                }
                out += AttributionEmit(user, us, ch, vm)
              } else touch = Some((et, us))
          }
          touch.foreach(state.update)
          out.iterator
      }
    run.drain(credited.toDF(), "append", lands.tail)
  }

  /** CUSTOM streaming state via `flatMapGroupsWithState` (§2.10's "novel
    * state" row): a per-user accumulator (count, sum) updated each
    * micro-batch — the primitive session stores, per-entity rate trackers
    * and online feature aggregates build on. Update mode emits a group's
    * running total whenever it changes; the memory-sink history is reduced
    * to each group's LAST emission (`max_by` on the monotone count), which
    * equals the batch per-user aggregate — hence oracle-checkable. */
  def runUserStatsOnce(spark: SparkSession, dir: String): DataFrame = {
    val run = new OneShot(spark)
    import run.ses.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ev = eventsStream(run.ses, dir)
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val updated = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), UserStat](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          var (c, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          Iterator(UserStat(user, c, s))
      }
    // last emission per user = the final (count, sum) — count is monotone
    run.drain(updated.toDF(), "update").groupBy("user_id")
      .agg(max_by(struct(col("n_events"), col("sum_value")), col("n_events")).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        round(col("m.sum_value"), 2).as("sum_value"))
  }
}
