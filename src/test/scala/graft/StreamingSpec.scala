package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming resample (complete mode) equals the batch aggregation") {
    // bit-equality against the batch MILLI form runResampleOnce now
    // mirrors (exact state; arrival-order independent by construction)
    val streamed = StreamingOps.runResampleOnce(spark, TestSpark.Sf0001, "1 hour")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1.getTime).toSeq
    val batch = graft.ops.ResampleOps.resampleMeanMilli(
        graft.tables.Tables.events(spark, TestSpark.Sf0001), "ts", "value", "1h")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2)))
      .sortBy(_._1.getTime).toSeq
    assert(streamed == batch)
    // and the milli form stays within a half-micro of the double avg
    val dbl = graft.ops.ResampleOps.resampleMean(
        graft.tables.Tables.events(spark, TestSpark.Sf0001), "ts", "value", "1h")
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1)))
      .sortBy(_._1.getTime).toSeq
    streamed.zip(dbl).foreach { case ((t1, m, _), (t2, a)) =>
      assert(t1 == t2 && math.abs(m - a) <= 5.01e-7, s"$t1: milli $m vs avg $a")
    }
  }

  test("streaming dedup state carries across micro-batches") {
    import spark.implicits._
    // two files → maxFilesPerTrigger=1 forces two micro-batches; a dup in
    // batch 2 of content first seen in batch 1 must be suppressed by the
    // cross-batch state store, not just within-batch
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_dedup").toString
    Seq((1L, "alpha", "en", "s", 5L), (2L, "beta", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((3L, "alpha", "en", "s", 5L), (4L, "gamma", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/f2")
    val q = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*")
      .select(md5(col("text").cast("binary")).as("content_hash"))
      .dropDuplicates("content_hash")
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_dedup_xbatch").start()
    try q.processAllAvailable() finally q.stop()
    // 4 docs, 3 distinct contents → exactly 3 emissions across batches
    assert(spark.table("graft_stream_dedup_xbatch").count() == 3)
  }

  test("flatMapGroupsWithState user stats equal the batch aggregate") {
    val streamed = StreamingOps.runUserStatsOnce(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val batch = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(streamed == batch)
  }

  test("streaming ingest lands in the partitioned archive, servable + pruned") {
    import spark.implicits._
    import java.sql.Timestamp
    val src = java.nio.file.Files.createTempDirectory("graft_ingest_src").toString
    val root = java.nio.file.Files.createTempDirectory("graft_ingest_arch").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt").toString
    def rows(offset: Int) = (0 until 60).map { i =>
      ("ORCASOUND_LAB", 1, Timestamp.valueOf("2024-01-01 00:00:00").toLocalDateTime
        .plusSeconds((offset + i).toLong), 100.0 + i)
    }.map { case (h, dt, t, v) => (h, dt, Timestamp.valueOf(t), v) }
      .toDF("hydrophone", "delta_t", "ts", "value")
    rows(0).coalesce(1).write.parquet(s"$src/f1")
    val stream = spark.readStream
      .schema("hydrophone STRING, delta_t INT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
    val q = StreamingOps.archiveIngest(stream, root, ckpt)
    try {
      q.processAllAvailable()
      // a second batch arrives while the query runs
      rows(60).coalesce(1).write.parquet(s"$src/f2")
      q.processAllAvailable()
    } finally q.stop()
    val got = graft.sources.PartitionedArchive.readBroadband(spark, root)
    assert(got.count() == 120)
    // servable through the same facade as bulk-ingested data
    val svc = graft.serve.AmbientService.fromFrames(got,
      Seq.empty[(String, String, Int, Int, Timestamp, Double, Double)]
        .toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value"))
    val r = svc.getBroadbandTimeseries("ORCASOUND_LAB",
      java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-01-01T00:01:00Z"), 1)
    assert(r.pointCount == 60)
    // the appended files carry usable ts stats (not INT96): the window
    // predicate reaches the scan
    val plan = graft.ops.TimeseriesOps.windowFilter(got, "ts",
      java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-01-01T00:01:00Z"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"))
  }

  test("streaming ingest serves over HTTP identically to the bulk-written archive") {
    import spark.implicits._
    import java.sql.Timestamp
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val src = java.nio.file.Files.createTempDirectory("graft_e2e_src").toString
    val streamRoot = java.nio.file.Files.createTempDirectory("graft_e2e_stream").toString
    val bulkRoot = java.nio.file.Files.createTempDirectory("graft_e2e_bulk").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_e2e_ckpt").toString
    def rows(offset: Int) = (0 until 60).map { i =>
      ("ORCASOUND_LAB", 1, Timestamp.valueOf("2024-01-01 00:00:00").toLocalDateTime
        .plusSeconds((offset + i).toLong), 100.0 + offset + i)
    }.map { case (h, dt, t, v) => (h, dt, Timestamp.valueOf(t), v) }
      .toDF("hydrophone", "delta_t", "ts", "value")
    // streamed in two micro-batches...
    rows(0).coalesce(1).write.parquet(s"$src/f1")
    rows(60).coalesce(1).write.parquet(s"$src/f2")
    val stream = spark.readStream
      .schema("hydrophone STRING, delta_t INT, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
    val q = StreamingOps.archiveIngest(stream, streamRoot, ckpt)
    try q.processAllAvailable() finally q.stop()
    // ...vs the same 120 rows bulk-written
    graft.sources.PartitionedArchive.writeBroadband(
      rows(0).unionByName(rows(60)), bulkRoot)
    val emptyPsd = Seq.empty[(String, String, Int, Int, Timestamp, Double, Double)]
      .toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
    val client = HttpClient.newHttpClient()
    def serveOnce(root: String, path: String): (Int, String, String) = {
      val svc = graft.serve.AmbientService.fromFrames(
        graft.sources.PartitionedArchive.readBroadband(spark, root), emptyPsd)
      val api = new graft.serve.HttpApi(svc,
        java.nio.file.Files.createTempDirectory("graft_e2e_logs"))
      val server = api.start(0)
      try {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body(),
          r.headers().firstValue("X-Point-Count").orElse(""))
      } finally { server.stop(0); api.close() }
    }
    // raw timeseries of the landed window, and a resampled aggregation
    for (path <- Seq(
        "/timeseries/broadband?hydrophone=orcasound_lab" +
          "&start=2024-01-01T00:00:00&end=2024-01-01T00:02:00&delta_t=1",
        "/aggregations/broadband?hydrophone=orcasound_lab" +
          "&start=2024-01-01T00:00:00&end=2024-01-01T00:02:00&delta_t=1" +
          "&interval=1m")) {
      val (cs, bs, hs) = serveOnce(streamRoot, path)
      val (cb, bb2, hb) = serveOnce(bulkRoot, path)
      assert(cs == 200 && cb == 200, s"$path: $cs/$cb")
      assert(bs == bb2, s"$path: streamed and bulk bodies differ")
      assert(hs == hb)
    }
  }

  test("dropDuplicatesWithinWatermark: the bounded-state dedup scale path") {
    // the unbounded-state dedup (runStreamDedupOnce) is exact for finite
    // replays; this pins the WatermarkedWithin variant the scaladoc names
    // as the 100 TB continuous-ingest path: duplicates arriving inside the
    // watermark dedup, state for expired keys is evictable
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val deduped = in.toDF().toDF("ts", "content_hash")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("content_hash")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("graft_wm_dedup")
      .start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    try {
      in.addData((ts(0), "A"), (ts(1), "A")) // dup inside one batch
      q.processAllAvailable()
      in.addData((ts(5), "A"))               // dup within the watermark
      q.processAllAvailable()
      in.addData((ts(40), "B"))              // advances watermark past A
      q.processAllAvailable()
      in.addData((ts(41), "A"))              // A re-arrives AFTER expiry
      q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("graft_wm_dedup")
      .collect().map(r => (r.getTimestamp(0), r.getString(1))).toSeq
    spark.catalog.dropTempView("graft_wm_dedup")
    // A emitted once while its state lives, B once, A again after eviction
    assert(emitted.count(_._2 == "A") == 2, emitted.toString)
    assert(emitted.count(_._2 == "B") == 1, emitted.toString)
  }

  test("stream-stream interval join equals the batch range join") {
    val streamed = StreamingOps.runStreamJoinOnce(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._3)).toSeq
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("purchase_id"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val batch = StreamingOps.intervalJoin(p, c, 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._3)).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("ingest batch replay is idempotent (crash before AND after commit marker)") {
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.hadoop.fs.Path
    val root = java.nio.file.Files.createTempDirectory("graft_replay_arch").toString
    val batch = (0 until 50).map(i =>
      ("ORCASOUND_LAB", 1, Timestamp.valueOf("2024-02-01 00:00:00"), 90.0 + i))
      .toDF("hydrophone", "delta_t", "ts", "value")
    val A = graft.sources.PartitionedArchive
    A.appendBroadbandBatch(batch, root, batchId = 7L)
    assert(A.readBroadband(spark, root).count() == 50)
    // replay with the marker present (crash after full commit): no-op
    A.appendBroadbandBatch(batch, root, batchId = 7L)
    assert(A.readBroadband(spark, root).count() == 50)
    // replay with the marker LOST (crash after files landed, before the
    // marker): deterministic names + pre-delete converge, still 50 rows
    val base = new Path(s"$root/broadband")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base, "_ingest_commits/7"), false)
    A.appendBroadbandBatch(batch, root, batchId = 7L)
    assert(A.readBroadband(spark, root).count() == 50)
    // a DIFFERENT batch id appends rather than replacing
    A.appendBroadbandBatch(batch, root, batchId = 8L)
    assert(A.readBroadband(spark, root).count() == 100)
    // a different STREAM's batch 7 must not be mistaken for the first
    // stream's committed batch 7 (markers are stream-scoped)
    A.appendBroadbandBatch(batch, root, batchId = 7L, streamId = "other")
    assert(A.readBroadband(spark, root).count() == 150)
    // the PSD product shares the same idempotent path
    val psd = (0 until 30).map(i =>
      ("ORCASOUND_LAB", "octave_bands", 3, 1,
        Timestamp.valueOf("2024-02-01 00:00:00"), 63.0, 80.0 + i))
      .toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
    A.appendPsdBatch(psd, root, batchId = 3L)
    A.appendPsdBatch(psd, root, batchId = 3L)
    assert(A.readPsd(spark, root).count() == 30)
  }

  test("watermarked append-mode stream runs and emits finalized windows") {
    val stream = StreamingOps.windowedMean(
      StreamingOps.eventsStream(spark, TestSpark.Sf0001), "1 hour",
      watermark = Some("2 hours"))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("graft_stream_wm_test").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("graft_stream_wm_test").count()
    // every non-empty window older than max(event_time) - 2h watermark is
    // finalized and emitted; only the trailing ≤3 buckets may be withheld
    val batchBuckets = graft.ops.ResampleOps.resampleMean(
      graft.tables.Tables.events(spark, TestSpark.Sf0001), "ts", "value", "1h").count()
    assert(n >= batchBuckets - 3 && n <= batchBuckets)
  }

  test("streaming CMS sketch is bit-identical to the batch counter matrix") {
    val depth = 4; val width = 64 // narrow: collisions present, still exact
    val streamed = StreamingOps.runStreamCmsOnce(
      spark, TestSpark.Sf0001, depth, width).head.getSeq[Long](0)
    val batch = graft.tables.Tables.documents(spark, TestSpark.Sf0001)
      .select(explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      .select(graft.text.TextOps.md5Fields(col("bg"), depth, width).as("rc"))
      .agg(graft.functions.CmsSketchAgg.cms_sketch(col("rc"), depth, width))
      .head.getSeq[Long](0)
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming HLL registers are bit-identical to the batch register state") {
    val p = 7 // 128 registers: dense occupancy at sf0.001, still exact
    val streamed = StreamingOps.runStreamHllOnce(spark, TestSpark.Sf0001, p)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val batch = graft.tables.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("lang"), explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      .select(col("lang"),
        graft.text.TextOps.md5Key64(col("bg"), "hll:").as("k"))
      .groupBy(col("lang"))
      .agg(graft.functions.HllRegisterAgg.hll_registers(col("k"), p).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming KMV minima are bit-identical to the batch sorted key set") {
    val streamed = StreamingOps.runStreamKmvOnce(spark, TestSpark.Sf0001, 512)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = graft.tables.Tables.documents(spark, TestSpark.Sf0001)
      .select(col("lang"), explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
      .select(col("lang"),
        graft.text.TextOps.md5Key64(col("bg"), "kmv:").as("k"))
      .groupBy(col("lang"))
      .agg(graft.functions.KmvAgg.kmv_sketch(col("k"), 512).as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming histogram sketch is bit-identical to the batch count array") {
    val streamed = StreamingOps.runStreamHistOnce(
        spark, TestSpark.Sf0001, 0.0, 512.0, 64)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .groupBy(col("event_type"))
      .agg(graft.functions.HistogramAgg.hist_sketch(
        col("value"), 0.0, 512.0, 64).as("h"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming sessionization (sentinel-flushed) equals batch session_window") {
    val streamed = StreamingOps.runStreamSessionsOnce(spark, TestSpark.Sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.getTime)).toSeq
    val batch = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start"), col("w.end"), col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2.getTime)).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming LSH near-dup equals the batch per-bucket star edges") {
    val (n, k, bands) = (3, 128, 32)
    val streamed = StreamingOps.runStreamNearDupOnce(
        spark, TestSpark.Sf0001, n, k, bands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // batch derivation of the same state machine's one-batch outcome:
    // per (band, bucket) a star from min(doc_id), distinct across bands
    val banded = graft.dedup.DedupOps.bandBuckets(
      graft.dedup.DedupOps.minhashSignatures(
        graft.tables.Tables.documents(spark, TestSpark.Sf0001),
        "doc_id", "text", n, k, 42L), k, bands)
    val hubs = banded.groupBy("band", "bucket")
      .agg(min("doc_id").as("hub"), count(lit(1)).as("bn"))
      .filter(col("bn") > 1)
    val batch = banded.join(hubs, Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("hub"))
      .select(col("hub").as("id_a"), col("doc_id").as("id_b"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(streamed.nonEmpty, "fixture corpus should contain near-dup candidates")
  }

  test("near-dup bucket state is first-claimant across micro-batches") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    def st(v: Option[Long]) = TestGroupState.create[Long](
      v.fold(Optional.empty[Long]())(Optional.of),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Object]().asInstanceOf[Optional[Long]], false)
    // batch 1: bucket first claimed by doc 5 — no edge, state = 5
    val s1 = st(None)
    assert(StreamingOps.nearDupEmit(Iterator(5L), s1).toSeq.isEmpty)
    assert(s1.get == 5L)
    // batch 2: doc 3 (< stored hub) arrives — the stored hub MUST keep
    // the bucket and the edge 5→3 must emit (re-minning would update
    // state to 3 and emit nothing: a silently dropped candidate)
    val s2 = st(Some(5L))
    assert(StreamingOps.nearDupEmit(Iterator(3L), s2).toSeq ==
      Seq(StreamingOps.NearDupEdge(5L, 3L)))
    assert(s2.get == 5L)
    // batch 3: multiple arrivals against existing state — every doc
    // emits against the stored hub, ordered by id
    val s3 = st(Some(5L))
    assert(StreamingOps.nearDupEmit(Iterator(9L, 2L), s3).toSeq ==
      Seq(StreamingOps.NearDupEdge(5L, 2L), StreamingOps.NearDupEdge(5L, 9L)))
    // fresh bucket with several docs in one batch: min claims, rest emit
    val s4 = st(None)
    assert(StreamingOps.nearDupEmit(Iterator(7L, 4L, 6L), s4).toSeq ==
      Seq(StreamingOps.NearDupEdge(4L, 6L), StreamingOps.NearDupEdge(4L, 7L)))
    assert(s4.get == 4L)
  }

  test("streaming as-of (one-shot) equals the batch as-of merge exactly") {
    val dir = TestSpark.Sf0001
    import org.apache.spark.sql.functions._
    val got = StreamingOps.runStreamAsofOnce(spark, dir)
      .collect().map(r => (r.getLong(0),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1).toSeq
    val probes = graft.tables.Tables.orders(spark, dir).select(
      col("o_orderkey"), (col("o_custkey") % 150).as("user_id"),
      to_timestamp(concat(lit("2024-01-"),
        lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
        lit(" 00:00:00"))).as("ts"))
    val ev = graft.tables.Tables.events(spark, dir)
      .select("user_id", "ts", "value", "event_id")
    val want = graft.ops.JoinOps.asofJoin(probes, ev, "user_id", "ts",
        Seq("value", "event_id"), "event_id")
      .collect().map(r => (r.getLong(0),
        Option(r.get(3)), Option(r.get(4)))).sortBy(_._1).toSeq
    assert(got.size == want.size)
    val diffs = got.zip(want).filter { case (a, b) => a != b }
    assert(diffs.isEmpty, s"${diffs.size} diverge, first: ${diffs.headOption}")
    assert(got.exists(_._2.isDefined) && got.exists(_._2.isEmpty))
  }

  test("as-of carry state across micro-batches: last-tick semantics — " +
      "later events never retro-match, probes older than the carry get NULL") {
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    import StreamingOps.{AsofIn, AsofCarry, AsofHit}
    def st(v: Option[AsofCarry]) = TestGroupState.create[AsofCarry](
      v.fold(Optional.empty[AsofCarry]())(Optional.of),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Object]().asInstanceOf[Optional[Long]], false)
    def ev(us: Long, tie: Long, v: Double) = AsofIn(1L, us, 0, tie, v, 0L)
    def pr(us: Long, okey: Long) = AsofIn(1L, us, 1, 0L, 0.0, okey)

    // batch 1: event@10, probe@15 → matches; carry = event@10
    val s1 = st(None)
    val o1 = StreamingOps.asofEmit(Iterator(pr(15, 100), ev(10, 1, 1.0)), s1).toSeq
    assert(o1 == Seq(AsofHit(100, 1, 15, Some(1.0), Some(1L))))
    assert(s1.get == AsofCarry(10, 1, 1.0))

    // batch 2: a LATE event@5 must not displace the held event@10
    // (latest-(ts,tie) wins), and a probe@7 older than the carry answers
    // NULL — the stream no longer holds the history that batch would match
    val s2 = st(Some(AsofCarry(10, 1, 1.0)))
    val o2 = StreamingOps.asofEmit(Iterator(ev(5, 2, 9.9), pr(7, 101)), s2).toSeq
    assert(o2 == Seq(AsofHit(101, 1, 7, None, None)), o2)
    assert(s2.get == AsofCarry(10, 1, 1.0))

    // batch 3: same-ts higher tie supersedes the carry; equal-ts probe
    // sees the superseding event (>= semantics, tie to highest)
    val s3 = st(Some(AsofCarry(10, 1, 1.0)))
    val o3 = StreamingOps.asofEmit(Iterator(ev(10, 7, 3.0), pr(10, 102)), s3).toSeq
    assert(o3 == Seq(AsofHit(102, 1, 10, Some(3.0), Some(7L))))
    assert(s3.get == AsofCarry(10, 7, 3.0))

    // within one batch, a probe between two events matches the earlier
    // one (sorting, not arrival order, decides)
    val s4 = st(None)
    val o4 = StreamingOps.asofEmit(
      Iterator(ev(20, 9, 5.0), pr(15, 103), ev(10, 8, 4.0)), s4).toSeq
    assert(o4 == Seq(AsofHit(103, 1, 15, Some(4.0), Some(8L))))
    assert(s4.get == AsofCarry(20, 9, 5.0))
  }

  test("stream-static PIT enrichment equals the batch formulation") {
    val dir = TestSpark.Sf0001
    val streamed = StreamingOps.runStreamPitOnce(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val orders = graft.tables.Tables.orders(spark, dir)
    val dim = graft.ops.MergeOps.scd2Intervals(
        orders.select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        "o_custkey", "o_orderdate",
        tieBreak = "o_orderkey", endOfTime = "9999-12-31 00:00:00")
      .select(col("o_custkey").as("dim_custkey"),
        col("o_orderkey").as("version_key"),
        col("o_totalprice").as("version_price"),
        col("valid_from"), col("valid_to"))
    val probes = graft.tables.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .join(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
        col("l_orderkey") === col("o_orderkey"))
      .drop("o_orderkey")
    val batch = graft.ops.JoinOps.pitLookup(probes, dim,
        factKey = "o_custkey", factTs = "l_shipdate", dimKey = "dim_custkey")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        when(col("version_key").isNotNull, 1).otherwise(0).as("matched"))
      .agg(count(lit(1)).as("n"),
        sum(round(coalesce(col("version_price"), lit(0.0)) * 100, 0)
          .cast("long")).as("price_cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed == batch)
    // both matched buckets exist (facts before first version are real here)
    assert(streamed.exists(_._2 == 0) && streamed.exists(_._2 == 1))
  }

  test("streaming funnel state machine equals the batch funnel exactly") {
    // time-ordered micro-batches by construction + in-batch sort ⇒ the
    // 24-byte-per-user state machine reproduces first-touch semantics
    // bit-for-bit — including users whose later stages span batch
    // boundaries
    val streamed = StreamingOps
      .runStreamFunnelOnce(spark, TestSpark.Sf0001, "view", "click", "purchase")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .sortBy(_._1).toSeq
    val batch = graft.ops.BehaviorOps.funnel3(
        graft.tables.Tables.events(spark, TestSpark.Sf0001),
        "user_id", "event_type", "ts", "view", "click", "purchase")
      .select(col("user"), unix_micros(col("t1")), unix_micros(col("t2")),
        unix_micros(col("t3")))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3))))
      .sortBy(_._1).toSeq
    assert(streamed == batch)
    // stage timestamps span multiple micro-batches (the events table
    // covers the full month, each batch one sixth of it), so cross-batch
    // state carry is genuinely exercised: some user's purchase must land
    // at least a batch-width after their first view
    assert(streamed.nonEmpty)
    val spanUs = streamed.flatMap(r => r._4.map(t3 =>
      t3.asInstanceOf[Long] - r._2.get.asInstanceOf[Long]))
    assert(spanUs.nonEmpty && spanUs.max > 86400L * 1000000L,
      s"widest view→purchase span ${spanUs.sorted.lastOption} µs")
  }

  test("streaming attribution equals the batch last-touch rows exactly") {
    // 24 bytes of (touch_type, touch_us) state per user, purchases
    // credited at ingest; time-ordered slices + in-batch sort make the
    // streamed credit assignment identical to the batch window's —
    // including purchases whose crediting touch landed batches earlier
    val streamed = StreamingOps
      .runStreamAttributionOnce(spark, TestSpark.Sf0001, lookbackHours = 24)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    val batch = graft.ops.BehaviorOps.attributeLastTouch(
        graft.tables.Tables.events(spark, TestSpark.Sf0001),
        "user_id", "event_type", "ts", "event_id", "value", 24)
      .select(col("user_id"), unix_micros(col("ts")), col("channel"),
        round(col("value") * 1e6, 0).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // both non-direct credits and direct fallbacks occur, so the gate
    // and the carry are both exercised
    val channels = streamed.map(_._3).toSet
    assert(channels.exists(_ != "direct"), "no attributed purchase")
  }

  test("streaming retention bitmask equals the batch cohort matrix") {
    // min-rebase + OR are commutative: whatever order the file stream
    // delivers batches in, the 16-byte state converges to the batch
    // answer — no ordering contract, unlike the funnel twin
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getLong(1), r.getLong(2))
    val streamed = StreamingOps.runStreamRetentionOnce(spark, TestSpark.Sf0001)
      .collect().map(key).sorted.toSeq
    val batch = graft.ops.BehaviorOps.cohortRetention(
        graft.tables.Tables.events(spark, TestSpark.Sf0001), "user_id", "ts")
      .collect().map(key).sorted.toSeq
    assert(streamed == batch)
    // nonzero offsets present — the OR path actually ran (sf0.001 has a
    // single cohort day; the multi-cohort + rebase case is covered by
    // the sf0.01 oracle gate, where q_stream_retention shares
    // q_cohort_retention's two-cohort answer)
    assert(streamed.nonEmpty && streamed.exists(_._2 > 0))
  }

  test("streaming stratified sample is bit-identical to the batch " +
      "bottom-k heaps") {
    import org.apache.spark.sql.functions._
    def flat(df: org.apache.spark.sql.DataFrame) = df
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), col("pos"), col("col.id"), col("col.ord"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val streamed = flat(
      StreamingOps.runStreamSampleOnce(spark, TestSpark.Sf0001, 5))
    val batch = flat(
      graft.tables.Tables.documents(spark, TestSpark.Sf0001)
        .select(col("source"), col("doc_id"),
          graft.text.TextOps.md5Key64(col("doc_id")).as("hv"))
        .groupBy("source")
        .agg(graft.functions.TopKByAgg.topk_by(
          -col("hv"), col("doc_id"), 5).as("tk")))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("an empty middle tranche stages a schema-only file: a zero-row " +
      "micro-batch, and the batch numbering does not drift") {
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .select("event_id", "event_type")
    val tranches = Seq(ev.filter(col("event_id") % 2 === 0), ev.filter(lit(false)),
      ev.filter(col("event_id") % 2 === 1))
    val tagged = tranches.zipWithIndex
      .map { case (t, i) => t.withColumn("__tranche", lit(i)) }.reduce(_ unionByName _)
    val expected = tranches.zipWithIndex.map { case (t, i) => i.toLong -> t.count() }
    // landed up front (the tranche feeds) and one at a time while the
    // query runs (the ordered drivers)
    Seq(false, true).foreach { ordered =>
      val tmp = java.nio.file.Files.createTempDirectory("graft_tranches").toString
      val lands = StreamingOps.stageTranches(tagged, tranches.size, s"$tmp/src")
      if (ordered) lands.head() else lands.foreach(_())
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val q = spark.readStream.schema(spark.read.parquet(s"$tmp/src/f0").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/src/*")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          batches.add(id -> b.count()): Unit
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try {
        q.processAllAvailable()
        if (ordered) lands.tail.foreach { land => land(); q.processAllAvailable() }
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      assert(batches.asScala.toSeq == expected, s"ordered = $ordered")
      graft.util.LocalFs.deleteRecursively(new java.io.File(tmp))
    }
  }

  /** `f`'s outcome and the run ids of the streaming queries it started,
    * in any session (query-start events reach the context's bus). */
  private def queryRuns[T](f: => T): (scala.util.Try[T], Set[java.util.UUID]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: QueryStartedEvent => ids.add(s.runId): Unit
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = scala.util.Try(f)
    // the bus is asynchronous: wait for the start event to arrive
    val deadline = System.nanoTime() + 30000000000L
    while (ids.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, ids.asScala.toSet)
  }

  test("a one-shot run whose landing step throws stops its query, drops " +
      "its sink view and unloads its state stores; so does the funnel") {
    import org.apache.spark.sql.graftbridge.StateStoreProbe
    // sink views other cases in this suite left on the shared session
    // (a child session inherits them) are not this run's
    def views(s: org.apache.spark.sql.SparkSession) =
      s.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_")).toSet
    val before = views(spark)
    def viewsLeft(s: org.apache.spark.sql.SparkSession) = views(s) -- before
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .select("event_id", "event_type")
    var ses: org.apache.spark.sql.SparkSession = null
    var dir: String = null
    var loadedMidRun = false
    val (out, runs) = queryRuns {
      val run = new StreamingOps.OneShot(spark)
      ses = run.ses; dir = run.dir
      val src = s"${run.dir}/src"
      val lands = StreamingOps.stageTranches(
        ev.withColumn("__tranche", (col("event_id") % 2).cast("int")), 2, src)
      lands.head()
      val stream = run.ses.readStream.schema(run.ses.read.parquet(s"$src/f0").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      run.drain(stream.groupBy("event_type").count(), "complete", Seq { () =>
        // the stateful query has run a batch: its providers are loaded
        loadedMidRun = StateStoreProbe.loadedRunIds()
          .contains(run.ses.streams.active.head.runId)
        throw new IllegalStateException("landing failed")
      })
    }
    assert(out.failed.toOption.exists(_.getMessage == "landing failed"), out)
    assert(runs.size == 1 && loadedMidRun)
    assert(ses.streams.active.isEmpty && spark.streams.active.isEmpty)
    assert(viewsLeft(ses).isEmpty && viewsLeft(spark).isEmpty)
    assert(StateStoreProbe.loadedRunIds().intersect(runs).isEmpty)
    // a memory-sink run leaves no scratch directory, failed or not
    assert(!new java.io.File(dir).exists)
    // the ordered drivers release their state like every other driver
    val (funnel, funnelRuns) = queryRuns(StreamingOps
      .runStreamFunnelOnce(spark, TestSpark.Sf0001, "view", "click", "purchase"))
    assert(funnel.isSuccess && funnelRuns.size == 1, funnel)
    assert(spark.streams.active.isEmpty && viewsLeft(spark).isEmpty)
    assert(StateStoreProbe.loadedRunIds().intersect(funnelRuns).isEmpty)
  }
}
