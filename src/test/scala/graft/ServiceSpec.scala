package graft

import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import org.scalatest.funsuite.AnyFunSuite
import graft.planner.Errors
import graft.serve.AmbientService

/** End-to-end service facade tests mirroring the reference suite
  * (`tests/test_get_timeseries.py`, `tests/test_get_aggregations.py`,
  * `tests/test_get_options.py`) plus SURVEY §7.5 traps. */
class ServiceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def inst(s: String) = Instant.parse(s)

  // One day of per-second-ish broadband + two-band PSD for ORCASOUND_LAB.
  private lazy val service: AmbientService = {
    val bbRows = (0 until 86400 by 60).map { s => // one point per minute
      ("ORCASOUND_LAB", 1, ts("2024-01-01 00:00:00").toLocalDateTime
        .plusSeconds(s.toLong), 100.0 + (s % 600) / 100.0)
    }
    val bb = bbRows.map { case (h, dt, t, v) => (h, dt, Timestamp.valueOf(t), v) }
      .toDF("hydrophone", "delta_t", "ts", "value")
    val psd = bbRows.flatMap { case (h, dt, t, v) =>
      Seq((h, "octave_bands", 3, dt, Timestamp.valueOf(t), 63.0, v - 1),
          (h, "octave_bands", 3, dt, Timestamp.valueOf(t), 125.0, v + 1))
    }.toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
    AmbientService.fromFrames(bb, psd)
  }

  test("full loop: in-engine spectral pipeline feeds the served API — " +
       "waveform to PSD table to /aggregations answers") {
    // The reference requires a separate upstream package to PRODUCE the
    // PSD tables its API serves; here the same engine computes them
    // (SpectralOps) and the service answers from them — raw waveform in,
    // served decidecade levels out, one system.
    import org.apache.spark.sql.functions._
    import graft.audio.SpectralOps
    val ids = spark.range(40).select(col("id").as("doc_id"))
    val waves = SpectralOps.synthesizeWaves(ids, "doc_id", 1024, 1024)
    val welch = SpectralOps.welchBandDb(
      SpectralOps.bandPartialsFused(
        SpectralOps.frameWaveform(waves, "samples", 256, 128),
        "doc_id", 1024, 256), "doc_id")
    // one PSD row per (recording-second, band): recording i at t0 + i s
    val t0 = ts("2024-03-01 00:00:00").toInstant
    val psd = welch.select(
      lit("SPECTRAL_LAB").as("hydrophone"),
      lit("octave_bands").as("freq_type"),
      lit(3).as("delta_f"), lit(1).as("delta_t"),
      timestamp_micros(lit(t0.toEpochMilli * 1000L)
        + col("doc_id") * 1000000L).as("ts"),
      col("band"), col("value_db").as("value"))
    // broadband = arithmetic mean over band dBs (the reference wrapper's
    // own semantic — SURVEY §2.8 note — applied consistently)
    val bb = psd.groupBy("hydrophone", "delta_t", "ts")
      .agg(round(avg(col("value")), 6).as("value"))
      .select("hydrophone", "delta_t", "ts", "value")
    val svc = AmbientService.fromFrames(bb, psd)

    val r = svc.getPsdAggregation("SPECTRAL_LAB",
      t0, t0.plusSeconds(40), "10s", "3oct")
    assert(r.times.length == 4)
    // served per-band bucket means == direct aggregation of the welch
    // frame (first 10 recordings land in the first 10s bucket)
    val direct = welch.filter(col("doc_id") < 10)
      .groupBy("band").agg(avg(col("value_db")).as("m"))
      .collect().map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    r.frequencies.zipWithIndex.foreach { case (f, i) =>
      val served = r.values.head(i)
      assert(math.abs(served - direct(f)) < 1e-6,
        s"band $f: served $served vs direct ${direct(f)}")
    }
    assert(r.frequencies == r.frequencies.sorted && r.frequencies.size > 10)
  }

  test("options: catalog derived from data, sorted, coverage bounds set") {
    val r = service.getOptions(None)
    assert(r.hydrophones.map(_.hydrophone) == Seq("ORCASOUND_LAB"))
    val opts = r.hydrophones.head.options
    assert(opts.map(_.freqType).toSet == Set("broadband", "octave_bands"))
    assert(opts.forall(_.firstStart.contains("2024-01-01T00:00:00")))
  }

  test("options are memoized on the normalized hydrophone (ref lru_cache(16))") {
    assert(service.getOptions(None) eq service.getOptions(None))
    val named = service.getOptions(Some("orcasound-lab"))
    assert(named eq service.getOptions(Some(" ORCASOUND_LAB ")))
    assert(named.hydrophones.map(_.hydrophone) == Seq("ORCASOUND_LAB"))
  }

  test("broadband timeseries: window slice with envelope and counts") {
    val r = service.getBroadbandTimeseries("orcasound lab",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T01:00:00Z"), 1)
    assert(r.hydrophone == "ORCASOUND_LAB")
    assert(r.pointCount == 60) // one per minute
    assert(r.expectedPointCount == 3600) // delta_t=1 over 1h
    assert(r.points.head.timestamp == "2024-01-01T00:00:00")
  }

  test("unknown combination → ValidationError (ref test_get_timeseries :41-66)") {
    assertThrows[Errors.ValidationError] {
      service.getPsdTimeseries("ORCASOUND_LAB",
        inst("2024-01-01T00:00:00Z"), inst("2024-01-01T01:00:00Z"), 10, "500hz")
    }
  }

  test("out-of-coverage window → ValidationError (ref :68-93)") {
    assertThrows[Errors.ValidationError] {
      service.getBroadbandTimeseries("ORCASOUND_LAB",
        inst("2030-01-01T00:00:00Z"), inst("2030-01-02T00:00:00Z"), 1)
    }
  }

  test("validate=false bypasses catalog checks (ref :16-39)") {
    val r = service.getPsdTimeseries("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T00:10:00Z"), 10, "500hz",
      doValidate = false)
    assert(r.times.isEmpty) // empty is success, not error (SURVEY §7.5.7)
  }

  test("psd timeseries matrix: sorted frequencies, row-major values") {
    val r = service.getPsdTimeseries("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T00:03:00Z"), 1, "3oct")
    assert(r.frequencies == Seq(63.0, 125.0))
    assert(r.times.length == 3)
    assert(r.values.head.length == 2)
    assert(r.values.head(1) - r.values.head.head == 2.0) // band spread
  }

  test("broadband aggregation: auto interval + bucket means") {
    val r = service.getBroadbandAggregation("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-02T00:00:00Z"), "auto")
    assert(r.interval == "5m") // ref tests :53-57
    assert(r.pointCount == 288)
  }

  test("aggregation over cap → ValidationError (ref :79-87)") {
    assertThrows[Errors.ValidationError] {
      service.getBroadbandAggregation("ORCASOUND_LAB",
        inst("2024-01-01T00:00:00Z"), inst("2024-01-02T00:00:00Z"), "10s")
    }
  }

  test("psd heatmap: per-band bucket means") {
    val r = service.getPsdAggregation("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T06:00:00Z"), "1h", "3oct")
    assert(r.times.length == 6)
    assert(r.frequencies == Seq(63.0, 125.0))
  }

  test("daily summary: typical-day series, count = mean of per-band counts") {
    val r = service.getDailySummary("ORCASOUND_LAB",
      LocalDate.parse("2024-01-01"), 1, 50, 200, "15m")
    assert(r.series.labels.length == 96)
    assert(r.series.labels.head == "00:00:00")
    // per (tod, band) count is 1 → mean across bands/tods in bucket is 1.0
    assert(r.series.count.forall(_ == 1.0))
    // mean series sits between the two bands' values
    assert(r.series.min.zip(r.series.max).forall { case (lo, hi) => lo <= hi })
  }

  test("daily broadband: one mean per day") {
    val r = service.getDailyBroadband("ORCASOUND_LAB", LocalDate.parse("2024-01-01"), 1)
    assert(r.days == Seq("2024-01-01"))
    assert(r.values.length == 1)
  }

  test("C2: repeated request is served from the memo cache") {
    val t0 = System.nanoTime()
    service.getBroadbandAggregation("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T12:00:00Z"), "1h")
    val cold = System.nanoTime() - t0
    val t1 = System.nanoTime()
    service.getBroadbandAggregation("ORCASOUND_LAB",
      inst("2024-01-01T00:00:00Z"), inst("2024-01-01T12:00:00Z"), "1h")
    val warm = System.nanoTime() - t1
    assert(warm < cold / 10)
  }

  test("aggregation endpoints validate combination + coverage (400 on unknown)") {
    assertThrows[Errors.ValidationError] {
      service.getBroadbandAggregation("NO_SUCH_PHONE",
        inst("2024-01-01T00:00:00Z"), inst("2024-01-02T00:00:00Z"), "1h")
    }
    assertThrows[Errors.ValidationError] { // out of coverage
      service.getPsdAggregation("ORCASOUND_LAB",
        inst("2030-01-01T00:00:00Z"), inst("2030-01-02T00:00:00Z"), "1h", "3oct")
    }
  }

  test("empty window inside coverage is SUCCESS without a file probe") {
    // the fixture has per-minute points; a sub-minute slice between points
    // is empty but valid — must NOT raise DataIntegrityError
    val r = service.getBroadbandTimeseries("ORCASOUND_LAB",
      inst("2024-01-01T00:00:05Z"), inst("2024-01-01T00:00:30Z"), 1)
    assert(r.pointCount == 0 && r.expectedPointCount == 25)
  }

  test("integrity error fires only when the file probe says files matched") {
    import graft.serve.AmbientService
    val probed = new AmbientService(service.broadband, service.psd,
      graft.catalog.ArchiveCatalog.collectEntries(
        service.broadband.groupBy("hydrophone", "delta_t")
          .agg(org.apache.spark.sql.functions.min("ts").as("first_start"),
            org.apache.spark.sql.functions.max("ts").as("last_end"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("file_count"))
          .withColumn("freq_type", org.apache.spark.sql.functions.lit("broadband"))
          .withColumn("delta_f",
            org.apache.spark.sql.functions.lit(null).cast("int"))
          .select("hydrophone", "freq_type", "delta_f", "delta_t",
            "first_start", "last_end", "file_count")),
      integrityFileCount = (_, _, _, _) => 1L)
    assertThrows[Errors.DataIntegrityError] {
      probed.getBroadbandTimeseries("ORCASOUND_LAB",
        inst("2024-01-01T00:00:05Z"), inst("2024-01-01T00:00:30Z"), 1)
    }
  }

  test("cache loaders for distinct keys genuinely overlap (no monitor held)") {
    // Two loaders rendezvous on a latch INSIDE the cache's memo: if memo
    // held its monitor around the loader, neither could reach the latch
    // while the other waits and this would time out.
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val cache = new graft.serve.AmbientService.LruCache[String, String](8)
    val bothInFlight = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = cache.memo("a") {
          bothInFlight.countDown()
          assert(bothInFlight.await(30, TimeUnit.SECONDS),
            "second loader never started — cache serialized the loaders")
          "va"
        }
      })
      val fb = pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = cache.memo("b") {
          bothInFlight.countDown()
          assert(bothInFlight.await(30, TimeUnit.SECONDS),
            "second loader never started — cache serialized the loaders")
          "vb"
        }
      })
      assert(fa.get(60, TimeUnit.SECONDS) == "va")
      assert(fb.get(60, TimeUnit.SECONDS) == "vb")
      // and the memo actually caches
      var computed = false
      assert(cache.memo("a") { computed = true; "other" } == "va")
      assert(!computed)
    } finally pool.shutdown()
  }

  test("raw window > 31 days rejected") {
    assertThrows[Errors.ValidationError] {
      service.getBroadbandTimeseries("ORCASOUND_LAB",
        inst("2024-01-01T00:00:00Z"), inst("2024-02-15T00:00:00Z"), 1)
    }
  }
}
