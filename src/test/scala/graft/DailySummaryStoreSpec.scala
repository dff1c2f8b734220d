package graft

import java.sql.Timestamp
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.serve.{AmbientService, DailySummaryStore}
import graft.serve.Responses.DailySummaryResponse
import graft.sources.PartitionedArchive

/** Pins the r16 maintained daily-summary rollup: a service reading from
  * the store must answer EXACTLY what the raw-scan path answers (full
  * band set and narrowed ranges), the store must go stale the moment new
  * data lands in its window (fallback, still correct), and maintenance
  * must bring it back in line — maintained ≡ recompute after a new day
  * lands (r15 verdict #2's done-criterion). */
class DailySummaryStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = "ORCASOUND_LAB"
  private val DT = 60 // minute-rate product keeps the fixture tiny

  /** One day of 2-band PSD at delta_t=60: 1440 samples × 2 bands. */
  private def dayPsd(day: LocalDate): DataFrame = {
    val d0 = day.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val rows = for (s <- 0 until 1440; b <- Seq(63.0, 8000.0)) yield
      (H, "octave_bands", 3, DT,
        new Timestamp((d0 + s * 60L) * 1000L), b,
        90.0 + (s % 7) + (if (b > 100) -3.0 else 2.0) + day.getDayOfMonth)
    rows.toDF("hydrophone", "freq_type", "delta_f", "delta_t", "ts", "band", "value")
  }

  private def freshArchive(days: Seq[LocalDate]): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_dss").toString
    PartitionedArchive.writePsd(days.map(dayPsd).reduce(_ unionByName _), root)
    // the daily endpoints validate against the catalog, which needs a
    // broadband entry too for fromFrames symmetry — one token row
    PartitionedArchive.writeBroadband(
      Seq((H, DT, new Timestamp(days.head.atStartOfDay(java.time.ZoneOffset.UTC)
        .toEpochSecond * 1000L), 100.0))
        .toDF("hydrophone", "delta_t", "ts", "value"), root)
    root
  }

  private def rawService(root: String): AmbientService =
    AmbientService.fromFrames(
      PartitionedArchive.readBroadband(spark, root),
      PartitionedArchive.readPsd(spark, root))

  private def daily(s: AmbientService, start: LocalDate, n: Int,
      lo: Double = 63.0, hi: Double = 8000.0): DailySummaryResponse =
    s.getDailySummary(H, start, n, lo, hi, "1h", "3oct", DT)

  private def assertSame(a: DailySummaryResponse, b: DailySummaryResponse): Unit = {
    assert(a.series.labels == b.series.labels)
    assert(a.series.count == b.series.count)
    def close(x: Seq[Double], y: Seq[Double]) =
      x.size == y.size && x.zip(y).forall { case (u, v) => math.abs(u - v) < 1e-9 }
    // means re-aggregate over different physical partitionings between
    // the two sources, so the float merge order may differ by ulps
    assert(close(a.series.mean, b.series.mean), s"${a.series.mean}\n${b.series.mean}")
    assert(close(a.series.min, b.series.min))
    assert(close(a.series.max, b.series.max))
  }

  test("maintained window serves exactly what the raw scan computes " +
      "(full band set and narrowed range)") {
    val d1 = LocalDate.of(2024, 5, 1)
    val root = freshArchive(Seq(d1, d1.plusDays(1)))
    val store = new DailySummaryStore(spark, root)
    store.maintain(H, "octave_bands", 3, DT, d1, 2)
    val start = d1.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val end = d1.plusDays(2).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    assert(store.statsFor(H, "octave_bands", 3, DT, start, end).isDefined,
      "maintained window must be served from the store")
    val withStore = AmbientService.fromArchive(spark, root)
    assertSame(daily(withStore, d1, 2), daily(rawService(root), d1, 2))
    assertSame(daily(withStore, d1, 2, lo = 100.0, hi = 8000.0),
      daily(rawService(root), d1, 2, lo = 100.0, hi = 8000.0))
  }

  test("new data landing in the window makes the store stale (fallback, " +
      "still exact); re-maintenance restores it") {
    val d1 = LocalDate.of(2024, 6, 1)
    val root = freshArchive(Seq(d1))
    val store = new DailySummaryStore(spark, root)
    val windows = store.maintainTrailing(H, "octave_bands", 3, DT, Seq(2))
    assert(windows == Seq(2 -> d1.minusDays(1)),
      s"trailing window must anchor at the newest data: $windows")
    val start = d1.minusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val end = d1.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    assert(store.statsFor(H, "octave_bands", 3, DT, start, end).isDefined)
    // a new day lands inside nothing — but a batch APPEND into the
    // maintained window must flip the fingerprint
    PartitionedArchive.appendPsdBatch(dayPsd(d1.minusDays(1)), root, 0L, "t")
    assert(store.statsFor(H, "octave_bands", 3, DT, start, end).isEmpty,
      "stale stats must never be served")
    // fallback path: service still answers, and answers the recompute
    val s = AmbientService.fromArchive(spark, root)
    assertSame(daily(s, d1.minusDays(1), 2), daily(rawService(root), d1.minusDays(1), 2))
    // maintenance brings the store back; served result unchanged
    store.maintain(H, "octave_bands", 3, DT, d1.minusDays(1), 2)
    assert(store.statsFor(H, "octave_bands", 3, DT, start, end).isDefined)
    assertSame(daily(AmbientService.fromArchive(spark, root), d1.minusDays(1), 2),
      daily(rawService(root), d1.minusDays(1), 2))
  }

  test("non-maintained or non-day-aligned windows return None") {
    val d1 = LocalDate.of(2024, 7, 1)
    val root = freshArchive(Seq(d1))
    val store = new DailySummaryStore(spark, root)
    store.maintain(H, "octave_bands", 3, DT, d1, 1)
    val start = d1.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    assert(store.statsFor(H, "octave_bands", 3, DT,
      start, start.plusSeconds(86400)).isDefined)
    assert(store.statsFor(H, "octave_bands", 3, DT,
      start, start.plusSeconds(3600)).isEmpty, "sub-day window")
    assert(store.statsFor(H, "octave_bands", 3, DT,
      start.plusSeconds(86400), start.plusSeconds(2 * 86400)).isEmpty,
      "different window")
  }

  // ---- dyadic day blocks --------------------------------------------------

  private val Z = java.time.ZoneOffset.UTC
  private def at(d: LocalDate) = d.atStartOfDay(Z).toInstant
  private def stats(store: DailySummaryStore, d: LocalDate, n: Int) =
    store.statsFor(H, "octave_bands", 3, DT, at(d), at(d.plusDays(n.toLong)))

  /** The first day in 2024 whose epoch day is a multiple of 8, so the
    * block tilings below are fixed: over days +0..+7, trailing windows
    * of 1 and 7 days store L0 at +7 (the 1-day window) and, for the 7-day
    * window from +1, its tiling L0 at +1, L1 at +2 and L2 at +4. */
  private val Aligned = LocalDate.ofEpochDay((LocalDate.of(2024, 1, 1).toEpochDay + 7) / 8 * 8)

  private def storeDir(root: String) = new java.io.File(
    s"$root/psd/_daily_summary/hydrophone=$H/freq_type=octave_bands/delta_f=3/delta_t=$DT")

  /** Stored aggregate directory → its file names (part files carry the
    * writing job's id, so a rewritten directory shows new names). */
  private def storeFiles(root: String): Map[String, Set[String]] =
    Option(storeDir(root).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.isDirectory).map(d => d.getName -> d.list().toSet).toMap

  /** (path, size, mtime) of every file under `root`. */
  private def manifest(root: String): Map[String, (Long, Long)] = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator()
    val out = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next().toFile
      if (f.isFile) out += f.getPath -> (f.length -> f.lastModified)
    }
    out.result()
  }

  private def parquetFiles(dir: java.io.File): Seq[String] =
    dir.list().toSeq.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("an off-anchor, non-aligned whole-day window is served by merging " +
      "its stored tiling blocks, exactly as the raw scan computes it") {
    val days = (0 until 8).map(i => Aligned.plusDays(i.toLong))
    val root = freshArchive(days)
    val store = new DailySummaryStore(spark, root)
    store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    val withStore = AmbientService.fromArchive(spark, root)
    // [d+1, d+4) tiles as L0 + L1, [d+2, d+8) as L1 + L2: all stored
    for ((start, n) <- Seq(Aligned.plusDays(1) -> 3, Aligned.plusDays(2) -> 6)) {
      assert(stats(store, start, n).isDefined, s"$start + $n days must merge blocks")
      assertSame(daily(withStore, start, n), daily(rawService(root), start, n))
      assertSame(daily(withStore, start, n, lo = 100.0),
        daily(rawService(root), start, n, lo = 100.0))
    }
    // a tiling block no pass stored means raw fallback: [d+3, d+6) tiles
    // as L0 at +3 and L1 at +4, neither stored; [d, d+2) is L1 at +0
    assert(stats(store, Aligned.plusDays(3), 3).isEmpty)
    assert(stats(store, Aligned, 2).isEmpty)
  }

  test("merge law: a level-1 block is the merge of its two level-0 " +
      "children, exact for count, min and max, NaN values excluded") {
    val d = Aligned
    val root = java.nio.file.Files.createTempDirectory("graft_dss").toString
    PartitionedArchive.writePsd(Seq(d, d.plusDays(1)).map(dayPsd)
      .reduce(_ unionByName _)
      .withColumn("value", org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.minute(
          org.apache.spark.sql.functions.col("ts")) % 3 === 0, Double.NaN)
        .otherwise(org.apache.spark.sql.functions.col("value"))), root)
    val store = new DailySummaryStore(spark, root)
    store.maintain(H, "octave_bands", 3, DT, d, 1)
    store.maintain(H, "octave_bands", 3, DT, d.plusDays(1), 1)
    store.maintain(H, "octave_bands", 3, DT, d, 2) // L1 from the two blocks
    def read(name: String) = spark.read.schema(DailySummaryStore.StatsSchema)
      .parquet(s"${storeDir(root)}/$name")
    def rows(df: DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getDouble(1)) -> (r.getAs[Any](2), r.getLong(3), r.getAs[Any](4),
        r.getAs[Any](5))).toMap
    val l1 = rows(read(s"block=L1_$d"))
    val merged = rows(graft.ops.DailySummaryOps.mergeStats(
      read(s"block=L0_$d").unionByName(read(s"block=L0_${d.plusDays(1)}")),
      org.apache.spark.sql.functions.col("sod"), org.apache.spark.sql.functions.col("band")))
    assert(l1.size == 1440 * 2 && l1.keySet == merged.keySet)
    l1.foreach { case (k, (sum, n, mn, mx)) =>
      val (sum2, n2, mn2, mx2) = merged(k)
      assert(n == n2 && mn == mn2 && mx == mx2, s"$k")
      if (k._1 / 60 % 60 % 3 == 0) assert(n == 0 && sum == null && mn == null && mx == null)
      else {
        assert(n == 2)
        val (a, b) = (sum.asInstanceOf[Double], sum2.asInstanceOf[Double])
        assert(math.abs(a - b) <= 1e-9 * math.abs(b))
      }
    }
    // and both equal the raw aggregate over the two days
    val raw = rows(graft.ops.DailySummaryOps.timeOfDayStats(
      PartitionedArchive.readPsd(spark, root), "ts", "band", "value"))
    assert(raw.map { case (k, (_, n, mn, mx)) => k -> (n, mn, mx) } ==
      l1.map { case (k, (_, n, mn, mx)) => k -> (n, mn, mx) })
  }

  test("an append into one old day stales only what overlaps it; the next " +
      "pass rewrites only the stored blocks and windows over that day") {
    val days = (0 until 8).map(i => Aligned.plusDays(i.toLong))
    val root = freshArchive(days)
    val store = new DailySummaryStore(spark, root)
    store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    val w7 = s"window=${Aligned.plusDays(1)}_7"
    val before = storeFiles(root)
    val l2 = s"block=L2_${Aligned.plusDays(4)}"
    assert(before.keySet == Set(s"block=L0_${Aligned.plusDays(1)}", s"block=L0_${Aligned.plusDays(7)}",
      s"block=L1_${Aligned.plusDays(2)}", l2, w7))
    val x = Aligned.plusDays(5)
    PartitionedArchive.appendPsdBatch(dayPsd(x), root, 0L, "t")
    assert(stats(store, Aligned.plusDays(4), 4).isEmpty)
    assert(stats(store, Aligned.plusDays(1), 7).isEmpty)
    assert(stats(store, Aligned.plusDays(1), 3).isDefined)
    assert(stats(store, Aligned.plusDays(2), 2).isDefined)
    assert(stats(store, Aligned.plusDays(7), 1).isDefined)
    store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    val after = storeFiles(root)
    assert(after.keySet == before.keySet)
    assert(after.keySet.filter(k => after(k) != before(k)) == Set(l2, w7))
    assertSame(daily(AmbientService.fromArchive(spark, root), Aligned.plusDays(1), 7),
      daily(rawService(root), Aligned.plusDays(1), 7))
    assertSame(daily(AmbientService.fromArchive(spark, root), x, 1),
      daily(rawService(root), x, 1))
  }

  test("a pass with no new data runs no Spark job and writes nothing; each " +
      "stored aggregate holds one file per merge partition") {
    val root = freshArchive((0 until 8).map(i => Aligned.plusDays(i.toLong)))
    val store = new DailySummaryStore(spark, root)
    store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    // the 1-day window's block is a one-input build (one file); the 7-day
    // window's build merges 7 inputs (6 raw days and that block):
    // min(7, 2 × 4 shuffle partitions) merge partitions
    val newest = s"block=L0_${Aligned.plusDays(7)}"
    storeDir(root).listFiles().filter(_.isDirectory).foreach(d =>
      assert(parquetFiles(d).size == (if (d.getName == newest) 1 else 7), d.getName))
    val before = manifest(root)
    val (_, run) = TestJobs.during(spark)(
      store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7)))
    assert(run.jobs.isEmpty)
    assert(manifest(root) == before)
  }

  /** A hard-link copy of the archive at `root` under a new root. */
  private def linkCopy(root: String): java.nio.file.Path = {
    val copy = java.nio.file.Files.createTempDirectory("graft_dss_copy")
    val src = java.nio.file.Paths.get(root)
    val it = java.nio.file.Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = copy.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.createLink(q, p)
    }
    copy
  }

  test("a pass over a hard-link copy never rewrites a shared file in place") {
    val days = (0 until 8).map(i => Aligned.plusDays(i.toLong))
    val root = freshArchive(days)
    new DailySummaryStore(spark, root).maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    val original = manifest(root)
    val copy = linkCopy(root)
    PartitionedArchive.appendPsdBatch(dayPsd(Aligned.plusDays(8)), copy.toString, 0L, "t")
    val windows = new DailySummaryStore(spark, copy.toString)
      .maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    assert(windows == Seq(1 -> Aligned.plusDays(8), 7 -> Aligned.plusDays(2)))
    assert(manifest(root) == original)
  }

  test("a maintained store stays fresh on a moved archive: the copy serves " +
      "from the rollup and its pass runs no Spark job") {
    val days = (0 until 8).map(i => Aligned.plusDays(i.toLong))
    val root = freshArchive(days)
    new DailySummaryStore(spark, root).maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7))
    val copy = linkCopy(root).toString
    val store = new DailySummaryStore(spark, copy)
    // the first index load on the copy re-reads its footers under the new
    // paths (and persists them); the fingerprints must still match
    assert(stats(store, Aligned.plusDays(7), 1).isDefined, "1-day window")
    assert(stats(store, Aligned.plusDays(1), 7).isDefined, "7-day window")
    val before = storeFiles(copy)
    val (windows, run) = TestJobs.during(spark)(
      store.maintainTrailing(H, "octave_bands", 3, DT, Seq(1, 7)))
    assert(windows == Seq(1 -> Aligned.plusDays(7), 7 -> Aligned.plusDays(1)))
    assert(run.jobs.isEmpty, s"${run.jobs.size} jobs")
    assert(storeFiles(copy) == before)
    assertSame(daily(AmbientService.fromArchive(spark, copy), Aligned.plusDays(1), 7),
      daily(rawService(copy), Aligned.plusDays(1), 7))
  }
}
