package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query wall seconds.
  *
  * Each query is forced through the `noop` sink (not `count()` — count lets
  * Catalyst prune away the computed columns, which would under-measure
  * map-heavy queries). A small warmup query absorbs one-time JVM/codegen
  * startup so per-query numbers reflect steady-state execution.
  *
  * Output fields:
  *  - `queries`      cold (first-run) seconds per query — comparable to
  *                   previous rounds' numbers; `value` is their total;
  *  - `queries_warm` second-run seconds (plan + codegen caches hot) — the
  *                   steady-state cost, for round-over-round deltas that
  *                   aren't drowned in codegen noise;
  *  - `errors`       names of failed queries; a failed query also reports
  *                   -1 in the per-query maps (cold+warm on the detail
  *                   line, cold on the compact line) so automated consumers
  *                   can't mistake a partial wall time for success;
  *  - `load`/`load_warm`  MAX 1-minute system loadavg observed at any
  *                   point DURING each query (a 250 ms background ticker —
  *                   round 9's completion-time sample missed co-load that
  *                   ended before the query did, and 37×-inflated cells
  *                   shipped unflagged); this box runs other JVMs whose
  *                   co-load inflates wall times (PERF.md round 7 measured
  *                   the mechanism), and the load column lets a reader
  *                   attribute an outlier without rerunning;
  *  - `cpu`/`cpu_warm`  JVM process-CPU seconds per query (executors are
  *                   in-process at local[*], so this is the work actually
  *                   done); wall inflated while CPU is flat vs the other
  *                   pass = starvation, including cgroup throttling that
  *                   loadavg cannot see;
  *  - `contended`    queries where one pass exceeded 3× the other (and 1 s
  *                   absolute) AND a co-load signal corroborates. Cold
  *                   outliers: max in-query loadavg above max(4, cpus/4)
  *                   only (cold has legitimate excess-cost modes — cold
  *                   page-cache I/O bills no CPU and codegen on small
  *                   queries exceeds 3× warm CPU, so cpu signals would
  *                   false-positive there). Warm outliers additionally
  *                   corroborate on process-CPU vs the best cold timing:
  *                   below 2× (starvation — wall without work) or above
  *                   3× (thrash — an identical cache-hot plan never
  *                   legitimately burns 3× the cycles). E.g. the round-7
  *                   driver artifact recorded a 46.6 s cold reading for a
  *                   2.5 s query, and r6 shipped an 11.1 s warm reading
  *                   for a 5 s one. Each is re-run once after both passes
  *                   and the inflated cell keeps the MINIMUM of the two
  *                   readings, so one contended scheduling window can no
  *                   longer masquerade as an 18× regression or a warm >
  *                   cold inversion. A cold re-run executes with hot
  *                   caches, so its repaired number is a floor for true
  *                   cold cost — hence entries stay flagged, and the
  *                   pre-repair readings ship in `repaired_cold`/
  *                   `repaired_warm` (detail line) so the original totals
  *                   can always be reconstructed.
  *
  *  - `quiet_cold`/`quiet_warm`/`prequiet_*`/`quiet_admitted`/
  *                   `quiet_probe_*`  the end-of-run quiet re-measure of
  *                   the flagged cells (r14 verdict #1): readings taken
  *                   after the suite when the host probes green again,
  *                   folded into the totals only under the strict
  *                   admission rule at `quietRemeasureAdmitted`, with
  *                   the displaced readings shipped alongside.
  *
  * TWO lines are printed: a full-precision `"metric":"detail"` line first
  * (cold + warm maps), then a compact `"metric":"total"` line LAST. The
  * harness that collects this output keeps only the final ~2 KB of the run
  * log; the detail line (~4 KB for 60+ queries) overflowed that window in
  * rounds 1-2 and the result was recorded unparsed. The compact line rounds
  * to 2 decimals and carries only the contract fields, so it fits in the
  * window (with sbt's trailing status line) at up to ~70 queries.
  */
object Bench {
  /** One timed execution: (wall seconds, process-CPU seconds, max 1-min
    * loadavg observed during the run); wall = -1 flags failure. */
  final case class Timing(wall: Double, cpu: Double, load: Double)

  /** Contended-cell decisions, extracted pure so BenchGateSpec can pin
    * the forensic scenarios (r7 visible co-load, r8 genuine cold starts,
    * r10 warm thrash/starvation, thrashed-cold masking) without running
    * a bench.
    *
    * COLD outliers repair on visible load only: a cold pass has two
    * legitimate excess-cost modes that mimic the cpu signatures — cold
    * page-cache I/O bills no process CPU (mimics starvation) and
    * one-time codegen on sub-second-warm queries exceeds 3× warm CPU
    * (mimics thrash). */
  private[graft] def coldContended(c: Timing, warmWall: Double,
      loadThreshold: Double): Boolean =
    c.wall > 1.0 && warmWall > 0 && c.wall > 3 * warmWall &&
      c.load > loadThreshold

  /** WARM outliers repair on any of: visible load; starvation (wall
    * without work: cpu < 2× the best cold timing's); thrash (an
    * identical cache-hot plan burning > 3× the cycles — the co-tenant
    * memory-bandwidth signature, PERF.md round 10). `coldBest` must be
    * the REPAIRED cold timing: a thrashed cold pass's inflated cpu would
    * otherwise let any warm reading pass the starvation test. */
  private[graft] def warmContended(w: Timing, coldRepairedWall: Double,
      coldBest: Timing, loadThreshold: Double): Boolean =
    w.wall > 1.0 && coldRepairedWall > 0 && w.wall > 3 * coldRepairedWall && (
      w.load > loadThreshold ||
        (w.cpu >= 0 && coldBest.cpu >= 0 &&
          (w.cpu < 2 * coldBest.cpu || w.cpu > 3 * coldBest.cpu)))

  /** SELF-HISTORY corroboration — the round-11 blind spot: q_salted_join
    * shipped a 20.3 s cold reading (prior quiet rounds: ~2 s) with
    * starvation-shaped CPU (21 cpu-s ≈ 1× wall on a 32-thread plan)
    * while loadavg looked calm — exactly how this box's memory-bandwidth
    * co-tenant hides from the same-run gates, which compare only the two
    * passes of ONE run and can both be degraded together. A cell ≥3× its
    * own recorded QUIET baseline (the committed `BENCH_BASELINE.json`,
    * refreshed each round from the clean closing run) whose CPU shows
    * wall-without-work (< 2× wall on a many-core plan) flags regardless
    * of loadavg. Genuine regressions survive the repair untouched: a
    * plan that truly got 3× slower re-runs 3× slower and keeps its
    * reading (min of two equal readings) — only the flag ships, which is
    * the correct outcome for a real regression that big anyway. */
  private[graft] def selfHistoryContended(t: Timing,
      quietBaseline: Double): Boolean =
    t.wall > 1.0 && quietBaseline > 0 && t.wall > 3 * quietBaseline &&
      t.cpu >= 0 && t.cpu < 2 * t.wall

  /** WITHIN-RUN warm>cold inversion (r12 verdict "What's wrong" #2): the
    * warm pass re-executes the identical plan with codegen, plan and page
    * caches hot, so it should only be FASTER than its own cold pass — a
    * warm wall > 1.5× the repaired cold wall (and > 1 s absolute) is a
    * contention signature that needs NO baseline, load, or cpu
    * corroboration. The r12 driver artifact shipped q_video_keyframes at
    * 9.02 s warm vs 5.42 s cold under exactly this shape, inside the 3×
    * thresholds of every other gate. Repair stays rerun-and-keep-min, so
    * genuine warm-side work growth (r10's state-accumulation class)
    * re-runs slow and ships its reading unchanged — only the flag ships,
    * pointing at the workload. */
  private[graft] def warmInversion(w: Timing, coldRepairedWall: Double): Boolean =
    w.wall > 1.0 && coldRepairedWall > 0 && w.wall > 1.5 * coldRepairedWall

  /** Dedicated calibration parquet under target/ — NEVER contract inputs
    * (r14 ADVICE): the r14 calibration plans scanned lineitem/orders
    * before the contract cold pass, warming the OS page cache and
    * Spark's file-listing/footer caches for the two largest contract
    * tables, so scan-heavy cells' "cold" readings were systematically
    * warmer than pre-pregate rounds. The fix is structural: calibration
    * (and the JVM warmup) touch only this synthetic dataset, generated
    * deterministically once per checkout (survives under target/ across
    * runs; regenerated after a clean). Sized to match the r14 cells'
    * ~0.5-1 s class so the pregate still sees the same subsystems:
    * a 24 M-row fact (scan + hash aggregate: memory bandwidth) and a
    * 2.4 M-row dim (shuffle join: exchange + sort). */
  private[graft] val calDataDir = "target/bench_cal"
  private[graft] def ensureCalData(spark: SparkSession): Unit = {
    // Gate on BOTH markers: fact is written before dim, so a crash
    // between the two writes would otherwise leave a half-built dataset
    // that never self-repairs (fact/_SUCCESS exists, dim missing, and
    // cal_shuffle_join fails every run until a manual clean).
    val factDone = new java.io.File(s"$calDataDir/fact.parquet/_SUCCESS")
    val dimDone = new java.io.File(s"$calDataDir/dim.parquet/_SUCCESS")
    if (factDone.exists() && dimDone.exists()) return
    spark.range(0L, 12000000L, 1L, 32)
      .selectExpr("id % 1000003 AS k", "cast(id % 97 AS int) AS cat",
        "cast(id * 2654435761 % 9973 AS double) / 9973 AS v1",
        "sin(id % 1000) AS v2")
      .write.mode("overwrite").parquet(s"$calDataDir/fact.parquet")
    spark.range(0L, 1200000L, 1L, 32)
      .selectExpr("id % 1000003 AS k",
        "cast(id * 40503 % 7919 AS double) / 7919 AS w")
      .write.mode("overwrite").parquet(s"$calDataDir/dim.parquet")
  }

  /** HOST-HEALTH PREGATE (r13 verdict #1). The r13 bench of record
    * breached the 2× gate (785.3 s vs 359.7) purely because the suite
    * ran inside an hours-long degraded-host window — judge-adjudicated
    * environmental (the worst cell measured 62 s in the artifact and
    * 0.73 s on the same host later). The repair gates are PER-CELL and
    * can only re-run inside the same window; what was missing is a
    * WHOLE-RUN precondition. Before the cold pass, three dedicated
    * calibration plans (below) are timed and compared to their quiet
    * priors from the committed baseline's `pregate_cells` map; while
    * the median ratio exceeds the threshold (default 1.3×), the suite
    * WAITS (bounded retries with sleeps) instead of measuring garbage.
    * After the retry budget the suite proceeds anyway — an artifact
    * flagged `"pregate_ok":false` beats no artifact — and every
    * calibration reading ships in the artifact so the reader can see
    * exactly what the host looked like when measurement began.
    *
    * The calibration cells are NOT contract queries: running a contract
    * query before its own cold pass would warm its plan/codegen and
    * silently shrink its cold reading, breaking round-over-round
    * comparability. These three exercise the subsystems the co-tenant
    * degrades — parquet scan + hash aggregate (memory bandwidth),
    * shuffle join (exchange + sort), pure arithmetic (cpu/LLC) — and
    * their readings are min-of-two so one-time codegen doesn't count
    * against the host. */
  private[graft] val calibrationQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = {
    import org.apache.spark.sql.functions._
    Seq(
      "cal_scan_agg" -> ((s: SparkSession, _: String) =>
        s.read.parquet(s"$calDataDir/fact.parquet")
          .groupBy(col("cat"))
          .agg(sum(col("v1")), sum(col("v2")), avg(col("v1")), count(lit(1)))),
      "cal_shuffle_join" -> ((s: SparkSession, _: String) =>
        s.read.parquet(s"$calDataDir/fact.parquet").select("k", "v1")
          .join(s.read.parquet(s"$calDataDir/dim.parquet"), Seq("k"))
          .groupBy(col("k") % 97)
          .agg(sum(col("v1")), sum(col("w")))),
      "cal_cpu" -> ((s: SparkSession, _: String) =>
        s.range(0L, 40000000L, 1L, 32)
          .selectExpr("sum(id * 2654435761 % 1000003) AS h",
            "avg(sin(id % 1000)) AS a")),
    )
  }

  /** Median of reading/prior over the calibration cells both maps know;
    * -1 when no cell has a usable prior (first round at an sf, baseline
    * missing or sf-mismatched) — the caller treats -1 as "no evidence,
    * proceed", never as degraded. Median, not mean: one cell tripping
    * on its own (a page-cache miss on the scan cell) must not stall the
    * suite; the r13 signature was a UNIFORM ~1.55× headwind across 240
    * cells, which the median sees immediately. */
  private[graft] def pregateRatio(readings: Map[String, Double],
      priors: Map[String, Double]): Double = {
    val ratios = readings.toSeq.flatMap { case (n, w) =>
      priors.get(n).filter(_ > 0).collect { case p if w > 0 => w / p }
    }.sorted
    // UPPER median for an even count (r14 ADVICE): with one prior
    // missing only two ratios remain, and the lower median let a host
    // showing 1.2x/2.5x pass the 1.3x gate on the lenient reading.
    // Odd counts keep the true median (one cell tripping alone — a
    // page-cache miss — must still not stall the suite).
    if (ratios.isEmpty) -1.0
    else if (ratios.size % 2 == 0) ratios(ratios.size / 2)
    else ratios((ratios.size - 1) / 2)
  }

  /** The pregate pass/fail decision: -1 (no priors) passes; otherwise
    * the median ratio must sit at or below the threshold. */
  private[graft] def pregateOk(ratio: Double, maxRatio: Double): Boolean =
    ratio < 0 || ratio <= maxRatio

  /** END-OF-RUN QUIET RE-MEASURE admission (r14 verdict #1). The start
    * pregate guards where the run BEGINS; r14's warm total was inflated
    * by a mid-run contention burst (35 flagged cells, bursts between the
    * start/mid/end probes) that the per-cell repairs could only re-run
    * INSIDE. When the host is measurably quiet again at the end of the
    * suite, the flagged cells are re-run once more and the minimum is
    * kept. Admission is STRICT — both the probe before the re-measure
    * block and the probe after it must be green readings against real
    * priors (a -1 "no evidence" probe does NOT admit: an unverifiable
    * re-measure could silently replace a conservative reading). The
    * original flagged readings always ship alongside (prequiet_cold /
    * prequiet_warm), so both readings are in the artifact and a baseline
    * splice can keep the conservative one. */
  private[graft] def quietRemeasureAdmitted(probeBefore: Double,
      probeAfter: Double, maxRatio: Double): Boolean =
    probeBefore > 0 && probeBefore <= maxRatio &&
      probeAfter > 0 && probeAfter <= maxRatio

  /** Detail-artifact destination (r14 verdict #2): Bench used to write
    * `BENCH_DETAIL.json` unconditionally, so a SUBSET run (dev iteration,
    * judge spot-checks) overwrote the driver's uncommitted full-contract
    * run of record — this bit two judge sessions in a row. Full-contract
    * runs keep the canonical name; subset runs get a pid-suffixed file
    * under target/ (gitignored — pid-suffixed litter in the repo root
    * accumulated and risked being auto-committed, r15 ADVICE);
    * `SPARK_GRAFT_DETAIL_OUT` overrides both. */
  private[graft] def detailOutPath(envOverride: Option[String],
      fullContract: Boolean, pid: Long): String =
    envOverride.getOrElse(
      if (fullContract) "BENCH_DETAIL.json"
      else s"target/bench_detail_subset_$pid.json")

  /** Extract a `"field":{"name":num,…}` map from a bench detail line —
    * the committed quiet baseline is itself a detail line, so the gate
    * needs no second format. Zero-dependency by the same argument as the
    * emit side (hand-built JSON): names are query identifiers, values
    * plain numbers. */
  private[graft] def parseQueryMap(json: String, field: String)
      : Map[String, Double] = {
    val start = json.indexOf("\"" + field + "\":{")
    if (start < 0) return Map.empty
    val open = json.indexOf('{', start)
    val close = json.indexOf('}', open)
    val body = json.substring(open + 1, close)
    if (body.trim.isEmpty) Map.empty
    else body.split(",").iterator.flatMap { kv =>
      val i = kv.lastIndexOf(':')
      if (i < 0) None
      else {
        val k = kv.substring(0, i).trim.stripPrefix("\"").stripSuffix("\"")
        scala.util.Try(kv.substring(i + 1).trim.toDouble).toOption.map(k -> _)
      }
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      // report sorted output for one-file-per-bucket bucketed scans
      // (Spark's single-file check still guards multi-file buckets) —
      // elides the index-side merge-join sort for the persisted
      // band/IVF/bucketed-fact tables
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // The status-store listener runs even with the UI off and retains
      // the last 1000 SQL executions INCLUDING their plan strings — this
      // suite's ANN/quantizer plans carry literal codebooks (the
      // "plan string too large, truncated" warnings), so 224 executions
      // retain GBs and the mid-suite GC/eviction storm stalls whole
      // blocks of queries (round 9's and round 10's warm-pass inversions:
      // CPU-backed, load-quiet, contiguous in run order). Keep a handful
      // for post-mortems; drop the rest.
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: JVM + codegen + parquet reader paths (not timed) — against
    // the DEDICATED calibration data, never contract inputs (see
    // ensureCalData: touching contract parquet here would warm its page
    // cache and bias the cold pass).
    ensureCalData(spark)
    spark.read.parquet(s"$calDataDir/fact.parquet").count()
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // ---- co-load instrumentation -------------------------------------
    // Round 9 lesson: sampling 1-min loadavg only at query COMPLETION let
    // a competing JVM that finished before the sample ship 37×-inflated
    // cells unflagged. Two independent signals now:
    //  - a background ticker records the MAX 1-min loadavg observed at any
    //    point during the query (co-load can no longer hide by ending
    //    early);
    //  - per-query JVM process-CPU seconds. In local mode executors are
    //    in-process threads, so process CPU ≈ the work actually done;
    //    starvation (other processes, or cgroup throttling invisible to
    //    loadavg) inflates WALL without inflating CPU, while genuine
    //    cold-start cost (codegen/JIT/page-cache miss) burns real CPU.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val sunBean = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    def cpuNow(): Double =
      sunBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
    val maxLoad = new java.util.concurrent.atomic.AtomicLong(
      java.lang.Double.doubleToLongBits(0.0))
    def sampleLoad(): Unit = {
      val l = osBean.getSystemLoadAverage
      var done = false
      while (!done) {
        val cur = maxLoad.get()
        done = java.lang.Double.longBitsToDouble(cur) >= l ||
          maxLoad.compareAndSet(cur, java.lang.Double.doubleToLongBits(l))
      }
    }
    def resetLoad(): Unit = {
      maxLoad.set(java.lang.Double.doubleToLongBits(0.0)); sampleLoad()
    }
    def readMaxLoad(): Double = java.lang.Double.longBitsToDouble(maxLoad.get())
    val ticker = new Thread(() => {
      while (true) { sampleLoad(); Thread.sleep(250) }
    }, "bench-load-ticker")
    ticker.setDaemon(true); ticker.start()

    // dev-only: per-query wall-clock trace for correlating external
    // profiler samples (top -H / jstack) with the query timeline
    val trace = sys.env.contains("SPARK_GRAFT_BENCH_TRACE")
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Timing = {
      resetLoad()
      if (trace) System.err.println(s"[bench-t] $name start ${System.currentTimeMillis}")
      val c0 = cpuNow()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Timing((System.nanoTime() - t0) / 1e9, cpuNow() - c0, readMaxLoad())
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Timing(-1.0, -1.0, readMaxLoad())
      } finally {
        // measurement isolation: a query that persists/checkpoints must not
        // tax its successors' memory (blocks otherwise free only on GC) —
        // and the streaming drivers' state-store providers must not pile
        // up in the process-wide registry (round 10 shipped 5× warm
        // inflation on q_stream_neardup/q_stream_kmv from exactly this:
        // CPU-backed GC work the contended gate rightly ignores)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        org.apache.spark.sql.graftbridge.StateStoreBridge.unloadAll()
        if (trace) System.err.println(s"[bench-t] $name end ${System.currentTimeMillis}")
      }
    }

    // per-query QUIET baselines from the committed prior-round clean run
    // (self-history corroboration, see selfHistoryContended; calibration
    // priors for the host-health pregate). Only used when the baseline
    // was recorded at the SAME sf as this run.
    val (baseCold, baseWarm, basePregate) = {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_BASELINE", "BENCH_BASELINE.json"))
      if (!java.nio.file.Files.exists(p))
        (Map.empty[String, Double], Map.empty[String, Double], Map.empty[String, Double])
      else {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val sfOk = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(s)
          .exists(_.group(1) == sfDir)
        if (!sfOk)
          (Map.empty[String, Double], Map.empty[String, Double], Map.empty[String, Double])
        else (parseQueryMap(s, "queries"), parseQueryMap(s, "queries_warm"),
          parseQueryMap(s, "pregate_cells"))
      }
    }

    // ---- host-health pregate (r13 verdict #1; scaladoc at
    // calibrationQueries) -----------------------------------------------
    // min-of-two first (strip one-time codegen), single runs on retries
    // (the plans are hot by then — a retry measures the HOST, nothing
    // else). Sleeps between retries let a co-tenant window end before
    // the suite commits 400+ s of measurement to it.
    val pregateMax = sys.env.getOrElse("SPARK_GRAFT_PREGATE_MAX", "1.3").toDouble
    val pregateRetries = sys.env.getOrElse("SPARK_GRAFT_PREGATE_RETRIES", "6").toInt
    val pregateSleepMs = sys.env.getOrElse("SPARK_GRAFT_PREGATE_SLEEP_MS", "45000").toLong
    // per-cell HEALTHIEST reading across every calibration execution of
    // the run (r14 ADVICE): the artifact's pregate_cells used to carry
    // the LAST attempt's readings — on a pregate_ok:false run those are
    // single-run readings from a degraded host, and if such an artifact
    // is later spliced as the baseline, the inflated priors loosen every
    // future pregate. The min across all attempts/probes is both the
    // healthiest observation and the conservative prior (smaller prior =
    // stricter future gate).
    val calBest = scala.collection.mutable.Map.empty[String, Double]
    def calPass(minOfTwo: Boolean): Map[String, Double] = {
      val m = calibrationQueries.map { case (n, fn) =>
        val a = run(n, fn).wall
        val best =
          if (!minOfTwo) a
          else {
            val b = run(n, fn).wall
            Seq(a, b).filter(_ > 0) match {
              case Nil => -1.0; case xs => xs.min
            }
          }
        n -> best
      }.toMap
      m.foreach { case (n, v) =>
        if (v > 0 && calBest.get(n).forall(v < _)) calBest(n) = v }
      m
    }
    var calReadings = calPass(minOfTwo = true)
    var calHistory = List(pregateRatio(calReadings, basePregate))
    while (!pregateOk(calHistory.head, pregateMax) &&
        calHistory.size <= pregateRetries) {
      System.err.println(f"[bench] pregate: host degraded (median ratio " +
        f"${calHistory.head}%.2f > $pregateMax%.2f vs quiet priors) — " +
        f"waiting ${pregateSleepMs / 1000}s, attempt ${calHistory.size}/$pregateRetries")
      Thread.sleep(pregateSleepMs)
      calReadings = calPass(minOfTwo = false)
      calHistory = pregateRatio(calReadings, basePregate) :: calHistory
    }
    val pregatePass = pregateOk(calHistory.head, pregateMax)
    if (!pregatePass)
      System.err.println(f"[bench] pregate: still degraded after " +
        f"${calHistory.size} attempts (ratio ${calHistory.head}%.2f) — " +
        "proceeding, artifact flagged pregate_ok:false")

    /** Drop state a full pass accumulates, so the next pass starts from
      * the same driver footprint: localCheckpoint blocks free only when
      * the ContextCleaner GCs their RDD references (force a GC) (round
      * 9's warm>cold inversions, VERDICT "What's wrong" #5). */
    def interPassCleanup(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      Thread.sleep(2000) // let async ContextCleaner callbacks drain
    }

    // dev-only: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times a subset while
    // iterating; the driver never sets it, so contract runs time everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val coldRaw = named.map { case (n, fn) => n -> run(n, fn) }
    // between passes: drop state the cold pass accumulated (cached and
    // checkpointed blocks, leftover temp views) so the warm
    // pass measures the PLAN warm, not the driver progressively laden
    // (round 9 shipped warm>cold inversions on several queries)
    // ADVISORY host-health probes at the pass boundary and after the
    // warm pass (single runs — the plans are hot): the START pregate
    // cannot see a window that arrives mid-run (every r14 run caught a
    // contended alphabetical tail), so the artifact carries a 3-point
    // host-health TIMELINE (start/mid/end ratios) that lets a reader
    // attribute tail flags to a measured arrival, not conjecture. No
    // retries here — the per-cell gates own in-run repair; these only
    // record.
    val pregateMid = pregateRatio(calPass(minOfTwo = false), basePregate)
    interPassCleanup(spark)
    val warmAll = named.map { case (n, fn) => n -> run(n, fn) }
    val pregateEnd = pregateRatio(calPass(minOfTwo = false), basePregate)
    val warmRaw = warmAll.map { case (n, t) => n -> t.wall }
    val warmByName = warmAll.toMap
    // contended repair, both directions: a reading >3x its counterpart
    // pass (and >1 s absolute) is the co-load signature, not a property of
    // the plan — re-run once and keep the minimum; the name stays in
    // `contended`. Cold outliers first (r7's 46.6 s cold for a 2.5 s
    // query), then warm outliers against the repaired cold (r6's 11.1 s
    // warm for a 5 s query).
    def rerun(names: Seq[String]): Map[String, Timing] =
      names.map { n => n -> run(n, named.find(_._1 == n).get._2) }.toMap
    // co-load corroboration, any signal fires (the 3x wall ratio alone
    // also fires on GENUINE cold-start cost — codegen/JIT burns real CPU
    // — and repairing those biases the cold total down):
    //  - max 1-min loadavg DURING the query above max(4, cpus/4): this
    //    bench's own steady state measures ~2-3 on the 32-cpu box, a
    //    competing 30-thread JVM drives it past 30 (the continuous max
    //    closes round 9's ends-before-the-sample blind spot);
    //  - WARM-SIDE ONLY, starvation: warm wall inflated but its
    //    process-CPU NOT correspondingly higher than cold's (< 2x) — the
    //    extra wall was scheduling we lost to other processes or cgroup
    //    throttling loadavg can't see, not work;
    //  - WARM-SIDE ONLY, thrash: warm process-CPU ITSELF >3x cold's on
    //    the same plan. Round 10 measured warm re-executions burning 12x
    //    the cycles of their own cold pass (q_dedup_ngram 66 s/109 cpu-s
    //    vs 4.2 s/9 cpu-s) during whole-run degradation windows with
    //    loadavg ~2: a co-tenant outside this container's process view
    //    saturating memory bandwidth/LLC makes every cycle stall, and
    //    stalled cycles bill as CPU time.
    // The decision predicates live at object level (coldContended /
    // warmContended) with BenchGateSpec pinning the scenarios; see their
    // scaladoc for why cold is load-gated only while warm also uses the
    // starvation/thrash cpu signatures.
    val loadThreshold = math.max(4.0, cpus.toDouble / 4)
    val contendedCold = coldRaw.collect {
      case (n, c) if warmByName.get(n).exists(w =>
          coldContended(c, w.wall, loadThreshold)) ||
        selfHistoryContended(c, baseCold.getOrElse(n, -1.0)) => n
    }
    val rerunCold = rerun(contendedCold)
    val cold = coldRaw.map { case (n, c) =>
      n -> rerunCold.get(n).map(_.wall).filter(r => r > 0 && r < c.wall)
        .getOrElse(c.wall)
    }
    val coldByName = cold.toMap
    val coldBestTiming = coldRaw.map { case (n, c) =>
      n -> rerunCold.get(n).filter(r => r.wall > 0 && r.wall < c.wall)
        .getOrElse(c)
    }.toMap
    // within-run warm>cold inversion — flagged separately in the detail
    // line so a reader can see the signature even after repair
    val warmInversions = warmAll.collect {
      case (n, w) if coldByName.get(n).exists(cw => warmInversion(w, cw)) => n
    }
    val contendedWarm = warmAll.collect {
      case (n, w) if coldByName.get(n).zip(coldBestTiming.get(n)).exists {
          case (cw, cb) => warmContended(w, cw, cb, loadThreshold) } ||
        selfHistoryContended(w, baseWarm.getOrElse(n, -1.0)) ||
        coldByName.get(n).exists(cw => warmInversion(w, cw)) => n
    }
    val rerunWarm = rerun(contendedWarm)
    val warm = warmRaw.map { case (n, w) =>
      n -> rerunWarm.get(n).map(_.wall).filter(r => r > 0 && r < w).getOrElse(w)
    }
    val contended = (contendedCold ++ contendedWarm).distinct

    // ---- end-of-run quiet re-measure (r14 verdict #1; admission rule
    // at quietRemeasureAdmitted) ----------------------------------------
    // The per-cell repairs above can only re-run inside the same
    // (possibly still degraded) window. When the host probes quiet again
    // after the suite, re-run EXACTLY the flagged cells once more and
    // keep the minimum — but only admit the new readings when the probes
    // BOTH before and after the re-measure block are green against real
    // priors. Flags stay; both readings ship (quiet_* = the re-measure,
    // prequiet_* = the displaced reading) so a baseline splice can keep
    // the conservative one.
    val quietProbeBefore =
      if (contended.nonEmpty) pregateRatio(calPass(minOfTwo = false), basePregate)
      else -1.0
    val runQuiet = contended.nonEmpty &&
      quietProbeBefore > 0 && quietProbeBefore <= pregateMax
    if (contended.nonEmpty && !runQuiet)
      System.err.println(f"[bench] quiet re-measure skipped: end probe " +
        f"$quietProbeBefore%.2f not a green reading (max $pregateMax%.2f)")
    val quietReadings: Map[String, Timing] =
      if (runQuiet) rerun(contended.sorted) else Map.empty
    val quietProbeAfter =
      if (runQuiet) pregateRatio(calPass(minOfTwo = false), basePregate)
      else -1.0
    val quietAdmitted =
      quietRemeasureAdmitted(quietProbeBefore, quietProbeAfter, pregateMax)
    if (runQuiet)
      System.err.println(f"[bench] quiet re-measure of ${contended.size} " +
        f"flagged cells: probes $quietProbeBefore%.2f/$quietProbeAfter%.2f, " +
        s"admitted=$quietAdmitted")
    def quietFold(vals: Seq[(String, Double)], flagged: Seq[String])
        : Seq[(String, Double)] =
      vals.map { case (n, v) =>
        n -> (if (quietAdmitted && flagged.contains(n))
          quietReadings.get(n).map(_.wall).filter(q => q > 0 && q < v)
            .getOrElse(v)
        else v)
      }
    val coldFinal = quietFold(cold, contendedCold)
    val warmFinal = quietFold(warm, contendedWarm)
    // the displaced (pre-quiet, post-repair) readings, for reconstruction
    val prequietCold = cold.filter { case (n, v) =>
      coldFinal.toMap.get(n).exists(_ < v) }
    val prequietWarm = warm.filter { case (n, v) =>
      warmFinal.toMap.get(n).exists(_ < v) }

    // pre-repair readings for every repaired cell, so consumers can
    // reconstruct the original cold/warm totals (detail line only)
    val repairedCold = coldRaw.collect {
      case (n, c) if coldFinal.toMap.get(n).exists(_ < c.wall) => n -> c.wall }
    val repairedWarm = warmRaw.collect {
      case (n, w) if warmFinal.toMap.get(n).exists(_ < w) => n -> w }
    val loadCold = coldRaw.map { case (n, t) => n -> t.load }
    val loadWarm = warmAll.map { case (n, t) => n -> t.load }
    val cpuCold = coldRaw.map { case (n, t) => n -> t.cpu }
    val cpuWarm = warmAll.map { case (n, t) => n -> t.cpu }
    // Locale.ROOT: a comma-decimal default locale would make f"%.2f" emit
    // {"value":90,63} — invalid JSON, recreating the unparsed-result bug
    // trailing zeros stripped ("0.50"→"0.5", "2.00"→"2"): at 80+ queries
    // the compact line crowds the collector's 2000-char tail window, and
    // ~1 byte per query is the difference between parsed and truncated
    def rp(v: Double, p: Int): String =
      if (v < 0) "-1"
      else {
        val s = String.format(java.util.Locale.ROOT, s"%.${p}f", Double.box(v))
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
      }
    def r2(v: Double): String = rp(v, 2)
    def jsonMap(m: Seq[(String, Double)], fmt: Double => String) =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errors = (coldFinal ++ warmFinal).collect { case (n, v) if v < 0 => n }.distinct.sorted
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = coldFinal.map(_._2).filter(_ >= 0).sum
    val totalWarm = warmFinal.map(_._2).filter(_ >= 0).sum
    // r16 (r15 ADVICE): a quiet-folded COLD reading ran with the page
    // cache fully warm (suite end), so it is not a cold-cache number and
    // can only lower the headline. The fold stays (it is the designed
    // contention repair), but the conservative total — folded cold cells
    // restored to their displaced pre-quiet readings — ships alongside
    // so baseline splices can default to it. prequiet_cold names exactly
    // the folded cold cells.
    val totalColdConservative =
      total + prequietCold.map { case (n, v) =>
        v - coldFinal.toMap.getOrElse(n, v) }.sum
    val contJson = contended.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = s"""{"metric":"detail","value":$total,"unit":"sec",""" +
      s""""queries":${jsonMap(coldFinal, _.toString)},""" +
      s""""queries_warm":${jsonMap(warmFinal, _.toString)},""" +
      s""""load":${jsonMap(loadCold, rp(_, 2))},""" +
      s""""load_warm":${jsonMap(loadWarm, rp(_, 2))},""" +
      s""""cpu":${jsonMap(cpuCold, rp(_, 2))},""" +
      s""""cpu_warm":${jsonMap(cpuWarm, rp(_, 2))},""" +
      s""""contended":$contJson,""" +
      s""""warm_inversions":${warmInversions.sorted.map("\"" + _ + "\"")
        .mkString("[", ",", "]")},""" +
      s""""repaired_cold":${jsonMap(repairedCold, _.toString)},""" +
      s""""repaired_warm":${jsonMap(repairedWarm, _.toString)},""" +
      s""""quiet_cold":${jsonMap(quietReadings.toSeq.sortBy(_._1)
        .filter(t => contendedCold.contains(t._1)).map(t => t._1 -> t._2.wall), _.toString)},""" +
      s""""quiet_warm":${jsonMap(quietReadings.toSeq.sortBy(_._1)
        .filter(t => contendedWarm.contains(t._1)).map(t => t._1 -> t._2.wall), _.toString)},""" +
      s""""prequiet_cold":${jsonMap(prequietCold, _.toString)},""" +
      s""""prequiet_warm":${jsonMap(prequietWarm, _.toString)},""" +
      s""""quiet_admitted":$quietAdmitted,""" +
      s""""total_cold_conservative":${rp(totalColdConservative, 3)},""" +
      s""""quiet_probe_before":${rp(quietProbeBefore, 3)},""" +
      s""""quiet_probe_after":${rp(quietProbeAfter, 3)},""" +
      s""""pregate_cells":${jsonMap(calibrationQueries.map { case (n, _) =>
        n -> calBest.getOrElse(n, -1.0) }, _.toString)},""" +
      s""""pregate_ratio":${rp(calHistory.head, 3)},""" +
      s""""pregate_ok":$pregatePass,"pregate_max":$pregateMax,""" +
      s""""pregate_mid":${rp(pregateMid, 3)},"pregate_end":${rp(pregateEnd, 3)},""" +
      s""""pregate_history":${calHistory.reverse.map(rp(_, 3)).mkString("[", ",", "]")},""" +
      s""""total_warm":$totalWarm,"errors":$errJson,"sf":"$sfDir"}"""
    // full precision first (scrolls out of the collector's tail window) —
    // and as a file, so full per-query numbers survive regardless of the
    // collector's window (the driver commits leftover work each round)
    println(detail)
    // subset runs must not clobber the full-contract run of record (r14
    // verdict #2) — see detailOutPath
    val detailPath = detailOutPath(sys.env.get("SPARK_GRAFT_DETAIL_OUT"),
      fullContract = only.isEmpty, ProcessHandle.current().pid())
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}") }
    // compact contract line LAST: the collector keeps the final 2000 chars
    // of output and parses the last JSON line inside them, so this whole
    // line + its newline must fit (≤ 1999; nothing prints after — sbt's
    // success line is suppressed). Precision ladder: per-query decimals
    // drop 2 → 1 → 0 until the line fits a 1990-char budget (totals keep
    // 2 decimals). At 89 queries 2-decimal values measured 2077 chars —
    // a torn, unparseable line; 1-decimal is 1985.
    val pregateCompact = s""""pregate":${rp(calHistory.head, 2)},""" +
      s""""pregate_ok":$pregatePass,"""
    // n_queries/omitted (r16 verdict #2): at 254 queries the line-budget
    // fallback below ships only the slowest cells that fit, and the
    // driver's round-over-round compare mislabeled the truncated FAST
    // cells as dropped_from_bench (17 genuine improvements read as drops
    // in PERF_r16). The counts make truncation self-describing: a cell
    // absent from `queries` with omitted > 0 ran fine and lives in
    // BENCH_DETAIL.json; a genuinely dropped query would lower n_queries.
    val nq = coldFinal.size
    val compact = (2 to 0 by -1).iterator.map { p =>
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
        s""""queries":${jsonMap(coldFinal, rp(_, p))},""" +
        s""""n_queries":$nq,"omitted":0,"total_warm":${r2(totalWarm)},""" +
        pregateCompact +
        s""""errors":$errJson,"sf":"$sfDir"}"""
    }.find(_.length <= 1990).getOrElse {
      // even 0 decimals never fit (112+ queries): ship the SLOWEST-first
      // subset of per-query numbers that fits, plus every error as -1 —
      // a partial map beats the round-9 outcome (queries:{} left the
      // driver artifact with no auditable per-query figures at all); the
      // complete map is always in BENCH_DETAIL.json
      // (base reserves worst-case digits for omitted: omitted <= nq)
      val base = s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
        s""""queries":{},"n_queries":$nq,"omitted":$nq,""" +
        s""""total_warm":${r2(totalWarm)},""" + pregateCompact +
        s""""errors":$errJson,"sf":"$sfDir"}"""
      val budget = 1990 - base.length
      val ordered = coldFinal.filter(_._2 < 0) ++ coldFinal.filter(_._2 >= 0).sortBy(-_._2)
      val picked = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      var used = 0
      ordered.foreach { case (n, v) =>
        val len = n.length + rp(v, 0).length + 4 // "n":v plus comma
        if (used + len <= budget) { picked += ((n, v)); used += len }
      }
      s"""{"metric":"total","value":${r2(total)},"unit":"sec",""" +
        s""""queries":${jsonMap(picked.toSeq, rp(_, 0))},""" +
        s""""n_queries":$nq,"omitted":${nq - picked.size},""" +
        s""""total_warm":${r2(totalWarm)},""" + pregateCompact +
        s""""errors":$errJson,"sf":"$sfDir"}"""
    }
    println(compact)
    spark.stop()
  }
}
