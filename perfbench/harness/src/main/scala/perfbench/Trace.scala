package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `request` ties the spans (and
  * the Spark jobs) of one request or cell together; 0 = none. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, request: Long)

/** In-memory recorder for the traced runs. It only ever wraps calls made
  * from the benchmark's own files (public entry points of the program)
  * and reads Spark's public listener bus — the program is not modified.
  *
  * Spans and counters stay in memory; [[Tracer.json]] renders them once,
  * when the run ends. Every Spark job started on a thread that carries
  * the [[Tracer.RequestProperty]] local property is attributed to that
  * request, and each SQL execution to the request of its jobs. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[String, AtomicLong]

  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong).addAndGet(v): Unit

  def newRequest(): Long = ids.incrementAndGet()

  /** The innermost open span on this thread: the parent of the next one. */
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Time `f` as a span, child of the span open on this thread. When
    * `request` is set, Spark jobs started by `f` on this thread carry that
    * request id. */
  def span[T](name: String, request: Long = 0L)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(RequestProperty)
    if (request != 0L) sc.setLocalProperty(RequestProperty, request.toString)
    val id = ids.incrementAndGet()
    val parent: Long = current.get
    current.set(id)
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, request))
      current.set(parent)
      if (request != 0L) sc.setLocalProperty(RequestProperty, prev)
    }
  }

  // ---- Spark-side attribution (written by the listener thread) ----------

  private val execRequest = new ConcurrentHashMap[Long, Long]
  private val execStart = new ConcurrentHashMap[Long, Long]
  private val execEnd = new ConcurrentHashMap[Long, Long]
  private val requestJobs = new ConcurrentHashMap[Long, AtomicLong]
  private val rollupExecs = ConcurrentHashMap.newKeySet[Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]
  private val stageFirstLaunch = new ConcurrentHashMap[Int, Long]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("ops.jobs", 1)
      val props = Option(e.properties)
      val req = props.flatMap(p => Option(p.getProperty(RequestProperty)))
        .map(_.toLong).getOrElse(0L)
      if (req != 0L) requestJobs.computeIfAbsent(req, _ => new AtomicLong).incrementAndGet()
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => if (req != 0L) execRequest.putIfAbsent(x.toLong, req))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      add("ops.stages", 1)
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) => math.min(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val sub = stageSubmit.remove(id)
      val first = stageFirstLaunch.remove(id)
      if (sub != 0L && first != 0L && first >= sub) add("ops.stage_wait_ms", first - sub)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("ops.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("ops.task_run_ms", m.executorRunTime)
        add("ops.task_cpu_ns", m.executorCpuTime)
        add("ops.gc_ms", m.jvmGCTime)
        add("scan.bytes_read", m.inputMetrics.bytesRead)
        add("scan.rows_read", m.inputMetrics.recordsRead)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        val info = e.taskInfo
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime
        if (delay > 0) add("ops.task_sched_delay_ms", delay)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, s.time)
        // a scan of the maintained daily-summary rollup names its location
        if (s.physicalPlanDescription.contains("_daily_summary")) rollupExecs.add(s.executionId)
      case s: SparkListenerSQLExecutionEnd => execEnd.put(s.executionId, s.time)
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("plan.executions", 1)
      val phases = qe.tracker.phases
      Seq("analysis" -> "plan.analysis_ms", "optimization" -> "plan.optimization_ms",
          "planning" -> "plan.physical_ms").foreach { case (phase, key) =>
        phases.get(phase).foreach(p => add(key, p.durationMs))
      }
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        s.metrics.get("numFiles").foreach(m => add("scan.files_read", m.value))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("plan.failed_executions", 1)
  }

  /** Start the measured phase: drop everything recorded so far except the
    * catalog spans and counters (the start-up bootstrap is reported too). */
  def reset(): Unit = {
    spans.removeIf(s => !s.name.startsWith("catalog."))
    counters.keySet.removeIf(k => !k.startsWith("catalog."))
    Seq(execRequest, execStart, execEnd, requestJobs).foreach(_.clear())
    rollupExecs.clear()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Spark time (ms) of the SQL executions attributed to `request`. */
  private def sparkMs(request: Long): Long =
    execRequest.asScala.iterator.collect { case (x, r) if r == request =>
      val s = execStart.get(x); val e = execEnd.get(x)
      if (s != 0L && e != 0L) e - s else 0L
    }.sum

  /** The collected spans and counters as one JSON object. Waits for the
    * asynchronous listener buses to drain first (they have no public
    * flush), by polling until the job count settles. */
  def json(): String = {
    var last = -1L
    var settled = 0
    while (settled < 3) {
      Thread.sleep(100)
      val now = Option(counters.get("ops.jobs")).map(_.get).getOrElse(0L) +
        Option(counters.get("plan.executions")).map(_.get).getOrElse(0L)
      if (now == last) settled += 1 else { settled = 0; last = now }
    }
    val cs = counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${v.get}""" }.mkString(", ")
    val ss = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      val jobs = Option(requestJobs.get(s.request)).map(_.get).getOrElse(0L)
      val rollup = s.request != 0L && execRequest.asScala.exists {
        case (x, r) => r == s.request && rollupExecs.contains(x) }
      s"""{"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "parent": ${s.parent}, "request": ${s.request}, """ +
        s""""jobs": $jobs, "spark_ms": ${if (s.request != 0L) sparkMs(s.request) else 0L}, """ +
        s""""reads_rollup": $rollup}"""
    }.mkString(",\n  ")
    s"""{"counters": {$cs},\n "spans": [\n  $ss]}"""
  }
}

object Tracer {
  val RequestProperty = "perfbench.request"
}
