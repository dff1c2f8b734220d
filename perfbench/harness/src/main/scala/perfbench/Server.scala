package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, ZoneOffset}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.CatalogSidecar
import graft.serve.{AmbientService, DailySummaryStore, HeadToHead, HttpApi}
import graft.sources.PartitionedArchive

/** The serving process of every serving workload: `graft.serve.ServeMain`'s
  * recipe — the same session ([[Sessions.serving]]), the same
  * `AmbientService.fromArchive` and the same `HttpApi` — plus the hooks the
  * benchmark needs inside the process: the ingest writer (it lands days into
  * the archive the server reads, as one process owns an archive), the live
  * heap reading, and in traced runs the listeners and the [[TracedService]]
  * wrapper.
  *
  * A second, benchmark-only HTTP port takes control calls:
  *  - `/append?day=YYYY-MM-DD&batch=N` lands one day of broadband and PSD
  *    rows through the idempotent batch appenders, then reloads the catalog;
  *  - `/index` returns the data files and bytes both catalog sidecars list
  *    (called outside the measured phase, before and after the append);
  *  - `/maintain` runs `DailySummaryStore.maintainTrailing(.., Seq(1, 7, 30))`;
  *  - `/heap` runs a full GC and returns the heap still in use;
  *  - `/reset` marks the start of the measured phase, `/trace` returns the
  *    tracer's spans and counters (traced runs).
  *
  * Usage: `Server <archiveRoot> <port> <controlPort> <trace 0|1> <bands> <seed>` */
object Server {

  def main(args: Array[String]): Unit = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val Array(root, port, ctlPort, trace, bandList, seed) = args
    val bands = bandList.split(",").toSeq.map(_.toDouble)
    val spark = Sessions.serving()
    val tracer = if (trace == "1") Some(new Tracer(spark).install()) else None
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = tracer.fold(f)(_.span(name)(f))
      (r, (System.nanoTime() - t0) / 1e6)
    }
    def bootstrap(): (AmbientService, Double, Double) = timed("catalog.refresh") {
      val (idx, loadMs) = timed("catalog.load")(CatalogSidecar.load(spark, s"$root/psd"))
      tracer.foreach(_.add("catalog.index_files", idx.rows.size.toLong))
      val (svc, bootMs) = timed("catalog.bootstrap")(AmbientService.fromArchive(spark, root))
      (svc, loadMs, bootMs)
    }._1
    val service = new TracedService(bootstrap()._1, tracer)
    new HttpApi(service, scheduler = Some(spark)).start(port.toInt)

    val store = new DailySummaryStore(spark, root)
    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", ctlPort.toInt), 0)
    def route(path: String)(body: Map[String, String] => String): Unit =
      ctl.createContext(path, (ex: HttpExchange) => {
        val q = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
          .filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v }.toMap
        val (status, out) =
          try (200, body(q))
          catch { case e: Throwable =>
            e.printStackTrace()
            (500, s"""{"error": "${e.getClass.getName}"}""") }
        val bytes = out.getBytes(UTF_8)
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    route("/append") { q =>
      val day = LocalDate.parse(q("day"))
      val (bb, psd) = dayFrames(spark, day, bands, seed.toLong)
      val (_, appendMs) = timed("sources.append") {
        PartitionedArchive.appendBroadbandBatch(bb, root, q("batch").toLong, "perfbench")
        PartitionedArchive.appendPsdBatch(psd, root, q("batch").toLong, "perfbench")
      }
      val (next, loadMs, bootMs) = bootstrap()
      service.swap(next)
      val rows = 86400L * (1 + bands.size)
      s"""{"append_ms": $appendMs, "rows": $rows, "load_ms": $loadMs, "bootstrap_ms": $bootMs}"""
    }
    route("/index") { _ =>
      val rows = CatalogSidecar.load(spark, s"$root/broadband").rows ++
        CatalogSidecar.load(spark, s"$root/psd").rows
      s"""{"files": ${rows.size}, "bytes": ${rows.iterator.map(_.bytes).sum}}"""
    }
    route("/maintain") { _ =>
      val (_, ms) = timed("rollup.maintain")(store.maintainTrailing(
        HeadToHead.Hydrophone, "octave_bands", 3, 1, Seq(1, 7, 30)))
      s"""{"maintain_ms": $ms}"""
    }
    route("/trace")(_ => tracer.map(_.json()).getOrElse("{}"))
    route("/heap") { _ =>
      System.gc() // a full collection under G1
      val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      s"""{"live_heap_mb": ${used / 1048576.0}}"""
    }
    route("/reset") { _ => tracer.foreach(_.reset()); "{}" }
    ctl.start()
    System.err.println(s"[perfbench] serving $root on :$port, control :$ctlPort")
    Thread.currentThread().join()
  }

  /** One landed day in the archive's own shape (the formula
    * `HeadToHead.buildArchive` uses, offset by the seed): one broadband row
    * per second plus one PSD row per band per second. Pure expressions, so
    * a re-run writes identical bytes. */
  def dayFrames(spark: SparkSession, day: LocalDate, bands: Seq[Double],
      seed: Long): (DataFrame, DataFrame) = {
    val start = day.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    val base = spark.range(0L, 86400L, 1L, 4)
      .select(lit(HeadToHead.Hydrophone).as("hydrophone"),
        timestamp_seconds(lit(start) + col("id")).as("ts"),
        (col("id") + lit(start)).as("id"))
    def level(k: org.apache.spark.sql.Column) =
      lit(35.0) + lit(6.0) * sin(col("id") * lit(2 * math.Pi / 86400.0)) +
        pmod((k + lit(seed)) * lit(2654435761L), lit(1000)).cast("double") / lit(100.0)
    val bb = base.select(col("hydrophone"), lit(1).as("delta_t"), col("ts"),
      level(col("id")).as("value"))
    val psd = base.withColumn("band", explode(array(bands.map(lit(_)): _*)))
      .select(col("hydrophone"), lit("octave_bands").as("freq_type"),
        lit(3).as("delta_f"), lit(1).as("delta_t"), col("ts"), col("band"),
        (level(col("id") + col("band").cast("long")) - log10(col("band")) * lit(3.0))
          .as("value"))
    (bb, psd)
  }
}
