package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.SparkEntry
import graft.tables.Tables

/** The contract-cell workload: every given `SparkEntry.queries` cell runs
  * once, cold, in a fresh session (`newSession()`), in the given order, over
  * one generated `events` table. Each result is written as one parquet file
  * to `<outDir>/<cell>` — the sink `graft.Verify` uses — and
  * `oracle_sql.json` carries the cells' `SparkEntry.oracleSql` for the
  * DuckDB compare.
  *
  * Prints `READY` once the batch session is built (the set-up time is
  * measured from outside, launch to this line). Then it runs one untimed
  * warm-up query (read, aggregate and write `events`, the same for every
  * seed), then the cells, and prints one JSON line with the raw timings (and the trace when
  * traced). Without the warm-up, whichever cell the seeded order puts first
  * absorbs the JVM's class loading and JIT warm-up, about 5 s on a 4-vCPU
  * VM, so the figures would depend on the order.
  *
  * Usage: `Contract <tablesDir> <cell,cell,...> <trace 0|1> <outDir>` */
object Contract {
  def main(args: Array[String]): Unit = {
    val Array(dir, cellList, trace, outDir) = args
    val spark = Sessions.batch()
    spark.sparkContext.setLogLevel("WARN")
    println("READY")
    System.out.flush()

    val cells = cellList.split(",").toSeq
    val tracer = if (trace == "1") Some(new Tracer(spark).install()) else None
    // query-execution listeners are per session: register on each fresh one
    def fresh(): SparkSession = {
      val s = spark.newSession()
      tracer.foreach(t => s.listenerManager.register(t.queryListener))
      s
    }
    Tables.events(spark.newSession(), dir).groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total")).orderBy("event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_warmup")
    tracer.foreach(_.reset())
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = cpu.getProcessCpuTime
    val timings = cells.map { c =>
      val t0 = System.nanoTime()
      def run(): Unit = SparkEntry.queries(c)(fresh(), dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$c")
      tracer match {
        case Some(t) => t.span(s"queries.cell.$c", request = t.newRequest())(run())
        case None => run()
      }
      c -> (System.nanoTime() - t0) / 1e6
    }
    val cpuMs = (cpu.getProcessCpuTime - cpu0) / 1e6
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), cells.map { c =>
      s"${Json.str(c)}: ${Json.str(SparkEntry.oracleSql(c))}"
    }.mkString("{", ",\n", "}"))
    val traceJson = tracer.map(_.json().replace("\n", " ")).getOrElse("{}")
    println(s"""{"cells": ${timings.map { case (c, ms) => s"[${Json.str(c)}, $ms]" }
        .mkString("[", ", ", "]")}, """ +
      s""""cpu_ms": $cpuMs, "live_heap_mb": $heapMb, "trace": $traceJson}""")
    spark.stop()
  }
}

/** JSON string quoting for the harness's output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
