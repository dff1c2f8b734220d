package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.JoinOps
import graft.sources.PartitionedArchive
import graft.tables.Tables
import scala.jdk.CollectionConverters._

/** Conf overrides never reach the shared session: archive writes, the
  * events reader and oversized Bloom builds all run their overrides on
  * cloned sessions ([[graft.util.Sessions]]), so concurrent work on ONE
  * session — the serving shape — observes no conf drift at any moment. */
class SessionsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** Parquet `ts` column type of one data file, as (physical, logical). */
  private def tsType(file: java.nio.file.Path): (String, String) = {
    val t = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(file.toUri),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
      .getFileMetaData.getSchema.getColumnDescription(Array("ts")).getPrimitiveType
    (t.getPrimitiveTypeName.toString, String.valueOf(t.getLogicalTypeAnnotation))
  }

  /** Visible parquet data files under `root` (`_`-prefixed trees skipped). */
  private def dataFiles(root: String): Seq[java.nio.file.Path] = {
    val base = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(base).iterator().asScala.toSeq.filter { p =>
      p.toString.endsWith(".parquet") &&
        !base.relativize(p).iterator().asScala.exists(_.toString.startsWith("_"))
    }
  }

  test("concurrent appends, events reads and oversized bloom joins leave the " +
       "shared session's conf untouched at every moment") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sessions").toString
    val bb = Tables.events(spark, TestSpark.Sf0001).select(
      col("event_type").as("hydrophone"), lit(60).as("delta_t"), col("ts"), col("value"))
    val fact = spark.range(0, 2000).select(col("id").as("k"))
    val dim = spark.range(0, 2000, 7).select(col("id").as("k"))
    // above the default 4M-item runtime bloom cap
    val bigItems = 5000000L

    def tasks(tag: String): Seq[() => Any] =
      (0 until 4).map { w => () =>
        val root = s"$tmp/$tag/a$w"
        PartitionedArchive.appendBroadbandBatch(
          bb.filter(floor((dayofmonth(col("ts")) - 1) / lit(7)).cast("int") === w)
            .coalesce(1), root, w.toLong)
        PartitionedArchive.readBroadband(spark, root)
          .orderBy("hydrophone", "ts", "value").collect().toSeq
      } ++ (0 until 4).map { _ => () =>
        Tables.events(spark, TestSpark.Sf0001).count()
      } ++ (0 until 2).map { _ => () =>
        JoinOps.bloomSemiJoin(fact, dim, "k", "k", bigItems)
          .collect().map(_.getLong(0)).sorted.toSeq
      }

    val before = spark.conf.getAll
    val done = new AtomicBoolean(false)
    val drift = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val samples = new AtomicInteger
    val sampler = new Thread(() => {
      while (!done.get()) {
        val now = spark.conf.getAll
        if (now != before)
          drift.add((now.toSet diff before.toSet).mkString(",") + " / unset: " +
            (before.keySet diff now.keySet).mkString(","))
        samples.incrementAndGet()
        Thread.sleep(1)
      }
    })
    sampler.start()
    val pool = Executors.newFixedThreadPool(10)
    val concurrent =
      try pool.invokeAll(tasks("conc").map(t => (() => t()): Callable[Any]).asJava)
        .asScala.map(_.get()).toSeq
      finally {
        pool.shutdown(); pool.awaitTermination(5, TimeUnit.MINUTES)
        done.set(true); sampler.join()
      }

    assert(samples.get() > 0)
    if (!drift.isEmpty)
      fail(s"shared session conf drifted: ${drift.asScala.take(3).mkString("; ")}")
    assert(spark.conf.getAll == before)
    val landed = (0 until 4).flatMap(w => dataFiles(s"$tmp/conc/a$w"))
    assert(landed.nonEmpty)
    landed.foreach { f =>
      val (physical, logical) = tsType(f)
      assert(physical == "INT64" && logical.contains("MICROS"),
        s"$f: ts is $physical $logical")
    }
    // the override never reached the shared session: a plain write there
    // still takes Spark's INT96 default
    val plain = s"$tmp/plain"
    bb.limit(10).write.parquet(plain)
    dataFiles(plain).foreach(f => assert(tsType(f)._1 == "INT96"))

    assert(concurrent == tasks("seq").map(_()))
  }

  test("child: overrides stay on the clone, which inherits runtime conf, " +
       "temp views and execution listeners") {
    val inherited = "spark.graft.test.sessionsSpec"
    val seen = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        seen.incrementAndGet(): Unit
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.conf.set(inherited, "yes")
    spark.range(3).createOrReplaceTempView("sessions_spec_view")
    spark.listenerManager.register(listener)
    try {
      val partitions = spark.conf.get("spark.sql.shuffle.partitions")
      val c = graft.util.Sessions.child(spark, "spark.sql.shuffle.partitions" -> "3")
      assert(c ne spark)
      assert(c.conf.get(inherited) == "yes")
      assert(c.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
      assert(c.table("sessions_spec_view").count() == 3L)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (seen.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.get() > 0, "parent's listener did not see the clone's action")
    } finally {
      spark.listenerManager.unregister(listener)
      spark.catalog.dropTempView("sessions_spec_view")
      spark.conf.unset(inherited)
    }
  }
}
