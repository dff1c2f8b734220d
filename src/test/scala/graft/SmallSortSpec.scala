package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables
import graft.util.Sessions

/** Pins the small-sort rule ([[graft.plans.SmallGlobalSort]]) and the
  * footer-schema table reader: a global sort of a small input runs in one
  * partition with no sampling job, nothing else changes partitioning, and
  * resolving a single-file table runs no Spark job. */
class SmallSortSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def events: DataFrame = Tables.events(spark, TestSpark.Sf0001)
  private def shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** The same session with partition coalescing off, where the rule
    * never fires: the parent's plans. */
  private def unruled = Sessions.child(spark,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** `df`'s rows, and the jobs and plans collecting them ran. */
  private def collected(df: DataFrame) = TestJobs.during(df.sparkSession)(df.collect())

  private def perUser(ses: org.apache.spark.sql.SparkSession) =
    Tables.events(ses, TestSpark.Sf0001).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 1000).cast("long")).as("total"))

  test("a small groupBy.agg.orderBy gathers into the final aggregate: no " +
      "multi-partition range exchange, two jobs fewer, rows in sort order") {
    val (rows, run) = collected(perUser(spark).orderBy("user_id"))
    val (parentRows, parent) = collected(perUser(unruled).orderBy("user_id"))
    assert(run.rangeExchanges.isEmpty, run.plans.map(_.simpleString))
    assert(parent.rangeExchanges.exists(_ > 1))
    assert(parent.jobs.size - run.jobs.size == 2,
      s"${parent.jobs.size} jobs without the rule, ${run.jobs.size} with it")
    val unsorted = perUser(spark).collect()
      .sortBy(_.get(0).asInstanceOf[Number].longValue).toSeq
    assert(rows.toSeq == unsorted)
    assert(parentRows.toSeq == unsorted)
  }

  test("a scan-rooted small orderBy keeps one range exchange of one partition") {
    val (rows, run) = collected(events.select("event_id", "value").orderBy("event_id"))
    assert(run.rangeExchanges.nonEmpty && run.rangeExchanges.forall(_ == 1),
      run.rangeExchanges)
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids == ids.sorted && ids.size == events.count())
  }

  test("repartitionByRange(n) keeps its n partitions") {
    val df = events.repartitionByRange(3, col("event_id"))
    val (_, run) = collected(df)
    assert(run.rangeExchanges == run.rangeExchanges.map(_ => 3) && run.rangeExchanges.nonEmpty)
    assert(df.rdd.getNumPartitions == 3)
  }

  test("a sort over a join or an explode keeps numShufflePartitions") {
    val exploded = events.select(explode(array(col("value"), col("value") + 1)).as("v"))
      .orderBy("v")
    val joined = events.select("event_id", "value")
      .join(events.select("event_id", "user_id"), "event_id").orderBy("value")
    for (df <- Seq(exploded, joined)) {
      val (_, run) = collected(df)
      assert(run.rangeExchanges.nonEmpty &&
        run.rangeExchanges.forall(_ == shufflePartitions), run.rangeExchanges)
    }
  }

  test("a sort whose input bound exceeds minPartitionSize keeps " +
      "numShufflePartitions") {
    val big = spark.range(0, 1L << 40).orderBy(col("id").desc)
      .queryExecution.executedPlan.toString
    assert(big.contains(s"rangepartitioning(id#") &&
      big.contains(s" DESC NULLS LAST, $shufflePartitions)"), big)
    // the events file (27 KB) over a 1 KB minimum partition size
    val small = Sessions.child(spark,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1k")
    val (_, run) = collected(Tables.events(small, TestSpark.Sf0001).orderBy("event_id"))
    assert(run.rangeExchanges.nonEmpty &&
      run.rangeExchanges.forall(_ == shufflePartitions), run.rangeExchanges)
  }

  test("Tables.events resolves with no Spark job, to the inferred schema " +
      "(micros, raw-int64 and annotated-nanos layouts)") {
    val dirs = Seq(TestSpark.Sf0001, TestSpark.NanosFixtureDir,
      TestSpark.AnnotatedNanosFixtureDir)
    for (dir <- dirs) {
      val (df, run) = TestJobs.during(spark)(Tables.events(spark, dir))
      assert(run.jobs.isEmpty, s"$dir: ${run.jobs.size} jobs")
      val inferred = Tables.adaptTs(
        Sessions.child(spark, Tables.TsReadConfs: _*).read.parquet(s"$dir/events.parquet"))
      assert(df.schema == inferred.schema, s"$dir:\n${df.schema}\n${inferred.schema}")
    }
  }

  test("every single-file table resolves to the schema inference finds") {
    val tables = Seq("region" -> Tables.region _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
      "embeddings" -> Tables.embeddings _)
    for ((name, read) <- tables) {
      val (df, run) = TestJobs.during(spark)(read(spark, TestSpark.Sf0001))
      assert(run.jobs.isEmpty, s"$name: ${run.jobs.size} jobs")
      assert(df.schema == spark.read.parquet(s"${TestSpark.Sf0001}/$name.parquet").schema, name)
    }
  }
}
