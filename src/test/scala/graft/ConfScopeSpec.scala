package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tables.Tables

/** Pins the conf-scoping contract of `Tables.events` (r10 verdict item 8):
  * reading the events archive must leave the CALLER's parquet timestamp
  * confs exactly as it found them — set values kept, unset keys unset —
  * because the read confs go on a cloned session (`graft.util.Sessions`)
  * that only resolves the schema, while the returned frame, rebound to
  * the caller's session, still decodes correctly. The load-bearing fact
  * (verified here, relied on by both the batch and streaming readers) is
  * that `nanosAsLong` and `inferTimestampNTZ.enabled` are consulted only
  * during schema RESOLUTION; execution decodes by the resolved schema. */
class ConfScopeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private val NtzKey   = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** (value-visible-to-readers, explicitly-set?) per key — getOption alone
    * can't detect leakage because it reports the session DEFAULT for a
    * never-set conf; explicit-set-ness comes from getAll (set entries only). */
  private def confSnapshot(): Seq[(String, Option[String], Boolean)] = {
    val set = spark.conf.getAll
    Seq(NanosKey, NtzKey).map(k => (k, spark.conf.getOption(k), set.contains(k)))
  }

  test("events() leaves unset confs unset and set confs at their value") {
    // baseline: make the keys unset (previous suites may have touched them)
    spark.conf.unset(NanosKey); spark.conf.unset(NtzKey)
    Tables.events(spark, TestSpark.Sf0001).limit(1).collect()
    assert(!spark.conf.getAll.contains(NanosKey),
      s"$NanosKey leaked as explicitly set after events()")
    assert(!spark.conf.getAll.contains(NtzKey),
      s"$NtzKey leaked as explicitly set after events()")
    val before = confSnapshot()
    Tables.events(spark, TestSpark.Sf0001).limit(1).collect()
    assert(confSnapshot() == before, "conf drift across events()")

    // caller explicitly set values opposite to what the reader needs
    spark.conf.set(NanosKey, "false"); spark.conf.set(NtzKey, "true")
    try {
      Tables.events(spark, TestSpark.Sf0001).limit(1).collect()
      assert(spark.conf.get(NanosKey) == "false" && spark.conf.get(NtzKey) == "true",
        "caller-set conf values not restored")
    } finally { spark.conf.unset(NanosKey); spark.conf.unset(NtzKey) }
  }

  test("annotated TIMESTAMP(NANOS) layout: fails without the conf, " +
       "reads through events(), decodes after restore") {
    import org.apache.spark.sql.types.TimestampType
    val dir = TestSpark.AnnotatedNanosFixtureDir
    // direct read without the conf must fail analysis — proves the fixture
    // really carries the annotation (an un-annotated long would slip through)
    val err = intercept[Exception] {
      spark.read.parquet(s"$dir/events.parquet").schema
    }
    assert(err.getMessage.contains("PARQUET_TYPE_ILLEGAL"),
      s"expected PARQUET_TYPE_ILLEGAL, got: ${err.getMessage.take(120)}")

    val df = Tables.events(spark, dir) // conf restored by the time this returns
    assert(!spark.conf.getAll.contains(NanosKey), "nanos conf leaked")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.columns.contains(Tables.EventsTsNanosCol),
      "nanos branch should keep the raw shadow column")
    // action strictly after restore: values must µs-truncate the nanos tail
    val row = df.orderBy("event_id").limit(1)
      .selectExpr(s"${Tables.EventsTsNanosCol}", "unix_micros(ts)").collect()(0)
    assert(row.getLong(0) == 1704067200000000000L)
    assert(row.getLong(1) == 1704067200000000L)
    val n = df.filter("value >= 990").count()
    assert(n == 10, s"post-restore filtered count: expected 10, got $n")
  }

  test("raw-int64 and native-micros layouts both decode after restore") {
    // raw int64 (un-annotated): LongType branch of adaptTs
    val nanos = Tables.events(spark, TestSpark.NanosFixtureDir)
    // native micros testdata: TimestampType (or NTZ-cast) branch
    val micros = Tables.events(spark, TestSpark.Sf0001)
    assert(!spark.conf.getAll.contains(NanosKey), "nanos conf leaked")
    val a = nanos.selectExpr("min(unix_micros(ts))").collect()(0).getLong(0)
    val b = micros.selectExpr("min(unix_micros(ts))").collect()(0).getLong(0)
    assert(a == b, s"layouts disagree on min ts after restore: $a vs $b")
  }
}
