package graft.tables

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.PlanBridge
import graft.util.Sessions

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file per scale-factor directory. At 100 TB
  * these become directory-partitioned datasets; every reader here takes the
  * dataset root so swapping `file.parquet` for a partitioned `dir/` is a
  * one-line change. Column pruning + predicate pushdown reach the scan
  * because callers compose plain `select`/`filter` on the returned frame.
  */
object Tables {
  /** A single-file table is read with the schema of its footer, read on
    * the driver and converted as `spark`'s parquet inference would (its
    * read confs, the Spark schema a Spark writer stores in the footer
    * first), so resolving the table runs no schema-inference job. A
    * directory falls back to inference. */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    val isFile = try path.getFileSystem(conf).getFileStatus(path).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) spark.read.parquet(path.toString)
    else {
      val footer = ParquetFileReader.readFooter(conf, path,
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val converter = new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer), converter)
      spark.read.schema(schema).parquet(path.toString)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  /** Raw-nanos shadow of the events `ts` column, kept so time predicates
    * can be pushed into the parquet scan (see TimeseriesOps.windowFilter). */
  val EventsTsNanosCol = "__ts_ns"

  /** SCHEMA-ADAPTIVE events reader. The archive's `ts` column has shipped
    * in two physical encodings across environment generations:
    *
    *  - parquet TIMESTAMP(NANOS) (or a raw int64 epoch-nanos column) —
    *    Spark has no nanos timestamp type, so with
    *    `spark.sql.legacy.parquet.nanosAsLong` it reads as LongType; we
    *    keep the raw long as [[EventsTsNanosCol]] and derive a µs-truncated
    *    `ts` (same conversion DuckDB applies, so oracles agree). The
    *    derived timestamp is NOT a scan column, so a filter on it cannot
    *    reach the parquet reader — windowFilter and
    *    [[graft.plans.NanosPredicatePushdown]] add redundant nanos-space
    *    predicates on the raw column, restoring row-group skipping.
    *  - native TIMESTAMP_MICROS (what this engine's own writers and the
    *    current testdata produce) — used directly; filters on `ts` push to
    *    the scan natively and no shadow column exists.
    *
    * The branch is on the dtype Spark actually READ, never on an assumed
    * layout — round 9's testdata regeneration (nanos → micros) broke 26
    * queries loudly and 3 silently because this method pinned one encoding.
    *
    * CONF SCOPING: reading either legacy layout needs
    * `spark.sql.legacy.parquet.nanosAsLong=true` (an annotated
    * TIMESTAMP(NANOS) column otherwise FAILS analysis with
    * PARQUET_TYPE_ILLEGAL) and `spark.sql.parquet.inferTimestampNTZ.enabled
    * =false` (a timezone-less micros archive otherwise infers TIMESTAMP_NTZ
    * instead of the session-UTC TimestampType every downstream op and
    * oracle expects). Both are read only while the schema is RESOLVED
    * (pinned by ConfScopeSpec), so the scan resolves on a
    * [[graft.util.Sessions.child]] carrying [[TsReadConfs]] and the plan is
    * rebound to the caller's session, whose conf never changes. */
  def events(spark: SparkSession, dir: String): DataFrame =
    PlanBridge.ofRows(spark, adaptTs(read(Sessions.child(spark, TsReadConfs: _*),
      dir, "events")).queryExecution.analyzed)

  /** The legacy parquet-timestamp read confs, shared with the streaming
    * source ([[graft.streaming.StreamingOps.eventsStream]]). */
  private[graft] val TsReadConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** Apply the nanos-vs-native branch to a frame whose `ts` column came
    * off a parquet scan (shared by the batch reader and the streaming
    * source, so both paths adapt identically). */
  def adaptTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn(EventsTsNanosCol, col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case TimestampNTZType =>
        // reachable only if the NTZ-inference conf was overridden upstream;
        // session tz is UTC so the reinterpretation is value-preserving
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other — expected int64 nanos " +
          "or a parquet timestamp; regenerate the archive or extend Tables.adaptTs")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
