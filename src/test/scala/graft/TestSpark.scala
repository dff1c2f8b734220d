package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      // report sorted output for one-file-per-bucket bucketed scans
      // (Spark's single-file check still guards multi-file buckets) —
      // elides the index-side merge-join sort for the persisted
      // band/IVF/bucketed-fact tables
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Self-generated NANOS-LAYOUT events fixture: the same rows as the
    * sf0.001 events table with `ts` stored as a raw int64 epoch-nanos
    * column — the physical layout the archive shipped with before the
    * round-9 regeneration moved it to native TIMESTAMP_MICROS. Keeping the
    * fixture in-repo means BOTH ingestion branches of
    * [[graft.tables.Tables.adaptTs]] stay tested no matter which layout
    * the driver's testdata currently uses. Written as a single FILE named
    * `events.parquet` (not a directory) so the streaming source's
    * `pathGlobFilter` matches it exactly like the real testdata. */
  lazy val NanosFixtureDir: String = {
    val dir = new java.io.File("target/fixtures/nanos").getAbsoluteFile
    val eventsFile = new java.io.File(dir, "events.parquet")
    if (!eventsFile.exists()) {
      dir.mkdirs()
      val tmp = new java.io.File(dir, "_tmp_events")
      import org.apache.spark.sql.functions._
      graft.tables.Tables.events(spark, Sf0001)
        .withColumn("ts", expr("unix_micros(ts) * 1000L"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, eventsFile.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    dir.getAbsolutePath
  }

  /** ANNOTATED-NANOS events fixture: `ts` stored as parquet INT64 with a
    * real TIMESTAMP(NANOS,true) logical annotation — the third physical
    * encoding an archive can ship (distinct from [[NanosFixtureDir]]'s
    * un-annotated raw int64). Spark cannot WRITE this type, so the file is
    * produced with parquet-java's example API directly (parquet-hadoop is
    * on Spark's classpath). Without `spark.sql.legacy.parquet.nanosAsLong`
    * the read fails analysis with PARQUET_TYPE_ILLEGAL, which makes this
    * fixture the probe ConfScopeSpec uses to pin that `Tables.events`
    * resolves the schema under the read confs (on a cloned session) and
    * that execution on the caller's unchanged session still decodes
    * correctly. Columns are the minimal
    * (event_id, ts, value) — adaptTs only keys on `ts`. */
  lazy val AnnotatedNanosFixtureDir: String = {
    val dir = new java.io.File("target/fixtures/nanos_annotated").getAbsoluteFile
    val eventsFile = new java.io.File(dir, "events.parquet")
    if (!eventsFile.exists()) {
      dir.mkdirs()
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.schema.MessageTypeParser
      import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      val schema = MessageTypeParser.parseMessageType(
        """message events {
          |  required int64 event_id;
          |  required int64 ts (TIMESTAMP(NANOS,true));
          |  required double value;
          |}""".stripMargin)
      val conf = new org.apache.hadoop.conf.Configuration()
      GroupWriteSupport.setSchema(schema, conf)
      val writer = ExampleParquetWriter.builder(new Path(eventsFile.getAbsolutePath))
        .withConf(conf).build()
      val f = new SimpleGroupFactory(schema)
      (0 until 1000).foreach { i =>
        val g = f.newGroup()
        g.add("event_id", i.toLong)
        // 2024-01-01T00:00:00Z + i seconds, with a sub-microsecond nanos
        // tail (i%1000) so µs truncation is actually exercised
        g.add("ts", 1704067200000000000L + i * 1000000000L + (i % 1000))
        g.add("value", i.toDouble)
        writer.write(g)
      }
      writer.close()
    }
    dir.getAbsolutePath
  }
}
