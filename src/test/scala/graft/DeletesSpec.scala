package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Deletes, SkipIndex}
import graft.tables.Tables

/** Key-level deletion vectors (Deletes): tombstone-excluded logical reads,
  * bloom-routed physical apply that rewrites ONLY affected files, and the
  * archive behaving afterwards as if the rows never existed. */
class DeletesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def freshArchive(name: String): String = {
    val dir = new java.io.File(s"target/fixtures/$name").getAbsolutePath
    SkipIndex.writeTimeClustered(
      Tables.events(spark, TestSpark.Sf0001)
        .withColumn("trace_id", md5(col("event_id").cast("string")))
        .select("event_id", "ts", "trace_id", "value"),
      "ts", dir)
    dir
  }

  test("logical read excludes tombstoned keys; apply makes it physical; " +
       "only affected files rewritten") {
    val dir = freshArchive("events_del_spec")
    val doomedIds = Seq(21L, 333L, 555L, 777L, 901L)
    val doomed = doomedIds.map(id => md5Hex(id.toString))
    Deletes.addTombstones(spark, dir, doomed)

    // logical read: exactly the doomed rows gone, nothing else
    val logical = Deletes.readWithDeletes(spark, dir, "trace_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(logical == all -- doomedIds)

    // snapshot every file's (size, mtime) before the apply
    def snapshot() = {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => st.getPath.getName ->
          (st.getLen, st.getModificationTime)).toMap
    }
    val before = snapshot()

    val bidx = SkipIndex.buildBloomIndex(spark, dir, "trace_id",
      expectedItemsPerFile = 4096, numBits = 1L << 16)
    val rewritten = Deletes.applyDeletes(spark, dir, "trace_id", bidx)
    val after = snapshot()

    // only the affected files changed; every other file is byte-identical
    val changedNames = rewritten.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    assert(changedNames.nonEmpty && changedNames.size < before.size,
      s"${changedNames.size} of ${before.size} rewritten")
    (before.keySet -- changedNames).foreach { name =>
      assert(after(name) == before(name), s"untouched file $name changed")
    }

    // physical read now equals the logical read; tombstones cleared
    val physical = spark.read.parquet(dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(physical == logical)
    assert(Deletes.loadTombstones(spark, dir).count() == 0)

    // re-apply with nothing pending is a no-op
    assert(Deletes.applyDeletes(spark, dir, "trace_id", bidx).isEmpty)
  }

  test("stale MATERIALIZED bloom index routing to rewritten-away files: " +
       "dead paths dropped, pass survives and still deletes correctly") {
    val dir = freshArchive("events_del_stale")
    // materialize the index BEFORE any delete — a live buildBloomIndex
    // plan would re-read the current files and never go stale; a
    // persisted/cached index is a VALUE and does
    val live = SkipIndex.buildBloomIndex(spark, dir, "trace_id",
      expectedItemsPerFile = 4096, numBits = 1L << 16)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
      java.util.Arrays.asList(live.collect(): _*))
    val stale = spark.createDataFrame(rows, live.schema)

    // pass 1 rewrites the files holding these keys under fresh rw-* names
    val doomed1 = Seq(21L, 333L, 555L)
    Deletes.addTombstones(spark, dir, doomed1.map(id => md5Hex(id.toString)))
    val rw1 = Deletes.applyDeletes(spark, dir, "trace_id", stale)
    assert(rw1.nonEmpty)

    // pass 2 with the SAME stale index: neighbors of the pass-1 keys live
    // in the same (now vanished) original files, so the routed candidate
    // list names dead paths — the pass must drop them, not die on
    // path-not-found, and the fresh rw-* files (uncovered by the stale
    // index) must still be confirm-scanned so the deletes land
    val doomed2 = Seq(20L, 22L, 334L, 556L)
    // non-vacuity: the stale index really does route these keys to at
    // least one path pass 1 deleted — the scenario under test
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val routedStale = SkipIndex.pruneCollectedByKeys(
      rows.toArray(Array.empty[org.apache.spark.sql.Row]).toIndexedSeq,
      doomed2.map(id => md5Hex(id.toString)))
    assert(routedStale.exists(f =>
      !fs.exists(new org.apache.hadoop.fs.Path(f))),
      "fixture failed to produce a dead routed path — scenario not exercised")
    Deletes.addTombstones(spark, dir, doomed2.map(id => md5Hex(id.toString)))
    Deletes.applyDeletes(spark, dir, "trace_id", stale)

    val physical = spark.read.parquet(dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert((doomed1 ++ doomed2).forall(id => !physical.contains(id)))
    val expected = Tables.events(spark, TestSpark.Sf0001)
      .select("event_id").collect().map(_.getLong(0)).toSet --
      doomed1 -- doomed2
    assert(physical == expected)
  }

  test("rewritten files keep prunable timestamp stats (zones stay tight)") {
    val dir = freshArchive("events_del_zones")
    Deletes.addTombstones(spark, dir, Seq(md5Hex("42")))
    val bidx = SkipIndex.buildBloomIndex(spark, dir, "trace_id",
      expectedItemsPerFile = 4096, numBits = 1L << 16)
    val rewritten = Deletes.applyDeletes(spark, dir, "trace_id", bidx)
    assert(rewritten.nonEmpty)
    // rewrites land under FRESH rw-* names (immutable-by-name, so the
    // incremental footer refresh re-reads them) and the rebuilt index
    // must carry real stats for every file, rewritten ones included
    val idx = SkipIndex.buildFooterIndex(spark, dir)
    assert(SkipIndex.unprunableFiles(idx).count() == 0)
    val oldNames = rewritten.map(f =>
      new org.apache.hadoop.fs.Path(f).getName).toSet
    val idxNames = idx.collect().map(r =>
      new org.apache.hadoop.fs.Path(r.getString(0)).getName).toSet
    assert(oldNames.forall(n => !idxNames.contains(n)),
      "an original name survived an in-place rewrite")
    val rows = idx.collect().filter(
      _.getString(0).contains("/rw-"))
    assert(rows.size == rewritten.size)
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(4),
      s"rewritten file lost its ts stats: $r"))
  }

  test("streamed deletion requests: logical view excludes all batches; " +
       "redelivered keys absorbed") {
    val dir = freshArchive("events_del_stream")
    val batches = Seq(Seq(21L, 333L, 555L), Seq(777L, 901L))
      .map(_.map(id => md5Hex(id.toString)))
    val view = graft.streaming.StreamingOps
      .runStreamDeletesOnce(spark, dir, "trace_id", batches)
    val got = view.select("event_id").collect().map(_.getLong(0)).toSet
    val all = spark.read.parquet(dir)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == all -- Seq(21L, 333L, 555L, 777L, 901L))
    // redelivery: appending the same keys again changes nothing
    Deletes.addTombstones(spark, dir, batches.head)
    val again = Deletes.readWithDeletes(spark, dir, "trace_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(again == got)
    assert(Deletes.loadTombstones(spark, dir).count() == 5)
  }

  test("deleting every row of a file drops the file itself") {
    import spark.implicits._
    val dir = new java.io.File("target/fixtures/events_del_wholefile").getAbsolutePath
    // 2 one-day files; day 1 dies entirely
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 3.0))
      .toDF("event_id", "ts", "value")
      .withColumn("trace_id", md5(col("event_id").cast("string")))
    SkipIndex.writeTimeClustered(rows, "ts", dir, numFiles = 2)
    Deletes.addTombstones(spark, dir, Seq("1", "2").map(md5Hex))
    val bidx = SkipIndex.buildBloomIndex(spark, dir, "trace_id", 16, 1L << 12)
    Deletes.applyDeletes(spark, dir, "trace_id", bidx)
    val left = spark.read.parquet(dir).select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(3L))
  }
}
