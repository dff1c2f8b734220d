package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{JoinOps, MergeOps}
import graft.sim.SimilarityOps
import graft.tables.Tables

/** Round-5 pipeline operators: bloom-prefiltered semi-join, SCD2 interval
  * build, int8 quantization, mixture sampling, vocab/OOV coverage. Each is
  * additionally DuckDB-oracle-checked through the driver contract; these
  * specs pin the semantic invariants the hash compare can't express. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- bloomSemiJoin -------------------------------------------------

  test("bloomSemiJoin ≡ plain left_semi join (false positives all removed)") {
    val li = Tables.lineitem(spark, TestSpark.Sf0001)
      .select("l_orderkey", "l_returnflag")
    val urgent = Tables.orders(spark, TestSpark.Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val got = JoinOps.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
      expectedItems = 1 << 16)
    val want = li.join(urgent.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("bloom prefilter has no false negatives and prunes most non-members") {
    import graft.functions.BloomFunctions._
    val keys = spark.range(0, 1000).select(col("id"))
    val blob = keys.agg(bloom_agg(col("id"), 1000, 16384).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe = spark.range(0, 100000).select(col("id"))
      .filter(might_contain(blob, col("id")))
    val survivors = probe.collect().map(_.getLong(0)).toSet
    assert((0L until 1000L).forall(survivors.contains), "false negative!")
    // fpp at 16 bits/key is well under 1%; allow 2% slack on 99k negatives
    assert(survivors.size <= 1000 + 2000, s"too many fps: ${survivors.size}")
  }

  test("bloomSemiJoin with empty dim returns no rows") {
    val li = Tables.lineitem(spark, TestSpark.Sf0001).select("l_orderkey")
    val none = Tables.orders(spark, TestSpark.Sf0001)
      .filter(lit(false)).select("o_orderkey")
    assert(JoinOps.bloomSemiJoin(li, none, "l_orderkey", "o_orderkey", 16).isEmpty)
  }

  test("bloomSemiJoin rejects mismatched key types (raw-byte hash ≠ coercion)") {
    // INT build key vs BIGINT probe key: XxHash64 over raw bytes would
    // produce silent false negatives — the guard must fire instead
    val fact = spark.range(0, 10).select(col("id").as("k"))
    val dim = spark.range(0, 5).select(col("id").cast("int").as("k2"))
    val e = intercept[IllegalArgumentException] {
      JoinOps.bloomSemiJoin(fact, dim, "k", "k2", 16)
    }
    assert(e.getMessage.contains("identical types"))
  }

  test("bloomSemiJoin raises the runtime bloom-filter conf caps to its sizing") {
    // Spark clamps BloomFilterAggregate at the conf maxima (4M items /
    // 67M bits by default); sizing above them must still build the
    // advertised blob instead of degrading silently — on a child session,
    // so the caller's caps stay where they were
    val caps = Seq("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    def callerCaps = spark.conf.getAll.filter { case (k, _) => caps.contains(k) }
    val before = callerCaps
    val fact = spark.range(0, 100).select(col("id").as("k"))
    val dim = spark.range(0, 10).select(col("id").as("k"))
    val blob = JoinOps.bloomBlob(dim, "k", 8000000L, 80000000L)
    assert(org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(blob)).bitSize() >= 80000000L)
    val got = JoinOps.bloomSemiJoin(fact, dim, "k", "k", expectedItems = 8000000L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 10L))
    assert(callerCaps == before)
  }

  // ---- scd2Intervals -------------------------------------------------

  test("scd2Intervals: per-entity intervals tile the history, one current row") {
    val ch = Seq(
      (1L, 10L, "2024-01-01 00:00:00", 5.0),
      (1L, 11L, "2024-02-01 00:00:00", 6.0),
      (1L, 12L, "2024-03-01 00:00:00", 7.0),
      (2L, 20L, "2024-05-01 00:00:00", 9.0)
    ).toDF("ent", "ver", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = MergeOps.scd2Intervals(ch, "ent", "ts", "ver", "9999-12-31 00:00:00")
      .orderBy("ent", "valid_from")
      .collect()
    assert(out.length === 4)
    // each version's valid_to == next version's valid_from within entity
    val e1 = out.filter(_.getAs[Long]("ent") == 1L)
    assert(e1.map(_.getAs[java.sql.Timestamp]("valid_to")).init.toSeq ===
      e1.map(_.getAs[java.sql.Timestamp]("valid_from")).tail.toSeq)
    // exactly one current row per entity, closed at the sentinel
    val current = out.filter(_.getAs[Int]("is_current") == 1)
    assert(current.map(_.getAs[Long]("ent")).toSet === Set(1L, 2L))
    assert(current.forall(_.getAs[java.sql.Timestamp]("valid_to").toString
      .startsWith("9999-12-31")))
  }

  test("scd2Intervals: same-instant changes order by tieBreak deterministically") {
    val ch = Seq(
      (1L, 10L, "2024-01-01 00:00:00"),
      (1L, 11L, "2024-01-01 00:00:00")
    ).toDF("ent", "ver", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val out = MergeOps.scd2Intervals(ch, "ent", "ts", "ver", "9999-12-31 00:00:00")
      .orderBy("ver").collect()
    // lower tieBreak = earlier version: zero-length interval, not current
    assert(out(0).getAs[Int]("is_current") === 0)
    assert(out(1).getAs[Int]("is_current") === 1)
  }

  // ---- int8Quantize --------------------------------------------------

  test("scd2Intervals rejects an unparseable endOfTime sentinel eagerly") {
    val ch = Seq((1L, 10L, "2024-01-01 00:00:00", 5.0)).toDF("ent", "ver", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val e = intercept[IllegalArgumentException] {
      MergeOps.scd2Intervals(ch, "ent", "ts", "ver", "not-a-timestamp")
    }
    assert(e.getMessage.contains("does not cast"))
  }

  test("int8Quantize: q within ±127, reconstruction error ≤ scale/2 + eps") {
    val emb = Tables.embeddings(spark, TestSpark.Sf0001)
    val out = SimilarityOps.int8Quantize(emb, "vec_id", "embedding").collect()
    assert(out.length === emb.count())
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val maxErr = r.getAs[Double]("max_err")
      // clamped tails can exceed scale/2 only when |x| > 127.5·scale; with
      // scale = max|x|/127 that never happens, so the bound is tight
      assert(maxErr <= scale / 2 + 1e-6, s"vec ${r.get(0)}: err=$maxErr scale=$scale")
      assert(r.getAs[Long]("l1_q") >= 127L, "max-|x| element must hit ±127")
    }
  }

  test("int8Quantize: all-zero vector → scale 0, zero error") {
    val z = Seq((1L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val r = SimilarityOps.int8Quantize(z, "vec_id", "embedding").head()
    assert(r.getAs[Double]("scale") === 0.0)
    assert(r.getAs[Long]("l1_q") === 0L)
    assert(r.getAs[Double]("max_err") === 0.0)
  }

  // ---- mixture sampling / vocab OOV (query-level invariants) ---------

  test("q_mix_sample keeps every doc of rate-16 sources, kept is deterministic") {
    val out = graft.queries.TextQueries.queries("q_mix_sample")(spark, TestSpark.Sf0001)
    val rows = out.collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, docs) =>
      val n = src.replaceAll("\\D", "").toInt
      val kept = docs.count(_.getAs[Int]("kept") == 1)
      if (n % 3 == 0) assert(kept === docs.length, s"$src must keep all")
      else assert(kept <= docs.length)
    }
    // determinism: same result on a re-run
    val again = graft.queries.TextQueries.queries("q_mix_sample")(spark, TestSpark.Sf0001)
    assert(out.exceptAll(again).isEmpty)
  }

  test("applyCdc: last-seq wins, delete beats earlier update, insert lands, " +
       "untouched rows ride through; duplicate seq fails fast") {
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "t", "v")
    val cdc = Seq(
      ("U", 1L, 1L, "a", 11.0), ("U", 1L, 2L, "a", 12.0), // last wins → 12
      ("U", 2L, 1L, "b", 21.0), ("D", 2L, 2L, "b", 0.0),  // delete wins
      ("I", 9L, 1L, "z", 99.0))                           // fresh insert
      .toDF("op", "id", "seq", "t", "v")
    val out = graft.ops.MergeOps.applyCdc(snap, cdc, "id", "op", "seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq((1L, "a", 12.0), (3L, "c", 30.0), (9L, "z", 99.0)))

    val dup = Seq(("U", 1L, 1L, "a", 1.0), ("D", 1L, 1L, "a", 0.0))
      .toDF("op", "id", "seq", "t", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ops.MergeOps.applyCdc(snap, dup, "id", "op", "seq")
    }
    assert(e.getMessage.contains("nondeterministic"))
  }

  test("q_vocab_oov rates in [0,1], tokens add up over sources") {
    val out = graft.queries.TextQueries.queries("q_vocab_oov")(spark, TestSpark.Sf0001)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val rate = r.getAs[Double]("oov_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens"))
    }
  }

  test("compression stats: boilerplate compresses far below high-entropy " +
      "text; empty doc routes to the empty bucket") {
    import spark.implicits._
    val rep = ("spam and eggs " * 100).trim
    val rand = (0 until 100)
      .map(i => graft.text.TextOps.md5Hex(s"salt$i").take(8)).mkString(" ")
    val df = Seq((0L, rep), (1L, rand), (2L, "")).toDF("doc_id", "text")
    val st = graft.text.TextOps.compressionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // raw lengths are the exact UTF-8 byte counts
    assert(st(0L)._1 == rep.length && st(1L)._1 == rand.length)
    assert(st(2L) == (0L, 8L) || st(2L)._1 == 0L) // empty deflate stream is a few bytes
    val (r0, r1) = (st(0L)._2.toDouble / st(0L)._1, st(1L)._2.toDouble / st(1L)._1)
    assert(r0 < 0.1, s"boilerplate ratio $r0 not tiny")
    assert(r1 > 0.5, s"hex-salad ratio $r1 should barely compress")
    assert(r0 < r1 / 3)
  }
}
