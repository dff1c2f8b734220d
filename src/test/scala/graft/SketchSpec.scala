package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Approximate-sketch error bounds vs exact answers — the 100 TB path for
  * cardinality/quantile questions where exact shuffles are unaffordable.
  * (No DuckDB oracle by nature; bounds pinned here instead.) */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("approx_count_distinct within 5% of exact per group") {
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
    val rows = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"),
           approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.05, s"${r.getString(0)}: exact=$e approx=$a")
    }
  }

  test("cms_sketch: exact on a collision-free sketch, hand-placed counters") {
    import spark.implicits._
    val items = Seq("a", "a", "a", "b", "b", "c").toDF("x")
    val depth = 2; val width = 4096
    def fields = graft.text.TextOps.md5Fields(col("x"), depth, width)
    val sk = items.agg(graft.functions.CmsSketchAgg.cms_sketch(
      fields, depth, width)).head.getSeq[Long](0)
    assert(sk.length == depth * width)
    assert(sk.sum == depth * 6) // every occurrence lands once per row
    // point estimates: min over rows at the item's hashed columns
    val est = Seq("a", "b", "c").toDF("x")
      .select(col("x"), least((0 until depth).map(r =>
        element_at(typedLit(sk),
          (element_at(fields, r + 1) + lit(r * width) + 1).cast("int"))): _*))
      .as[(String, Long)].collect().toMap
    assert(est == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
  }

  test("cms_sketch: overestimates only, and partial-merge invariant") {
    import spark.implicits._
    val bgs = graft.tables.Tables.documents(spark, TestSpark.Sf0001)
      .select(explode(graft.functions.WordShingles.word_shingles(
        col("text"), 2, distinct = false)).as("bg"))
    val depth = 4; val width = 32 // narrow on purpose: force collisions
    def fields = graft.text.TextOps.md5Fields(col("bg"), depth, width)
    val agg = graft.functions.CmsSketchAgg.cms_sketch(fields, depth, width)
    val sk1 = bgs.repartition(1).agg(agg).head.getSeq[Long](0)
    val sk8 = bgs.repartition(8).agg(agg).head.getSeq[Long](0)
    assert(sk1 == sk8) // sketch is a linear projection: merge order irrelevant
    val est = least((0 until depth).map(r =>
      element_at(typedLit(sk1),
        (element_at(fields, r + 1) + lit(r * width) + 1).cast("int"))): _*)
    val rows = bgs.groupBy("bg").agg(count(lit(1)).as("exact"))
      .select(est.as("est"), col("exact")).as[(Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (e, x) => assert(e >= x, s"CMS must never undercount: $e < $x") }
    assert(rows.exists { case (e, x) => e > x }, "width 32 should collide somewhere")
  }

  test("cms_sketch: SQL registration path") {
    graft.functions.GraftFunctions.register(spark)
    val sk = spark.sql(
      """SELECT cms_sketch(array(CAST(id % 8 AS BIGINT), CAST(id % 8 AS BIGINT)), 2, 8)
        |FROM range(16)""".stripMargin).head.getSeq[Long](0)
    assert(sk.length == 16 && sk.forall(_ == 2L)) // 16 ids spread 2-per-column per row
  }

  test("cms_sketch: malformed caller-hashed input fails fast, not cross-row") {
    graft.functions.GraftFunctions.register(spark)
    def chainMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    // column index >= width: must error, not silently bump another row's counter
    val oob = intercept[Exception] {
      spark.sql("SELECT cms_sketch(array(CAST(9 AS BIGINT)), 1, 8) FROM range(1)")
        .collect()
    }
    assert(chainMessages(oob).contains("out of [0, 8)"), chainMessages(oob))
    // wrong arity (one index for a depth-2 sketch): descriptive, not AIOOBE
    val arity = intercept[Exception] {
      spark.sql("SELECT cms_sketch(array(CAST(0 AS BIGINT)), 2, 8) FROM range(1)")
        .collect()
    }
    assert(chainMessages(arity).contains("2 row indexes"), chainMessages(arity))
  }

  test("hll_registers: corrected estimate within 5% at 50k distinct keys") {
    import graft.functions.HllRegisterAgg._
    val p = 9
    val regs = spark.range(50000)
      .select(graft.text.TextOps.md5Key64(col("id"), "hllspec:").as("k"))
      .agg(hll_registers(col("k"), p).as("regs"))
    val est = regs.select(hllEstimate(col("regs"), p)).head.getDouble(0)
    assert(math.abs(est - 50000.0) / 50000.0 <= 0.05, s"est=$est")
  }

  test("hll_registers: partial-merge and input-order invariant (max-merge)") {
    import graft.functions.HllRegisterAgg._
    def regsOf(df: org.apache.spark.sql.Dataset[java.lang.Long]) =
      df.select(graft.text.TextOps.md5Key64(col("id"), "hllspec:").as("k"))
        .agg(hll_registers(col("k"), 9))
        .head.getSeq[Int](0)
    val one = regsOf(spark.range(20000).coalesce(1))
    val many = regsOf(spark.range(20000).repartition(13))
    // duplicates cannot move any register (idempotent max)
    val dup = regsOf(spark.range(20000).unionAll(spark.range(5000)))
    assert(one == many && one == dup)
    assert(one.length == 512 && one.forall(r => r >= 0 && r <= 52))
  }

  test("hll_registers: SQL registration path and small-range linear counting") {
    import graft.functions.HllRegisterAgg._
    graft.functions.GraftFunctions.register(spark)
    // 3 distinct tiny keys: raw estimate is useless here, the corrected
    // estimator must take the linear-counting branch and be near-exact
    val regs = spark.sql(
      """SELECT hll_registers(CAST(conv(substr(md5(CAST(CAST(id % 3 AS STRING) AS BINARY)), 1, 15),
        |       16, 10) AS BIGINT), 9) AS regs FROM range(100)""".stripMargin)
    val est = regs.select(hllEstimate(col("regs"), 9)).head.getDouble(0)
    assert(math.abs(est - 3.0) <= 0.05, s"est=$est")
  }

  test("hll_registers: out-of-range key fails fast") {
    graft.functions.GraftFunctions.register(spark)
    def chainMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val neg = intercept[Exception] {
      spark.sql("SELECT hll_registers(CAST(-1 AS BIGINT), 9) FROM range(1)").collect()
    }
    assert(chainMessages(neg).contains("pre-hash with md5Key64"), chainMessages(neg))
    val wide = intercept[Exception] {
      spark.sql("SELECT hll_registers(CAST(2305843009213693952 AS BIGINT), 9) FROM range(1)")
        .collect()
    }
    assert(chainMessages(wide).contains("pre-hash with md5Key64"), chainMessages(wide))
  }

  test("approx_percentile within 2% relative error of exact interpolated median") {
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
    val rows = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("exact"),
           expr("approx_percentile(value, 0.5, 1000)").as("approx"))
      .collect()
    rows.foreach { r =>
      val (e, a) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(a - e) / math.max(math.abs(e), 1.0) <= 0.02,
        s"${r.getString(0)}: exact=$e approx=$a")
    }
  }

  test("hist_sketch: counts exact, clamping to edge bins, NaN/null skipped") {
    import spark.implicits._
    import graft.functions.HistogramAgg
    val vals = Seq[java.lang.Double](1.0, 7.9, 8.0, 100.0, 511.9, 512.0,
      900.0, -3.0, Double.NaN, null).toDF("v")
    val h = vals.agg(HistogramAgg.hist_sketch(col("v"), 0.0, 512.0, 64).as("h"))
      .collect()(0).getSeq[Long](0)
    assert(h.length === 64)
    assert(h.sum === 8L) // NaN + null skipped
    assert(h(0) === 3L)  // 1.0, 7.9, and clamped -3.0
    assert(h(1) === 1L)  // 8.0 starts bin 1
    assert(h(12) === 1L) // 100.0
    assert(h(63) === 3L) // 511.9 + clamped 512.0, 900.0
  }

  test("hist_sketch merge == single pass; quantile within one bin width of exact") {
    import graft.functions.HistogramAgg
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
    // split-merge vs one pass: per-half sketches summed element-wise
    val whole = ev.agg(HistogramAgg.hist_sketch(col("value"), 0.0, 512.0, 64).as("h"))
      .collect()(0).getSeq[Long](0)
    val halves = ev.withColumn("half", col("event_id") % 2)
      .groupBy("half")
      .agg(HistogramAgg.hist_sketch(col("value"), 0.0, 512.0, 64).as("h"))
      .collect().map(_.getSeq[Long](1))
    val merged = halves.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    assert(merged === whole)

    val rows = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("exact"),
           HistogramAgg.hist_sketch(col("value"), 0.0, 512.0, 64).as("h"))
      .select(col("event_type"), col("exact"),
        HistogramAgg.histQuantile(col("h"), 0.5, 0.0, 512.0, 64).as("est"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getDouble(1)) <= 8.0,
        s"${r.getString(0)}: exact=${r.getDouble(1)} est=${r.getDouble(2)}")
    }
  }

  test("kmv_sketch: under-full is exact and sorted; split-merge ≡ single pass; 15% at 50k keys") {
    import spark.implicits._
    import graft.functions.KmvAgg
    // under-full: all keys kept, ascending, estimate = exact count
    val small = (0L until 100L).map(i => i * 1000L + 7L).toDF("k")
    val mins = small.agg(KmvAgg.kmv_sketch(col("k"), 512).as("m"))
      .select(col("m"), KmvAgg.kmvEstimate(col("m"), 512).as("est"))
      .collect()(0)
    val arr = mins.getSeq[Long](0)
    assert(arr.length === 100 && arr == arr.sorted)
    assert(mins.getDouble(1) === 100.0)

    // 50k distinct md5 keys: estimate within 15% (σ ≈ 4.4% at k=512)
    val big = spark.range(50000)
      .select(graft.text.TextOps.md5Key64(col("id").cast("string"), "kmvtest:").as("k"))
      .cache()
    val whole = big.agg(KmvAgg.kmv_sketch(col("k"), 512).as("m"))
      .select(col("m"), KmvAgg.kmvEstimate(col("m"), 512).as("est")).collect()(0)
    assert(math.abs(whole.getDouble(1) - 50000.0) / 50000.0 <= 0.15,
      s"est=${whole.getDouble(1)}")

    // merge = set-union-recap: per-third sketches merged in JVM equal one pass
    val thirds = big.withColumn("g", col("k") % 3)
      .groupBy("g").agg(KmvAgg.kmv_sketch(col("k"), 512).as("m"))
      .collect().map(_.getSeq[Long](1))
    val merged = thirds.flatten.distinct.sorted.take(512).toSeq
    assert(merged === whole.getSeq[Long](0))
  }

  test("kmvJaccard: planted 1/3 overlap within ±0.1; out-of-range key fails fast") {
    import spark.implicits._
    import graft.functions.KmvAgg
    def keys(lo: Int, hi: Int, tag: String) = (lo until hi)
      .map(i => s"item$i").toDF("s")
      .select(lit(tag).as("g"), graft.text.TextOps.md5Key64(col("s"), "kmvj:").as("k"))
    val sk = keys(0, 1000, "a").unionByName(keys(500, 1500, "b"))
      .groupBy("g").agg(KmvAgg.kmv_sketch(col("k"), 512).as("m"))
    val est = sk.as("x").join(sk.as("y"), col("x.g") < col("y.g"))
      .select(KmvAgg.kmvJaccard(col("x.m"), col("y.m"), 512))
      .collect()(0).getDouble(0)
    assert(math.abs(est - 1.0 / 3.0) <= 0.1, s"jaccard est $est, truth 0.333")

    val bad = intercept[Exception] {
      Seq(-1L).toDF("k").agg(KmvAgg.kmv_sketch(col("k"), 512)).collect()
    }
    assert(bad.getMessage != null)
  }

  test("histQuantile: empty sketch → null, q=1 lands in the last occupied bin") {
    import spark.implicits._
    import graft.functions.HistogramAgg
    val empty = Seq[java.lang.Double](null).toDF("v")
      .agg(HistogramAgg.hist_sketch(col("v"), 0.0, 512.0, 64).as("h"))
      .select(HistogramAgg.histQuantile(col("h"), 0.5, 0.0, 512.0, 64))
      .collect()(0)
    assert(empty.isNullAt(0))
    val one = Seq(100.0).toDF("v")
      .agg(HistogramAgg.hist_sketch(col("v"), 0.0, 512.0, 64).as("h"))
      .select(HistogramAgg.histQuantile(col("h"), 1.0, 0.0, 512.0, 64))
      .collect()(0).getDouble(0)
    // single value in bin 12 [96,104): rank 1 of 1 → 96 + 1/1·8 = 104
    assert(one === 104.0)
  }

  test("q_join_card: CMS inner-product estimate bounds the exact join " +
      "size from above and lands within the εN·M envelope") {
    val r = SparkEntry.queries("q_join_card")(spark, TestSpark.Sf0001)
      .collect()(0)
    val (est, exact) = (r.getLong(0), r.getLong(1))
    assert(exact > 0, "audit join is empty — key domains drifted")
    // the sketch is a non-negative linear projection: every dot term
    // ≥ the matching true-frequency product, so est ≥ exact always
    assert(est >= exact, s"est $est below exact $exact")
    // ε = e/width envelope on the cross term: N·M/width collision mass
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001).count()
    val or = graft.tables.Tables.orders(spark, TestSpark.Sf0001).count()
    assert(est - exact <= math.ceil(math.E * ev * or / 512.0).toLong,
      s"est $est exceeds the εN·M bound over exact $exact")
  }

  test("LongArrayAgg base: serde round trip and order-free partial merge " +
      "for cms_sketch, hist_sketch, minhash_sig and gram_micro") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.functions._
    val rng = new scala.util.Random(7)
    def in(t: DataType) = BoundReference(0, t, nullable = true)
    def arr(xs: Array[_]) = InternalRow(new GenericArrayData(xs))
    val cases: Seq[(String, LongArrayAgg, Seq[InternalRow])] = Seq(
      ("cms_sketch", CmsSketchAgg(in(ArrayType(LongType)), 3, 16),
        Seq.fill(300)(arr(Array.fill(3)(rng.nextInt(16).toLong)))),
      ("hist_sketch", HistogramAgg(in(DoubleType), -1.0, 1.0, 8),
        Seq.fill(300)(InternalRow(rng.nextGaussian()))),
      ("minhash_sig", MinHashSigAgg(in(LongType), 16, 42L),
        Seq.fill(300)(InternalRow(rng.nextLong()))),
      ("gram_micro", GramMicroAgg(in(ArrayType(DoubleType)), 4),
        Seq.fill(300)(arr(Array.fill(4)(rng.nextDouble() - 0.5)))))
    cases.foreach { case (name, agg, rows) =>
      def fold(rs: Seq[InternalRow]) =
        rs.foldLeft(agg.createAggregationBuffer())(agg.update)
      val single = fold(rows)
      val bytes = agg.serialize(single)
      assert(bytes.length == 8 * single.length, name)
      assert(agg.deserialize(bytes).sameElements(single), s"$name: serde")
      val (l, r) = rows.splitAt(rows.size / 3)
      assert(agg.merge(fold(l), fold(r)).sameElements(single), s"$name: l+r")
      assert(agg.merge(fold(r), fold(l)).sameElements(single), s"$name: r+l")
      assert(agg.merge(agg.createAggregationBuffer(), fold(rows)).sameElements(single),
        s"$name: the empty buffer is the merge identity")
    }
  }
}
