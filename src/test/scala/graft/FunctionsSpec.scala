package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{VectorFunctions, WordShingles}
import graft.text.TextOps

/** Native expressions must agree with their composable-builtin equivalents
  * (the formulations the DuckDB oracles mirror). */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("vec_dot matches higher-order aggregate formulation (float arrays)") {
    val df = Seq(
      (Array(1.0f, 2.5f, -3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f))
    ).toDF("a", "b")
    val hof = aggregate(
      zip_with(transform($"a", _.cast("double")), transform($"b", _.cast("double")),
        (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val rows = df.select(VectorFunctions.vec_dot($"a", $"b").as("native"), hof.as("ref"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("vec_dot null array yields null; interpreted eval matches codegen") {
    val df = Seq((Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
    val r = df.select(VectorFunctions.vec_dot($"a", $"b")).collect()
    assert(r.head.isNullAt(0))
  }

  test("word_shingles matches the lambda formulation on real documents") {
    val docs = graft.tables.Tables.documents(spark, TestSpark.Sf0001).limit(200)
    val toks = regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))
    val lambdaShingles = when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3))))))
      .otherwise(array().cast("array<string>"))
    val diff = docs.select(
        TextOps.shingles(col("text"), 3).as("native"),
        lambdaShingles.as("ref"))
      .filter(not(col("native") === col("ref")))
      .count()
    assert(diff == 0)
  }

  test("word_shingles edge cases: short docs, extra whitespace, case folding") {
    val df = Seq(
      (0L, "one two"),              // < n tokens → empty
      (1L, "  A   b\tC  d "),       // whitespace runs + case folding
      (2L, "x y z x y z x y z")     // repeated shingles → distinct
    ).toDF("id", "t")
    val got = df.select(col("id"), TextOps.shingles(col("t"), 3).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L).isEmpty)
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).toSet == Set("x y z", "y z x", "z x y"))
  }

  test("minhash signatures: length k, deterministic, identical docs agree") {
    val df = Seq((0L, "a b c d e f g"), (1L, "a b c d e f g"),
      (2L, "completely different words here now")).toDF("doc_id", "text")
    val sigs = graft.dedup.DedupOps.minhashSignatures(df, "doc_id", "text", 3, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.values.forall(_.length == 64))
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(2L))
    val again = graft.dedup.DedupOps.minhashSignatures(df, "doc_id", "text", 3, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == sigs)
  }

  test("topk_by: hand case with ties, eviction, and a group smaller than k") {
    import graft.functions.TopKByAgg.topk_by
    val df = Seq(
      // group 0: 5 entries, tie at ord=50 broken toward smaller id
      (0L, 50L, 7L), (0L, 50L, 3L), (0L, 90L, 9L), (0L, 10L, 1L), (0L, 70L, 2L),
      // group 1: fewer entries than k
      (1L, 5L, 11L), (1L, 6L, 12L)
    ).toDF("g", "m", "id")
    val got = df.groupBy("g").agg(topk_by(col("m"), col("id"), 3).as("tk"))
      .orderBy("g")
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getLong(0), e.getLong(1))))
      .toSeq
    assert(got == Seq(
      0L -> Seq((90L, 9L), (70L, 2L), (50L, 3L)),
      1L -> Seq((6L, 12L), (5L, 11L))))
  }

  test("topk_by: Long.MinValue ord (the ascending-NaN sentinel) sorts last") {
    import graft.functions.TopKByAgg.topk_by
    // rankTopK's ascending path encodes NaN as ord = Long.MinValue so it
    // ranks LAST; a negation-based sort (-Long.MinValue overflows back to
    // Long.MinValue) would emit it at rank 1 instead
    val df = Seq(
      (0L, Long.MinValue, 99L), (0L, 5L, 1L), (0L, 7L, 2L)
    ).toDF("g", "m", "id")
    val got = df.groupBy("g").agg(topk_by(col("m"), col("id"), 3).as("tk"))
      .select(explode(col("tk")).as("e")).select("e.id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L, 1L, 99L))
  }

  test("gram_micro: negative half-micro tie rounds away from zero") {
    import graft.functions.GramMicroAgg.gram_micro
    // 0.0625·(−0.125)·1e6 = −7812.5 EXACTLY (odd multiple of 1/128):
    // DuckDB round() gives −7813 (away from zero); floor(p+0.5) gives −7812
    val df = Seq(Array(0.0625, -0.125)).toDF("v")
    val got = df.agg(gram_micro(col("v"), 2).as("g"))
      .select(explode(col("g")).as("e")).select("e.i", "e.j", "e.s")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((1, 1, 3906L), (1, 2, -7813L), (2, 2, 15625L)))
  }

  test("gram_micro: hand case, merge across partitions, dims contract") {
    import graft.functions.GramMicroAgg.gram_micro
    // rows (1,2) and (3,4): sums x1x1=1+9=10, x1x2=2+12=14, x2x2=4+16=20
    val df = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f)).toDF("v")
    val got = df.repartition(2)
      .agg(gram_micro(col("v"), 2).as("g"))
      .select(explode(col("g")).as("e"))
      .select("e.i", "e.j", "e.s")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((1, 1, 10000000L), (1, 2, 14000000L), (2, 2, 20000000L)))
    // a ragged row violates the dims contract loudly, never silently
    val ragged = Seq(Array(1.0f, 2.0f), Array(1.0f)).toDF("v")
    intercept[Exception] {
      ragged.agg(gram_micro(col("v"), 2)).collect()
    }
  }

  test("topk_by_pay: payload rides eviction/merges untouched and never orders") {
    import graft.functions.TopKByAgg.topk_by_pay
    // payload = id * 100 (checkable); adversarial payload values on the
    // ord tie must NOT influence which entry wins (tie → smaller id)
    val df = Seq(
      (0L, 50L, 7L, 700L), (0L, 50L, 3L, 300L), (0L, 90L, 9L, 900L),
      (0L, 10L, 1L, 100L), (0L, 70L, 2L, 200L),
      (1L, 5L, 11L, 1100L), (1L, 6L, 12L, 1200L)
    ).toDF("g", "m", "id", "p")
    val got = df.repartition(5).groupBy("g")
      .agg(topk_by_pay(col("m"), col("id"), col("p"), 3).as("tk"))
      .orderBy("g")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getLong(0), e.getLong(1), e.getLong(2))))
      .toSeq
    assert(got == Seq(
      0L -> Seq((90L, 9L, 900L), (70L, 2L, 200L), (50L, 3L, 300L)),
      1L -> Seq((6L, 12L, 1200L), (5L, 11L, 1100L))))
  }

  test("topk_by equals the rank-window formulation per event user (many merges)") {
    import graft.functions.TopKByAgg.topk_by
    // repartition(7) forces partial buffers + merges across partitions
    val ev = graft.tables.Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("m"))
      .repartition(7)
    val agg = ev.groupBy("user_id")
      .agg(topk_by(col("m"), col("event_id"), 4).as("tk"))
      .select(col("user_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("user_id"), (col("pos") + 1).as("rank"),
        col("e.id").as("event_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("m").desc, col("event_id"))
    val win = ev.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select("user_id", "rank", "event_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(agg.nonEmpty && agg == win)
  }

  test("bpeMerges learns the hand-computed merge sequence and stops when dry") {
    // words: aaab ×2, ab ×1.
    // step 1: pairs (a,a)=4 [two per aaab], (a,b)=3 [one each] → merge (a,a)
    // step 2: aaab=[aa,a,b], ab=[a,b] → (aa,a)=2, (a,b)=3 → merge (a,b)
    // step 3: aaab=[aa,ab], ab=[ab] → (aa,ab)=2 → merge
    // step 4: no pairs left → training stops at 3 merges
    val docs = Seq((1L, "aaab ab aaab")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, "text", steps = 10)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1, "a", "a", 4L), (2, "a", "b", 3L), (3, "aa", "ab", 2L)))
  }

  test("bpeMerges: leftmost-greedy merge semantics ([a,a,a] -> [aa,a])") {
    // "aaa": step-1 pair (a,a) counts 2 (overlapping adjacencies both
    // count), but the merge application is leftmost non-overlapping, so
    // step 2 must see [aa,a] — pair (aa,a), not (a,aa)
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, "text", steps = 2)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 2L), (2, "aa", "a", 1L)))
  }

  test("bpe_token_count: greedy longest-match, char fallback, token boundaries") {
    import spark.implicits._
    val vocab = Seq("ab", "abc", "bc", "cd")
    def counts(texts: String*): Seq[Int] =
      texts.toDF("t").select(
        graft.functions.BpeTokens.bpe_token_count(col("t"), vocab))
        .collect().map(_.getInt(0)).toSeq
    // "abcd": longest at 0 is "abc" (not "ab"), then "d" falls back → 2;
    // greedy is NOT optimal ("ab"+"cd" would be 2 as well here, but
    // "abce" → abc+e=2 vs ab+?? — pin the greedy choice explicitly below)
    assert(counts("abcd") == Seq(2))
    // greedy pins: "abce" = abc+e (2), never ab+ce
    assert(counts("abce") == Seq(2))
    // no vocab match → one token per char
    assert(counts("xyz") == Seq(3))
    // whitespace splits reset matching; case folds before matching
    assert(counts("AB cd", "ab\tcd\n") == Seq(2, 2))
    // a match must not span a token boundary: "a b" is 2 single chars
    assert(counts("a b") == Seq(2))
    // empty + whitespace-only
    assert(counts("", "  \t ") == Seq(0, 0))
    // empty vocab → pure char counting
    val n = Seq("abc d").toDF("t").select(
      graft.functions.BpeTokens.bpe_token_count(col("t"), Seq.empty))
      .collect().head.getInt(0)
    assert(n == 4)
    // interpreted eval path (nullSafeEval) agrees with the codegen runs above
    val expr = graft.functions.BpeTokenCount(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        "abcd xyz", org.apache.spark.sql.types.StringType),
      vocab)
    assert(expr.eval(null) == 5)
  }

  test("map-only minhash_text_sig is bit-identical to the explode+agg pipeline") {
    // the streaming ingest path signs per row with MinHashTextSig; the
    // batch path explodes shingles through xxhash64 into MinHashSigAgg —
    // the two MUST produce the same signature for batch/stream bucketing
    // to agree (StreamingOps.runStreamNearDupOnce relies on it)
    val docs = graft.tables.Tables.documents(spark, TestSpark.Sf0001).limit(200)
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.MinHashSig.minhash_text_sig(col("text"), 3, 32, 7L).as("sig"))
    // the aggregate pipeline built INLINE — DedupOps.minhashSignatures
    // now routes through the kernel itself, so going via it would
    // compare the kernel to the kernel and pin nothing; the comparison
    // runs on a child session with the object-agg fallback raised
    val joined = graft.util.Sessions.scoped(viaKernel,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072") { k =>
      val viaAgg = graft.dedup.DedupOps.shingleSets(docs, "doc_id", "text", 3)
        .withColumn("h", xxhash64(col("shingle")))
        .groupBy("doc_id")
        .agg(graft.functions.MinHashSigAgg.minhash_sig(col("h"), 32, 7L).as("sig"))
      // full outer on doc_id, any row with differing sigs is a failure;
      // docs with <n tokens have NO agg row (nothing to explode) — the
      // kernel yields the empty-buffer signature there, same as the agg's
      // createAggregationBuffer, so only compare where both exist
      k.as("k").join(viaAgg.as("a"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("k.sig").as("ks"), col("a.sig").as("as"))
        .collect()
    }
    assert(joined.nonEmpty)
    joined.foreach { r =>
      if (!r.isNullAt(2))
        assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}")
      else
        // no shingles: kernel must emit the all-Prime empty signature
        assert(r.getSeq[Long](1).forall(_ == graft.functions.MinHashSig.Prime),
          s"doc ${r.getLong(0)} kernel sig not empty-buffer")
    }
  }
}
