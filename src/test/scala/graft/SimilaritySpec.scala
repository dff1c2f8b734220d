package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sim.SimilarityOps
import org.apache.spark.sql.functions._

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine of hand-computed vectors") {
    val df = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f)), (3L, Array(2.0f, 0.0f))).toDF("vec_id", "embedding")
    val pairs = SimilarityOps.cosinePairs(df, "vec_id", "embedding", -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) == 0.0)
    assert(pairs((0L, 3L)) == 1.0)
    assert(math.abs(pairs((0L, 2L)) - math.sqrt(0.5)) < 1e-6)
  }

  test("NaN cosine ranks greatest-first and is emitted as NaN (window parity)") {
    // a NaN vector component yields cos = NaN (a ZERO vector, by contrast,
    // fails loudly under ANSI division — it cannot reach the rank stage);
    // both engines' window formulation orders NaN greatest (first under
    // DESC) — the heap rank must reproduce that, not remap NaN via a
    // silent double→long cast
    val df = Seq(
      (0L, Array(1.0f, 0.0f)),        // the query (id % 10 == 0)
      (1L, Array(Float.NaN, 1.0f)),   // NaN component → NaN cosine
      (2L, Array(1.0f, 1.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val rows = SimilarityOps.bruteForceTopK(df, "vec_id", "embedding",
        querySelector = 10, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 3)
    assert(rows(0)._2 == 1L && rows(0)._3.isNaN, s"NaN row must rank first: ${rows.toSeq}")
    assert(rows(1) == ((2, 2L, 0.707107)))
    assert(rows(2) == ((3, 3L, 0.0)))
  }

  test("brute-force top-k: ranks descend, self excluded, k respected") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val topk = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 50, 5)
    val rows = topk.collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == 5)
      assert(rs.forall(_.getLong(2) != q)) // self excluded
      val ordered = rs.sortBy(_.getInt(1))
      assert(ordered.map(_.getDouble(3)).sliding(2).forall(s => s.head >= s.last))
    }
  }

  test("LSH top-k agrees with brute force on shared (query, neighbor) pairs") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 50,
        k = 1000000, maxQueries = 10000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = SimilarityOps.lshTopK(emb, "vec_id", "embedding", 50, 5, 6).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(brute.contains(key))
      assert(brute(key) == r.getDouble(3)) // identical cosine computation
    }
  }

  test("multi-probe LSH candidate pool strictly contains single-probe's") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    def pairs(mp: Boolean) = SimilarityOps.lshTopK(
        emb, "vec_id", "embedding", 50, 1000000, 6, multiProbe = mp)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(false)
    val multi = pairs(true)
    assert(single.subsetOf(multi))
    assert(multi.size > single.size) // Hamming-1 probes reach more candidates
  }

  test("IVF top-k: cos values agree with brute force; recall is meaningful") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 50,
        k = 1000000, maxQueries = 10000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val bruteTop5 = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 50, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.ivfTopK(emb, "vec_id", "embedding", 50, 5, 16, 2).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(brute((r.getLong(0), r.getLong(2))) == r.getDouble(3))
    }
    // nProbe=2/16 cells scans ~1/8 of the corpus; demand nontrivial recall
    val hit = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(hit.intersect(bruteTop5).size.toDouble >= bruteTop5.size * 0.1)
  }

  test("as-of join: equal-ts matches, no-predecessor nulls, key isolation") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10.0, 100L),
      (1L, ts("2024-01-01 12:00:00"), 12.0, 101L),
      (2L, ts("2024-01-01 11:00:00"), 99.0, 102L)
    ).toDF("user_id", "ts", "value", "event_id")
    val probes = Seq(
      (1L, ts("2024-01-01 11:00:00"), "p1"), // between events → 10:00 event
      (1L, ts("2024-01-01 12:00:00"), "p2"), // equal ts → matches (>= semantics)
      (1L, ts("2024-01-01 09:00:00"), "p3"), // before all → null
      (2L, ts("2024-01-01 23:00:00"), "p4")  // other key → its own event only
    ).toDF("user_id", "ts", "tag")
    val got = graft.ops.JoinOps.asofJoin(probes, events, "user_id", "ts",
        Seq("value", "event_id"), "event_id")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(3)) None else Some((r.getDouble(3), r.getLong(4))))).toMap
    assert(got("p1").contains((10.0, 100L)))
    assert(got("p2").contains((12.0, 101L)))
    assert(got("p3").isEmpty)
    assert(got("p4").contains((99.0, 102L)))
  }

  test("salted equi-join result equals the plain join on skewed keys") {
    import graft.ops.JoinOps
    val large = (0 until 2000).map(i =>
      (if (i % 10 == 0) 7L else i.toLong % 100, s"payload$i")).toDF("k", "payload")
    val small = (0L until 100L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = large.join(small, Seq("k"))
      .select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = JoinOps.saltedEquiJoin(large, small, "k", 8)
      .select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("binnedIntervalJoin: backwards intervals are dropped (no sequence " +
      "crash) and a pre-existing __bin column does not collide") {
    import graft.ops.JoinOps
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // one valid interval, one BACKWARDS interval (end < start — would
    // crash `sequence` without the guard), plus an input column named
    // __bin0 on the points side that the temp name must dodge
    val intervals = Seq(
      ("ok", ts("2024-01-02 00:00:00"), ts("2024-01-05 00:00:00")),
      ("bad", ts("2024-01-09 00:00:00"), ts("2024-01-07 00:00:00"))
    ).toDF("iv", "start", "end")
    val points = Seq(
      (1L, ts("2024-01-03 06:00:00"), "x"),
      (2L, ts("2024-01-08 06:00:00"), "y") // only inside the backwards one
    ).toDF("id", "pt", "__bin0")
    val got = JoinOps.binnedIntervalJoin(intervals, "start", "end",
      points, "pt")
    assert(got.columns.contains("__bin0"), "caller's column must survive")
    val rows = got.select("iv", "id").collect().map(r =>
      (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("ok", 1L)),
      s"only the valid interval may match, got $rows")
  }

  test("trained k-means IVF: quantizer shape, exact in-cell ranking") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val cent = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 3)
    val rows = cent.collect()
    assert(rows.length == 16)
    assert(rows.forall(_.getSeq[Double](1).length == 64))
    val brute = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 50,
        k = 1000000, maxQueries = 10000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivf = SimilarityOps.ivfTopKFrom(emb, "vec_id", "embedding", cent,
      querySelector = 50, k = 5, nProbe = 2).collect()
    assert(ivf.nonEmpty)
    // ranking within probed cells is exact: cos values match brute force
    ivf.foreach { r =>
      assert(brute((r.getLong(0), r.getLong(2))) == r.getDouble(3))
    }
  }

  test("blocked exact pair scan equals the brute-force scan bit-for-bit") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = toSet(SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.4))
    val blocked = toSet(SimilarityOps.cosinePairsBlocked(emb, "vec_id", "embedding", 0.4))
    assert(exact.nonEmpty)
    assert(blocked == exact)
  }

  test("LSH pair scan: exact-verified subset of brute force, high recall") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = toSet(SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.4))
    val sig = SimilarityOps.bandedSignatures(emb, "vec_id", "embedding", 3, 32)
    val lsh = toSet(SimilarityOps.cosinePairsLsh(sig, 0.4))
    assert(exact.nonEmpty)
    // verification is exact → no false positives, ever
    assert(lsh.subsetOf(exact))
    // (1-p³)³² miss bound at the 0.4 threshold → near-total recall
    assert(lsh.size.toDouble >= exact.size * 0.9,
      s"LSH recall ${lsh.size}/${exact.size}")
  }

  test("bucket-capped embedding candidates: stars for hot buckets, same clusters") {
    // planted corpus: 40 identical vectors share one over-cap bucket in
    // every band; 60 randoms stay under cap
    val emb = spark.range(100).selectExpr("id",
      "transform(sequence(1, 8), i -> CASE WHEN id < 40 THEN CAST(i AS DOUBLE) " +
        "ELSE cast(hash(id, i) % 100 AS DOUBLE) END) AS v")
    val sig = SimilarityOps.bandedSignatures(emb, "id", "v", 4, 8)
      .localCheckpoint(true)
    val plain = SimilarityOps.lshPairCandidates(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = SimilarityOps.lshPairCandidates(sig, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star candidates are a subset of the clique's; the family's 780-pair
    // clique collapses to its 39 hub edges
    assert(capped.subsetOf(plain))
    val famPlain = plain.filter(_._2 < 40L)
    val famCapped = capped.filter(_._2 < 40L)
    assert(famPlain.size == 780 && famCapped == (1L to 39L).map((0L, _)).toSet)
    // random↔random pairs from under-cap buckets survive the cap (pairs
    // whose bucket went hot may legitimately collapse to hub edges)
    assert(capped.filter(_._1 >= 40L).nonEmpty &&
      capped.filter(_._1 >= 40L).subsetOf(plain))
    // the clustering consumer sees identical components after exact verify
    def clusters(cands: Set[(Long, Long)]) = {
      val va = sig.select(col("id").as("id_a"), col("v").as("va"), col("nv").as("na"))
      val vb = sig.select(col("id").as("id_b"), col("v").as("vb"), col("nv").as("nb"))
      val verified = cands.toSeq.toDF("id_a", "id_b")
        .join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .withColumn("cos", graft.functions.VectorFunctions.vec_dot(col("va"), col("vb"))
          / (col("na") * col("nb")))
        .filter(col("cos") >= 0.99).select("id_a", "id_b")
      graft.dedup.DedupOps.duplicateClusters(verified)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(clusters(capped) == clusters(plain))
  }

  test("banded signatures are deterministic with the configured band count") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001).limit(50)
    val sig = SimilarityOps.bandedSignatures(emb, "vec_id", "embedding", 3, 32)
    val a = sig.collect().map(r => (r.getLong(0), r.getSeq[Long](3))).toMap
    val b = sig.collect().map(r => (r.getLong(0), r.getSeq[Long](3))).toMap
    assert(a == b)
    assert(a.values.forall(_.length == 32))
    // 3-plane buckets live in [0, 8)
    assert(a.values.forall(_.forall(v => v >= 0 && v < 8)))
  }

  test("hyperplane signature is deterministic across evaluations") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001).limit(50)
    val sig = emb.select(col("vec_id"),
      SimilarityOps.hyperplaneSignature(
        SimilarityOps.toDouble(col("embedding")), 6).as("b"))
    val a = sig.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = sig.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("semDedup with one cell reproduces the exact embedding dedup") {
    // a single centroid puts every vector in the same cell → the within-
    // cell pair scan IS the exact all-pairs scan, so keep flags must match
    // the exact pipeline's (cosinePairs → duplicateClusters)
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val oneCell = emb.orderBy("vec_id").limit(1)
      .select(lit(0L).as("cell"),
        SimilarityOps.toDouble(col("embedding")).as("cv"))
    val sem = SimilarityOps.semDedup(emb, "vec_id", "embedding", oneCell, 0.4)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getInt(3)))).toMap
    val exactPairs = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select(col("id_a"), col("id_b"))
    val exact = graft.dedup.DedupOps.duplicateClusters(exactPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    emb.select("vec_id").collect().map(_.getLong(0)).foreach { id =>
      val cid = exact.getOrElse(id, id)
      assert(sem(id) == ((cid, if (cid == id) 1 else 0)), s"vec $id")
    }
  }

  test("semDedup hot-cell salting: blocked route equals the plain pair scan") {
    // one centroid funnels EVERY vector into a single deliberately hot
    // cell; hotCellThreshold=1 forces that cell through the block-pair
    // (salted) route, while the default threshold keeps it on the plain
    // cell self-join. The two physical shapes must produce identical
    // (cluster_id, keep) output row-for-row.
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val oneCell = emb.orderBy("vec_id").limit(1)
      .select(lit(0L).as("cell"),
        SimilarityOps.toDouble(col("embedding")).as("cv"))
    def run(hotThreshold: Int) =
      SimilarityOps.semDedup(emb, "vec_id", "embedding", oneCell, 0.4,
          hotCellThreshold = hotThreshold, nBlocks = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).sortBy(_._1).toSeq
    val plain = run(Int.MaxValue)
    val salted = run(1)
    assert(salted == plain)
    // the case has teeth only if something is actually dropped
    assert(plain.exists(_._4 == 0))
  }

  test("semDedup drops are a subset of the exact dedup's drops (refinement)") {
    // within-cell pairs ⊆ all pairs → semdedup components refine exact
    // components → anything semdedup drops, the exact pipeline drops too
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val cent = SimilarityOps.kmeansCentroids(emb, "vec_id", "embedding", 8, 2)
    val semDrops = SimilarityOps.semDedup(emb, "vec_id", "embedding", cent, 0.4)
      .filter(col("keep") === 0).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val exactPairs = SimilarityOps.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .select(col("id_a"), col("id_b"))
    val exactDrops = graft.dedup.DedupOps.duplicateClusters(exactPairs)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(semDrops.subsetOf(exactDrops))
    assert(exactDrops.nonEmpty) // the corpus plants near-dups; test has teeth
  }

  test("PQ: codebook members' ADC distance equals their exact distance") {
    // a codebook vector encodes to itself (distance 0 per subspace), so its
    // PQ distance to any query is the EXACT squared L2 distance — the
    // asymmetric-distance property that makes PQ lossless on codewords
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val vecs = emb.orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toMap
    val bookIds = vecs.keys.toSeq.sorted.take(16).toSet
    val topk = SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      querySelector = 10, k = 1000000, m = 4, ksub = 16).collect()
    val onBook = topk.filter(r => bookIds.contains(r.getLong(2)))
    assert(onBook.nonEmpty)
    onBook.foreach { r =>
      val q = vecs(r.getLong(0)); val x = vecs(r.getLong(2))
      val exact = q.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum
      // encode rounds per-subspace at 1e-6; four subspace roundings bound
      // the reassembled distance within 4e-6 of the exact value
      assert(math.abs(r.getDouble(3) - exact) < 4e-6,
        s"query ${r.getLong(0)} neighbor ${r.getLong(2)}")
    }
  }

  test("trained PQ codebooks: well-formed, and recall holds up vs deterministic") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val books = SimilarityOps.pqCodebooksTrained(
      emb, "vec_id", "embedding", m = 4, ksub = 16, iters = 3)
    val rows = books.collect()
    // shape: ksub codes per subspace, codes are the k-means cell ids
    assert(rows.length == 4 * 16)
    val bySub = rows.groupBy(_.getInt(0))
    assert(bySub.keySet == Set(0, 1, 2, 3))
    bySub.values.foreach { rs =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (0L until 16L))
      // every codeword spans one quarter of the vector dims
      assert(rs.map(_.getSeq[Double](2).length).distinct.length == 1)
    }
    // training must actually move the centroids off the lowest-id init
    // (i.e. differ from the deterministic codebook's raw slices)
    val det = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 4, 16)
      .collect().map(r => r.getSeq[Double](2)).toSet
    assert(rows.map(_.getSeq[Double](2)).count(det.contains) < rows.length)

    // recall@5 against exact brute-force ground truth, trained vs
    // deterministic: trained codebooks quantize to data centroids rather
    // than arbitrary corpus rows, so recall must not collapse (both values
    // are deterministic on this data — no seed, no randomness)
    val truth = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val rDet = recall(SimilarityOps.pqTopK(
      emb, "vec_id", "embedding", 10, 5, 4, 16))
    val rTrn = recall(SimilarityOps.pqTopKFrom(
      emb, "vec_id", "embedding", books, 10, 5, 4))
    info(f"PQ recall@5 vs brute force: deterministic $rDet%.3f, trained $rTrn%.3f")
    assert(rTrn > 0.0)
    assert(rTrn >= rDet - 0.2,
      f"trained recall $rTrn%.3f collapsed vs deterministic $rDet%.3f")
  }

  test("trained PQ codebooks: degenerate subspaces degrade, never abort") {
    // subspace 1 (dims 2-3) is all-zero: no trainable slices — the build
    // must emit a single zero codeword for it, not require()-abort
    val zeroSub = Seq(
      (1L, Seq(1.0, 2.0, 0.0, 0.0)),
      (2L, Seq(3.0, 1.0, 0.0, 0.0)),
      (3L, Seq(2.0, 5.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val books = SimilarityOps.pqCodebooksTrained(
      zeroSub, "vec_id", "embedding", m = 2, ksub = 2, iters = 2)
    val bySub = books.collect().groupBy(_.getInt(0))
    assert(bySub.keySet == Set(0, 1))
    assert(bySub(1).length == 1 &&
      bySub(1).head.getSeq[Double](2) == Seq(0.0, 0.0))
    // sub 0 trains normally alongside the degenerate one
    assert(bySub(0).length == 2)
    // sample smaller than ksub: a SMALLER codebook (one codeword per
    // point), documented min(ksub, n) behavior — downstream encode still
    // joins every sub
    val tiny = Seq((1L, Seq(1.0, 2.0)), (2L, Seq(5.0, 1.0)))
      .toDF("vec_id", "embedding")
    val small = SimilarityOps.pqCodebooksTrained(
      tiny, "vec_id", "embedding", m = 1, ksub = 8, iters = 2)
    assert(small.count() == 2)
    val enc = SimilarityOps.pqEncode(tiny, "vec_id", "embedding", small, m = 1)
    assert(enc.count() == 2) // every (id, sub) row survived the join
  }

  test("proto prune: planted easy core dropped first, dense hardest-first ranks") {
    // cluster A: 30 copies of the prototype (dist 0) + 3 off-axis hard
    // cases; cluster B: a tight orthogonal clump. keepK=3 must pick
    // exactly A's hard cases — the prototypical core never ranks.
    val a = (0L until 30L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val hard = Seq(
      (100L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (101L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (102L, Array(0.9f, 0.1f, 0.0f, 0.0f)))
    val b = (200L until 220L).map(i => (i, Array(0.0f, 0.0f, 0.0f, 1.0f)))
    val df = (a ++ hard ++ b).toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 0.0, 0.0, 1.0)))
      .toDF("cell", "cv")
    val r = SimilarityOps.protoPrune(df, "vec_id", "embedding", cent, keepK = 3)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3)))
    val cellA = r.filter(_._1 == 0L).sortBy(_._2)
    assert(cellA.map(_._3).toSet == Set(100L, 101L, 102L),
      s"hardest-3 must be the off-axis cases, got ${cellA.toSeq}")
    assert(cellA.map(_._2).toSeq == Seq(1, 2, 3), "ranks not dense")
    assert(cellA.map(_._4).sliding(2).forall(w => w.head >= w.last),
      "dist must be non-increasing (hardest first)")
    // 100/101 tie at dist = 1 - cos45 → smaller id first
    assert(cellA(0)._3 == 100L && cellA(1)._3 == 101L)
    // cluster B: all members equidistant (dist 0), ranks by id
    val cellB = r.filter(_._1 == 1L).sortBy(_._2)
    assert(cellB.map(_._3).toSeq == Seq(200L, 201L, 202L))
    assert(cellB.forall(_._4 == 0.0))
    // no vector ranks in a foreign cell
    assert(r.map(_._3).distinct.length == r.length)
  }

  test("hard negatives: out-group only, never the anchor, dense ranks") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val docs = graft.tables.Tables.documents(spark, TestSpark.Sf0001)
    val src = docs.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = SimilarityOps.hardNegatives(emb, "vec_id", "embedding",
        docs, "doc_id", "source", anchorSelector = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, _, n) =>
      assert(a != n, s"anchor $a mined itself")
      assert(src(a) != src(n), s"anchor $a mined same-source negative $n")
    }
    rows.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), "ranks not dense")
    }
  }

  test("sampled coarse k-means: full-coverage sample matches the distributed trainer") {
    // with maxTrain >= corpus size the sample IS the corpus and the init
    // (k lowest ids) matches, so the only divergence is FP summation
    // order in the mean update — centroids must agree to ~1e-9
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    def centMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dist = centMap(SimilarityOps.kmeansCentroids(
      emb, "vec_id", "embedding", 16, 3))
    val samp = centMap(SimilarityOps.kmeansCentroidsSampled(
      emb, "vec_id", "embedding", 16, 3, maxTrain = 1000000))
    // cell ids differ (sampled renumbers 0..k-1 = the k lowest ids in id
    // order; distributed numbers the same init rows 0..k-1 the same way)
    assert(samp.keySet == dist.keySet)
    samp.keySet.foreach { c =>
      val (a, b) = (samp(c), dist(c))
      assert(a.length == b.length)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"cell $c diverged: $x vs $y") }
    }
  }

  test("residual IVF-PQ: explicit deterministic cents reproduce the default path") {
    // the cents parameter (r8, for trained coarse quantizers) must be a
    // pure generalization: passing the deterministic lowest-id frame
    // explicitly yields bit-identical results to passing nothing
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val det = emb.select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .orderBy("cell").limit(16)
    def rows(cents: Option[org.apache.spark.sql.DataFrame]) = {
      val books = SimilarityOps.ivfPqResidualBooks(
        emb, "vec_id", "embedding", 16, 4, 16, 2, cents = cents)
      SimilarityOps.ivfPqResidualTopK(emb, "vec_id", "embedding", books,
          10, 5, 16, 2, 4, cents = cents)
        .orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    }
    assert(rows(None) == rows(Some(det)))
  }

  test("residual IVF-PQ: trained books well-formed, recall holds up vs raw codes") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val books = SimilarityOps.ivfPqResidualBooks(
      emb, "vec_id", "embedding", nCells = 16, m = 4, ksub = 16, iters = 2)
    val rows = books.collect()
    assert(rows.length == 4 * 16)
    assert(rows.groupBy(_.getInt(0)).forall {
      case (_, rs) => rs.map(_.getLong(1)).sorted.toSeq == (0L until 16L)
    })
    // recall@5 (same probed cells for both, so the delta isolates code
    // fidelity): residual codes concentrate precision around each cell —
    // the FAISS rationale. On THIS corpus the embeddings are uniform
    // random (no cluster structure), so residuals are raw vectors minus a
    // near-arbitrary centroid and the advantage cannot materialize
    // (measured: tie at sf0.01, slightly behind at sf0.001) — the
    // assertion pins non-collapse, not superiority
    val truth = SimilarityOps.bruteForceTopK(emb, "vec_id", "embedding", 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.map(r => (r.getLong(0), r.getLong(2))).toSet
        .intersect(truth).size.toDouble / truth.size
    val raw = recall(SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
      10, 5, 16, 2, 4, 16).collect())
    val res = recall(SimilarityOps.ivfPqResidualTopK(emb, "vec_id", "embedding",
      books, 10, 5, 16, 2, 4).collect())
    info(f"IVF-PQ recall@5 vs brute force: raw-coded $raw%.3f, residual $res%.3f")
    assert(res > 0.0)
    assert(res >= raw - 0.1, f"residual recall $res%.3f collapsed vs raw $raw%.3f")
  }

  test("IVF-PQ: results are PQ distances restricted to probed cells") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    // full PQ ranking (no cell pruning) as the reference distances
    val pqAll = SimilarityOps.pqTopK(emb, "vec_id", "embedding",
        querySelector = 10, k = 1000000, m = 4, ksub = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivfpq = SimilarityOps.ivfPqTopK(emb, "vec_id", "embedding",
      querySelector = 10, k = 5, nCells = 16, nProbe = 2, m = 4, ksub = 16)
      .collect()
    assert(ivfpq.nonEmpty)
    // identical codes + books → identical ADC distance for every shared pair
    ivfpq.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      assert(pqAll.contains(key))
      assert(pqAll(key) == r.getDouble(3), s"pair $key")
    }
    // the neighbor's cell is one the query probed: every result row's cell
    // must be the neighbor's (unique) IVF assignment
    val cent = emb.select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .orderBy("cell").limit(16)
    val asg = SimilarityOps.assignCells(emb, "vec_id", "embedding", cent)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    ivfpq.foreach(r => assert(r.getLong(4) == asg(r.getLong(2))))
  }

  test("pqEncode: m codes per vector, all drawn from the codebook") {
    val emb = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val books = SimilarityOps.pqCodebooks(emb, "vec_id", "embedding", 4, 16)
    val bookCodes = books.select("code").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(bookCodes.size == 16)
    val enc = SimilarityOps.pqEncode(emb, "vec_id", "embedding", books, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = emb.count()
    assert(enc.length == n * 4)
    assert(enc.map(e => (e._1, e._2)).distinct.length == enc.length)
    assert(enc.forall(e => bookCodes.contains(e._3)))
  }

  test("kNN graph: dense ranks for every vector; IVF recall beats the probe floor, grows with nProbe") {
    val e = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val n = e.count()
    val exact = SimilarityOps.knnJoin(e, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id")))
    // every vector is a query with dense ranks 1..5, never itself
    assert(exact.length === n * 5)
    assert(exact.groupBy(_._1).forall(_._2.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5)))
    assert(exact.forall(t => t._1 != t._3))

    val cent = e.select(col("vec_id").as("cell"), col("embedding").as("cv"))
      .orderBy("cell").limit(16)
    val truth = exact.map(t => (t._1, t._3)).toSet
    def recall(nProbe: Int): Double = {
      val g = SimilarityOps.knnJoinIvf(e, "vec_id", "embedding", cent,
          k = 5, nProbe = nProbe)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      g.count(truth.contains).toDouble / truth.size
    }
    val r2 = recall(2)
    // probing 2/16 cells blindly would find ~12.5% — the quantizer must
    // beat that floor decisively even on this unclustered synthetic
    // corpus (measured 0.31; clustered corpora score far higher, see
    // Profile ann_recall)
    assert(r2 >= 0.25, s"recall@nProbe=2 = $r2")
    val r4 = recall(4)
    assert(r4 > r2, s"recall must grow with nProbe: $r2 -> $r4")
  }

  test("q_centroid_sim: full upper triangle, cosines bounded, and the " +
      "integer-sum matrix matches a float recompute") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_centroid_sim")(
        spark, TestSpark.Sf0001)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    val labels = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
      .select("label").distinct().collect().map(_.getInt(0)).sorted
    val expectPairs =
      (for (a <- labels; b <- labels if a < b) yield (a, b)).toSet
    assert(rows.map(_._1).toSet == expectPairs)
    rows.foreach { case (p, c) =>
      assert(c >= -1.0 && c <= 1.0, s"$p cos $c") }
    // independent float recompute of the centroid cosines
    val cents = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).map(_.toDouble))
      .groupBy(_._1).map { case (l, vs) =>
        val dim = vs.head._2.length
        l -> (0 until dim).map(j => vs.map(_._2(j)).sum / vs.size)
      }
    rows.foreach { case ((a, b), c) =>
      val (va, vb) = (cents(a), cents(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val exp = dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(math.abs(c - exp) < 1e-4, s"($a,$b): $c vs $exp")
    }
  }

  test("q_embed_trunc_recall: every query reports, n_hit = 5·recall, and " +
      "an identity truncation audits to recall 1 for all queries") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q_embed_trunc_recall")(
        spark, TestSpark.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = graft.tables.Tables.embeddings(spark, TestSpark.Sf0001)
    val nQueries = e.filter(col("vec_id") % 10 === 0 && col("vec_id") < 1000)
      .count()
    assert(rows.length == nQueries, "a query dropped from the audit")
    rows.foreach { case (q, h, r) =>
      assert(h >= 0 && h <= 5, s"query $q n_hit $h")
      assert(math.abs(r - h / 5.0) < 1e-9, s"query $q recall $r ≠ $h/5")
    }
    // identity truncation (slice to the full 64 dims) must recover the
    // full-dim rank set exactly — pins the audit plumbing itself
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val full = SimilarityOps.bruteForceTopK(e, "vec_id", "embedding",
      10, 5, 100).select("query_id", "neighbor_id")
    val ident = SimilarityOps.bruteForceTopK(
      e.select(col("vec_id"), slice(col("embedding"), 1, dim).as("embedding")),
      "vec_id", "embedding", 10, 5, 100).select("query_id", "neighbor_id")
    assert(full.except(ident).isEmpty && ident.except(full).isEmpty,
      "identity truncation changed the rank set")
  }
}
