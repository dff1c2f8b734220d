package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TopKByAgg, VectorFunctions}

/** Similarity search over an embedding column (`ARRAY<FLOAT>`).
  *
  * Paths, from exact to approximate:
  *  - brute-force cosine top-k — exact: broadcast a FIXED-SIZE query set
  *    against the full corpus; one pass, no corpus shuffle;
  *  - blocked exact pair scan — exact all-pairs threshold join restructured
  *    as a block-pair equi-join: the unavoidable O(n²) work distributes
  *    across `nBlocks·(nBlocks+1)/2` reducers with bounded memory and NO
  *    corpus broadcast / nested-loop join;
  *  - banded-LSH pair candidates + exact verify — the sub-quadratic path
  *    for HIGH thresholds (near-dup range, cos ≥ ~0.7);
  *  - LSH / IVF ANN top-k — bucketed approximate search.
  *
  * All vector math runs through the native codegen kernels in
  * [[graft.functions.VectorFunctions]] — no UDFs, no interpreter.
  */
object SimilarityOps {

  /** Cast an ARRAY<FLOAT> column to ARRAY<DOUBLE>. Only needed where a
    * higher-order lambda follows; [[graft.functions.VectorFunctions.vec_dot]]
    * accepts FLOAT arrays directly and accumulates in double. */
  def toDouble(vec: Column): Column = transform(vec, _.cast("double"))

  /** Fused native dot product (codegen'd loop — see VectorExpressions). */
  def dot(a: Column, b: Column): Column = VectorFunctions.vec_dot(a, b)

  def l2norm(a: Column): Column = VectorFunctions.vec_norm(a)

  /** Cosine from a fresh pair of vectors. Hot paths below instead join on
    * PRE-COMPUTED norms — never recompute a norm per candidate pair. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  // ---- Shared rank stage (bounded-heap, never a corpus-sized window) ----

  /** A 6-decimal-rounded score encoded into exact integer micro-units.
    * `round(s, 6)` yields the double nearest to a 6-decimal value d;
    * `s·1e6` is then within ε of the integer d·1e6 (exact in a long for
    * |d| ≤ 2^53/1e6 ≈ 9e9 — cosines are ≤ 1 and ADC distances bounded by
    * vector magnitude), so the final round recovers it exactly. The
    * inverse `long / 1e6` is a correctly-rounded IEEE division whose
    * result is again the double nearest to d — i.e. BIT-IDENTICAL to what
    * `round(s, 6)` produced on either engine, so the decoded score
    * hash-matches the oracle's rounded double. */
  private def scoreMicros(rounded6: Column): Column =
    round(rounded6 * 1e6, 0).cast("long")

  /** Per-query top-k over a candidate frame `(query_id, neighbor_id,
    * <score>[, <tag>])` — the rank stage every ANN path shares. Runs as
    * the bounded-heap [[graft.functions.TopKByAgg]] aggregate (map-side
    * combine reduces each partition to ≤ k entries per query BEFORE the
    * exchange), NOT as a `row_number()` window — the window formulation
    * shuffles the full candidate frame into |queries| partitions and
    * sorts each in ONE task: at 10⁹ corpus vectors that is 100 tasks
    * each sorting ~10⁹ rows, a skew scale-killer by construction. The
    * window formulation remains the ORACLE (rank ties broken toward the
    * smaller neighbor_id — exactly the heap's (ord DESC, id ASC) total
    * order, so output is identical row-for-row).
    *
    * `ascending=true` ranks by the score ascending (distances);
    * `tag` carries one BIGINT attribute (LSH bucket / IVF cell) through
    * the heap as an inert payload — recomputing it post-rank would need
    * another pass over a corpus-sized frame. */
  private[sim] def rankTopK(pairs: DataFrame, scoreCol: String, k: Int,
                       ascending: Boolean = false,
                       tag: Option[String] = None): DataFrame = {
    val enc = scoreMicros(col(scoreCol))
    // NaN scores (a zero-norm vector's 0/0 cosine): both engines order NaN
    // GREATEST — first under DESC, last under ASC — but a non-ANSI
    // double→long cast would silently turn NaN into 0 and rank it
    // mid-pack. Encode NaN as the matching extreme sentinel and decode it
    // back, so both rank position and emitted value agree with the
    // window/oracle formulation (legit micro values are bounded orders of
    // magnitude below the sentinels; NaN ties resolve by neighbor_id on
    // both engines). NULL scores stay dropped by the aggregate — a null
    // cosine requires a null vector/id, which the pair builders exclude.
    val nanOrd = if (ascending) Long.MinValue else Long.MaxValue
    val ord = when(isnan(col(scoreCol)), lit(nanOrd))
      .otherwise(if (ascending) -enc else enc)
    def dec(o: Column): Column =
      when(o === nanOrd, lit(Double.NaN))
        .otherwise((if (ascending) -o else o).cast("double") / 1e6)
    val base = tag match {
      case None =>
        pairs.groupBy("query_id")
          .agg(TopKByAgg.topk_by(ord, col("neighbor_id"), k).as("tk"))
      case Some(t) =>
        pairs.groupBy("query_id")
          .agg(TopKByAgg.topk_by_pay(ord, col("neighbor_id"), col(t), k).as("tk"))
    }
    val exploded = base
      .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as("neighbor_id"), dec(col("e.ord")).as(scoreCol),
        col("e"))
    tag match {
      case None => exploded.drop("e")
      case Some(t) => exploded.withColumn(t, col("e.pay")).drop("e")
    }
  }

  /** Exact top-k: for each query vector (`idCol % querySelector == 0`, capped
    * at the first `maxQueries` multiples), the k nearest corpus vectors by
    * cosine. Ranking uses the ROUNDED similarity with the neighbor id as
    * tie-break, so order is engine-independent.
    *
    * The query set is FIXED-SIZE by construction (`maxQueries`), so the
    * broadcast side stays O(maxQueries · dims) bytes no matter how large the
    * corpus grows — a selector-only query set would make the broadcast a
    * constant fraction of the corpus and flip the plan into a corpus-sized
    * shuffle (or an OOM'ing broadcast) at scale. Norms are computed once per
    * side before the pair join; the rank is the bounded-heap [[rankTopK]]
    * stage, so the queries×corpus score frame never crosses an exchange —
    * only ≤ k rows per (query, partition) do. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     querySelector: Long, k: Int, maxQueries: Long = 100L): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"))
    val queries = emb.filter(col(idCol) % querySelector === 0 &&
        col(idCol) < lit(querySelector * maxQueries))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("nq"))
    val scored = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    rankTopK(scored, "cos", k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Hard-negative mining for contrastive training (the dense-retrieval
    * recipe popularized as ANCE, Xiong et al. 2021): for each anchor, the
    * top-k most-similar corpus vectors from a DIFFERENT group — same-group
    * vectors are presumed positives/near-positives, and the high-scoring
    * out-group rest are the negatives that actually teach the margin,
    * where q_neg_sample's hash-random negatives teach little.
    *
    * Shape = [[bruteForceTopK]]'s audited skeleton with a group column
    * riding each side: the anchor set is FIXED-SIZE and broadcast, the
    * group attach is a co-keyed equi-join on the vector id, the exclusion
    * is a join predicate (never a post-score filter of a materialized
    * frame), and the rank is the bounded-heap [[rankTopK]] — the
    * anchors×corpus score frame never crosses an exchange. At corpus
    * scale swap the exact score pass for an ANN candidate stage (e.g.
    * [[ivfTopKFrom]] with k' ≫ k) feeding the same exclusion + rank. */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    groups: DataFrame, groupIdCol: String, groupCol: String,
                    anchorSelector: Long, k: Int,
                    maxAnchors: Long = 100L): DataFrame = {
    val g = groups.select(col(groupIdCol).as("__gid"), col(groupCol).as("__grp"))
    val corpus = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
        l2norm(col(vecCol)).as("nv"))
      .join(g, col("neighbor_id") === col("__gid"))
      .select(col("neighbor_id"), col("v"), col("nv"), col("__grp").as("ng"))
    val anchors = emb.filter(col(idCol) % anchorSelector === 0 &&
        col(idCol) < lit(anchorSelector * maxAnchors))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        l2norm(col(vecCol)).as("nq"))
      .join(g, col("query_id") === col("__gid"))
      .select(col("query_id"), col("qv"), col("nq"), col("__grp").as("qg"))
    val scored = corpus.join(broadcast(anchors), col("qg") =!= col("ng"))
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    rankTopK(scored, "cos", k)
      .select(col("query_id").as("anchor_id"), col("rank"),
        col("neighbor_id").as("neg_id"), col("cos"))
  }

  /** EXACT k-nearest-neighbor SELF-join: every corpus vector's k most
    * cosine-similar others — the kNN GRAPH that graph-based dedup,
    * label propagation, and kNN classification consume (vs
    * [[bruteForceTopK]], whose query side is a bounded external sample).
    * Pair generation is the [[cosinePairsBlocked]] block-pair equi-join
    * (each unordered pair met exactly once, no corpus broadcast, no
    * nested loop); each pair then feeds BOTH directions into the shared
    * bounded-heap [[rankTopK]] stage, so the n·(n−1) score rows collapse
    * to ≤ k per (vector, partition) before any exchange. Exact kNN is
    * inherently Ω(n²) compare work — this spreads it evenly; for the
    * sub-quadratic approximation at corpus scale see [[knnJoinIvf]].
    *
    * SCALE CAVEAT: the eager localCheckpoint below materializes the
    * UNthresholded pair frame into executor-local storage — its
    * footprint grows quadratically with corpus size. That is fine on
    * this exact-baseline path (already Ω(n²) by contract, bounded
    * corpora only); do NOT copy the checkpoint-the-pairs pattern into
    * scalable paths — large-scale callers belong on [[knnJoinIvf]],
    * whose materialized probe frame is O(n·nProbe). */
  def knnJoin(emb: DataFrame, idCol: String, vecCol: String,
              k: Int, nBlocks: Int = 16): DataFrame = {
    // materialized once: the symmetrization below references the pair
    // frame in BOTH union branches, and the bench's process-CPU column
    // proves AQE does NOT reuse the stage (no-checkpoint warm ≈ 12.3
    // CPU-s, checkpointed ≈ 9 CPU-s) — without this the Ω(n²) block-pair
    // score join runs twice
    val pairs = cosinePairsBlocked(emb, idCol, vecCol,
      threshold = -1.0, nBlocks = nBlocks).localCheckpoint(true)
    val sym = pairs.select(col("id_a").as("query_id"),
        col("id_b").as("neighbor_id"), col("cos"))
      .unionByName(pairs.select(col("id_b").as("query_id"),
        col("id_a").as("neighbor_id"), col("cos")))
    rankTopK(sym, "cos", k)
  }

  /** Approximate kNN GRAPH via IVF cells — the FAISS-style sub-quadratic
    * self-join: corpus vectors are assigned to their best cell (the
    * [[assignCells]] map-side `max_by` — one row per vector shuffles),
    * the QUERY role of each vector probes its `nProbe` best cells via
    * [[corpusProbes]] (bounded-heap, window-free — the corpus-sized twin
    * of [[probeCells]]), and candidates are the cell EQUI-JOIN of the
    * two roles: compare work drops from n² to Σ_probed |cell|·|probes|.
    * Scored pairs feed the shared [[rankTopK]] heap. Recall < 1 by
    * construction (neighbors outside probed cells are unseen) — the
    * deterministic quantizer + rounded probe ordering make the whole
    * pipeline SQL-replayable, so the oracle checks THIS contract
    * exactly. A pathologically hot cell takes the same salting remedy as
    * [[semDedup]]'s hot-cell branch. */
  def knnJoinIvf(emb: DataFrame, idCol: String, vecCol: String,
                 centroidFrame: DataFrame, k: Int, nProbe: Int): DataFrame = {
    // ONE probe pass serves both roles: a vector LIVES in its rank-1
    // cell (the corpus role) and SEARCHES its top-nProbe cells (the
    // query role) — same rounded ordering, so the two roles can never
    // disagree on ties and the oracle replays a single ranking.
    // Materialized once: both roles reference this frame, and without
    // the checkpoint the centroid cross-join + heap aggregate runs twice.
    val probes = corpusProbes(emb, idCol, vecCol, centroidFrame, nProbe)
      .localCheckpoint(true)
    val corpus = probes.filter(col("probe_rank") === 1)
      .select(col("id").as("neighbor_id"), col("v"), col("nv"), col("cell"))
    val qside = probes.select(col("id").as("query_id"), col("v").as("qv"),
      col("nv").as("nq"), col("cell"))
    val scored = corpus.join(qside, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    rankTopK(scored, "cos", k, tag = Some("cell"))
      .select("query_id", "rank", "neighbor_id", "cos", "cell")
  }

  /** Corpus-side probe assignment: each vector's `nProbe` most-similar
    * cells, as a bounded-heap aggregate instead of [[probeCells]]'
    * row_number window — the window shuffles the nCells-amplified
    * corpus, while the heap's map-side partials collapse to one row per
    * vector before the exchange (the [[assignCells]] discipline at
    * nProbe > 1). The probe ordering uses the 6-decimal-ROUNDED
    * similarity (micro-encoded for the heap), which is what makes the
    * probe set — not just the final ranks — exactly SQL-replayable.
    * Output `(id, v, nv, cell, probe_rank)`, probe_rank 1-based. */
  def corpusProbes(emb: DataFrame, idCol: String, vecCol: String,
                   centroidFrame: DataFrame, nProbe: Int): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"))
    val centroids = centroidFrame.select(col("cell"), col("cv"),
      l2norm(col("cv")).as("cn"))
    base.crossJoin(broadcast(centroids))
      .withColumn("sim6",
        round(dot(col("v"), col("cv")) / (col("nv") * col("cn")), 6))
      .groupBy(col("id"))
      .agg(first(col("v")).as("v"), first(col("nv")).as("nv"),
        TopKByAgg.topk_by(scoreMicros(col("sim6")), col("cell"), nProbe)
          .as("tk"))
      .select(col("id"), col("v"), col("nv"),
        posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("id"), col("v"), col("nv"), col("e.id").as("cell"),
        (col("pos") + 1).cast("int").as("probe_rank"))
  }

  /** All near-pairs above a cosine threshold (id_a < id_b), via broadcast
    * nested-loop. SPEC-ONLY exact baseline for small n — the recall oracle
    * for [[cosinePairsBlocked]] and [[lshPairCandidates]] tests. Never in
    * the serving/bench contract: the broadcast side is the whole corpus. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      l2norm(col(vecCol)).as("na"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      l2norm(col(vecCol)).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** EXACT all-pairs cosine threshold scan, distributed: the classic
    * block-pair formulation. Vectors hash into `nBlocks` blocks; side A
    * replicates each vector to every block-pair key `(blk, j≥blk)`, side B
    * to every `(j≤blk, blk)`, and the equi-join on the key meets each
    * unordered pair EXACTLY once (within-block pairs deduped by `id_a <
    * id_b`). An all-pairs scan at a low threshold is inherently Ω(n²)
    * comparisons (the output itself can be quadratic) — what matters at
    * scale is the SHAPE of that work:
    *  - no corpus broadcast, no nested-loop join node — every operator is a
    *    shuffled equi-join;
    *  - replication factor is `nBlocks+1` rows per vector, one reducer holds
    *    2n/nBlocks vectors → memory bounded, spillable;
    *  - parallelism is `nBlocks(nBlocks+1)/2` independent tasks; size
    *    `nBlocks ≈ √(2·cluster cores)` so FLOPs spread evenly.
    * For HIGH thresholds prefer [[lshPairCandidates]] + exact verify, which
    * prunes most comparisons before they happen. */
  def cosinePairsBlocked(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBlocks: Int = 16): DataFrame = {
    // Par.spread on the projected source (guide §2.5): the block-pair
    // join plans as BroadcastHashJoin (136 block-key rows estimate
    // small), so the PROBE side keeps the source's partitioning — and a
    // single-file test archive scans as ONE split, serializing the
    // entire Ω(n²) dot-product stage on one core (r17 measured
    // q_cosine_pairs at wall 3.8 s ≈ cpu 4.5 s on 32 cores; the
    // committed q_cosine_pairs_before.txt shows the BHJ over the
    // 1-split scan). The spread round-robins the ~(id, vec, norm) rows
    // BEFORE the explode so the compare stage uses the machine; the
    // guard no-ops when the scan is already wide (real archives), and
    // the projection keeps the exchange at the three needed columns
    // (§2.3 project before the exchange).
    val base = graft.util.Par.spread(
        emb.select(col(idCol).as("id"), col(vecCol).as("v"),
          l2norm(col(vecCol)).as("nv")))
      .withColumn("blk", pmod(col("id"), lit(nBlocks)).cast("int"))
    val a = base
      .withColumn("bb", explode(filter(sequence(lit(0), lit(nBlocks - 1)),
        j => j >= col("blk"))))
      .select(col("blk").as("ba"), col("bb"),
        col("id").as("id_a"), col("v").as("va"), col("nv").as("na"))
    val b = base
      .withColumn("ba", explode(filter(sequence(lit(0), lit(nBlocks - 1)),
        j => j <= col("blk"))))
      .select(col("ba"), col("blk").as("bb"),
        col("id").as("id_b"), col("v").as("vb"), col("nv").as("nb"))
    a.join(b, Seq("ba", "bb"))
      // a cross-block key (p,q), p≠q, pairs each (block-p, block-q) vector
      // combination exactly once regardless of id order; only the p=q key
      // produces both orders + self-pairs, deduped by id
      .filter(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
  }

  /** Banded-LSH candidate pairs: vectors sharing any of `nBands` hyperplane
    * sign-buckets (`rowsPerBand` planes each — see
    * [[graft.functions.HyperplaneBands]]). Equi-join on (band, bucket), so
    * the shuffle key is the bucket — no all-pairs comparison materializes.
    *
    * Recall per pair at cosine θ-similarity `p = 1 − θ/π` is
    * `1 − (1 − p^rows)^bands` — tune (rows, bands) to the threshold. The
    * candidate volume scales as `bands / 2^rows · n²` on UNclustered data,
    * so this wins big only when the threshold is high (p close to 1, few
    * rows needed) or the data is clustered (real near-dup corpora are);
    * for exhaustive low-threshold scans use [[cosinePairsBlocked]].
    * `maxBucket` (opt-in) applies the star-edge boilerplate cap to
    * over-cap buckets — see the hot branch below and PERF.md ("Star-edge
    * cap on the EMBEDDING-LSH family"). */
  def lshPairCandidates(sig: DataFrame, maxBucket: Int = Int.MaxValue)
      : DataFrame = {
    val banded = sig.select(col("id"),
      posexplode(col("bands")).as(Seq("band", "bucket")))
    val pairs = if (maxBucket == Int.MaxValue) {
      val a = banded.as("a"); val b = banded.as("b")
      a.join(b, col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    } else {
      // over-cap star edges — the same boilerplate escape hatch as
      // DedupOps.lshCandidates' maxBucket (see its scaladoc for the
      // semantics caveat and PERF.md's star-edge cap table for the
      // measured tradeoff): a hot bucket's clique is quadratic WORK
      // downstream; its members link through the bucket-min hub instead,
      // which clustering consumers (dedupEmbedLsh) resolve identically
      // when the bucket is a true near-dup family
      val hot = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__bn"), min("id").as("__hub"))
        .filter(col("__bn") > maxBucket)
        .select(col("band"), col("bucket"), col("__hub"))
      val tagged = banded.join(broadcast(hot), Seq("band", "bucket"), "left")
      val cold = tagged.filter(col("__hub").isNull).drop("__hub")
      val a = cold.as("a"); val b = cold.as("b")
      val coldPairs = a.join(b, col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val star = tagged.filter(col("__hub").isNotNull &&
          col("id") =!= col("__hub"))
        .select(col("__hub").as("id_a"), col("id").as("id_b"))
      coldPairs.unionByName(star)
    }
    pairs.distinct()
  }

  /** Banded signatures frame `(id, v, nv, bands ARRAY<BIGINT>)` — the
    * deterministic seam for the LSH pair pipeline (fixture-oracle'd). */
  def bandedSignatures(emb: DataFrame, idCol: String, vecCol: String,
                       rowsPerBand: Int, nBands: Int): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"),
      VectorFunctions.hyperplane_bands(col(vecCol), rowsPerBand, nBands).as("bands"))

  /** LSH-candidate → exact-verify cosine pair scan: candidates from
    * [[lshPairCandidates]], then exact cosine on candidates only (norms
    * joined from the signature frame, never recomputed per pair). Same
    * output schema as the exact scans; recall is the LSH candidate recall
    * (verification is exact, so NO false positives — only possible misses,
    * bounded by the (rows, bands) formula above). */
  def cosinePairsLsh(sig: DataFrame, threshold: Double): DataFrame = {
    // materialized once: the candidate stage self-joins the banded frame
    // and the verify stage reads it twice more (va/vb) — unmaterialized,
    // the hyperplane-band signature kernel re-runs per reference
    val s = sig.localCheckpoint(true)
    val cands = lshPairCandidates(s)
    val va = s.select(col("id").as("id_a"), col("v").as("va"), col("nv").as("na"))
    val vb = s.select(col("id").as("id_b"), col("v").as("vb"), col("nv").as("nb"))
    cands.join(va, Seq("id_a")).join(vb, Seq("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 → uniform in [-1, 1). Stable across runs and engines. */
  private def planeComponent(plane: Column, dim: Column): Column =
    (xxhash64(plane, dim).cast("double") / lit(Long.MaxValue.toDouble))

  /** Random-hyperplane LSH signature: `nPlanes` sign bits packed into a
    * BIGINT. Vectors in the same bucket are likely cosine-similar. */
  def hyperplaneSignature(vec: Column, nPlanes: Int): Column = {
    require(nPlanes <= 63, "signature packs into one BIGINT")
    val bits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x * planeComponent(lit(p), i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Spherical k-means (Lloyd iterations over cosine similarity) for the
    * IVF coarse quantizer: init = the `k` lowest-id vectors, then
    * `iters` rounds of (assign every vector to its most-similar centroid
    * via the broadcast `max_by` pass) → (new centroid = element-wise mean
    * of its members; an emptied cell keeps its previous centroid).
    *
    * The per-round centroid model (k × dims doubles) is collected to the
    * driver and re-broadcast — the standard iterate-a-small-model shape; a
    * quantizer that didn't fit the driver wouldn't fit the broadcast
    * either. Element-wise means run as a (cell, dim) partial→final
    * aggregate, so the exploded rows combine map-side before the exchange.
    * Output `(cell BIGINT, cv ARRAY<DOUBLE>)`, deterministic given the
    * data (modulo fp summation order inside `avg` — which is why the IVF
    * query pins the TRAINED frame through a fixture seam rather than
    * re-deriving it in the oracle). */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"),
      l2norm(col(vecCol)).as("nv"))
    var cent: Seq[(Long, Seq[Double])] = base.orderBy("id").limit(k).collect()
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Double](1)) }.toSeq
    for (_ <- 0 until iters) {
      val centDf = cent.toDF("cell", "cv")
        .withColumn("cn", l2norm(col("cv")))
      val best = base.crossJoin(broadcast(centDf))
        .withColumn("sim", dot(col("v"), col("cv")) / (col("nv") * col("cn")))
        .groupBy("id")
        .agg(max_by(struct(col("cell"), col("v")),
          struct(col("sim"), (-col("cell")).as("tb"))).as("b"))
        .select(col("b.cell").as("cell"), col("b.v").as("v"))
      val means = best
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg("x").as("m"))
        .groupBy("cell").agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
      cent = cent.map { case (c, old) => (c, means.getOrElse(c, old)) }
    }
    cent.toDF("cell", "cv")
  }

  /** SAMPLED spherical-k-means coarse quantizer — FAISS's coarse-training
    * discipline applied to the IVF stage: where [[kmeansCentroids]]
    * assigns EVERY corpus vector each Lloyd round (iters full-corpus
    * passes + 2 driver collects per round), this trains on a bounded
    * deterministic sample ([[trainingSample]] — one TakeOrdered pass over
    * the corpus, FAISS's max_points_per_centroid discipline) with the
    * rounds as driver-local flops ([[lloydLocal]], same assignment/update
    * semantics). The distributed cost is ONE corpus pass regardless of
    * iters; output is the same `(cell, cv)` frame, consumed by
    * [[ivfTopKFrom]] / the residual path's `cents` parameter. */
  def kmeansCentroidsSampled(emb: DataFrame, idCol: String, vecCol: String,
                             k: Int, iters: Int,
                             maxTrain: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val pts = trainingSample(emb, idCol, vecCol, maxTrain)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    lloydLocal(pts, k, iters).zipWithIndex
      .map { case (cv, c) => (c.toLong, cv.toSeq) }.toSeq
      .toDF("cell", "cv")
  }

  /** IVF search over an EXPLICIT centroid frame `(cell, cv)` — the
    * quantizer-agnostic core: corpus cell assignment is the broadcast
    * `max_by` pass (map-side partial aggregate, one output row per vector
    * crosses the exchange), queries probe their `nProbe` nearest cells,
    * exact cosine ranks within the probed cells. */
  def ivfTopKFrom(emb: DataFrame, idCol: String, vecCol: String,
                  centroidFrame: DataFrame, querySelector: Long,
                  k: Int, nProbe: Int): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"))
    // Corpus assignment (best cell per vector): `max_by` over the broadcast
    // cross product, NOT a row_number window — the aggregate does map-side
    // partial `max_by`, so the nCells-times-amplified rows never leave their
    // input partition; the only exchange carries ONE row per vector. (A
    // window formulation shuffles the full amplified corpus first —
    // ruinous at scale.) Tie-break mirrors the window ordering
    // (`cell_sim` desc, `cell` asc) via the (cell_sim, -cell) max key,
    // which is unique per (vector, cell). Shared with SemDeDup.
    val corpus = assignCells(emb, idCol, vecCol, centroidFrame)
      .select(col("id").as("neighbor_id"), col("v"), col("nv"), col("cell"))
    val queries = probeCells(base.filter(col("id") % querySelector === 0),
        centroidFrame, nProbe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("nv").as("nq"), col("cell"))
    val scored = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    // bounded-heap rank over the probed-cell candidates; the cell rides the
    // heap as an inert payload (each corpus vector lives in exactly one
    // cell, so a (query, neighbor) pair matches at most one probed cell and
    // the payload is well-defined — recomputing it post-rank would cost a
    // second full-corpus assignment pass)
    rankTopK(scored, "cos", k, tag = Some("cell"))
      .select("query_id", "rank", "neighbor_id", "cos", "cell")
  }

  /** ANN via IVF with the DETERMINISTIC coarse quantizer — the `nCells`
    * lowest-id vectors serve as centroids (cell id = vector id), so the
    * whole pipeline is SQL-replayable end to end (q_ann_ivf's direct
    * oracle). For a trained quantizer pass [[kmeansCentroids]]' output to
    * [[ivfTopKFrom]] instead. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              querySelector: Long, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    val cent = emb.select(col(idCol).as("cell"), col(vecCol).as("cv"))
      .orderBy("cell").limit(nCells)
    ivfTopKFrom(emb, idCol, vecCol, cent, querySelector, k, nProbe)
  }

  /** Signature frame for [[lshTopKFrom]]: `(id, v, nv, bucket)` — the
    * deterministic seam for the ANN pipeline (fixture-oracle'd). */
  def lshSignatures(emb: DataFrame, idCol: String, vecCol: String,
                    nPlanes: Int): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).as("v"),
        l2norm(col(vecCol)).as("nv"))
      .withColumn("bucket", hyperplaneSignature(toDouble(col("v")), nPlanes))

  /** ANN via LSH buckets over a precomputed signature frame: corpus and
    * queries hash to sign-buckets; each query joins only its bucket (equi-
    * join on the signature → shuffle on bucket key, never all-pairs), then
    * exact cosine ranks within bucket. */
  def lshTopKFrom(sig: DataFrame, querySelector: Long, k: Int, nPlanes: Int,
                  multiProbe: Boolean = true): DataFrame = {
    // multi-probe: a query also searches every Hamming-1 bucket (flip each
    // plane bit once) — the standard recall lever that costs probe joins,
    // not extra hash tables. Corpus vectors stay in exactly one bucket, so
    // a (query, neighbor) pair still matches at most once.
    val probeBuckets: Column =
      if (multiProbe)
        explode(array(col("bucket") +:
          (0 until nPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*))
      else col("bucket")
    val queries = sig.filter(col("id") % querySelector === 0)
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("nv").as("nq"), probeBuckets.as("bucket"))
    val corpus = sig.select(col("id").as("neighbor_id"), col("v"), col("nv"), col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("nq") * col("nv")), 6))
    // bounded-heap rank over the bucket candidates; the (unique per
    // neighbor) bucket rides the heap as an inert payload
    rankTopK(scored, "cos", k, tag = Some("bucket"))
      .select("query_id", "rank", "neighbor_id", "cos", "bucket")
  }

  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              querySelector: Long, k: Int, nPlanes: Int,
              multiProbe: Boolean = true): DataFrame =
    lshTopKFrom(lshSignatures(emb, idCol, vecCol, nPlanes),
      querySelector, k, nPlanes, multiProbe)

  /** Corpus cell assignment against an explicit centroid frame — the
    * broadcast `max_by` pass shared by IVF search and SemDeDup: one output
    * row per vector crosses the exchange (see [[ivfTopKFrom]] for why this
    * beats a window over the centroid-amplified rows). Output
    * `(id, v, nv, cell)`. */
  def assignCells(emb: DataFrame, idCol: String, vecCol: String,
                  centroidFrame: DataFrame): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"))
    val centroids = centroidFrame.select(col("cell"), col("cv"),
      l2norm(col("cv")).as("cn"))
    base.crossJoin(broadcast(centroids))
      .withColumn("cell_sim", dot(col("v"), col("cv")) / (col("nv") * col("cn")))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cell"), col("v"), col("nv")),
        struct(col("cell_sim"), (-col("cell")).as("tb"))).as("best"))
      .select(col("id"), col("best.v").as("v"), col("best.nv").as("nv"),
        col("best.cell").as("cell"))
  }

  /** Prototypicality pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning"): score
    * every example by its cosine DISTANCE to its assigned k-means
    * centroid and keep the hardest (least prototypical) `keepK` per
    * cluster — the paper's self-supervised pruning metric, which beats
    * random pruning precisely because the easy/redundant core of each
    * cluster is dropped first.
    *
    * Shape: one broadcast-assignment corpus pass (the [[assignCells]]
    * max_by, with the winning similarity kept), then the shared
    * bounded-heap [[rankTopK]] stage keyed by cell — ≤ keepK rows per
    * (cell, partition) cross the exchange, never a corpus-sized window.
    * Output `(cell, rank, vec_id, dist)`, hardest first; ties toward the
    * smaller vec_id (the heap's total order = the oracle's rank window).
    */
  def protoPrune(emb: DataFrame, idCol: String, vecCol: String,
                 centroidFrame: DataFrame, keepK: Int): DataFrame = {
    val base = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nv"))
    val centroids = centroidFrame.select(col("cell"), col("cv"),
      l2norm(col("cv")).as("cn"))
    val asg = base.crossJoin(broadcast(centroids))
      .withColumn("cell_sim", dot(col("v"), col("cv")) / (col("nv") * col("cn")))
      .groupBy(col("neighbor_id"))
      .agg(max_by(struct(col("cell"), col("cell_sim")),
        struct(col("cell_sim"), (-col("cell")).as("tb"))).as("best"))
      .select(col("best.cell").as("query_id"), col("neighbor_id"),
        round(lit(1.0) - col("best.cell_sim"), 6).as("dist"))
    rankTopK(asg, "dist", keepK)
      .select(col("query_id").as("cell"), col("rank"),
        col("neighbor_id").as("vec_id"), col("dist"))
  }

  /** Probe assignment for a (small, fixed-size) QUERY frame `(id, v, nv)`:
    * each row explodes to its `nProbe` most-similar cells. A row_number
    * window is fine here because the input is the bounded query subset —
    * assigning the full corpus at nProbe and filtering after would waste a
    * second full-corpus pass (see [[assignCells]] for the corpus-side
    * shape). Shared by [[ivfTopKFrom]] and [[ivfPqTopK]]. */
  def probeCells(queries: DataFrame, centroidFrame: DataFrame,
                 nProbe: Int): DataFrame = {
    val centroids = centroidFrame.select(col("cell"), col("cv"),
      l2norm(col("cv")).as("cn"))
    val qw = Window.partitionBy(col("id"))
      .orderBy(col("cell_sim").desc, col("cell"))
    queries.crossJoin(broadcast(centroids))
      .withColumn("cell_sim", dot(col("v"), col("cv")) / (col("nv") * col("cn")))
      .withColumn("cell_rank", row_number().over(qw))
      .filter(col("cell_rank") <= nProbe)
      .select(col("id"), col("v"), col("nv"), col("cell"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): semantic near-dup
    * removal that only compares vectors WITHIN a coarse cluster — the
    * approximation that makes embedding dedup tractable when the exact
    * all-pairs scan (even blocked) can't be afforded. Pipeline: assign
    * every vector to its most-similar centroid ([[assignCells]] — one
    * broadcast pass, one row per vector shuffles); pair-scan within each
    * cell (equi-join on the cell id, so comparisons cost Σ|cell|² instead
    * of n²); resolve duplicate groups by connected components; keeper =
    * min id per component (the paper keeps one representative per group —
    * min id is the deterministic choice).
    *
    * Scale: the cell equi-join's reducer memory is bounded by the largest
    * cell — k should grow with the corpus (the paper runs k ≈ √n·c); a
    * pathologically hot cell (size > `hotCellThreshold`) is handled the
    * same way as any skewed join key: its pair scan is salted into the
    * [[cosinePairsBlocked]] block-pair shape WITHIN the cell, so one hot
    * cell's Σ|cell|² comparisons spread over `nBlocks(nBlocks+1)/2`
    * reducers with 2|cell|/nBlocks vectors each instead of landing on a
    * single (cell)-keyed reducer. Pair semantics are identical either
    * route (SimilaritySpec pins salted ≡ plain on a deliberately hot
    * cell), so the split is purely a physical-shape decision.
    *
    * Output one row per vector: `(vec_id, cell, cluster_id, keep)`.
    * Vectors with no near-dup in their cell keep themselves. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               centroidFrame: DataFrame, threshold: Double,
               hotCellThreshold: Int = 1000000, nBlocks: Int = 16): DataFrame = {
    // materialized once: the assignment pass (a full-corpus broadcast
    // cross + max_by) is read four times — both pair-scan sides, the
    // cell-size rollup, and the output join — and duplicateClusters' eager
    // materialization would otherwise recompute it per read. Construction
    // of this frame is therefore EAGER (duplicateClusters counts the pair
    // set anyway); blocks are freed by the ContextCleaner when the result
    // frame is dropped, and bench/serving edges clearCache — same
    // lifecycle as the prefix pair join's posting frame
    // (DedupOps.ngramJaccardPairsPrefix).
    val asg = assignCells(emb, idCol, vecCol, centroidFrame)
      .localCheckpoint(true)
    // cell sizes: one row per cell (k ≈ √n·c rows — broadcast-sized), so
    // the hot/cold split is a broadcast join, not a second corpus shuffle
    val sizes = asg.groupBy("cell").agg(count(lit(1)).as("__cn"))
    val sized = asg.join(broadcast(sizes), Seq("cell"))
    val cold = sized.filter(col("__cn") <= hotCellThreshold).drop("__cn")
    val hot = sized.filter(col("__cn") > hotCellThreshold).drop("__cn")
    val a = cold.as("a"); val b = cold.as("b")
    val coldPairs = a.join(b, col("a.cell") === col("b.cell") &&
        col("a.id") < col("b.id"))
      .withColumn("cos", round(
        dot(col("a.v"), col("b.v")) / (col("a.nv") * col("b.nv")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // hot cells: the cosinePairsBlocked replication keyed by (cell, ba,
    // bb) — each unordered within-cell pair meets exactly once
    val blocked = hot.withColumn("blk", pmod(col("id"), lit(nBlocks)).cast("int"))
    val ha = blocked
      .withColumn("bb", explode(filter(sequence(lit(0), lit(nBlocks - 1)),
        j => j >= col("blk"))))
      .select(col("cell"), col("blk").as("ba"), col("bb"),
        col("id").as("id_a"), col("v").as("va"), col("nv").as("na"))
    val hb = blocked
      .withColumn("ba", explode(filter(sequence(lit(0), lit(nBlocks - 1)),
        j => j <= col("blk"))))
      .select(col("cell"), col("ba"), col("blk").as("bb"),
        col("id").as("id_b"), col("v").as("vb"), col("nv").as("nb"))
    val hotPairs = ha.join(hb, Seq("cell", "ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val pairs = coldPairs.unionByName(hotPairs)
    val clusters = graft.dedup.DedupOps.duplicateClusters(pairs)
      .withColumnRenamed("doc_id", "vec_id")
    asg.select(col("id").as("vec_id"), col("cell"))
      .join(clusters, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("vec_id")) === col("vec_id"))
          .cast("int").as("keep"))
  }

  // ---- Product quantization (IVF-PQ's compression half) -----------------

  /** Subspace `sub` (0-based) of vector `v` split into `m` equal slices.
    * Column `/` is DOUBLE division — cast back to int. Requires m | dims
    * ([[pqCodebooks]] enforces it): with a remainder, the int-cast start
    * positions silently skip elements AND diverge from the oracle's
    * integer-division slicing. */
  private[sim] def subSlice(v: Column, sub: Column, m: Int): Column =
    slice(v, (sub * (size(v) / m)).cast("int") + 1, (size(v) / m).cast("int"))

  /** Guard the m | dims precondition every PQ path shares: a remainder
    * would make [[subSlice]] silently drop trailing dims and diverge from
    * the oracle's slicing. The sample is the LOWEST-id row — an unordered
    * limit(1) could sample a different row per run under partition
    * pruning. Cost honesty: TakeOrdered over the pruned (id, size(vec))
    * columns IS a light full scan, paid once per codebook build and dwarfed
    * by the build itself; a min(size)=max(size) aggregate over the same
    * columns would cost the same scan and catch ragged corpora beyond the
    * codebook rows (whose dims are what the slicing actually keys off) —
    * the guard stays best-effort by that reasoning. */
  private def requireDimsDivisible(emb: DataFrame, idCol: String,
                                   vecCol: String, m: Int): Unit =
    emb.select(col(idCol), size(col(vecCol)).as("d")).filter(col("d") >= 0)
      .orderBy(col(idCol)).limit(1).collect().headOption
      .foreach { r =>
        require(r.getInt(1) % m == 0,
          s"PQ needs dims divisible by m: dims=${r.getInt(1)}, m=$m")
      }

  /** Deterministic PQ codebooks: the `ksub` lowest-id vectors, sliced into
    * `m` equal subspaces, serve as the codewords of each subspace (code =
    * source vector id — the same SQL-replayable convention as
    * [[ivfTopK]]'s deterministic quantizer; [[pqCodebooksTrained]] is the
    * trained variant, pinned through a fixture seam).
    * Output `(sub, code, cv)` — m·ksub rows, broadcast-sized by
    * construction. */
  def pqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int): DataFrame = {
    requireDimsDivisible(emb, idCol, vecCol, m)
    emb.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).as("code"), toDouble(col(vecCol)).as("v"))
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("v"))
      .select(col("sub"), col("code"),
        subSlice(col("v"), col("sub"), m).as("cv"))
  }

  /** Deterministic BOUNDED training sample — FAISS's
    * `max_points_per_centroid` discipline (its Clustering subsamples the
    * training set to ~256 points per centroid before running Lloyd; a
    * quantizer trained on more gains nothing). Ordering by
    * `xxhash64(id)` gives a uniform pseudo-random draw that is
    * deterministic given the data (no seed state, ties broken by id), and
    * the orderBy+limit plans as TakeOrderedAndProject — a per-partition
    * bounded heap and ONE k-row merge at the driver, never a full
    * corpus sort/shuffle — so extracting the sample is one cheap pass no
    * matter how large the corpus grows. */
  private def trainingSample(emb: DataFrame, idCol: String, vecCol: String,
                             maxTrain: Int): DataFrame =
    emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(maxTrain)

  /** Driver-local spherical Lloyd over an in-memory point set — the
    * terminal stage of sampled quantizer training. Same semantics as the
    * distributed [[kmeansCentroids]]: init = the `k` lowest-id points,
    * assignment by cosine (ties toward the lower cell, NaN greatest —
    * mirroring Spark's `max_by` ordering), update = element-wise member
    * mean, an emptied cell keeps its previous centroid. Points are
    * pre-sorted by id so summation order (hence the fp result) is
    * deterministic regardless of collect order. O(n·k·d·iters) driver
    * flops on a BOUNDED n — microseconds, vs a Spark job per round. */
  private def lloydLocal(points: Array[(Long, Array[Double])],
                         k: Int, iters: Int): Array[Array[Double]] = {
    val pts = points.sortBy(_._1)
    require(pts.nonEmpty, "lloydLocal needs a non-empty training set")
    val d = pts.head._2.length
    def norm(x: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { s += x(i) * x(i); i += 1 }
      math.sqrt(s)
    }
    var cents = pts.take(k).map(_._2.clone)
    val pn = pts.map(p => norm(p._2))
    for (_ <- 0 until iters) {
      val cn = cents.map(norm)
      val sums = Array.fill(cents.length)(new Array[Double](d))
      val counts = new Array[Long](cents.length)
      var pi = 0
      while (pi < pts.length) {
        val v = pts(pi)._2
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          var dp = 0.0; var i = 0
          val cv = cents(c)
          while (i < d) { dp += v(i) * cv(i); i += 1 }
          val sim = dp / (pn(pi) * cn(c))
          // Double.compare ranks NaN greatest, as Spark's max_by does;
          // strict > keeps the lower cell on ties
          if (java.lang.Double.compare(sim, bestSim) > 0) { best = c; bestSim = sim }
          c += 1
        }
        val s = sums(best); var i = 0
        while (i < d) { s(i) += v(i); i += 1 }
        counts(best) += 1
        pi += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else { val s = sums(c); val mean = new Array[Double](d)
          var i = 0
          while (i < d) { mean(i) = s(i) / counts(c); i += 1 }
          mean }
      }
    }
    cents
  }

  /** Train per-subspace codebooks from a BOUNDED `(id, v)` frame: ONE
    * collect pulls every (sub, slice) pair of the sample to the driver —
    * the joint pass replacing m separate per-subspace jobs — then
    * [[lloydLocal]] runs all m subspaces in memory. Zero-norm slices are
    * dropped from a subspace's training (directionless for the spherical
    * trainer; a zero INIT codeword would NaN-capture the whole subspace);
    * they still ENCODE fine downstream.
    *
    * Degenerate-input behavior (instead of aborting the whole build):
    * a subspace whose sampled slices are ALL zero-norm gets one all-zero
    * codeword — downstream [[pqEncode]]'s inner join on `sub` still finds
    * a codebook row and everything in that subspace encodes to code 0; and
    * a subspace with fewer than `ksub` trainable slices yields a SMALLER
    * codebook (one codeword per distinct init point, `min(ksub, n)` rows)
    * — valid PQ, just coarser, exactly as FAISS warns-and-proceeds when
    * the training set is smaller than the requested centroid count. */
  private def trainCodebooksLocal(sample: DataFrame, m: Int, ksub: Int,
                                  iters: Int): DataFrame = {
    val spark = sample.sparkSession
    import spark.implicits._
    val slices = sample
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("sub"), col("id"), subSlice(col("v"), col("sub"), m).as("sv"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val subDim = slices.headOption.map(_._3.length).getOrElse(0)
    val trainable = slices.filter(t => t._3.exists(_ != 0.0))
    (0 until m).flatMap { s =>
      val pts = trainable.collect { case (`s`, id, sv) => (id, sv) }
      if (pts.isEmpty)
        if (subDim == 0) Seq.empty
        else Seq((s, 0L, Seq.fill(subDim)(0.0)))
      else
        lloydLocal(pts, ksub, iters).zipWithIndex.map { case (cv, code) =>
          (s, code.toLong, cv.toSeq)
        }
    }.toDF("sub", "code", "cv")
  }

  /** TRAINED per-subspace PQ codebooks — the FAISS-faithful training
    * shape: Lloyd on a BOUNDED deterministic sample ([[trainingSample]],
    * default 4096 = FAISS's 256·k at ksub=16), all `m` subspaces trained
    * from one collected pass ([[trainCodebooksLocal]]) instead of m
    * separate per-slice [[kmeansCentroids]] runs. The distributed work is
    * ONE TakeOrderedAndProject pass over the corpus; training itself is
    * O(maxTrain·ksub·dims·iters) driver flops on a model that was always
    * driver-resident anyway — where the previous full-corpus formulation
    * ran m·iters corpus-wide assign+mean jobs (the two slowest warm
    * queries in the r7 bench, 6.8/7.8 s, were exactly these loops).
    *
    * Centroid means depend on fp arithmetic, so query pipelines pin the
    * OUTPUT frame through `OracleFixtures.seam` (exactly like
    * `q_ann_ivf_trained`'s centroid frame) and the oracle replays
    * encode → ADC → rank from the fixture. One deliberate divergence from
    * FAISS: the within-subspace metric is the spherical (cosine) k-means
    * this repo already oracle-pins, not L2 k-means — assignment in
    * [[pqEncode]] stays squared-L2 ADC either way.
    * Output `(sub, code, cv)`, m·ksub rows. */
  def pqCodebooksTrained(emb: DataFrame, idCol: String, vecCol: String,
                         m: Int, ksub: Int, iters: Int,
                         maxTrain: Int = 4096): DataFrame = {
    requireDimsDivisible(emb, idCol, vecCol, m)
    trainCodebooksLocal(trainingSample(emb, idCol, vecCol, maxTrain),
      m, ksub, iters)
  }

  /** Squared L2 distance between two equal-length DOUBLE arrays, expressed
    * ELEMENTWISE (`Σ (x_i − y_i)²`, sequential) so the DuckDB oracle's
    * `list_sum(list_transform(list_zip(..)))` replays the identical fp
    * operation order. Higher-order fns run interpreted — fine here because
    * every call site is codebook-sized (m·ksub per vector / per query),
    * never corpus × corpus; a corpus-scale hot loop would move to a native
    * kernel like [[graft.functions.VectorFunctions.vec_dot]]. */
  private[sim] def l2sq(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, e) => acc + e)

  /** PQ-encode the corpus: each vector's `m` subvectors map to their
    * nearest codeword (squared L2, ties to the lower code). Map-side only
    * until the per-(id, sub) `min` aggregate — the codebook is broadcast,
    * and the aggregate's exchange carries m rows per vector of
    * `(id, sub, code)`: the 4×-to-64× compressed representation that is
    * the point of PQ. */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               codebooks: DataFrame, m: Int): DataFrame = {
    val subs = emb
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("v"))
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("id"), col("sub"),
        subSlice(col("v"), col("sub"), m).as("sv"))
    subs.join(broadcast(codebooks), Seq("sub"))
      // ROUNDED distance with the code as tie-break: sub-1e-6 distance ties
      // resolve to the lower code identically in any engine (an unrounded
      // argmin would let a 1-ulp summation difference flip the code)
      .withColumn("d2", round(l2sq(col("sv"), col("cv")), 6))
      .groupBy("id", "sub")
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(col("id"), col("sub"), col("best.code").as("code"))
  }

  /** ANN via asymmetric-distance PQ (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): corpus vectors are stored
    * only as `m` codes; a query computes its distance table to every
    * codeword (m·ksub entries — broadcast-sized), and a neighbor's
    * approximate distance is the SUM of table lookups, never a full-vector
    * scan. Rank ascending by the rounded distance, neighbor id as the
    * engine-independent tie-break.
    *
    * Scale shape: the corpus-side frame is the exploded code table
    * (`m` SMALL rows per vector — this is what a 100 TB embedding store
    * shrinks to); the query table is fixed-size (`maxQueries·m·ksub`) and
    * broadcast; the only exchange is the (query, neighbor) partial-sum
    * aggregate, which map-side-combines the m rows of each pair before
    * shuffling — the same queries×corpus exchange volume as
    * [[bruteForceTopK]]'s ranking window, at 1/dims the row width. */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             querySelector: Long, k: Int, m: Int, ksub: Int,
             maxQueries: Long = 100L): DataFrame =
    pqTopKFrom(emb, idCol, vecCol, pqCodebooks(emb, idCol, vecCol, m, ksub),
      querySelector, k, m, maxQueries)

  /** [[pqTopK]] over an EXPLICIT codebook frame `(sub, code, cv)` — the
    * codebook-agnostic core, shared by the deterministic path and the
    * [[pqCodebooksTrained]] fixture-seam path. */
  def pqTopKFrom(emb: DataFrame, idCol: String, vecCol: String,
                 books: DataFrame, querySelector: Long, k: Int, m: Int,
                 maxQueries: Long = 100L): DataFrame = {
    val codes = pqEncode(emb, idCol, vecCol, books, m)
    val qtab = emb.filter(col(idCol) % querySelector === 0 &&
        col(idCol) < lit(querySelector * maxQueries))
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"))
      .select(col("query_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("qv"))
      .select(col("query_id"), col("sub"),
        subSlice(col("qv"), col("sub"), m).as("qsv"))
      .join(broadcast(books), Seq("sub"))
      // pd rounds per subspace at 9 decimals BEFORE the sum: the m-term
      // accumulation order inside sum() is engine-dependent, and a raw
      // partial landing within 1 ulp of a 0.5e-6 boundary could round the
      // FINAL d2 differently in Spark vs the oracle; 9-decimal partials
      // make every summand a short exact decimal on both engines (same
      // pinning idea as pqEncode's per-subspace rounding). The partials
      // are then summed as exact integer NANO-units, not doubles: a
      // double sum is still summation-ORDER-dependent in its last ulp,
      // and DuckDB's parallel aggregation order varies run to run — one
      // d2 at sf0.01 sat exactly on a 0.5e-6 boundary and flipped the
      // oracle compare ~50% of checker runs until the sum went integer
      .select(col("query_id"), col("sub"), col("code"),
        round(l2sq(col("qsv"), col("cv")), 9).as("pd"))
    val scored = codes.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(round(sum(round(col("pd") * 1e9, 0).cast("long")).cast("double")
        / 1e9, 6).as("d2"))
    // ascending bounded-heap rank: the queries×corpus ADC frame reduces to
    // ≤ k rows per (query, partition) before any exchange — never a
    // per-query corpus-sized window sort
    rankTopK(scored, "d2", k, ascending = true)
      .select("query_id", "rank", "neighbor_id", "d2")
  }

  /** ANN via IVF-PQ — the production composition (FAISS's IndexIVFPQ
    * shape): the IVF coarse quantizer prunes the search to `nProbe` cells,
    * and within the probed cells neighbors are ranked by PQ
    * asymmetric-distance lookups instead of full-vector scans. Both
    * quantizers here are the DETERMINISTIC lowest-id variants, so the
    * whole pipeline replays in SQL (direct oracle, like [[ivfTopK]] and
    * [[pqTopK]]); production swaps in [[kmeansCentroids]] per quantizer
    * behind a fixture seam. One deliberate divergence from FAISS: codes
    * are computed over RAW vectors, not per-cell residuals — residual
    * codebooks can't be deterministic-by-id. [[ivfPqResidualTopK]] is the
    * residual-coded, FAISS-faithful variant (trained codebooks via the
    * fixture seam).
    *
    * Scale shape: the corpus-side state is `(cell, m codes)` per vector;
    * the probe join hits only `nProbe/nCells` of it, and the ADC
    * aggregate's exchange carries candidate partial sums (map-side
    * combined) — strictly less volume than [[pqTopK]]'s full-corpus scan
    * at equal query count. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                querySelector: Long, k: Int, nCells: Int, nProbe: Int,
                m: Int, ksub: Int, maxQueries: Long = 100L): DataFrame = {
    val cent = emb.select(col(idCol).as("cell"), col(vecCol).as("cv"))
      .orderBy("cell").limit(nCells)
    // corpus: cell assignment (one max_by pass) + PQ codes, joined on id —
    // both frames are one-or-m small rows per vector, co-keyed on id
    val asg = assignCells(emb, idCol, vecCol, cent)
      .select(col("id"), col("cell"))
    val books = pqCodebooks(emb, idCol, vecCol, m, ksub)
    val codes = pqEncode(emb, idCol, vecCol, books, m)
      .join(asg, Seq("id"))
    // queries: probe the nProbe most-similar cells + the ADC table —
    // both fixed-size (maxQueries · {nProbe, m·ksub}) and broadcast
    val qbase = emb.filter(col(idCol) % querySelector === 0 &&
        col(idCol) < lit(querySelector * maxQueries))
      .select(col(idCol).as("query_id"), toDouble(col(vecCol)).as("qv"),
        l2norm(col(vecCol)).as("nq"))
    val probes = probeCells(qbase.select(col("query_id").as("id"),
        col("qv").as("v"), col("nq").as("nv")), cent, nProbe)
      .select(col("id").as("query_id"), col("cell"))
    val qtab = qbase
      .select(col("query_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("qv"))
      .select(col("query_id"), col("sub"),
        subSlice(col("qv"), col("sub"), m).as("qsv"))
      .join(broadcast(books), Seq("sub"))
      // per-subspace 9-decimal rounding before the sum — see [[pqTopK]]
      .select(col("query_id"), col("sub"), col("code"),
        round(l2sq(col("qsv"), col("cv")), 9).as("pd"))
    val scored = codes.join(broadcast(probes), Seq("cell"))
      .join(broadcast(qtab), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"), col("cell"))
      .agg(round(sum(round(col("pd") * 1e9, 0).cast("long")).cast("double")
        / 1e9, 6).as("d2"))
    // ascending bounded-heap rank over the probed-cell ADC candidates; the
    // cell (unique per neighbor) rides the heap as an inert payload
    rankTopK(scored, "d2", k, ascending = true, tag = Some("cell"))
      .select("query_id", "rank", "neighbor_id", "d2", "cell")
  }

  /** Residual frame for IVF-PQ: each vector's elementwise offset from its
    * assigned cell's centroid, `rv = v − cv(cell)`. The subtraction is an
    * interpreted `zip_with` — one dims-length pass per vector, ~1/ksub of
    * the interpreted FLOPs [[pqEncode]]'s codebook scan already spends per
    * vector, so a native kernel would not move the needle here. EAGERLY
    * checkpointed by callers that read it more than once (encode + cell
    * map + k-means rounds). */
  private def residualFrame(emb: DataFrame, idCol: String, vecCol: String,
                            cent: DataFrame): DataFrame =
    assignCells(emb, idCol, vecCol, cent)
      .join(broadcast(cent.select(col("cell"),
        toDouble(col("cv")).as("__cv"))), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(toDouble(col("v")), col("__cv"), (a, b) => a - b).as("rv"))

  /** Trained RESIDUAL PQ codebooks — the missing half of FAISS's
    * IndexIVFPQ that the raw-vector [[ivfPqTopK]] documents as its
    * oracle-exactness tradeoff: codewords quantize the residual
    * `v − centroid(cell)` rather than the raw vector, so code precision
    * concentrates around each cell instead of spanning the whole space.
    * The coarse quantizer defaults to the DETERMINISTIC lowest-id one
    * (directly SQL-replayable); pass `cents` (e.g. [[kmeansCentroids]])
    * for FAISS's actual composition — a TRAINED coarse quantizer — which
    * is what makes residual coding pay on clustered corpora: residuals
    * are only small (and the per-cell precision argument only holds) when
    * cells track the data's real cluster structure (measured in PERF.md
    * round 8: recall@5 0.036 → 0.166 at 5k vectors and 0.002 → 0.064 at
    * 50k on a 32-cluster corpus, same scan fraction, just by training
    * the coarse stage). The codebooks train on the SAMPLED residuals
    * ([[trainingSample]] → [[trainCodebooksLocal]], the same bounded
    * FAISS-style shape as [[pqCodebooksTrained]]) and are pinned through
    * the fixture seam by callers.
    * Zero residuals (the centroid rows themselves) are excluded from
    * TRAINING — they carry no direction for the spherical trainer and
    * would put NaN cosines into the assignment pass; they still ENCODE
    * fine (squared-L2 argmin over finite codewords). A nonzero residual
    * with an all-zero SUBSPACE slice is likewise dropped from that
    * subspace's training by [[trainCodebooksLocal]] — see the zero-slice
    * note there. */
  def ivfPqResidualBooks(emb: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, m: Int, ksub: Int, iters: Int,
                         maxTrain: Int = 4096,
                         cents: Option[DataFrame] = None): DataFrame = {
    val cent = cents.getOrElse(
      emb.select(col(idCol).as("cell"), col(vecCol).as("cv"))
        .orderBy("cell").limit(nCells))
    // sample BEFORE the residual subtraction: training needs residuals for
    // the bounded sample only, so cell assignment + subtraction run over
    // maxTrain rows, not the corpus (the full residual frame is still
    // computed once, unavoidably, by [[ivfPqResidualTopK]]'s encode pass)
    val resid = residualFrame(trainingSample(emb, idCol, vecCol, maxTrain),
        "id", "v", cent)
      .filter(l2norm(col("rv")) > 0)
      .select(col("id"), col("rv").as("v"))
    trainCodebooksLocal(resid, m, ksub, iters)
  }

  /** ANN via residual IVF-PQ — FAISS's IndexIVFPQ composition, faithfully:
    * neighbors rank by the ADC distance `‖(q − cv(cell)) − PQ(v − cv(cell))‖²`,
    * i.e. both sides of the lookup live in the probed cell's residual
    * space, and the query builds ONE distance table per probed cell
    * (maxQueries·nProbe·m·ksub entries — broadcast-sized). Corpus-side
    * state is `(cell, m codes)` per vector exactly as [[ivfPqTopK]]; the
    * only exchanges are the encode argmin and the candidate partial-sum
    * aggregate, and the rank is the bounded-heap [[rankTopK]] stage.
    * `books` comes from [[ivfPqResidualBooks]] via the fixture seam;
    * `cents` must be the SAME coarse quantizer the books were trained
    * against (both default to the deterministic lowest-id one). */
  def ivfPqResidualTopK(emb: DataFrame, idCol: String, vecCol: String,
                        books: DataFrame, querySelector: Long, k: Int,
                        nCells: Int, nProbe: Int, m: Int,
                        maxQueries: Long = 100L,
                        cents: Option[DataFrame] = None): DataFrame = {
    val cent = cents.getOrElse(
      emb.select(col(idCol).as("cell"), col(vecCol).as("cv"))
        .orderBy("cell").limit(nCells))
    // read twice (encode + cell map) — checkpoint instead of recomputing
    // the assignment max_by pass per read
    val resid = residualFrame(emb, idCol, vecCol, cent).localCheckpoint(true)
    val codes = pqEncode(resid, "id", "rv", books, m)
      .join(resid.select(col("id"), col("cell")), Seq("id"))
    val qbase = emb.filter(col(idCol) % querySelector === 0 &&
        col(idCol) < lit(querySelector * maxQueries))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        l2norm(col(vecCol)).as("nv"))
    val qres = probeCells(qbase, cent, nProbe)
      .join(broadcast(cent.select(col("cell"),
        toDouble(col("cv")).as("__cv"))), Seq("cell"))
      .select(col("id").as("query_id"), col("cell"),
        zip_with(toDouble(col("v")), col("__cv"), (a, b) => a - b).as("qrv"))
    val qtab = qres
      .select(col("query_id"), col("cell"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("qrv"))
      .select(col("query_id"), col("cell"), col("sub"),
        subSlice(col("qrv"), col("sub"), m).as("qsv"))
      .join(broadcast(books), Seq("sub"))
      // per-subspace 9-decimal rounding before the sum — see [[pqTopK]]
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        round(l2sq(col("qsv"), col("cv")), 9).as("pd"))
    val scored = codes.join(broadcast(qtab), Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"), col("cell"))
      .agg(round(sum(round(col("pd") * 1e9, 0).cast("long")).cast("double")
        / 1e9, 6).as("d2"))
    rankTopK(scored, "d2", k, ascending = true, tag = Some("cell"))
      .select("query_id", "rank", "neighbor_id", "d2", "cell")
  }

  /** Symmetric per-vector int8 quantization + reconstruction audit — the
    * 4× embedding-store compression every large ANN/recall corpus runs
    * before serving. Per vector: `scale = max|x| / 127`, `q_i =
    * clamp(round(x_i/scale), ±127)`, reporting the scale, the quantized L1
    * mass (an integer — engine-exact), and the max reconstruction error
    * `max|q_i·scale − x_i|`.
    *
    * Map-only (one pass, no shuffle, no state). Rounding is
    * `floor(x/scale + 0.5)` — floor on doubles is IEEE-exact in every
    * engine, unlike banker's-vs-half-up `round` variance on ties. An
    * all-zero vector quantizes to zeros with scale 0 (no division). */
  def int8Quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // internal name "__sc" ≠ output alias "scale": the output select also
    // emits round(__sc, 6) AS scale, and Spark's lateral-alias resolution
    // would otherwise bind the lambda's `scale` to the ROUNDED alias —
    // silently quantizing the error math at 1e-6
    val clamp: Column => Column =
      x => greatest(lit(-127L), least(lit(127L), floor(x / col("__sc") + 0.5))).cast("int")
    emb.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .withColumn("__sc",
        array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("q", when(col("__sc") > 0, transform(col("v"), clamp))
        .otherwise(transform(col("v"), _ => lit(0))))
      .select(col("vec_id"), round(col("__sc"), 6).as("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("l1_q"),
        round(array_max(zip_with(col("q"), col("v"),
          (qi, xi) => abs(qi * col("__sc") - xi))), 6).as("max_err"))
  }
}
