package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is one hash-aggregate on a 128-bit content hash — never
  *    groups on the raw text (the hash is 16 bytes regardless of doc size);
  *  - the exact-Jaccard pair join explodes distinct shingles and self-joins
  *    on the shingle — quadratic only within a shingle's posting list, so a
  *    document-frequency cap (`dfCap`) bounds worst-case blowup from stop
  *    shingles at corpus scale;
  *  - MinHash/LSH replaces the all-pairs comparison with a band-bucket join:
  *    candidates are pairs sharing ≥1 of `bands` buckets, verified exactly.
  *    Everything is expression-level (codegen'd) — no UDFs.
  */
object DedupOps {

  /** Exact dedup: group by md5(text); keeper = min id per group
    * (deterministic). Output one row per distinct content. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct shingle sets with an optional corpus document-
    * frequency cap (shingles present in more than `dfCap` docs are dropped
    * from BOTH sides — the standard stop-shingle guard; pass
    * `Int.MaxValue` to disable for exact semantics). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int,
                  dfCap: Int = Int.MaxValue): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"),
              explode(TextOps.shingles(col(textCol), n)).as("shingle"))
    if (dfCap == Int.MaxValue) ex
    else {
      // drop stop shingles present in more than dfCap docs — bounds the
      // posting-list self-join at sublinear cost (one extra aggregate)
      val keep = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("shingle")
      ex.join(keep, Seq("shingle"), "left_semi")
    }
  }

  /** EXACT n-gram Jaccard pairs via PREFIX FILTERING (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Chaudhuri et al.'s
    * SSJoin): under any global total order of shingles — here the 64-bit
    * hash order — two sets with J ≥ t MUST share an element within their
    * first `|X| − ⌈t·|X|⌉ + 1` elements. So only that prefix is indexed
    * for the candidate self-join (≈ (1−t) of each posting list; at t=0.8
    * the joined volume drops ~25×), and candidates are verified with the
    * full exact Jaccard — same output as the naive formulation,
    * bit-for-bit (DedupSpec asserts equality; the DuckDB oracle is the
    * naive formulation).
    *
    * `⌈t·n⌉` is computed in INTEGER arithmetic (t as parts-per-thousand):
    * a double `ceil(0.8*25) = ceil(20.000000000000004) = 21` would shorten
    * the prefix below the theorem's bound and silently drop pairs. */
  def ngramJaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double): DataFrame = {
    // NOT checkpointed: rarityPostings' two references (df-count
    // aggregate + postings join) shuffle the identical subtree on the
    // same `gh` key, so ReusedExchange computes the shingle kernel once
    // at execution — an eager materialization of the exploded hash frame
    // was measured +1.7 s warm on q_corpus_clean (r16) for zero saved
    // recompute. The `ghs` checkpoint below stays: its three consumers
    // hash on DIFFERENT keys (prefix explode; id_a / id_b verify sides),
    // where exchange reuse cannot fire.
    val ex = shingleHashes(df, idCol, textCol, n)
    // one aggregation builds the per-doc rarity-ordered posting list, then
    // BOTH stages read it: the prefix index is a slice of it, and
    // verification intersects candidate pairs' lists directly
    // (array_intersect of two distinct-element lists ≡ the exploded
    // equi-join count, without re-running the shingle kernel + a 3-way
    // shuffle join). Checkpointed because it's read three times (prefix +
    // both join sides); blocks are freed by the ContextCleaner when the
    // result frame is dropped, and bench/serving edges clearCache.
    val ghs = rarityPostings(ex).localCheckpoint(true)
    val cands = explodePrefix(ghs, threshold)
    val a = cands.as("a"); val b = cands.as("b")
    val tNum = math.round(threshold * 1000).toInt
    // ppjoin candidate filters (Xiao et al., "Efficient Similarity Joins
    // for Near Duplicate Detection", WWW'08), both lossless for J ≥ t and
    // both pure join predicates (no extra shuffle):
    //  - LENGTH: J ≥ t ⟹ t·max(|A|,|B|) ≤ |A∩B| ≤ min(|A|,|B|);
    //  - POSITIONAL: the globally-first shared element e sits within both
    //    prefixes (pos ≤ n − ⌈t·n⌉ + 1 follows from I ≥ ⌈t·n⌉), and all
    //    shared elements follow it in both rarity-ordered lists, so
    //    1 + min(|A|−posA, |B|−posB) ≥ I ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉ holds
    //    on e's join row — a true pair always survives via that row, while
    //    boilerplate-sharing non-pairs die here instead of in verification.
    // Integer-exact forms (t in thousandths): ubound ≥ ⌈x/y⌉ ⟺ y·ubound ≥ x.
    val lengthOk =
      least(col("a.n_sh"), col("b.n_sh")) * 1000 >=
        greatest(col("a.n_sh"), col("b.n_sh")) * tNum
    val positionOk =
      (least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos")) + 1) *
        (1000 + tNum) >= (col("a.n_sh") + col("b.n_sh")) * tNum
    val pairIds = a.join(b, col("a.gh") === col("b.gh") &&
        col("a.doc_id") < col("b.doc_id") && lengthOk && positionOk)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    pairIds
      // per-document frame joins: shuffle on candidate ids (candidates ≪
      // corpus; a billion-doc broadcast cannot ship at scale)
      .join(ghs.select(col("doc_id").as("id_a"), col("ghs").as("ghs_a")), Seq("id_a"))
      .join(ghs.select(col("doc_id").as("id_b"), col("ghs").as("ghs_b")), Seq("id_b"))
      .withColumn("shared",
        size(array_intersect(col("ghs_a"), col("ghs_b"))).cast("long"))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (size(col("ghs_a")) + size(col("ghs_b")) - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Per-doc posting lists ordered by ASCENDING corpus document frequency
    * (ties on gh) — the canonical prefix-filter order (Bayardo et al.,
    * Xiao et al.'s ppjoin): a doc's prefix then holds its RAREST shingles,
    * so prefix posting lists are short by construction and the candidate
    * join degenerates toward the true pair set. A random (hash) order is
    * equally CORRECT but measured ~300× more candidates on the test
    * corpus (223k vs <1k for 256 true pairs). Costs one extra aggregate +
    * one co-partitioned join of the shingle frame — both on the `gh` key
    * it is already shuffled on. Output: `(doc_id, ghs ARRAY<BIGINT>)`. */
  def rarityPostings(ex: DataFrame): DataFrame = {
    val dfreq = ex.groupBy("gh").agg(count(lit(1)).as("df"))
    ex.join(dfreq, Seq("gh"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("gh")))).as("sdg"))
      .select(col("doc_id"), transform(col("sdg"), x => x("gh")).as("ghs"))
  }

  /** Explode each doc's first `|X| − ⌈t·|X|⌉ + 1` postings — the provably
    * sufficient candidate index for Jaccard ≥ t under the list's global
    * order (see [[ngramJaccardPairsPrefix]]). Output
    * `(doc_id, n_sh, pos, gh)` with `pos` 1-based, feeding the ppjoin
    * length/positional candidate filters. */
  def explodePrefix(ghs: DataFrame, threshold: Double): DataFrame = {
    val tNum = math.round(threshold * 1000).toInt
    require(math.abs(tNum / 1000.0 - threshold) < 1e-9,
      s"threshold $threshold must be expressible in thousandths")
    // prefix length = n − ⌈t·n⌉ + 1, with ⌈a/b⌉ = (a + b − 1) div b —
    // INTEGER arithmetic (see class doc: double ceil silently drops pairs)
    ghs
      .withColumn("n_sh", size(col("ghs")))
      .withColumn("prefix_len",
        (col("n_sh") - floor((col("n_sh").cast("long") * tNum + lit(999)) / 1000L) + 1)
          .cast("int"))
      .select(col("doc_id"), col("n_sh"),
        posexplode(slice(col("ghs"), lit(1), greatest(col("prefix_len"), lit(1)))))
      .select(col("doc_id"), col("n_sh"), (col("pos") + 1).as("pos"),
        col("col").as("gh"))
  }

  /** The prefix-filter posting index over a shingle-hash frame
    * `(doc_id, gh)`: rarity-ordered postings ([[rarityPostings]]) sliced to
    * the sufficient prefix ([[explodePrefix]]). Exposed so specs can pin
    * the fan-out bound: at t=0.8 the index holds ≈20% of the full posting
    * frame, which is what keeps a hot stop-shingle's posting list — the
    * quadratic-reducer scale-killer of the naive self-join — off the
    * join key. */
  def prefixIndex(ex: DataFrame, threshold: Double): DataFrame =
    explodePrefix(rarityPostings(ex), threshold)

  /** Exact n-gram Jaccard near-dup pairs, naive formulation: every shingle
    * indexed, quadratic within each posting list. Kept as the reference
    * implementation / spec baseline for [[ngramJaccardPairsPrefix]], which
    * produces the same output with a fraction of the join volume. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame = {
    // join/shuffle on the 64-bit shingle hash, not the string — ~8 bytes vs
    // arbitrary-length keys; collision odds over a 100 TB corpus are ~n²/2⁶⁴
    val ex = shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("gh"))
    val counts = ex.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = ex.as("a"); val b = ex.as("b")
    val shared = a.join(b,
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      // per-document frame: shuffle join (AQE broadcasts at small SFs; a
      // billion-doc broadcast cannot ship at corpus scale)
      .join(counts.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("ca.n_shingles") + col("cb.n_shingles") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  // ---- MinHash + LSH ----------------------------------------------------

  /** MinHash signatures: k permutations h_i(x) = (a_i·x + b_i) mod p over
    * xxhash64 shingle hashes, computed MAP-ONLY by the fused
    * [[graft.functions.MinHashTextSig]] kernel — no explode, NO SHUFFLE
    * (q_dedup_minhash cold 5.6 → 2.2 s at sf0.1 vs the former
    * explode→[[graft.functions.MinHashSigAgg]] pipeline; the aggregate
    * remains for callers already holding an exploded hash frame, and
    * FunctionsSpec pins kernel ≡ agg bit-equality).
    * Output: (doc_id, sig ARRAY<BIGINT> length k), one row per INPUT row
    * with ≥n tokens. PRECONDITION vs the old agg path: rows must be
    * unique by `idCol` — the aggregate merged duplicate ids into one
    * signature over the unioned shingle set, this projection emits one
    * signature per row. Every in-repo caller passes a unique-keyed
    * table; a re-crawl union must dedup ids first. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, seed: Long = 42L): DataFrame =
    // map-only signature kernel (round 10): one fused pass per document,
    // NO explode and NO shuffle — bit-identical to the former
    // explode→xxhash64→MinHashSigAgg pipeline (FunctionsSpec pins the
    // equality; the aggregate remains for callers that already hold an
    // exploded hash frame). Docs with fewer than n tokens produce the
    // empty-buffer signature (every position = Prime); the agg path
    // emitted NO row for them (nothing to explode), so filter those out
    // — any real shingle makes every position < Prime (floorMod < p),
    // hence sig[0] < Prime iff the shingle set is non-empty.
    df.select(col(idCol).as("doc_id"),
        graft.functions.MinHashSig.minhash_text_sig(
          col(textCol), n, k, seed).as("sig"))
      .filter(col("sig").getItem(0) < graft.functions.MinHashSig.Prime)

  /** LSH candidate pairs: slice the k-row signature into `bands` bands of
    * `k/bands` rows; docs sharing a (band, band-hash) bucket are candidates.
    * The bucket join shuffles on the band hash — no all-pairs comparison
    * ever materializes.
    *
    * `maxBucket` is the 100 TB boilerplate escape hatch: a template family
    * of B near-identical docs shares a bucket in EVERY band, and its
    * B²/2-per-band candidate clique is quadratic WORK downstream (distinct
    * + exact verify) that no physical re-shape can pay for — salting the
    * emit only (the non-quadratic part) measured a ~1.6× pessimization
    * (PERF.md round 9, "LSH hot-bucket skew"). Buckets over the cap instead emit a
    * STAR: `B−1` edges from the bucket's min doc_id to each member —
    * the shape large-scale MinHash dedup pipelines use (buckets cluster
    * via union-find, not all-pairs). Semantics caveat, so it is OPT-IN
    * (default = exact clique): star candidates under-approximate the
    * clique for a CLUSTERING consumer — downstream verification prunes
    * per-edge, so a component that the clique would connect through a
    * non-hub pair can split. Over-cap buckets in practice ARE boilerplate
    * families (near-identical members ⇒ hub edges pass verification), and
    * any split family still dedups within its parts. Pair-OUTPUT consumers
    * (`q_dedup_minhash`'s exact pair list) must keep the default. */
  def lshCandidates(signatures: DataFrame, k: Int, bands: Int,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    // Materialize the banded projection ONCE (eager localCheckpoint):
    // the bucket self-join below references it on both sides (and the
    // capped branch three times), so an unmaterialized input would
    // re-run the full signature kernel per reference — measured ~2 extra
    // corpus passes per run on q_dedup_minhash (guide §1.2 step 1). The
    // frame is 3 narrow columns × bands·n rows — the same banded index
    // [[graft.dedup.IncrementalDedup]] persists to parquet; batch-only
    // (the streaming near-dup path builds on [[bandBuckets]] directly).
    // SIZING (r16 verdict item 3): bands·n rows grows linearly with the
    // corpus — measured fine through the 30× sf3 sweep (spills via
    // MEMORY_AND_DISK, never OOMs), but localCheckpoint is not
    // failure-tolerant; a production-scale run persists this index to
    // parquet instead (IncrementalDedup is exactly that path).
    val banded = bandBuckets(signatures, k, bands).localCheckpoint(true)
    val pairs = if (maxBucket == Int.MaxValue) {
      val a = banded.as("a"); val b = banded.as("b")
      a.join(b, col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    } else {
      // over-cap keys + their hubs: one row per DISTINCT hot bucket
      // (map-side combined rollup), broadcast-sized by the cap's rarity
      val hot = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("__bn"), min("doc_id").as("__hub"))
        .filter(col("__bn") > maxBucket)
        .select(col("band"), col("bucket"), col("__hub"))
      val tagged = banded.join(broadcast(hot), Seq("band", "bucket"), "left")
      val cold = tagged.filter(col("__hub").isNull).drop("__hub")
      val a = cold.as("a"); val b = cold.as("b")
      val coldPairs = a.join(b, col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val star = tagged.filter(col("__hub").isNotNull &&
          col("doc_id") =!= col("__hub"))
        .select(col("__hub").as("id_a"), col("doc_id").as("id_b"))
      coldPairs.unionByName(star)
    }
    pairs.distinct()
  }

  /** Band-bucket projection of a signature frame `(doc_id, sig)` →
    * `(doc_id, band, bucket)`: the k-row signature sliced into `bands`
    * bands of `k/bands` rows, each hashed to a 64-bit bucket key. Pure
    * map-side projection (works on streams too — the streaming near-dup
    * ingest path builds its state keys with exactly this frame, so batch
    * and stream bucket identically by construction). */
  def bandBuckets(signatures: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    signatures.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(b, concat_ws(",",
            slice(col("sig"), b * lit(rows) + lit(1), lit(rows)).cast("array<string>")))
            .as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Per-doc distinct shingle HASHES `(doc_id, gh)` — the deterministic
    * seam between the text kernels and the relational verification stage
    * (written as an oracle fixture by the driver queries). */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("shingle")).as("gh"))

  /** EXACT Jaccard verification of candidate pairs over a shingle-hash
    * frame `(doc_id, gh)`: recompute |A∩B| for candidates only.
    * Output `(id_a, id_b, shared, jaccard)` filtered at `threshold`. */
  def verifyJaccardPairs(cands: DataFrame, ex: DataFrame,
                         threshold: Double): DataFrame = {
    // The shingle-hash frame is referenced THREE times below (both join
    // sides + the per-doc counts); materialize it once instead of
    // re-running the shingle kernel per reference (guide §1.2 step 1).
    // This is the exact frame the oracle fixture seam persists to
    // parquet — at corpus scale it is the dedup pipeline's standard
    // tokenize-once intermediate, disk-backed via MEMORY_AND_DISK.
    val exm = ex.localCheckpoint(true)
    val counts = exm.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val shared = cands
      .join(exm.as("ea"), col("id_a") === col("ea.doc_id"))
      .join(exm.as("eb"), col("id_b") === col("eb.doc_id") &&
        col("ea.gh") === col("eb.gh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
    shared
      // counts joins on doc_id: per-document frame, so NOT broadcast —
      // AQE still picks broadcast at small SFs, but at corpus scale this
      // must stay a shuffle join (a billion-row broadcast cannot ship)
      .join(counts.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("id_b") === col("cb.doc_id"))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("ca.n_shingles") + col("cb.n_shingles") - col("shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** MinHash+LSH near-dup pipeline: signature → banded buckets → candidate
    * pairs → EXACT Jaccard verification of candidates only. At 100 TB the
    * verification join touches only the candidate set (≪ all pairs). */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, k: Int, bands: Int, threshold: Double): DataFrame =
    verifyJaccardPairs(
      lshCandidates(minhashSignatures(df, idCol, textCol, n, k), k, bands),
      shingleHashes(df, idCol, textCol, n), threshold)
      .select("id_a", "id_b", "jaccard")

  /** Duplicate-cluster resolution: connected components over a near-dup
    * pair graph via min-label propagation with pointer jumping. Output one
    * row per node: `(doc_id, cluster_id)` where cluster_id = min doc_id in
    * the component (the canonical keeper).
    *
    * Scale design: each round propagates labels over edges AND compresses
    * label chains (`label := label(label)`), so convergence needs
    * O(log diameter) rounds, not O(diameter) — a 1000-doc template chain
    * resolves in ~10 rounds. `localCheckpoint` truncates lineage per round.
    * The pre-round label rides through the aggregate as `prev_cluster`, so
    * the convergence check is a filter-count over the round's own
    * checkpoint — no join against the previous labels, no extra shuffle.
    * Non-convergence within `maxIter` throws (never returns wrong labels).
    *
    * Small-graph fast path: a near-dup pair graph is orders of magnitude
    * smaller than its corpus (it holds only the duplicates), so after the
    * one unavoidable materialization of the pair set, graphs under
    * `driverEdgeCap` edges resolve by union-find on the driver — the same
    * iterate-a-small-model shape as the k-means quantizer, replacing
    * O(log d) shuffle rounds (each a checkpoint + count job) with
    * milliseconds of local work. Above the cap — the genuine 100 TB case —
    * the distributed log-diameter loop runs unchanged. Both paths emit the
    * identical min-label-per-component result with the identical schema:
    * ids must be integral and are cast to BIGINT up front, so output shape
    * never depends on which path ran. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 30,
      driverEdgeCap: Long = 2000000L): DataFrame = {
    // ids are cast to BIGINT up front so BOTH paths emit the same schema
    // (doc_id, cluster_id: LongType) regardless of graph size — and the
    // cast is guarded: a non-integral id column (string/decimal) would
    // otherwise cast to NULL/garbage silently under non-ANSI mode
    Seq("id_a", "id_b").foreach { c =>
      import org.apache.spark.sql.types._
      val dt = pairs.schema(c).dataType
      require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(dt),
        s"duplicateClusters needs integral ids; $c is $dt")
    }
    // materialize the (possibly expensive) pair computation ONCE before
    // mirroring it: without this the union's two branches each carry the
    // full upstream near-dup join, and dedup then depends on exchange
    // reuse firing — which it does at sf0.1 (measured neutral there) but
    // is plan-shape-fragile; at corpus scale a silently doubled pair join
    // is the single most expensive stage in the pipeline
    val p = pairs.select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .localCheckpoint(true)
    // p is materialized: the count is a block-store scan, not a recompute
    if (p.count() <= driverEdgeCap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // primitive arrays end to end (no boxed maps): at the 2M-edge cap
      // this is 2×16 MB edge arrays + 32 MB sorted node ids + 16 MB parent
      // indices — ~80 MB peak, safe on a default-sized driver
      val es = p.as[(Long, Long)].collect()
      val m = es.length
      val srcs = new Array[Long](m); val dsts = new Array[Long](m)
      var i = 0
      while (i < m) { srcs(i) = es(i)._1; dsts(i) = es(i)._2; i += 1 }
      // dense node index: sort + in-place dedupe; ascending order means
      // smaller index == smaller id, so min-root union = min-label semantics
      val all = new Array[Long](2 * m)
      System.arraycopy(srcs, 0, all, 0, m); System.arraycopy(dsts, 0, all, m, m)
      java.util.Arrays.sort(all)
      var n = 0; i = 0
      while (i < all.length) {
        if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
        i += 1
      }
      val nodes = java.util.Arrays.copyOf(all, n)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      i = 0
      while (i < m) {
        val ra = find(java.util.Arrays.binarySearch(nodes, srcs(i)))
        val rb = find(java.util.Arrays.binarySearch(nodes, dsts(i)))
        // min root wins → cluster_id = min id in component
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        i += 1
      }
      p.unpersist(false)
      return (0 until n).map(j => (nodes(j), nodes(find(j))))
        .toDF("doc_id", "cluster_id")
    }
    val edges = p
      .unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    // edges is materialized; p's blocks are never read again — release them
    // before the rounds rather than holding the pair set twice throughout
    p.unpersist(false)
    var ckpt = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .localCheckpoint(true)
    var labels = ckpt
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each doc's OWN row is tagged so the pre-round label rides through
      // the min-aggregate as `prev_cluster` — the convergence test then
      // reads the round's checkpoint instead of paying a join job against
      // the previous labels (at corpus scale that join was a second
      // doc_id-keyed shuffle per round)
      val prop = edges.join(labels, edges("dst") === labels("doc_id"))
        .select(edges("src").as("doc_id"), col("cluster_id"), lit(false).as("own"))
        .unionByName(labels.withColumn("own", lit(true)))
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"),
          min(when(col("own"), col("cluster_id"))).as("prev_cluster"))
      // pointer jumping: follow the current label one more hop so label
      // chains halve every round (log-diameter convergence)
      val parent = prop.select(col("doc_id").as("p_id"), col("cluster_id").as("p_cluster"))
      val jumped = prop
        .join(parent, prop("cluster_id") === parent("p_id"), "left")
        .select(prop("doc_id").as("doc_id"),
          coalesce(col("p_cluster"), prop("cluster_id")).as("cluster_id"),
          prop("prev_cluster"))
        .localCheckpoint(true)
      val changed = jumped
        .filter(col("cluster_id") =!= col("prev_cluster")).count()
      // `jumped` is an EAGER checkpoint, so the superseded round's blocks
      // can be freed now — without this, a long-lived session leaks one
      // labels copy per round (localCheckpoint persists under the hood)
      ckpt.unpersist(false)
      ckpt = jumped
      labels = jumped.select("doc_id", "cluster_id")
      converged = changed == 0
      i += 1
    }
    edges.unpersist(false)
    p.unpersist(false)
    if (!converged)
      throw graft.planner.Errors.AggregationError(
        s"connected components did not converge in $maxIter rounds")
    labels
  }

  // ---- SimHash ----------------------------------------------------------

  /** 64-bit SimHash fingerprint per document: xxhash64 per token, bit votes
    * folded by the single-buffer [[graft.functions.SimHashAgg]] imperative
    * aggregate (a 64-sum-column formulation shuffles 64-field rows and
    * measured ~2× slower at sf0.1). One shuffle on doc_id.
    *
    * `ObjectHashAggregate` falls back to SORT-based aggregation after 128
    * keys per partition by default — ruinous per document — so the frame
    * lives on a child session with the threshold raised (≤1 KB buffers:
    * 128k groups is ~128 MB); the conf is read at execution. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.util.Sessions.scoped(df,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "131072") {
      _.select(col(idCol).as("doc_id"),
          explode(TextOps.wsTokens(lower(col(textCol)))).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
        .groupBy("doc_id")
        .agg(graft.functions.SimHashAgg.simhash_agg(col("h")).as("simhash"))
    }

  /** Duplicate-cluster SIZE distribution — the dedup-QA histogram (how
    * many clusters of each size the near-dup graph resolves to,
    * singletons included): a fat tail means dedup is removing boilerplate
    * families; all-2s means it is trimming noise. Every aggregate here is
    * clusters- or histogram-sized; the only corpus-width stage is the
    * id-only anti-join that counts singletons, so the shape holds at any
    * corpus size. Emits `(cluster_size, n_clusters)`, size-ascending
    * (the size-1 row is always present, 0 if no singletons). */
  def clusterSizeHistogram(allIds: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val members = duplicateClusters(pairs)
    val multi = members.groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val singles = allIds.select(col(idCol).cast("long").as("doc_id"))
      .join(members, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    multi.unionByName(singles)
      .groupBy("cluster_size")
      .agg(sum("n_clusters").cast("long").as("n_clusters"))
      .orderBy("cluster_size")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist` (≤ 3 for full
    * recall here): pigeonhole over 4 16-bit blocks — any pair within
    * distance 3 must agree on ≥1 block, so the block-equality join finds all
    * of them without an all-pairs scan. Verified with `bit_count(xor)`. */
  def simhashPairs(fps: DataFrame, maxDist: Int): DataFrame = {
    // materialized once: the block-equality self-join references this
    // frame on both sides — unmaterialized, the simhash kernel re-runs
    // over the full text per side (4 narrow rows per doc)
    val blocks = fps.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "block_idx").withColumnRenamed("col", "block_val")
      .localCheckpoint(true)
    val a = blocks.as("a"); val b = blocks.as("b")
    a.join(b, col("a.block_idx") === col("b.block_idx") &&
        col("a.block_val") === col("b.block_val") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---- Edit-distance record linkage ------------------------------------

  /** Blocked edit-distance linkage (the record-linkage / dirty-entity
    * pattern: Christen 2012, "Data Matching"): candidates are pairs
    * sharing a cheap deterministic BLOCK key (here the first
    * `blockChars` characters — near-identical records rarely diverge in
    * the opening run; swap in a q-gram or phonetic key per domain), then
    * each candidate pair is verified with the exact Wagner–Fischer
    * Levenshtein distance (`functions.levenshtein`, codegen'd).
    *
    * Scale: the self-join is quadratic only WITHIN a block, so a
    * `blockCap` drops stop blocks (an all-identical boilerplate opening
    * shared by millions of records would otherwise be one quadratic
    * reducer) — the same hot-key guard as the MinHash bucket cap, and
    * the dropped blocks are countable by the caller from the same
    * aggregate. One shuffle on the block key.
    *
    * The per-pair verify is the other quadratic axis (found by the sf1
    * sweep: a duplicate-heavy corpus fills every block to the cap, and
    * unbounded Wagner–Fischer on full documents made the DP term
    * dominate — 938 s at sf1, 715× the sf0.1 reading). Three guards cut
    * it to O(maxDist·len) per survivor:
    *  - a length prefilter — |len_a − len_b| > maxDist can never verify
    *    (each unit of length difference costs ≥1 edit), and the lengths
    *    are computed once per SIDE, pre-join, not per pair;
    *  - an equality fast path — exact duplicates (the common case in a
    *    dup-heavy corpus) short-circuit at the first differing byte via
    *    UTF8String equals, no DP at all;
    *  - the remaining pairs run the THRESHOLD form of Levenshtein
    *    (Ukkonen's band: only the 2·maxDist+1 diagonal strip is
    *    evaluated, early-exit when the band minimum exceeds the bound —
    *    Spark's 3-arg `levenshtein` since 3.5, returns -1 above the
    *    threshold).
    *
    * Verify-stage PARALLELISM is pinned by an explicit hash
    * repartition on the block key before the self-join: a small corpus
    * arrives as one parquet file → a 1-partition scan, the broadcast
    * join inherits that layout, and the whole DP stage runs on ONE
    * thread (measured: 25.5 s single-threaded at sf1). Repartitioning
    * AFTER the join cannot fix it — Catalyst pushes the verify filter
    * back through a user exchange (`PushPredicateThroughNonJoin`), so
    * the DP still evaluates upstream of the spread (measured: the
    * post-join repartition changed nothing). The pre-join exchange
    * moves only the capped block members (corpus-sized, one cheap
    * shuffle) and the join + DP then run in `shuffle.partitions`
    * tasks; the explicit partition count keeps AQE from coalescing
    * the small exchange back into one task. */
  def fuzzyPairs(df: DataFrame, idCol: String, textCol: String,
      blockChars: Int, maxDist: Int, blockCap: Int = 50): DataFrame = {
    val blocked = df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("text"),
      substring(col(textCol), 1, blockChars).as("blk"),
      length(col(textCol)).as("len"))
    val keep = blocked.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= blockCap).select("blk")
    val shufflePartitions =
      df.sparkSession.sessionState.conf.numShufflePartitions
    val b = blocked.join(keep, "blk")
      .repartition(shufflePartitions, col("blk"))
    val l = b.select(col("blk"), col("doc_id").as("id_a"),
      col("text").as("text_a"), col("len").as("len_a"))
    val r = b.select(col("blk"), col("doc_id").as("id_b"),
      col("text").as("text_b"), col("len").as("len_b"))
    l.join(r, Seq("blk")).filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= lit(maxDist))
      .withColumn("edit_dist",
        when(col("text_a") === col("text_b"), lit(0))
          .otherwise(levenshtein(col("text_a"), col("text_b"), maxDist)))
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }
}
