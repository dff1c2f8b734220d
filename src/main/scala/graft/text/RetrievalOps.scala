package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TopKByAgg

/** Lexical retrieval over a document corpus — the missing half of the
  * similarity surface: [[graft.sim.SimilarityOps]] ranks by embedding
  * cosine, this ranks by term statistics (BM25), and [[rrfFuse]] merges
  * the two rank lists (hybrid retrieval, the standard recipe for
  * training-data curation: harvest documents relevant to a probe set by
  * EITHER lexical OR semantic evidence).
  *
  * Reference scope note: the reference engine (orcasound
  * ambient-sound-analysis-api) has no text retrieval — this is part of
  * the training-data-pipeline extension surface, built on the same
  * tokenizer as the rest of the text family ([[TextOps.wsTokens]]).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - ONE map-only corpus pass tokenizes and explodes; the document
  *    length rides alongside each token so no corpus-wide doc-length
  *    join ever happens;
  *  - the query-term set is broadcast and filters that exploded stream
  *    BEFORE any aggregation — the shuffled postings frame is bounded by
  *    matching tokens, not corpus tokens;
  *  - df(term) comes from the filtered postings (dropping other terms
  *    cannot change a per-term document count), so no second corpus agg;
  *  - N and avgdl fold in as a 1-row broadcast cross join (no
  *    driver-side action at plan-build);
  *  - ranking is the bounded-heap [[graft.functions.TopKByAgg]]
  *    aggregate, never a per-query window over the scored frame.
  *
  * Determinism: per-term score contributions ride as exact NANO-UNIT
  * INTEGERS (`round(c·1e9)` as BIGINT) through the final sum, so the
  * partial aggregation is associative — the score is bit-reproducible
  * under any partitioning, task retry, or speculative execution, and an
  * external SQL engine replaying the same expression gets the identical
  * hash. (A raw double sum would depend on partition merge order.)
  */
object RetrievalOps {

  /** Tokenized corpus `(doc_id, dl, ts)` MATERIALIZED once (eager
    * localCheckpoint): every retrieval stage that needs the token stream
    * (postings, collection stats, RM3 feedback, a second weighted pass)
    * re-reads this frame instead of re-running the tokenizer kernel over
    * the full text. Before this seam, q_rm3_topk tokenized the corpus
    * FIVE times (first-pass postings + stats, feedback, second-pass
    * postings + stats) — guide §1.2 step 1: don't compute things twice.
    * At archive scale this is the tokenize-once materialization every
    * production retrieval pipeline performs before building an index
    * (disk-backed via MEMORY_AND_DISK, bounded by the tokenized corpus —
    * the same frame [[graft.text.InvertedIndex.build]] persists).
    *
    * SIZING (r16 verdict item 3): this frame is CORPUS-SIZED — the one
    * unbounded localCheckpoint on the retrieval path. localCheckpoint
    * stores into executor block storage at MEMORY_AND_DISK, so it spills
    * rather than OOMs, but it is NOT failure-tolerant: an executor loss
    * makes the frame unrecoverable and fails the job. Measured fine
    * through the 30× sf3 sweep (zero errors, rm3/bm25 walls improved);
    * a production 100 TB run should swap this seam for a reliable
    * checkpoint (or persisted parquet, which is what InvertedIndex.build
    * materializes anyway) — the call-site seam makes that a one-line
    * substitution. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextOps.wsTokens(lower(col(textCol))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("double").as("dl"),
        col("ts"))
      .localCheckpoint(true)

  /** BM25 scores (Robertson–Spärck Jones weighting; the Lucene-default
    * always-positive idf `ln(1 + (N − df + ½)/(df + ½))`) of every
    * matching document against every query.
    *
    * @param queryTerms SMALL frame `(query_id: long-castable, term:
    *   string[, w: double])`; duplicated terms within a query are
    *   collapsed (query term frequency is not modeled, the common
    *   practice for short queries). An optional `w` column weights each
    *   term's contribution — the RM3 second-pass shape; absent means 1.
    *   Callers must not supply one (query, term) with conflicting
    *   weights — the dedup is over the full row, so conflicting rows
    *   both survive and double-count.
    *   Broadcast twice — once as the corpus token filter, once for the
    *   per-query fan-out.
    * @return `(query_id, doc_id, score double)` — only (query, doc)
    *   pairs sharing at least one term appear; score is the round-6
    *   decode of the exact nano-unit contribution sum.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
                 queryTerms: DataFrame,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresTok(tokenize(docs, idCol, textCol), queryTerms, k1, b)

  /** [[bm25Scores]] over a pre-tokenized (usually [[tokenize]]d) corpus
    * frame `(doc_id, dl, ts)` — same result, no tokenizer pass. */
  def bm25ScoresTok(tok: DataFrame, queryTerms: DataFrame,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // postings from the materialized token arrays — explode is the only
    // per-token work left on this path
    val toks = tok.select(col("doc_id"), col("dl"), explode(col("ts")).as("term"))
    // corpus stats: ONE row off the same materialized frame (empty docs
    // kept — explode drops them from postings but they still count here,
    // exactly as the former second corpus scan did)
    val stats = tok
      .agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))

    val weighted = queryTerms.columns.contains("w")
    val terms = (if (weighted)
        queryTerms.select(col("query_id").cast("long").as("query_id"),
          col("term"), col("w").cast("double").as("w"))
      else
        queryTerms.select(col("query_id").cast("long").as("query_id"),
          col("term"), lit(1.0).as("w"))).distinct()
    val termSet = terms.select("term").distinct()

    // broadcast-filter the exploded tokens, THEN aggregate: the shuffle
    // carries only matching tokens. Materialized once — df(term) and the
    // contribution join both read it, and each unmaterialized reference
    // re-explodes the whole token stream; the frame is bounded by
    // (matching docs × query terms), i.e. tiny at any corpus scale.
    val tf = toks.join(broadcast(termSet), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
      .localCheckpoint(true)
    // per-term document frequency over the filtered postings — equal to
    // the corpus df for these terms, and only |query terms| rows out
    val dfreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))

    val kk1 = lit(k1); val bb = lit(b)
    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(broadcast(terms), Seq("term")) // fan out to each query using the term
      .crossJoin(broadcast(stats))
      .withColumn("c",
        col("w")
          * log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * col("tf") * (kk1 + lit(1.0))
          / (col("tf") + kk1 * (lit(1.0) - bb + bb * col("dl") / col("avgdl"))))
      // exact integer nano-units: associative partial sum, cross-engine exact
      .withColumn("cn", round(col("c") * 1e9, 0).cast("long"))

    contrib.groupBy("query_id", "doc_id")
      .agg(round(sum(col("cn")).cast("double") / 1e9, 6).as("score"))
  }

  /** Top-k BM25 retrieval: `(query_id, rank, doc_id, score)`, ranked by
    * (round-6 score DESC, doc_id ASC) via the bounded-heap aggregate. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               excludeSelf: Boolean = false): DataFrame =
    bm25TopKTok(tokenize(docs, idCol, textCol), queryTerms, k, k1, b,
      excludeSelf)

  /** [[bm25TopK]] over a pre-tokenized corpus frame (see [[tokenize]]). */
  def bm25TopKTok(tok: DataFrame, queryTerms: DataFrame, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  excludeSelf: Boolean = false): DataFrame = {
    val scored = bm25ScoresTok(tok, queryTerms, k1, b)
    val candidates =
      if (excludeSelf) scored.filter(col("query_id") =!= col("doc_id"))
      else scored
    rankTopK(candidates, "query_id", "doc_id", "score", k)
  }

  /** RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft,
    * SIGIR 2001 relevance model; the interpolated "RM3" variant of
    * Abdul-Jaleel et al., TREC 2004): run a first BM25 pass, treat the
    * top-`m` documents as pseudo-relevant, estimate the relevance model
    * `P_RM(t) = Σ_d s'(d) · tf(t,d)/dl(d)` (doc weights `s'` = the
    * normalized first-pass scores; Σ_t P_RM = 1 automatically since
    * Σ_t tf(t,d) = dl(d)), interpolate with the uniform original-query
    * model `w(t) = λ·P_orig(t) + (1−λ)·P_RM(t)`, and keep the top-`e`
    * terms. Feed the result to [[bm25Scores]] (it carries a `w` column)
    * for the expanded second pass.
    *
    * Scale shape: the first pass is [[bm25TopK]]; the feedback stage
    * joins the corpus token stream against the BROADCAST (queries × m)
    * feedback-doc frame — corpus-sized work stays map-side until the
    * bounded (query, doc, term) aggregate. The final term pick is a
    * window over a frame bounded by m document vocabularies per query —
    * bounded by construction, the audited exception to the no-window
    * rule. Determinism: doc weights come from exact micro-unit score
    * sums and RM contributions ride as nano-unit integers, so expansion
    * terms and weights are engine- and partitioning-independent.
    *
    * @return `(query_id, rank, term, w)` — the `e` expanded weighted
    *   query terms per query, ranked by (round-6 w DESC, term ASC).
    */
  def rm3ExpandTerms(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: DataFrame, m: Int = 10, e: Int = 8,
                     lambda: Double = 0.5,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame =
    rm3ExpandTermsTok(tokenize(docs, idCol, textCol), queryTerms,
      m, e, lambda, k1, b)

  /** [[rm3ExpandTerms]] over a pre-tokenized corpus frame (see
    * [[tokenize]]): the first BM25 pass and the feedback stage read the
    * same materialized token arrays — one tokenizer pass total, and a
    * caller running the expanded second pass ([[bm25TopKTok]]) reuses
    * the frame once more. */
  def rm3ExpandTermsTok(tok: DataFrame,
                     queryTerms: DataFrame, m: Int = 10, e: Int = 8,
                     lambda: Double = 0.5,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val firstPass = bm25TopKTok(tok, queryTerms, m, k1, b)
    // normalized doc weights from exact micro-unit integer sums. The
    // sm > 0 guard is a 100 TB edge: a query of pure stopwords (df ≈ N)
    // can round every first-pass score to 0 micro-units — without the
    // filter tot = 0 and sprime = 0/0 = NaN (an ANSI cast error three
    // lines later); with it the feedback set is empty and the expansion
    // degrades gracefully to the original query model.
    val fb = firstPass.select(col("query_id"), col("doc_id"),
        round(col("score") * 1e6, 0).cast("long").as("sm"))
      .filter(col("sm") > 0)
    val tot = fb.groupBy("query_id").agg(sum("sm").as("tot"))
    val fbw = fb.join(broadcast(tot), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        (col("sm").cast("double") / col("tot").cast("double")).as("sprime"))
    // corpus tokens × broadcast feedback docs → per-(query, doc, term) tf
    // (same materialized token arrays as the first pass — no re-tokenize)
    val toks = tok.select(col("doc_id"), col("dl"),
      explode(col("ts")).as("term"))
    val rm = toks.join(broadcast(fbw), Seq("doc_id"))
      .groupBy("query_id", "doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"),
        first(col("dl")).as("dl"), first(col("sprime")).as("sprime"))
      .withColumn("rmn",
        round(col("sprime") * (col("tf") / col("dl")) * 1e9, 0).cast("long"))
      .groupBy("query_id", "term")
      .agg((sum(col("rmn")).cast("double") / 1e9).as("rm"))
    // uniform original-query model, interpolated
    val orig = queryTerms
      .select(col("query_id").cast("long").as("query_id"), col("term"))
      .distinct()
    val nq = orig.groupBy("query_id").agg(count(lit(1)).cast("double").as("nq"))
    val origW = orig.join(broadcast(nq), Seq("query_id"))
      .select(col("query_id"), col("term"),
        (lit(lambda) / col("nq")).as("po"))
    val interpolated = rm
      .join(origW, Seq("query_id", "term"), "full_outer")
      .withColumn("w", round(
        coalesce(col("po"), lit(0.0))
          + (lit(1.0) - lit(lambda)) * coalesce(col("rm"), lit(0.0)), 6))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("w").desc, col("term"))
    interpolated.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= e)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("term"), col("w"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * `rrf(q, d) = Σ_systems 1 / (c + rank_s(q, d))` over the systems'
    * per-query rank lists, missing entries contributing nothing. The
    * n-way outer join is restructured as union + re-aggregate — one
    * shuffle on (query_id, doc_id) regardless of system count, no outer
    * join planning. Contributions ride as exact nano-units (rank is an
    * integer, so `round(1e9/(c+rank))` is engine-independent).
    *
    * @param ranked each `(query_id, rank, doc_id)` — ranks must start
    *   at 1 (the contract of [[rankTopK]] / SimilarityOps rank stages)
    * @return `(query_id, rank, doc_id, rrf)` top-k fused per query
    */
  def rrfFuse(ranked: Seq[DataFrame], c: Int = 60, k: Int = 10): DataFrame = {
    require(ranked.nonEmpty, "rrfFuse needs at least one rank list")
    val tagged = ranked.map(_.select(
      col("query_id").cast("long").as("query_id"),
      col("doc_id").cast("long").as("doc_id"),
      round(lit(1.0) / (lit(c) + col("rank")) * 1e9, 0).cast("long").as("cn")))
    val fused = tagged.reduce(_.unionByName(_))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("cn")).cast("double") / 1e9, 6).as("rrf"))
    rankTopK(fused, "query_id", "doc_id", "rrf", k)
  }

  /** Shared rank stage: per-`group` top-k of `(id, score)` by (round-6
    * score DESC, id ASC), emitted as `(group, rank, id, score)`. Same
    * micro-unit encoding contract as SimilarityOps.rankTopK /
    * q_source_quota: `round(s,6)` → exact micro-units in the heap →
    * `long/1e6` decodes to the bit-identical round-6 double. Scores are
    * non-negative bounded reals here (BM25 ≤ idf·(k1+1)·|terms|, RRF ≤
    * |systems|/(c+1)), so no NaN/overflow sentinels are needed. */
  def rankTopK(scored: DataFrame, groupCol: String, idCol: String,
               scoreCol: String, k: Int): DataFrame =
    scored
      .select(col(groupCol),
        round(round(col(scoreCol), 6) * 1e6, 0).cast("long").as("om"),
        col(idCol).cast("long").as("id"))
      .groupBy(col(groupCol))
      .agg(TopKByAgg.topk_by(col("om"), col("id"), k).as("tk"))
      .select(col(groupCol), posexplode(col("tk")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as(idCol),
        round(col("col.ord").cast("double") / 1e6, 6).as(scoreCol))
}
