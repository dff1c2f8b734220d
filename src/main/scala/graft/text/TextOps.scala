package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * All expressions are native `org.apache.spark.sql.functions` (codegen'd,
  * whole-stage-compatible) — no UDFs anywhere in the hot path. Every op is a
  * narrow map over the documents table: zero shuffles, scales linearly with
  * input splits.
  */
object TextOps {

  /** Whitespace-delimited tokens (regex `\S+` — robust to leading/trailing
    * whitespace, unlike split-on-`\s+`). */
  def wsTokens(text: Column): Column = regexp_extract_all(text, lit("\\S+"), lit(0))

  /** BPE-ish subword pre-tokenization: runs of alphanumerics, or single
    * non-space symbols (the usual byte-pair pre-split shape). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** Distinct word n-gram shingles over lowercased whitespace tokens;
    * documents shorter than `n` tokens yield an empty array. Delegates to
    * the native single-pass [[graft.functions.WordShingles]] kernel (the
    * equivalent `transform`/`slice` lambda formulation runs interpreted —
    * ~5× slower end-to-end on the dedup queries). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles.word_shingles(text, n)

  /** Punctuation-character ratio (sentence punctuation over total chars). */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  private val EnStop = Seq("the", "a", "of", "and", "to", "in", "is")
  private val DeStop = Seq("der", "die", "und", "das", "ist", "nicht", "ein")
  private val EsStop = Seq("el", "la", "los", "que", "y", "es", "un")
  private val FrStop = Seq("le", "la", "les", "et", "est", "un", "une")

  private def stopCount(toks: Column, stops: Seq[String]): Column =
    size(filter(toks, t => t.isin(stops.map(_.asInstanceOf[Any]): _*)))

  /** English stopword-token ratio (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val toks = wsTokens(lower(text))
    stopCount(toks, EnStop).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length saturation × punctuation
    * cleanliness × stopword naturalness. Deterministic closed-form —
    * the same arithmetic is expressible in ANSI SQL for the oracle. */
  def qualityScore(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val nTok = size(toks).cast("double")
    val lenSat = least(nTok / 256.0, lit(1.0))
    val punctClean = lit(1.0) - punctRatio(text)
    val stopNat = least(stopCount(toks, EnStop).cast("double") /
      greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    lenSat * punctClean * stopNat
  }

  /** CJK character count (Basic Multilingual Plane unified ideographs). */
  def cjkCount(text: Column): Column =
    length(regexp_replace(text, "[^\\x{4e00}-\\x{9fff}]", ""))

  /** Heuristic language ID via per-language stopword hits; CJK presence
    * short-circuits to `zh`. Tie-break order en > de > es > fr; no hits →
    * `und`. A pure expression tree — the identical CASE chain runs in the
    * DuckDB oracle. */
  def langId(text: Column): Column = {
    val toks = wsTokens(lower(text))
    val (en, de, es, fr) = (stopCount(toks, EnStop), stopCount(toks, DeStop),
      stopCount(toks, EsStop), stopCount(toks, FrStop))
    // existence test, not a count: rlike stops at the first CJK char where
    // cjkCount's regexp_replace rewrites the whole document (same predicate
    // as the oracle's `zh > 0` — a char exists iff the count is positive)
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(en + de + es + fr === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): hash every
    * positional k-gram, take the minimum hash in each sliding window of `w`
    * consecutive grams, emit the distinct selected hashes. Guarantees any
    * shared run of ≥ w+k-1 tokens between two documents shares a
    * fingerprint. Hashes are 16-hex-char md5 prefixes so the lexicographic
    * window-min is identical in the SQL oracle; the sliding min is a
    * rows-window aggregate (one shuffle on doc id). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    val grams = df.select(col(idCol),
      posexplode(graft.functions.WordShingles.word_shingles(
        col(textCol), k, distinct = false)).as(Seq("pos", "g")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    grams
      .withColumn("h", substring(md5(col("g").cast("binary")), 1, 16))
      .withColumn("sel", min(col("h")).over(win))
      .select(col(idCol), col("sel").as("fingerprint"))
      .distinct()
  }

  /** MOSS-style cross-document overlap scores from winnowing fingerprints
    * (the classic plagiarism/near-dup LOCALIZATION measure — where MinHash
    * estimates whole-document similarity, shared winnow fingerprints count
    * shared ≥ w+k−1-token RUNS): every unordered document pair sharing at
    * least `minShared` kept fingerprints, with the shared count.
    *
    * Scale shape: the pair stage is an equi-join of the fingerprint
    * postings with themselves — quadratic in a fingerprint's posting list,
    * so fingerprints appearing in more than `maxDf` documents are DROPPED
    * before pairing (MOSS's own noise threshold: a ubiquitous fragment is
    * boilerplate, not plagiarism signal). With the cap, candidate volume is
    * bounded by `maxDf · Σ df` — linear in the corpus — and the join
    * shuffles on the fingerprint hash. The doc-frequency filter is itself
    * one partial→final aggregate over the postings. */
  def winnowOverlap(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, maxDf: Int = 20, minShared: Long = 3L): DataFrame = {
    // materialize once: the fingerprint frame feeds the df-cap aggregate
    // AND both self-join sides — three reads of the tokenize/md5/window
    // pipeline without it
    val fps = winnowFingerprints(df, idCol, textCol, k, w).localCheckpoint(true)
    val dfreq = fps.groupBy("fingerprint")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("fingerprint")
    val kept = fps.join(dfreq, Seq("fingerprint"))
    val a = kept.select(col("fingerprint"), col(idCol).as("doc_a"))
    val b = kept.select(col("fingerprint"), col(idCol).as("doc_b"))
    a.join(b, Seq("fingerprint"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Gopher quality-rule bundle (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", App. A)
    * — the canonical named document-filter set large pretraining corpora
    * run before dedup: word-count bounds [50, 100k], mean word length in
    * [3, 10], symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥ 80% of words
    * containing an alphabetic character, ≥ 2 of the 8 Gopher stop terms
    * present, ≤ 90% of lines starting with a bullet, ≤ 30% ending with an
    * ellipsis. Emits the per-rule measurements (rounded at 6, the shared
    * engine-parity recipe) and the composite pass flag computed FROM the
    * rounded values so both engines gate identically.
    *
    * Map-only — one projection, no shuffle, no state; every piece is a
    * codegen'd expression (regexp token extraction, higher-order
    * filter/aggregate over the token array), so the pass runs at scan
    * speed and scales with input splits like the rest of this module. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val toksRaw = wsTokens(text)
    val n = size(toksRaw)
    val safeN = greatest(n, lit(1)).cast("double")
    val mwl = round(aggregate(transform(toksRaw, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x).cast("double") / safeN, 6)
    val alphaFrac = round(
      size(filter(toksRaw, t => t.rlike("[A-Za-z]"))).cast("double") / safeN, 6)
    val symRatio = round(
      size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0)))
        .cast("double") / safeN, 6)
    val nStop = GopherStop.map(w =>
      array_contains(wsTokens(lower(text)), w).cast("int")).reduce(_ + _)
    val lines = split(text, "\n")
    val safeL = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = round(
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") / safeL, 6)
    val ellipsisFrac = round(
      size(filter(lines, l => l.rlike("\\.\\.\\.$"))).cast("double") / safeL, 6)
    df.select(col(idCol), n.as("n_words"), mwl.as("mean_word_len"),
        alphaFrac.as("alpha_frac"), symRatio.as("symbol_ratio"),
        nStop.as("n_stop_terms"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"))
      .withColumn("pass_gopher",
        (col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") <= 0.1 &&
          col("alpha_frac") >= 0.8 &&
          col("n_stop_terms") >= 2 &&
          col("bullet_frac") <= 0.9 &&
          col("ellipsis_frac") <= 0.3).cast("int"))
  }

  private val GopherStop =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Substring-level EXACT deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * operator): find every verbatim token run of length ≥ `minRun` that
    * occurs at least `minOcc` times anywhere in the corpus (within OR
    * across documents), and emit per-document span-removal output — one
    * row per maximal span with `action` ∈ {drop, keep}, token-indexed
    * [span_start, span_end] inclusive over the document's whitespace
    * tokens.
    *
    * Where the paper builds a corpus-wide suffix array, the relational
    * formulation uses the L-gram identity: a token is inside a duplicated
    * run of length ≥ L iff some length-L window covering it is duplicated,
    * so (1) hash every positional L-token window, (2) windows whose hash
    * occurs ≥ minOcc times globally are duplicated, (3) the per-document
    * union of duplicated window extents [pos, pos+L−1] — an interval merge
    * — recovers each maximal duplicated run EXACTLY (a shared run of
    * T ≥ L tokens yields T−L+1 consecutive duplicated windows whose union
    * is the full run). With `keepFirst = false` (the default, matching
    * the paper's released tool) ALL occurrences of a duplicated run are
    * dropped; `keepFirst = true` implements the paper's stated suggestion
    * — remove all but one copy — by exempting each duplicated window's
    * canonical occurrence, the minimum (doc, pos) packed key, so the
    * earliest copy survives intact. The canonical tiebreak is per-window:
    * when overlapping runs have canonicals in DIFFERENT documents (a
    * sub-window of a long run also appearing in some earlier short
    * context), the first document can still lose that sub-extent —
    * deterministic and order-free, but not always a contiguous "first
    * copy" (the paper's suffix-array formulation has the same ambiguity).
    * The packed key is doc_id·2²⁰ + pos, bounding docs at 2²⁰ tokens —
    * 8× the paper's own 100k-token truncation.
    *
    * Windows are keyed by their full 128-bit md5 (not the 15-hex-digit
    * BIGINT recipe): at 100 TB there are ~10¹³ windows, where a 60-bit key
    * is past its birthday bound but 128 bits keep the collision odds
    * ~10⁻¹³ — and the 16-byte key still shuffles an order of magnitude
    * less than the ~L·6-byte gram text. Scale shape: one explode pass
    * (corpus tokens × 1 rows), a partial→final hash aggregate for the
    * occurrence counts, an equi-join back on the hash (one row out per
    * gram occurrence — no blow-up on hot boilerplate windows, the dup side
    * is 1 row per hash), then per-document windows over ONLY the
    * duplicated positions (bounded by the doc's own token count). Tokens
    * are lowercased-whitespace per [[graft.functions.WordShingles]],
    * matching every other shingle operator and its oracle. */
  def substrDedupSpans(df: DataFrame, idCol: String, textCol: String,
      minRun: Int = 50, minOcc: Int = 2,
      keepFirst: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = minRun
    // token COUNT via the same kernel that produced the window positions
    // (word_shingles n=1 = the lowercased token array): wsTokens' Java \S+
    // additionally treats \x0B as whitespace where the kernel (and the
    // RE2-based oracle) does not, and span indices must share one scheme
    val nTok = df.select(col(idCol),
      size(graft.functions.WordShingles.word_shingles(
        col(textCol), 1, distinct = false)).as("n_tok"))
    // one row per positional L-window: (id, pos, h); feeds the occurrence
    // count AND the hit join — materialize once (repo convention)
    val grams = df.select(col(idCol),
        posexplode(graft.functions.WordShingles.word_shingles(
          col(textCol), L, distinct = false)).as(Seq("pos", "g")))
      // unhex: carry the 128-bit key as 16 BYTES, not 32 hex chars — the
      // key column dominates the checkpoint/aggregate/join width here
      .select(col(idCol), col("pos"),
        (col(idCol) * lit(1048576L) + col("pos")).as("pk"),
        unhex(md5(col("g").cast("binary"))).as("h"))
      .localCheckpoint(true)
    val dup = grams.groupBy("h").agg(count(lit(1)).as("n_occ"),
        min(col("pk")).as("canon"))
      .filter(col("n_occ") >= minOcc)
      .select("h", "canon")
    val hits = grams.join(dup, Seq("h"))
      .filter(if (keepFirst) col("pk") =!= col("canon") else lit(true))
      .select(col(idCol), col("pos"))
    // interval merge of [pos, pos+L-1]: a window starting within or
    // adjacent to the running extent (pos ≤ prev_pos + L) continues it
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val drops = hits
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byPos).isNull ||
          col("pos") > lag(col("pos"), 1).over(byPos) + L, 1).otherwise(0))
      .withColumn("run_id", sum(col("brk")).over(byPos))
      .groupBy(col(idCol), col("run_id"))
      .agg(min(col("pos")).as("drop_start"),
        (max(col("pos")) + L - 1).as("drop_end"))
      .select(col(idCol), col("drop_start"), col("drop_end"))
      .localCheckpoint(true)
    val byStart = Window.partitionBy(col(idCol)).orderBy(col("drop_start"))
    // keep spans between/before drops: [prev_end+1 (or 0), drop_start-1]
    val keepGaps = drops
      .withColumn("k_start",
        coalesce(lag(col("drop_end"), 1).over(byStart) + 1, lit(0)))
      .filter(col("k_start") < col("drop_start"))
      .select(col(idCol), col("k_start").as("span_start"),
        (col("drop_start") - 1).as("span_end"), lit("keep").as("action"))
    // trailing keep span — and the whole document for dup-free docs
    // (last_end is null there, so the span is [0, n_tok-1])
    val keepTails = nTok
      .join(drops.groupBy(idCol).agg(max("drop_end").as("last_end")),
        Seq(idCol), "left")
      .withColumn("k_start", coalesce(col("last_end") + 1, lit(0)))
      .filter(col("k_start") <= col("n_tok") - 1)
      .select(col(idCol), col("k_start").as("span_start"),
        (col("n_tok") - 1).as("span_end"), lit("keep").as("action"))
    drops
      .select(col(idCol), col("drop_start").as("span_start"),
        col("drop_end").as("span_end"), lit("drop").as("action"))
      .unionByName(keepGaps)
      .unionByName(keepTails)
  }

  /** Apply [[substrDedupSpans]] — the paper's actual deliverable, the
    * CLEANED corpus: per document, the lowercased whitespace tokens with
    * every drop-span token removed, re-joined with single spaces (one row
    * per input document; fully-duplicated documents come back as the
    * empty string). The span frame collapses to one keep-span array per
    * document (bounded by the doc's own token count), and the removal
    * itself is a codegen'd higher-order `filter` over the positional
    * token array — map-only, no second corpus shuffle beyond what the
    * span computation already did. */
  def substrDedupApply(df: DataFrame, idCol: String, textCol: String,
      minRun: Int = 50, minOcc: Int = 2,
      keepFirst: Boolean = false): DataFrame = {
    val keeps = substrDedupSpans(df, idCol, textCol, minRun, minOcc, keepFirst)
      .filter(col("action") === "keep")
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("ks"))
    df.join(keeps, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          // kernel tokenizer (word_shingles n=1), NOT wsTokens: the span
          // indices came from kernel positions and must index the same
          // token sequence (Java vs RE2 \s differ on \x0B)
          filter(graft.functions.WordShingles.word_shingles(
              col(textCol), 1, distinct = false),
            (t, i) => exists(coalesce(col("ks"),
              array().cast("array<struct<span_start:int,span_end:int>>")),
              s => i >= s("span_start") && i <= s("span_end"))),
          " ").as("clean_text"))
  }

  /** Content-defined document fingerprint: full-text md5 plus the minimum
    * 64-bit (16-hex-char) hash over 3-token shingles — a 1-permutation
    * MinHash, stable under small reorderings (winnowing-style).
    *
    * Implemented as explode → codegen'd md5 → min-aggregate (an md5 inside
    * an array `transform` lambda runs interpreted per element — measured
    * 17 s vs ~2 s at sf0.1). Docs with <3 tokens get a NULL shingle hash
    * via the left join. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol),
      md5(col(textCol).cast("binary")).as("fp_full"),
      shingles(col(textCol), 3).as("gs"))
    val minShingle = base
      .select(col(idCol), explode(col("gs")).as("g"))
      .groupBy(idCol)
      .agg(min(substring(md5(col("g").cast("binary")), 1, 16)).as("fp_shingle_min"))
    base.select(col(idCol), col("fp_full"))
      .join(minShingle, Seq(idCol), "left")
  }

  /** Bigram language-model scoring — one step up the n-gram ladder from the
    * unigram log-prob: per document, the mean over its bigram occurrences of
    * -ln(P(w2|w1)), with P(w2|w1) = corpusCount(w1 w2) / corpusCount(w1 ·)
    * estimated from the corpus itself. Gibberish has improbable transitions
    * even when its unigrams are common.
    *
    * Shape: one explode builds the bigram stream; bigram counts aggregate
    * it; prefix counts roll up the (already tiny) bigram-count table — never
    * a second corpus scan; the scoring join shuffles on the bigram hash. At
    * 100 TB the LM tables are heavy-tailed: broadcast the top-K head and
    * shuffle-join only the tail. Docs under 2 tokens have no bigrams and
    * drop out. */
  def bigramLogprob(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bigrams = df.select(col(idCol),
      explode(graft.functions.WordShingles.word_shingles(
        col(textCol), 2, distinct = false)).as("bg"))
    val bc = bigrams.groupBy("bg").agg(count(lit(1)).as("n_bg"))
    val pc = bc.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("n_bg").as("n_prefix"))
    bigrams.join(bc, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(pc, Seq("w1"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("n_bg").cast("double") / col("n_prefix"))), 6)
          .as("avg_neg_logprob"))
  }

  /** Sequence packing (concat-then-chunk, the standard pretraining layout):
    * documents are concatenated in doc_id order and cut into fixed
    * `capacity`-token sequences; each doc reports the sequence it starts
    * in, its offset there, and the sequence it ends in (a doc longer than
    * the remaining room spans sequences — no padding, no truncation).
    *
    * Scale shape: a single global running sum would funnel the corpus
    * through one partition, so packing is SHARDED — `doc_id % nShards`
    * picks the shard, the running sum windows WITHIN the shard, and
    * sequence ids are globally disambiguated as `shard * 2^40 + local`.
    * Each shard is an independent packing stream (maps 1:1 onto a writer
    * task at export time); the window costs one shuffle on the shard key.
    * Deterministic given (corpus, capacity, nShards) — the identical
    * window arithmetic runs in the SQL oracle. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, nShards: Int): DataFrame = {
    require(capacity > 0 && nShards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
    // seq_end clamps to seq_start for zero-token docs: floor((cum_end-1)/c)
    // would underflow when such a doc sits exactly on a sequence boundary
    // (first doc in a shard → -1, escaping the shard's id space)
    val localStart = floor(col("cum_start") / capacity)
    val localEnd = greatest(localStart, floor((col("cum_end") - 1) / capacity))
    df.select(col(idCol), size(wsTokens(lower(col(textCol)))).as("n_tokens"))
      .withColumn("shard", pmod(col(idCol), lit(nShards)).cast("int"))
      .withColumn("cum_end", sum(col("n_tokens").cast("long")).over(w))
      .withColumn("cum_start", col("cum_end") - col("n_tokens"))
      .select(col(idCol), col("shard"), col("n_tokens"),
        (col("shard").cast("long") * (1L << 40) + localStart).as("seq_start"),
        pmod(col("cum_start"), lit(capacity.toLong)).as("seq_offset"),
        (col("shard").cast("long") * (1L << 40) + localEnd).as("seq_end"))
  }

  /** Driver-side md5 lowercase-hex of UTF-8 bytes — the ONE copy that
    * must match Spark's `md5()` and DuckDB's `md5()` (all three
    * lowercase-hex the UTF-8 bytes); every oracle-visible driver-side
    * hash goes through here. */
  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Engine-exact 60-bit hash key: the first 15 hex digits of
    * `md5(prefix ‖ id)` as a BIGINT — the shared recipe behind
    * deterministic sampling (q_strat_sample) and the epoch shuffle.
    * DuckDB replays it as `CAST(concat('0x', substr(md5(...), 1, 15)) AS
    * BIGINT)`. 15 digits (60 bits) is the widest prefix that cannot
    * overflow a signed BIGINT — do NOT widen to 16. */
  def md5Key64(id: Column, prefix: String = ""): Column = {
    val s = if (prefix.isEmpty) id.cast("string")
            else concat(lit(prefix), id.cast("string"))
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")
  }

  /** `depth` independent column indexes for a Count-Min sketch row set,
    * all derived from ONE md5-128: row r reads the 8-hex-digit (32-bit)
    * field at hex offset r·8, mod `width` — one hash pass per item
    * instead of `depth` (the standard split-one-strong-hash CMS
    * construction; measured 3× on the sketch pass, Profile scale_r8).
    * DuckDB replays field r as
    * `CAST(concat('0x', substr(md5(x), r*8+1, 8)) AS BIGINT) % width`. */
  def md5Fields(id: Column, depth: Int, width: Int): Column = {
    require(depth >= 1 && depth <= 4, "md5 has four independent 32-bit fields")
    require(width > 0 && width <= (1 << 30),
      s"width must fit a 32-bit field's span (got $width)")
    val hex = md5(id.cast("string").cast("binary"))
    array((0 until depth).map(r =>
      pmod(conv(substring(hex, r * 8 + 1, 8), 16, 10).cast("long"),
        lit(width.toLong))): _*)
  }

  /** Overlapping token-window chunking (the RAG / long-context prep
    * layout): each document yields windows of `window` tokens starting
    * every `stride` tokens; the last window is truncated, a short doc
    * yields one window, an EMPTY (zero-token) doc yields none. Chunk
    * count per non-empty doc is `1 + ⌈max(0, n − window) / stride⌉`,
    * computed with the same floor-of-double arithmetic the SQL oracle
    * uses (exact for n < 2⁵³).
    *
    * Map-only — one tokenize kernel pass, an explode, no exchange at all
    * until a downstream sink; output is pure integers `(doc_id,
    * chunk_idx, start_tok, n_tok)`, so the oracle compare is exact. */
  def chunkWindows(df: DataFrame, idCol: String, textCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    df.select(col(idCol), size(wsTokens(lower(col(textCol)))).as("n"))
      .filter(col("n") > 0) // no degenerate (0,0,0) chunk for empty docs
      .withColumn("n_chunks",
        (floor((greatest(col("n") - window, lit(0)) + (stride - 1)) / stride)
          + 1).cast("int"))
      .select(col(idCol), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("start_tok"),
        least(lit(window), col("n") - col("chunk_idx") * stride).as("n_tok"))
  }

  /** Per-source vocabulary drift audit: for each source, the top `k`
    * terms by contribution to KL(source-unigram ‖ corpus-unigram) —
    * "which terms make this source distributionally unlike the corpus".
    * `contrib = p_s·ln(p_s/p_corpus)` with both probabilities formed from
    * integer counts per row, so the doubles are engine-exact (no
    * cross-row float summation anywhere).
    *
    * Scale shape: one tokenize pass collapses to the (source, term)
    * rollup with map-side combine (checkpointed — three aggregates and
    * the scoring join read it); `minCount` is the hapax noise floor that
    * also bounds the ranked frame; the final top-k window parallelizes
    * across sources. Output `(source, rank, term, n_st, contrib)`. */
  def driftTerms(df: DataFrame, sourceCol: String, textCol: String,
                 minCount: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = df.select(col(sourceCol).as("source"),
        explode(wsTokens(lower(col(textCol)))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("n_st"))
      .localCheckpoint(true)
    val srcTot = tc.groupBy("source").agg(sum("n_st").as("n_s"))
    val termTot = tc.groupBy("term").agg(sum("n_st").as("n_t"))
    val tot = tc.agg(sum("n_st").as("n"))
    val scored = tc.filter(col("n_st") >= minCount)
      .join(broadcast(srcTot), Seq("source"))
      .join(termTot, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn("p_s", col("n_st").cast("double") / col("n_s"))
      .withColumn("contrib", round(
        col("p_s") * log(col("p_s") / (col("n_t").cast("double") / col("n"))), 6))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("contrib").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("source"), col("rank"), col("term"), col("n_st"), col("contrib"))
  }

  /** DSIR importance weights (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): score every raw
    * document by how target-like it looks under hashed bag-of-ngrams
    * language models. Tokens hash into `buckets` feature buckets
    * ([[md5Key64]] mod buckets — engine-exact); the target rows
    * (`targetPred`) and the full raw corpus each fit an add-1-smoothed
    * bucket distribution, and a document's log importance weight is
    * `Σ_tokens (ln p_target(b) − ln p_raw(b))` — resampling by these
    * weights skews a pretraining mix toward the target domain.
    *
    * Engine-exactness: the per-bucket log-ratio λ_b rounds at 6 decimals
    * and converts to exact integer micro-units; per-document accumulation
    * is then an INTEGER sum (any summation order agrees), decoded by one
    * exact division — the q_ppl_buckets house rule for oracle-compared
    * sums of rounded doubles.
    *
    * Scale shape: ONE tokenize pass collapses immediately into the
    * per-(doc, bucket) count rollup (map-side combine; ≤ `buckets` rows
    * per document) which is eagerly checkpointed — both the bucket
    * distributions and the final scoring read the rollup, never the token
    * stream again. The λ table is `buckets` rows (broadcast-sized by
    * construction, the point of hashing); totals fold in as a 1-row
    * broadcast cross join; per-doc scores weight the rollup's counts
    * (`Σ n·λ_micro`, still an integer sum) in a partial→final hash
    * aggregate. Output `(doc_id, n_tokens, log_weight)`. */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     targetPred: Column, buckets: Int): DataFrame = {
    val docBuckets = df.select(col(idCol).as("doc_id"),
        targetPred.cast("long").as("is_target"),
        explode(wsTokens(lower(col(textCol)))).as("term"))
      .withColumn("b", pmod(md5Key64(col("term"), "dsir:"), lit(buckets)))
      .groupBy("doc_id", "is_target", "b").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val counts = docBuckets.groupBy("b").agg(
      sum("n").as("rc"), sum(col("is_target") * col("n")).as("tc"))
    val totals = counts.agg(sum("rc").as("r_tot"), sum("tc").as("t_tot"))
    val lam = counts.crossJoin(broadcast(totals))
      .select(col("b"),
        round(round(
          log((col("tc") + 1).cast("double") / (col("t_tot") + buckets).cast("double")) -
          log((col("rc") + 1).cast("double") / (col("r_tot") + buckets).cast("double")),
          6) * 1e6, 0).cast("long").as("lam_micro"))
    docBuckets.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"), sum(col("n") * col("lam_micro")).as("s_micro"))
      .select(col("doc_id"), col("n_tokens"),
        (col("s_micro").cast("double") / 1e6).as("log_weight"))
  }

  /** Frequency-derived subword vocabulary: the top `v` character n-grams
    * (2 ≤ n ≤ 4) over all whitespace-token OCCURRENCES of `lower(text)`,
    * ordered by `(count DESC, gram ASC)` — a deterministic TOTAL order on
    * integer counts, so Spark and the DuckDB oracle derive the identical
    * list and no fixture seam is needed. A stand-in for a trained BPE/
    * WordPiece merge table: production loads the tokenizer's vocab file
    * here, and everything downstream ([[graft.functions.BpeTokenCount]])
    * is the unchanged inference path. The collect is `v` rows — a
    * driver-resident model, same shape as the k-means centroid frames. */
  def bpeVocab(docs: DataFrame, textCol: String, v: Int): Seq[String] = {
    val toks = docs.select(explode(wsTokens(lower(col(textCol)))).as("tok"))
    // single corpus pass: every token's 2/3/4-grams from ONE nested
    // generator (the previous 3-way union re-scanned and re-exploded the
    // token frame once per n — 3× the derivation cost and 3× the codegen,
    // the bulk of q_bpe_subword's cold time). The `when` guard matters:
    // sequence(1, length-(n-1)) with a sub-n token would DESCEND (Spark
    // sequence auto-steps -1), emitting junk grams.
    val grams = toks.select(explode(flatten(transform(
      sequence(lit(2), lit(4)),
      n => when(length(col("tok")) >= n,
          transform(sequence(lit(1), length(col("tok")) - (n - lit(1))),
            i => col("tok").substr(i, n)))
        .otherwise(typedLit(Array.empty[String]))))).as("gram"))
    grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(v)
      .collect().map(_.getString(0)).toSeq
  }

  /** fastText-style linear quality-classifier INFERENCE (Joulin et al.
    * 2016 — the classifier shape CCNet, Wenzek et al. 2019, uses for
    * corpus quality filtering): hashing-trick bag-of-words features
    * (token → md5 bucket in `[0, dim)`), a broadcast `(bucket, w_milli)`
    * weight table, `score` = mean member weight, `keep` = sign. Weights
    * ride in integer MILLI-units so the per-doc sum is exact and the
    * oracle replays bit-for-bit (the integer-micro house recipe); the
    * only fp steps are two exact int→double divisions and the shared
    * round-at-6. One corpus scan, one doc_id-keyed exchange; the weight
    * join broadcasts `dim` rows. [[hashWeights]] is the deterministic
    * stand-in table — training is out of scope, and swapping in a
    * TRAINED table leaves this plan untouched (that is the point: model
    * inference as a broadcast join + aggregate, no UDF). Docs with zero
    * tokens have no feature rows and are absent from the output, exactly
    * as fastText skips empty input. */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
                         weights: DataFrame, dim: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(wsTokens(lower(col(textCol)))).as("tok"))
      .withColumn("bucket", pmod(md5Key64(col("tok"), "qw:"), lit(dim.toLong)))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w_milli").as("s_milli"))
      // score = s_milli/(1000·n) rounded to 6 dp — in EXACT integer space
      // (graft.ops.ResampleOps.microMeanHalfUp): the sf1 sweep caught
      // round(double, 6) flipping on the 20/50k docs whose exact score
      // lands on a halfway decimal (Spark rounds the shortest string,
      // DuckDB the binary value). keep is evaluated on the same micro int.
      .select(col("doc_id"), col("n_tokens"),
        (graft.ops.ResampleOps.microMeanHalfUp(col("s_milli"), col("n_tokens"))
          .cast("double") / 1e6).as("score"))
      .withColumn("keep", (col("score") >= 0.0).cast("int"))

  /** Deterministic hash weight table for [[linearQualityScore]]:
    * `w_milli(b) = md5Key64("qw_w:" ‖ b) mod 2001 − 1000` ∈ [−1000, 1000]
    * milli-units — engine-exact via the shared md5-prefix recipe. */
  def hashWeights(spark: org.apache.spark.sql.SparkSession, dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("bucket"),
      (pmod(md5Key64(col("id"), "qw_w:"), lit(2001L)) - 1000L).as("w_milli"))

  /** BPE merge TRAINING (Sennrich, Haddow & Birch, ACL 2016 — the
    * byte-pair-encoding tokenizer learner; [[bpeVocab]] +
    * [[graft.functions.BpeTokenCount]] are the matching inference side).
    * Classic algorithm, distributed shape: collapse the corpus to the
    * word-frequency table (the ONLY corpus-sized pass — at 100 TB this
    * is one tokenize + one vocab-keyed agg), then iterate `steps` times
    * on the VOCAB-sized frame: count adjacent symbol pairs weighted by
    * word frequency, pick the most frequent pair (total order:
    * `cnt DESC, lhs ASC, rhs ASC` over integer counts — deterministic),
    * merge it everywhere, repeat. The per-step argmax is a 1-row
    * bounded collect — the legitimate iterate-small-model shape (same
    * as the k-means/PQ trainers); `localCheckpoint` cuts the 10-deep
    * lineage so step N's plan doesn't replay steps 1..N−1.
    *
    * Symbol representation is the cross-engine trick: a word's symbol
    * sequence is the string `" s1  s2  …  sk "` (double-space joined,
    * single-space flanked; whitespace can't occur INSIDE a symbol —
    * tokens come from `\S+`). Merging pair (a, b) is then the plain
    * leftmost non-overlapping `replace(sym, " a  b ", " ab ")`, whose
    * semantics are identical in Spark and DuckDB — so the oracle
    * replays training exactly with `steps` chained CTE blocks, no
    * fixture seam, no custom expression, and leftmost-greedy matches
    * BPE's canonical tie handling (`[a,a,a] → [aa,a]`). ASCII-oriented
    * (the `.` symbolizer splits code units, like byte-level BPE splits
    * bytes); a production tokenizer would pre-normalize unicode.
    *
    * @return `(step, lhs, rhs, freq)` — the first `steps` learned
    *   merges in order (fewer if the corpus runs out of pairs).
    */
  def bpeMerges(docs: DataFrame, textCol: String, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(wsTokens(lower(col(textCol)))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    var vocab = words.select(
        concat(lit(" "),
          array_join(regexp_extract_all(col("word"), lit("."), lit(0)), "  "),
          lit(" ")).as("sym"),
        col("n"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= steps && !exhausted) {
      val arr = split(trim(col("sym")), "  ")
      val top = vocab
        .select(col("n"), arr.as("a"))
        .filter(size(col("a")) > 1)
        .select(col("n"), explode(zip_with(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (l, r) => struct(l.as("lhs"), r.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step, l, r, c))
        vocab = vocab.withColumn("sym",
            replace(col("sym"), lit(s" $l  $r "), lit(s" $l$r ")))
          .localCheckpoint(true)
        step += 1
      }
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "freq")
  }

  /** k-ANONYMITY generalization (Sweeney 2002): a quasi-identifier
    * combination shared by fewer than `k` rows re-identifies — one
    * generalization-hierarchy step coarsens the `generalize` column of
    * every under-`k` group to `"*"`, groups again, and flags whether the
    * merged groups now satisfy k (`k_ok` — generalization can still
    * leave a residual under-k `"*"` group, which a release pipeline must
    * SUPPRESS; surfacing the flag instead of silently dropping keeps the
    * decision auditable). The privacy companion to the PII scrub: scrub
    * cleans VALUES, this bounds what group MEMBERSHIP discloses.
    *
    * Shape: two partial→final hash aggregates over the QI columns —
    * group-count scale, no row-level shuffle beyond the first groupBy;
    * at 100 TB the QI cardinality (not the corpus) sizes every exchange
    * after the first. Output `(qi..., <generalize>_anon, n, k_ok)`. */
  def kAnonymize(df: DataFrame, qi: Seq[String], generalize: String,
                 k: Int): DataFrame = {
    require(qi.contains(generalize), s"generalize column $generalize must be a QI column")
    val keep = qi.filterNot(_ == generalize)
    val g = df.groupBy(qi.map(col): _*).agg(count(lit(1)).as("n"))
      .withColumn(s"${generalize}_anon",
        when(col("n") < lit(k), lit("*")).otherwise(col(generalize)))
    g.groupBy((keep :+ s"${generalize}_anon").map(col): _*)
      .agg(sum(col("n")).as("n"))
      .withColumn("k_ok", col("n") >= lit(k))
  }

  /** Per-document DEFLATE compression stats — the compressibility
    * quality signal (RedPajama-v2 `ccnet_*`-family signals; highly
    * repetitive boilerplate compresses far below prose, near-random
    * noise barely compresses at all). One `Deflater` per PARTITION,
    * `reset()` per row — allocating a native zlib stream per document
    * is the hidden cost at corpus scale. Emits `(id, raw_len,
    * comp_len)` in bytes (UTF-8); ratio/bucketing happen downstream in
    * plain relational algebra so the oracle can replay them from the
    * seam fixture (the compressor itself is the non-SQL stage, same
    * contract as the hash families). */
  def compressionStats(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, false)
        val buf = new Array[Byte](8192)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(raw)
          defl.finish()
          var n = 0L
          while (!defl.finished()) n += defl.deflate(buf)
          (id, raw.length.toLong, n)
        }
      }.toDF(idCol, "raw_len", "comp_len")
  }
}
