package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join helpers for skewed data (SURVEY §4: AQE handles moderate skew at
  * runtime; explicit salting is the deterministic tool for pathological
  * keys — e.g. a null-like sentinel user owning 10% of a 100 TB fact). */
object JoinOps {

  /** Skew-safe equi-join of a large (skewed) side against a smaller side:
    * the large side's rows scatter across `salts` sub-keys (deterministic —
    * hash of the whole row, no `rand()`, so retries/speculative tasks agree),
    * and the small side replicates once per salt. Same result set as a
    * plain inner equi-join, but the hot key's rows land on `salts`
    * reducers instead of one. */
  def saltedEquiJoin(large: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0)
    val saltedLarge = large.withColumn("__salt",
      pmod(hash(large.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedLarge.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Fact × fact equi-join — the NON-broadcast join topology. At 100 TB
    * both sides of lineitem ⋈ orders outgrow any broadcast threshold;
    * the correct physical plan is a shuffle-and-sort-merge join: both
    * sides exchange on the join key, sort within partitions, and stream
    * one merge pass — bounded memory per task regardless of build-side
    * size (a hash join's build side must FIT; a merge join's only
    * spills). The SHUFFLE_MERGE hint pins that strategy so the plan is
    * the 100 TB plan at every test scale — without it, any side under
    * `autoBroadcastJoinThreshold` (tens of MB) silently becomes a
    * BroadcastHashJoin at test SFs and the contract would never exercise
    * the plan that actually runs in production (PlanSpec pins both the
    * hinted SMJ here and that the UNHINTED join picks SMJ on its own
    * once the build side exceeds the threshold). Co-bucketing both
    * tables on the key at ingest removes the two Exchanges entirely —
    * the bucketed twin (`q_fact_join_bucketed`, BucketedJoinSpec). */
  def factFactJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right.hint("shuffle_merge"), cond)

  /** Range/interval overlap predicate `[aStart,aEnd] ∩ [bStart,bEnd] ≠ ∅`
    * (J2's generalization). Use with a broadcast side; for two large sides
    * pre-bucket both on coarse time buckets first. */
  def overlaps(aStart: Column, aEnd: Column, bStart: Column, bEnd: Column): Column =
    aStart <= bEnd && bStart <= aEnd

  /** Interval × point range join for TWO FACT-SCALE sides — the
    * "pre-bucket both on coarse time buckets" strategy [[overlaps]]
    * points at, made concrete. A naive
    * `a JOIN b ON pt >= start AND pt < end` has no equi-key, so Spark
    * plans BroadcastNestedLoopJoin (driver-killing broadcast of a fact
    * side) or a cartesian — |A|·|B| comparisons either way. Instead:
    * each interval EXPLODES to the day bins it covers, each point maps
    * to its own day bin, and the pair matches on the bin EQUI-key with
    * the exact range predicate as a residual filter (a point's bin is
    * covered by every interval overlapping that day, so no pair is
    * missed; each point carries exactly one bin, so no pair is
    * duplicated). Work drops to Σ_bin |A_bin|·|B_bin| — the classic
    * binned range join (e.g. Chawda et al., "Processing Interval Joins
    * On Map-Reduce", EDBT'14) — and the join is shuffle-partitioned BY
    * BIN, so time-skew spreads across reducers. Pick the bin width ≈
    * typical interval length (here: day bins for multi-day windows); a
    * much finer bin multiplies the explode factor, a much coarser one
    * multiplies the per-bin cross product.
    *
    * `intervals` columns must not collide with `points` columns.
    * Matches are `startCol <= ptCol < endCol` (start-incl, end-excl). */
  def binnedIntervalJoin(intervals: DataFrame, startCol: String,
      endCol: String, points: DataFrame, ptCol: String): DataFrame = {
    // a fresh bin name: `sequence` throws at runtime on a backwards
    // interval (end < start — such intervals match nothing under
    // start <= pt < end, so drop them up front instead of crashing),
    // and a hardcoded "__bin" would silently collide with an input
    // column of that name
    val bin = Iterator.from(0).map(i => s"__bin$i")
      .find(n => !intervals.columns.contains(n) && !points.columns.contains(n))
      .get
    val binned = intervals
      .filter(col(endCol) >= col(startCol))
      .withColumn(bin,
        explode(sequence(date_trunc("DAY", col(startCol)).cast("date"),
          col(endCol).cast("date"), expr("INTERVAL 1 DAY"))))
    val pts = points.withColumn(bin, to_date(col(ptCol)))
    binned.join(pts, Seq(bin))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) < col(endCol))
      .drop(bin)
  }

  /** Point-in-time (SCD2) dimension lookup: for every fact row, the ONE
    * dimension version whose validity interval covers the fact's event
    * time — `dim.key = fact.key AND valid_from <= ts < valid_to`. With a
    * [[MergeOps.scd2Intervals]] dimension the intervals tile each
    * entity's timeline gaplessly from its first version to the
    * end-of-time sentinel, so any fact at/after the entity's first
    * version matches exactly one row (empty [d, d) intervals from
    * same-instant versions can never match; the later version wins).
    *
    * Physical shape: an equi-join on the entity key with the range
    * predicate evaluated as the join's non-equi condition. With
    * `broadcastDim` (the default) that is one BroadcastHashJoin — zero
    * shuffle of the fact side, the 100 TB norm for dimension lookups
    * (SCD2 dims are versions-per-entity × entities — usually well under
    * executor memory; the intermediate per-key version fan-out is pruned
    * by the range condition inside the join, never materialized).
    * Entity-skewed facts hit no hot reducer because nothing shuffles.
    * Set `broadcastDim = false` for a dimension past broadcast size:
    * same plan keyed by a shuffled hash join, AQE handling fact skew.
    *
    * `joinType = "left"` (the feature-pipeline default) keeps facts
    * that precede the entity's FIRST version with NULL dimension
    * columns — the point-in-time leakage guard: an event before any
    * version existed must see "no features yet", never a later
    * version's values. `"inner"` drops such pre-history facts. */
  def pitLookup(facts: DataFrame, dim: DataFrame, factKey: String,
      factTs: String, dimKey: String, validFrom: String = "valid_from",
      validTo: String = "valid_to", broadcastDim: Boolean = true,
      joinType: String = "left"): DataFrame = {
    val d = if (broadcastDim) broadcast(dim) else dim
    facts.join(d,
        facts(factKey) === d(dimKey) &&
          d(validFrom) <= facts(factTs) && facts(factTs) < d(validTo),
        joinType)
      .drop(d(dimKey))
  }

  /** As-of join: for every probe row, the latest event row with
    * `event.ts <= probe.ts` within the same key — THE timeseries join Spark
    * lacks natively (SURVEY §7.6 names it the canonical custom-operator
    * candidate). Ties (event.ts == probe.ts) match, like DuckDB's
    * `ASOF JOIN ... >=`; among events sharing one timestamp the
    * highest-`tieBreak` row wins deterministically; NULL-key probes emit
    * NULL payload (SQL equi-join semantics on both paths).
    *
    * Dispatches to the custom single-pass merge operator
    * ([[asofJoinMerge]] → [[graft.plans.AsOfJoinExec]], measured 2× the
    * composition) whenever the column types fit its envelope, and to the
    * window composition ([[asofJoinComposed]]) otherwise — so callers
    * always get the best eligible physical plan with a total API.
    *
    * @param probes   (key, ts, …probe cols)
    * @param events   (key, ts, payload cols)
    * @param key      equi-join column present on both sides
    * @param tsCol    event-time column name on both sides
    * @param payload  event columns to carry onto each probe (NULL when no
    *                 event precedes the probe)
    * @param tieBreak extra event ordering column for same-timestamp events
    */
  def asofJoin(probes: DataFrame, events: DataFrame, key: String, tsCol: String,
      payload: Seq[String], tieBreak: String): DataFrame =
    asofJoinMerge(probes, events, key, tsCol, payload, tieBreak)

  /** The as-of join by COMPOSITION of built-in operators: union the two
    * sides tagged, sort within key, and carry the last non-null event
    * payload forward with an `ignoreNulls` running `last` — one shuffle on
    * the key + one sort, identical asymptotics to a purpose-built
    * sort-merge as-of (but it materializes both sides into one window
    * buffer; [[asofJoinMerge]] is ~2× on eligible types). Kept public as
    * the fallback path and the differential-testing twin for
    * [[graft.plans.AsOfJoinExec]] (AsOfJoinSpec compares them row-exact).
    * NULL-key events are dropped up front so NULL-key probes emit NULL
    * payload — the same SQL equi-join semantics as the merge operator. */
  def asofJoinComposed(probes: DataFrame, events0: DataFrame, key: String,
      tsCol: String, payload: Seq[String], tieBreak: String): DataFrame = {
    val events = events0.filter(col(key).isNotNull)
    import org.apache.spark.sql.expressions.Window
    val probeCols = probes.columns
    val payloadStruct = struct(payload.map(col): _*)
    val payloadType = org.apache.spark.sql.types.StructType(
      payload.map(c => org.apache.spark.sql.types.StructField(c, events.schema(c).dataType)))
    // events first at equal ts (side=0 < 1) so a same-ts event is visible
    // to the probe's running `last`; payload rides as ONE struct so all
    // fields always come from the same (latest) event
    val evTagged = events.select(
      (col(key) +: col(tsCol) +: lit(0).as("__side") +: col(tieBreak).as("__tb") +:
        payloadStruct.as("__p") +:
        probeCols.filterNot(c => c == key || c == tsCol)
          .map(c => lit(null).cast(probes.schema(c).dataType).as(c))): _*)
    val prTagged = probes.select(
      (col(key) +: col(tsCol) +: lit(1).as("__side") +:
        lit(null).cast(events.schema(tieBreak).dataType).as("__tb") +:
        lit(null).cast(payloadType).as("__p") +:
        probeCols.filterNot(c => c == key || c == tsCol).map(col)): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col("__side"), col("__tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, 0)
    evTagged.unionByName(prTagged)
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((probeCols.map(col) ++
        payload.map(c => col(s"__p.$c").as(c))).toIndexedSeq: _*)
  }

  /** As-of join through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.AsOfJoinExec]] — one co-partitioned, co-sorted merge
    * pass instead of the union+window composition; see the plan file's
    * scaladoc for why this is the engine's one custom SparkPlan).
    * Identical result contract to [[asofJoin]] on non-null keys (pinned
    * by AsOfJoinSpec + the shared contract oracle); NULL-key probes
    * emit NULL payload (SQL equi-join semantics).
    *
    * Type envelope (outside it the call falls back to the composition,
    * so the API is total):
    *  - event time: IDENTICAL long-backed type on both sides (timestamp
    *    or long). Identity matters, not just long-backed-ness — a
    *    LongType probe ts against a TimestampType event ts would compare
    *    arbitrary longs to epoch-micros and silently mis-match;
    *  - key: both sides integral (byte/short/int/long — normalized to
    *    long through a temp column, exact), both timestamp, or both
    *    string (the merge compares UTF8Strings directly — binary order,
    *    which only key EQUALITY depends on, so any collation-consistent
    *    sort works);
    *  - tieBreak: any atomic (orderable) type — the merge never reads
    *    the tie; the required child SORT enforces it.
    * The strategy self-registers on the session (idempotent) so callers
    * need no SparkSessionExtensions setup. */
  def asofJoinMerge(probes: DataFrame, events: DataFrame, key: String,
      tsCol: String, payload: Seq[String], tieBreak: String): DataFrame = {
    import org.apache.spark.sql.types._
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    val pk = probes.schema(key).dataType
    val ek = events.schema(key).dataType
    val pts = probes.schema(tsCol).dataType
    val ets = events.schema(tsCol).dataType
    val tsOk = pts == ets && (pts == LongType || pts == TimestampType)
    val keyOk = (integral(pk) && integral(ek)) ||
      (pk == TimestampType && ek == TimestampType) ||
      (pk == StringType && ek == StringType)
    // the merge never reads the tie — it only has to be sortable (the
    // required child ordering enforces the tie-break); struct/array ties
    // are technically orderable too but stay on the composed path
    val tieOk = org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(events.schema(tieBreak).dataType) &&
      !events.schema(tieBreak).dataType.isInstanceOf[StructType] &&
      !events.schema(tieBreak).dataType.isInstanceOf[ArrayType]
    if (!tsOk || !keyOk || !tieOk)
      return asofJoinComposed(probes, events, key, tsCol, payload, tieBreak)
    // integral keys narrower than long are widened through a temp column
    // (the exec reads the key with getLong); long/timestamp/string keys
    // merge on the original column
    val needWiden = integral(pk) && (pk != LongType || ek != LongType)
    val kCol = if (!needWiden) key
      else Iterator.from(0).map(i => s"__asof_k$i")
        .find(n => !probes.columns.contains(n) && !events.columns.contains(n))
        .get
    val p = if (needWiden) probes.withColumn(kCol, col(key).cast("long")) else probes
    val e = if (needWiden) events.withColumn(kCol, col(key).cast("long")) else events
    val spark = p.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    val lp = p.queryExecution.analyzed
    val rp = e.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name"))
    val out = org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoinPlan(lp, rp,
        attr(lp, kCol), attr(rp, kCol), attr(lp, tsCol), attr(rp, tsCol),
        attr(rp, tieBreak), payload.map(attr(rp, _))))
    if (needWiden) out.drop(kCol) else out
  }

  /** Bloom-prefiltered semi-join: EXACT `fact ⋉ dim` result, with a bloom
    * filter doing the heavy pruning before the real join ever shuffles.
    *
    * Shape at 100 TB: the dim side aggregates to ONE binary blob (map-side
    * partial bloom merge — only sketches cross the exchange), the blob is
    * collected and embedded as a literal, and the fact scan drops every
    * non-matching row AT THE SCAN (codegen'd `might_contain`, no shuffle).
    * Only the tiny surviving fraction pays the exact semi-join that removes
    * the bloom's false positives — so the final shuffle carries
    * `|matches| · (1 + fpp·amplification)` rows instead of the whole fact.
    * False negatives are impossible, so the verify join sees every true
    * match: result ≡ plain semi-join, bit for bit. This is the scale path
    * for membership tests like benchmark-contamination screens, where the
    * dim (the benchmark id set) is ~10⁶ keys and the fact is the corpus.
    *
    * `numBits` defaults to ~10 bits/key (≈1% fpp). */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, expectedItems: Long, numBits: Long = 0L): DataFrame = {
    import graft.functions.BloomFunctions._
    // XxHash64 hashes the RAW key bytes: an INT build key and a BIGINT
    // probe key holding the same value hash DIFFERENTLY, and a bloom false
    // negative is silent row loss the verify join cannot recover (it only
    // removes false POSITIVES). A plain semi-join would coerce the keys;
    // the sketch cannot — so demand identical types up front.
    require(fact.schema(factKey).dataType == dim.schema(dimKey).dataType,
      s"bloomSemiJoin keys must have identical types (got " +
        s"$factKey: ${fact.schema(factKey).dataType} vs " +
        s"$dimKey: ${dim.schema(dimKey).dataType}); cast one side first — " +
        "XxHash64 hashes raw bytes, so INT 5 and BIGINT 5 probe different bits")
    val bits = if (numBits > 0) numBits else math.max(64L, expectedItems * 10L)
    val blob = bloomBlob(dim, dimKey, expectedItems, bits)
    // empty dim → no blob → empty semi-join (don't probe a null sketch)
    val pre = if (blob == null) fact.filter(lit(false))
      else fact.filter(might_contain(blob, col(factKey)))
    pre.join(dim.select(col(dimKey).as(factKey)).distinct(),
      Seq(factKey), "left_semi")
  }

  /** The dim side's bloom blob (null for an empty dim), aggregated on a
    * child session whose runtime-filter caps honor the sizing: above the
    * caps the fpp would degrade SILENTLY (the verify join keeps results
    * exact; pruning erodes). */
  private[graft] def bloomBlob(dim: DataFrame, dimKey: String,
      expectedItems: Long, bits: Long): Array[Byte] = {
    import graft.functions.BloomFunctions._
    graft.util.Sessions.scoped(dim, bloomCaps(dim.sparkSession, expectedItems, bits): _*) {
      _.agg(bloom_agg(col(dimKey), expectedItems, bits).as("bf"))
        .head().getAs[Array[Byte]](0)
    }
  }
}
