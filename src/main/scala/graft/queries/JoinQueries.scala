package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Join/aggregation demonstration surface over the star schema
  * (SURVEY §2.3: the reference's J1 validation lookup and J2 coverage
  * overlap generalized to real relational joins, plus classic analytics).
  *
  * Scale decisions (explicit, per query):
  *  - dimensions (`nation`, `customer`, `supplier`, coverage catalogs) are
  *    broadcast — they stay small even at 100 TB fact scale;
  *  - fact-fact joins (lineitem ⋈ orders) shuffle on the join key and rely
  *    on AQE for skew handling;
  *  - top-k uses a rank-over-partition window, never a global sort.
  */
object JoinQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped pricing summary: the canonical partial-agg pipeline.
    "q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          // money sums in exact integer cents: double sums rounded to 2dp
          // sit within FP summation-order noise of the rounding boundary,
          // which would make the oracle hash-compare probabilistic
          (sum(round(col("l_extendedprice") * 100).cast("long")) / 100.0)
            .as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")) / 100.0).as("sum_disc_price"),
          // exact-milli round-6 means (quantity integer, discount 2-dp:
          // both milli-exact) — same rationale as the cent-exact sums
          graft.ops.ResampleOps.meanOf(col("l_quantity"), exactMilli = true)
            .as("avg_qty"),
          graft.ops.ResampleOps.meanOf(col("l_discount"), exactMilli = true)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Fact ⋈ fact (shuffle) ⋈ broadcast dims: revenue by nation.
    "q_revenue_by_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o  = Tables.orders(s, dir)
      val c  = Tables.customer(s, dir)
      val n  = Tables.nation(s, dir)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
               .cast("long")) / 100.0).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // Left-semi join (EXISTS): order priorities with any heavy line.
    "q_semi_join" -> ((s, dir) => {
      val o  = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir).filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),

    // Left-anti join (NOT EXISTS): customers with no urgent orders.
    "q_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J1/J2 as a real join — coverage catalog (broadcast) ⋈ probe windows with
    // a range-overlap predicate. Probe windows are derived deterministically
    // from orders keys, landed inside the events month.
    "q_coverage_overlap" -> ((s, dir) => {
      val coverage = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(min("ts").as("cov_start"), max("ts").as("cov_end"))
      val probe = Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          (col("o_custkey") % 150).as("probe_user"),
          to_timestamp(
            concat(lit("2024-01-"),
              lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
              lit(" 00:00:00"))).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("INTERVAL 3 DAYS"))
      probe.join(broadcast(coverage),
          probe("probe_user") === coverage("user_id") &&
          probe("w_start") <= coverage("cov_end") &&
          probe("w_end") >= coverage("cov_start"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlapping"))
        .orderBy("user_id")
    }),

    // As-of join: latest event at-or-before each probe time per user —
    // the PRIMARY entry point (JoinOps.asofJoin), which now dispatches
    // to the custom AsOfJoinExec merge whenever types are eligible
    // (they are here: long key/tie, timestamp ts both sides) — checked
    // against DuckDB's native ASOF JOIN. PlanSpec pins the AsOfJoinExec
    // node in this query's physical plan.
    "q_asof_join" -> ((s, dir) => {
      val probes = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 150).as("user_id"),
        to_timestamp(concat(lit("2024-01-"),
          lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
          lit(" 00:00:00"))).as("ts"))
      val ev = Tables.events(s, dir).select("user_id", "ts", "value", "event_id")
      graft.ops.JoinOps.asofJoin(probes, ev, "user_id", "ts",
          payload = Seq("value", "event_id"), tieBreak = "event_id")
        .orderBy("o_orderkey")
    }),

    // The SAME as-of join through the custom physical operator
    // (AsOfJoinPlan → AsOfJoinStrategy → AsOfJoinExec: one
    // co-partitioned co-sorted merge pass, no union, no window — the
    // engine's one custom SparkPlan; PlanSpec pins the node + the
    // absence of Window/Union). Result contract identical to
    // q_asof_join, so the DuckDB ASOF JOIN oracle applies verbatim.
    "q_asof_join_merge" -> ((s, dir) => {
      val probes = Tables.orders(s, dir).select(
        col("o_orderkey"),
        (col("o_custkey") % 150).as("user_id"),
        to_timestamp(concat(lit("2024-01-"),
          lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
          lit(" 00:00:00"))).as("ts"))
      val ev = Tables.events(s, dir).select("user_id", "ts", "value", "event_id")
      graft.ops.JoinOps.asofJoinMerge(probes, ev, "user_id", "ts",
          payload = Seq("value", "event_id"), tieBreak = "event_id")
        .orderBy("o_orderkey")
    }),

    // STRING-KEYED as-of through the widened merge envelope: same probe
    // derivation but keyed by a hydrophone-style name ("u<id>"), so the
    // custom exec's UTF8String comparison path carries the contract
    // (AsOfJoinSpec pins that this plans AsOfJoinExec, not the fallback).
    "q_asof_join_str" -> ((s, dir) => {
      val probes = Tables.orders(s, dir).select(
        col("o_orderkey"),
        concat(lit("u"), (col("o_custkey") % 150).cast("string")).as("user_key"),
        to_timestamp(concat(lit("2024-01-"),
          lpad((col("o_orderkey") % 28 + 1).cast("string"), 2, "0"),
          lit(" 00:00:00"))).as("ts"))
      val ev = Tables.events(s, dir).select(
        concat(lit("u"), col("user_id").cast("string")).as("user_key"),
        col("ts"), col("value"), col("event_id"))
      graft.ops.JoinOps.asofJoinMerge(probes, ev, "user_key", "ts",
          payload = Seq("value", "event_id"), tieBreak = "event_id")
        .orderBy("o_orderkey")
    }),

    // STREAMING as-of twin: orders (probes) + events unioned tagged
    // through flatMapGroupsWithState, state = the merge exec's per-key
    // carry (latest event) in the state store. One-shot replay = one
    // micro-batch = the batch as-of exactly, so the same DuckDB ASOF
    // oracle applies; cross-batch last-tick semantics pinned in
    // StreamingSpec.
    "q_stream_asof" -> ((s, dir) =>
      graft.streaming.StreamingOps.runStreamAsofOnce(s, dir)
        .orderBy("o_orderkey")),

    // Gap filling: full hourly grid over a week for one sparse series,
    // forward-filling missing buckets (serving-side interpolation). The
    // single un-partitioned window is ONLY safe because the grid is bounded
    // by the serving point cap — enforced here, not just commented, so a
    // future wider grid fails loudly instead of collapsing to one task.
    "q_gap_fill" -> ((s, dir) => {
      val gridStart = java.time.Instant.parse("2024-01-05T00:00:00Z")
      val gridEnd = java.time.Instant.parse("2024-01-12T00:00:00Z")
      graft.planner.RequestPlanner.enforcePointCap(
        graft.planner.RequestPlanner.estimatedPoints(gridStart, gridEnd, "1h"))
      val grid = Tables.region(s, dir).sparkSession.range(1)
        .select(explode(sequence(
          lit("2024-01-05 00:00:00").cast("timestamp"),
          lit("2024-01-12 00:00:00").cast("timestamp"),
          expr("INTERVAL 1 HOUR"))).as("bucket_start"))
      val agg = graft.ops.ResampleOps.resampleMeanMilli(
          Tables.events(s, dir).filter(col("user_id") === 7), "ts", "value", "1h")
        .select("bucket_start", "mean_value") // exact-milli round-6 mean
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("bucket_start")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid.join(agg, Seq("bucket_start"), "left")
        .withColumn("filled_value", last(col("mean_value"), ignoreNulls = true).over(w))
        .select("bucket_start", "mean_value", "filled_value")
        .orderBy("bucket_start")
    }),

    // LINEAR interpolation across missing buckets — q_gap_fill's
    // forward-fill upgraded to the two-sided estimate sensor pipelines
    // want: v = prev + (next−prev)·Δt/Δspan, edges one-sided. The
    // bracketing (value, bucket) pairs come from last/first IGNORE NULLS
    // windows over the point-capped serving grid (the window is
    // serving-scale by the same O4 cap as q_gap_fill — never a global
    // sort of raw data). Determinism: endpoints are 6-rounded means and
    // the time fraction is integer-seconds arithmetic, so both engines
    // interpolate identical doubles.
    "q_interp_linear" -> ((s, dir) => {
      val gridStart = java.time.Instant.parse("2024-01-05T00:00:00Z")
      val gridEnd = java.time.Instant.parse("2024-01-12T00:00:00Z")
      graft.planner.RequestPlanner.enforcePointCap(
        graft.planner.RequestPlanner.estimatedPoints(gridStart, gridEnd, "1h"))
      val grid = Tables.region(s, dir).sparkSession.range(1)
        .select(explode(sequence(
          lit("2024-01-05 00:00:00").cast("timestamp"),
          lit("2024-01-12 00:00:00").cast("timestamp"),
          expr("INTERVAL 1 HOUR"))).as("bucket_start"))
      val agg = graft.ops.ResampleOps.resampleMeanMilli(
          Tables.events(s, dir).filter(col("user_id") === 7), "ts", "value", "1h")
        .select("bucket_start", "mean_value") // exact-milli round-6 mean
      val wp = org.apache.spark.sql.expressions.Window.orderBy("bucket_start")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wn = org.apache.spark.sql.expressions.Window.orderBy("bucket_start")
        .rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
      val known = when(col("mean_value").isNotNull, col("bucket_start"))
      // the interpolation itself runs in exact micro ints: pv/nv are
      // micro-exact, so pm/nm recover losslessly, and the round-6
      // estimate is ratioHalfUp(Δmicro·Δt, Δspan) — a midpoint between
      // two odd micros lands EXACTLY on the halfway boundary, where the
      // engines' round(double, 6) realizations disagree (PERF r12)
      val pm = round(col("pv") * 1e6).cast("long")
      val nm = round(col("nv") * 1e6).cast("long")
      val dt = unix_timestamp(col("bucket_start")) - unix_timestamp(col("pb"))
      val span = unix_timestamp(col("nb")) - unix_timestamp(col("pb"))
      grid.join(agg, Seq("bucket_start"), "left")
        .withColumn("pv", last(col("mean_value"), ignoreNulls = true).over(wp))
        .withColumn("pb", last(known, ignoreNulls = true).over(wp))
        .withColumn("nv", first(col("mean_value"), ignoreNulls = true).over(wn))
        .withColumn("nb", first(known, ignoreNulls = true).over(wn))
        .withColumn("interp_value",
          when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .when(col("pb") === col("nb"), col("pv")) // observed bucket
            // Δmicro·Δt in DECIMAL(38,0), matching ratioHalfUp's internal
            // cast discipline (and the oracle's HUGEINT product) — a long
            // product would overflow silently (non-ANSI) at extreme value
            // magnitudes × long spans and diverge from the oracle.
            .otherwise((pm + graft.ops.ResampleOps.ratioHalfUp(
              (nm.cast("decimal(38,0)") - pm.cast("decimal(38,0)"))
                * dt.cast("decimal(38,0)"), span)).cast("double") / 1e6))
        .select("bucket_start", "mean_value", "interp_value")
        .orderBy("bucket_start")
    }),

    // Multi-level aggregation: ROLLUP over (returnflag, linestatus) with
    // grouping_id disambiguating subtotal rows. NULL ordering pinned
    // explicitly (Spark sorts NULLS FIRST by default, DuckDB NULLS LAST).
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Full CUBE over (returnflag, linestatus) — all four grouping sets
    // in one pass (rollup's lattice completion; Spark expands the sets
    // before the partial aggregate, so it stays one shuffle).
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // GROUPING SETS — the general lattice form rollup/cube specialize:
    // two INDEPENDENT summaries ((returnflag), (linestatus)) in ONE
    // pass/shuffle (Spark expands the sets before the partial
    // aggregate), where rollup could only express the hierarchy.
    "q_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy(col("gid"),
          col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Wide→long UNPIVOT (the PSD-matrix melt generalized): three
    // lineitem measures stack into (measure, val) rows — Spark's Expand
    // node, a map-side row multiplication, never a shuffle per measure —
    // then one grouped aggregate in exact centi-units.
    "q_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .unpivot(
          Array(col("l_returnflag")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("val") * 100, 0).cast("long")).as("sum_centi"))
        .orderBy("l_returnflag", "measure")),

    // Set operations: purchasers who never raised an error (EXCEPT) and
    // users doing both (INTERSECT).
    "q_set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def users(t: String) =
        ev.filter(col("event_type") === t).select(col("user_id"))
      val both = users("purchase").intersect(users("error"))
        .withColumn("relation", lit("both"))
      val pureBuyers = users("purchase").except(users("error"))
        .withColumn("relation", lit("purchase_only"))
      both.unionByName(pureBuyers).orderBy("relation", "user_id")
    }),

    // Skew-safe fact ⋈ dimension join via explicit salting
    // (JoinOps.saltedEquiJoin): the fact side scatters across 8 sub-keys by
    // a deterministic row hash and the order side replicates once per salt,
    // so one pathologically hot orderkey lands on 8 reducers instead of 1.
    // The result set is IDENTICAL to the plain inner join — which is
    // exactly what the oracle checks; the salting is invisible in the
    // output, visible in the plan (join key is (l_orderkey, __salt)).
    "q_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.JoinOps.saltedEquiJoin(li, o, "l_orderkey", salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
               .cast("long")) / 100.0).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // Fact × fact SORT-MERGE join (JoinOps.factFactJoin) — the
    // non-broadcast topology: at 100 TB BOTH sides of lineitem ⋈ orders
    // outgrow any broadcast threshold, and the production plan is
    // exchange + sort + streaming merge with bounded task memory. The
    // SHUFFLE_MERGE hint pins that plan at every test scale (unhinted,
    // a test-SF orders side broadcasts and the contract would never
    // exercise it); PlanSpec pins both the hinted plan and that the
    // UNHINTED join resolves to SMJ once broadcast is off the table.
    // Late-shipment profile per priority; counts integer-exact.
    "q_fact_join_smj" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      graft.ops.JoinOps.factFactJoin(li, o,
          li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_late"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // The same fact × fact join over CO-BUCKETED tables: bucketing both
    // sides on the join key at ingest pre-satisfies the join's
    // clustering, so the sort-merge join plans with NO Exchange on
    // either side — the amortize-the-shuffle-once answer for a join that
    // runs every day at 100 TB (BucketedJoinSpec pins the exchange-free
    // plan; this contract row pins the RESULT equals the plain join's).
    "q_fact_join_bucketed" -> ((s, dir) => {
      val sfTag = new java.io.File(dir.replaceAll("/+$", "")).getName
        .replaceAll("\\W", "_")
      val (liT, oT) = (s"graft_li_bkt_$sfTag", s"graft_o_bkt_$sfTag")
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed/$sfTag"
      // ingest ONCE per session: bucketing is the amortize-the-shuffle-
      // at-ingest story, so rebuilding both tables inside every (timed)
      // invocation measured the ingest, not the exchange-free join the
      // row exists to demonstrate — the warm bench pass now reuses the
      // session tables, like q_audio_archive_psd's marker pattern
      val ready = s.catalog.tableExists(liT) && s.catalog.tableExists(oT) &&
        new java.io.File(s"$root/$liT").isDirectory &&
        new java.io.File(s"$root/$oT").isDirectory
      if (!ready) {
        s.sql(s"DROP TABLE IF EXISTS `$liT`")
        s.sql(s"DROP TABLE IF EXISTS `$oT`")
        // external locations: pre-existing dirs from a previous JVM are
        // legal and overwritten (the IncrementalDedup lesson, e83c447)
        // The two ingests are INDEPENDENT jobs — submit them from two
        // threads so the second back-fills executors the first's write
        // tail leaves idle (guide §2.6 "overlap independent jobs"); each
        // job is 8 bucket tasks on a 32-core context, so serial ingest
        // left 3/4 of the machine idle. Catalog ops on two DIFFERENT
        // table names are safe concurrently.
        graft.util.Par.overlap(2)(Seq(
          () => Tables.lineitem(s, dir)
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$root/$liT").mode("overwrite").saveAsTable(liT),
          () => Tables.orders(s, dir)
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$root/$oT").mode("overwrite").saveAsTable(oT)))
      }
      val li = s.table(liT)
      val o = s.table(oT)
      graft.ops.JoinOps.factFactJoin(li, o,
          li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L)
            .otherwise(0L)).as("n_late"),
          sum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Bloom-prefiltered semi-join (JoinOps.bloomSemiJoin): the membership-
    // test scale path (benchmark-contamination screens, id-set lookups).
    // The urgent-order key set aggregates into ONE bloom blob, the lineitem
    // scan drops non-members at row speed via the codegen'd might_contain
    // literal, and the exact semi-join only pays for survivors. The bloom
    // is pure execution strategy (no false negatives + exact verify), so
    // the oracle is the plain semi-join.
    "q_bloom_semi" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice"), col("l_discount"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      graft.ops.JoinOps.bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
          expectedItems = 1L << 20)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")) / 100.0).as("net_value"))
        .orderBy("l_returnflag")
    }),

    // SCD2 dimension build (MergeOps.scd2Intervals): the order history per
    // customer becomes validity intervals — each order version holds
    // [its orderdate, next orderdate), the latest version closes at the
    // 9999-12-31 sentinel (never NULL: open-ended NULLs poison range
    // predicates). One shuffle on the entity key; intervals emit as ISO
    // date strings so the sentinel survives every engine's date range.
    "q_scd2" -> ((s, dir) => {
      val ch = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"))
      graft.ops.MergeOps.scd2Intervals(ch, "o_custkey", "o_orderdate",
          tieBreak = "o_orderkey", endOfTime = "9999-12-31 00:00:00")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("price"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
          col("is_current"))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    }),

    // Point-in-time lookup against that same SCD2 dimension
    // (JoinOps.pitLookup): every lineitem shipment fetches the order
    // version that was current for its customer ON THE SHIP DATE —
    // the canonical "training features as of event time" join that
    // prevents label leakage in feature pipelines. The dimension
    // (15k versions here; versions×entities generally) broadcasts, so
    // the fact side never shuffles and per-customer fact skew has no
    // hot reducer; the probe's custkey rides in from orders via an
    // already-broadcast equi-join. At most one version matches per fact
    // (SCD2 intervals tile each timeline), and the LEFT join keeps
    // facts that precede the customer's first version with NULL
    // dimension columns — the leakage guard made visible: this
    // synthetic archive ships ~half its lineitems before their order's
    // orderdate, and those must see "no features yet", never a later
    // version. Fact cardinality is preserved exactly (60k in, 60k out
    // at sf0.01) — pinned by the oracle rowcount.
    //
    // SCALING GUARD (r13 sf3 sweep): the per-fact version lookup is
    // n·log n PER KEY (sorted-interval probe within a customer's
    // version list). Under KEY-PINNED synthetic replication — the sf1/
    // sf3 corpora hold custkeys 1× while versions×probes grow 10-30× —
    // that per-key log factor is the one accelerating segment in the
    // whole contract (e2 1.20 at sf3). Real corpora grow KEYS with
    // facts (versions/key stays ~constant), where this plan is linear;
    // if a production archive ever does concentrate versions per key,
    // bound the version list (SCD2 snapshot compaction) before this
    // join, not inside it.
    "q_pit_join" -> ((s, dir) => {
      val dim = graft.ops.MergeOps.scd2Intervals(
          Tables.orders(s, dir).select(
            col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            col("o_orderdate")),
          "o_custkey", "o_orderdate",
          tieBreak = "o_orderkey", endOfTime = "9999-12-31 00:00:00")
        .select(col("o_custkey").as("dim_custkey"),
          col("o_orderkey").as("version_key"),
          col("o_totalprice").as("version_price"),
          col("valid_from"), col("valid_to"))
      val probes = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(broadcast(Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      graft.ops.JoinOps.pitLookup(probes, dim,
          factKey = "o_custkey", factTs = "l_shipdate", dimKey = "dim_custkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"),
          col("version_key"), col("version_price"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // CDC apply (MergeOps.applyCdc — MERGE INTO semantics): a change
    // feed derived from the snapshot itself carries two competing
    // updates per touched key (seq 1: +500, seq 2: +1000 — the LAST
    // must win), deletes at the highest seq (a key both updated and
    // deleted must die), and inserts under fresh keys. Compaction ranks
    // only the DELTA (window over the feed, never the snapshot); the
    // snapshot pays one anti-join shuffle on the key. The oracle states
    // the end state directly: survivors with the seq-2 value, minus the
    // deleted keys, plus the inserts.
    "q_cdc_apply" -> ((s, dir) => {
      val snap = Tables.events(s, dir).select("event_id", "event_type", "value")
      val cdc = cdcFeedGroups(snap).reduce(_ unionByName _)
      graft.ops.MergeOps.applyCdc(snap, cdc, "event_id", "op", "seq")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6, 0).cast("long")).as("value_micro"))
        .orderBy("event_type")
    }),

    // The SAME CDC end state reached CONTINUOUSLY: the feed's three
    // seq-group files stream in as micro-batches (arrival order
    // uncontrolled), each advancing a persisted snapshot VERSION through
    // MergeOps.applyCdcVersioned — the seq-guarded apply that makes
    // stale replays and out-of-order content converge (the property a
    // CDC sink needs under at-least-once, cross-partition delivery).
    // Shares q_cdc_apply's end-state oracle verbatim.
    "q_stream_cdc" -> ((s, dir) =>
      graft.streaming.StreamingOps.runStreamCdcOnce(s, dir, cdcFeedGroups)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1e6, 0).cast("long")).as("value_micro"))
        .orderBy("event_type")),

    // The SAME point-in-time enrichment run CONTINUOUSLY: the lineitem
    // stream joins the STATIC SCD2 dimension per micro-batch (stateless
    // stream-static broadcast left-outer join — the third join topology
    // next to the stream-stream interval join), then aggregates into a
    // bounded (ship-month × matched) grid in complete mode. Streamed ≡
    // batch because the static side is identical per batch and the
    // aggregate is exact — the batch SQL oracle applies unchanged.
    "q_stream_pit" -> ((s, dir) =>
      graft.streaming.StreamingOps.runStreamPitOnce(s, dir)
        .orderBy("ship_month", "matched")),

    // The SAME top-3-suppliers-per-nation result as
    // q_top_suppliers_per_nation, but through the native partial top-k
    // aggregate (functions.TopKByAgg) instead of a rank window: per-nation
    // k-entry heaps reduce map-side, so the exchange carries ≤ k·groups
    // entries and nothing is ever fully sorted — the shape that survives a
    // hot group with 10^9 rows. Wide payload (names) joins AFTER the
    // aggregate, on the 75-row result. Oracle: the window formulation.
    "q_topk_agg" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n  = Tables.nation(s, dir)
      val rev = li.groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
               .cast("long")).as("revenue_cents"))
      val perNation = rev
        .join(broadcast(su.select("s_suppkey", "s_nationkey")),
          rev("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(graft.functions.TopKByAgg.topk_by(
          col("revenue_cents"), col("s_suppkey"), 3).as("tk"))
      perNation
        .select(col("s_nationkey"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("s_nationkey"), (col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("s_suppkey"), (col("e.ord") / 100.0).as("revenue"))
        .join(broadcast(su.select(col("s_suppkey").as("sk"), col("s_name"))),
          col("s_suppkey") === col("sk"))
        .join(broadcast(n), col("s_nationkey") === n("n_nationkey"))
        .select("n_name", "rank", "s_suppkey", "s_name", "revenue")
        .orderBy("n_name", "rank")
    }),

    // Top-k per group via rank window (deterministic: rounded revenue, then
    // key). DELIBERATELY window-ranked: this is the SURVEY §2.5 rank-window
    // demonstration, and q_topk_agg above is the SAME query through the
    // bounded-heap TopKByAgg — the pair pins heap ≡ window against one
    // oracle. The window input here is the per-supplier pre-aggregate (one
    // row per supplier, 25 nation partitions), so each partition sort is
    // bounded by suppliers/nation; at 10^8 suppliers the heap twin is the
    // plan to ship, and its existence is the point of keeping both.
    "q_top_suppliers_per_nation" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n  = Tables.nation(s, dir)
      val rev = li.groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
               .cast("long")).as("revenue_cents"))
        .withColumn("revenue", col("revenue_cents") / 100.0)
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("revenue_cents").desc, col("s_suppkey"))
      rev.join(broadcast(su), rev("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("n_name", "rank", "s_suppkey", "s_name", "revenue")
        .orderBy("n_name", "rank")
    }),

    // Market-basket co-occurrence: part pairs bought together in one
    // order (the recsys/feature-cross primitive), support ≥ 2. The
    // within-basket self-join is quadratic IN BASKET SIZE, so baskets
    // beyond BasketCap items are excluded up front (the blockCap /
    // hot-bucket guard applied to baskets — one 10⁵-item pathological
    // basket would emit 5×10⁹ pairs); the basket-size filter is a
    // groupBy + same-key semi-join, co-partitioned with the pair join.
    "q_cooccur_pairs" -> ((s, dir) => {
      val cap = 100
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val okSized = items.groupBy(col("ok"))
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn").between(2, cap))
        .select("ok")
      // materialized once: the pair self-join references kept on both
      // sides — unmaterialized, the distinct + size-filter chain would
      // recompute per side (q_assoc_rules already does this)
      val kept = items.join(okSized, "ok").localCheckpoint(true)
      kept.as("x").join(kept.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("part_a"), col("y.pk").as("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 2)
        .orderBy("part_a", "part_b")
    }),

    // Association rules over the same capped baskets (Agrawal & Srikant
    // 1994 measures on the q_cooccur_pairs pair set): every directed
    // rule A→B with pair support ≥ 2, its confidence n(A,B)/n(A) and
    // lift n(A,B)·N/(n(A)·n(B)) — all closed-form divisions of exact
    // basket counts, so the recsys scoring layer adds nothing to the
    // pair join's cost. Item counts join broadcast (bounded by the part
    // catalog); N rides as a broadcast 1-row frame.
    "q_assoc_rules" -> ((s, dir) => {
      val cap = 100
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val okSized = items.groupBy(col("ok"))
        .agg(count(lit(1)).as("bn"))
        .filter(col("bn").between(2, cap))
        .select("ok")
      // reused by the item counts, the pair join (twice), and N
      val kept = items.join(okSized, "ok").localCheckpoint(true)
      val itemCnt = kept.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val nb = kept.agg(countDistinct(col("ok")).as("nb"))
      // materialized once: the directed union below references the pair
      // frame on both branches — unmaterialized, the quadratic
      // within-basket self-join re-ran per branch
      val pairs = kept.as("x").join(kept.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("part_a"), col("y.pk").as("part_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 2)
        .localCheckpoint(true)
      val directed = pairs
        .select(col("part_a").as("antecedent"),
          col("part_b").as("consequent"), col("n_pair"))
        .unionByName(pairs.select(col("part_b").as("antecedent"),
          col("part_a").as("consequent"), col("n_pair")))
      directed
        .join(broadcast(itemCnt.select(col("pk").as("antecedent"),
          col("n_item").as("n_ante"))), Seq("antecedent"))
        .join(broadcast(itemCnt.select(col("pk").as("consequent"),
          col("n_item").as("n_cons"))), Seq("consequent"))
        .crossJoin(broadcast(nb))
        .select(col("antecedent"), col("consequent"), col("n_pair"),
          round(col("n_pair").cast("double") / col("n_ante"), 6)
            .as("confidence"),
          round((col("n_pair") * col("nb")).cast("double") /
            (col("n_ante") * col("n_cons")).cast("double"), 6).as("lift"))
        .orderBy("antecedent", "consequent")
    }),

    // Fact×fact RANGE join with no equi-key: lineitems shipped inside
    // each June-1995 order's [o_orderdate, +170h) window, via the
    // day-bin decomposition ([[graft.ops.JoinOps.binnedIntervalJoin]]) —
    // an equi-join on the bin plus a residual trim, never a
    // BroadcastNestedLoopJoin (PlanSpec pins the plan shape). The 170 h
    // (not 168 h) window keeps the interval NOT day-aligned, so the
    // residual predicate does real work on the boundary bins. Quantity
    // sums in exact centi-units.
    //
    // SCALING GUARD (r14 sf3 sweep): matched-pair cardinality is
    // QUADRATIC in time-pinned replication (both sides of every 170 h
    // window multiply: 3.5 M pairs at sf0.1 → 351 M at sf1 → 3.16 B at
    // sf3) — the fits' one e2 > 1.3 survivor, and it is output-bound,
    // not plan-bound (time e2 1.76 < output exponent 2.0; 83 M matched
    // pairs/s at sf3). Real corpora spread events over time, growing
    // window populations ~linearly. If a production window×density ever
    // explodes the pair set, cap it upstream (tighter windows, key
    // predicates, or pre-aggregate the probe side to the bin grain) —
    // the binned decomposition itself stays an equi-join at any scale.
    "q_range_join_binned" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-06-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") <  lit("1995-07-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 170 HOURS")).as("o_end"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
      graft.ops.JoinOps.binnedIntervalJoin(o, "o_orderdate", "o_end", li, "l_shipdate")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"),
             sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_centi"))
        .orderBy("o_orderkey")
    }),

    // SCALE-SAFE TWIN of q_range_join_binned (r14 verdict #5 — promoting
    // the scaling-guard comment above to measured code). The binned cell
    // materializes every (window, lineitem) matched pair, which is
    // provably QUADRATIC under time-pinned replication (3.5 M pairs at
    // sf0.1 → 3.16 B at sf3, output exponent 2.0; the one super-linear
    // fit of the r14 sweep, time e2 1.76). This twin collapses the pair
    // set by PRE-AGGREGATING the probe side to HOUR grain BELOW the
    // interval join: both window boundaries are hour-aligned
    // (o_orderdate is midnight-aligned; +170 h preserves hour
    // alignment), so an hour bucket [h, h+1 h) lies entirely inside or
    // outside every window and the residual trim on the bucket
    // timestamp stays EXACT — no pair is gained or lost. Join output
    // drops from |matched pairs| (quadratic) to |windows| × ≤8 occupied
    // day-bins (linear in orders at any replication): the aggregation
    // state, not the pair set, absorbs the density. The oracle states
    // the SAME plain theta-join aggregate as the binned cell, so the
    // decomposition must be invisible row-for-row.
    "q_range_join_agg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1995-06-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") <  lit("1995-07-01 00:00:00").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 170 HOURS")).as("o_end"))
      val hourly = Tables.lineitem(s, dir)
        .groupBy(date_trunc("hour", col("l_shipdate")).as("l_hour"))
        .agg(count(lit(1)).as("hn"),
             sum(round(col("l_quantity") * 100, 0).cast("long")).as("hq"))
      graft.ops.JoinOps.binnedIntervalJoin(o, "o_orderdate", "o_end", hourly, "l_hour")
        .groupBy("o_orderkey")
        .agg(sum(col("hn")).as("n_shipped"),
             sum(col("hq")).as("qty_centi"))
        .orderBy("o_orderkey")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      s"""WITH m AS (
         |  SELECT l_returnflag, l_linestatus,
         |         sum(l_quantity) AS sum_qty,
         |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
         |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS sum_disc_price,
         |         ${OracleSql.sMilliSql("l_quantity")} AS sq,
         |         ${OracleSql.sMilliSql("l_discount")} AS sd,
         |         count(*) AS n
         |  FROM lineitem
         |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |  GROUP BY 1, 2)
         |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
         |       ${OracleSql.milliMeanSql("sq", "n")} AS avg_qty,
         |       ${OracleSql.milliMeanSql("sd", "n")} AS avg_disc,
         |       n AS count_order
         |FROM m ORDER BY 1, 2""".stripMargin,

    "q_revenue_by_nation" ->
      """SELECT n_name,
        |       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_coverage_overlap" ->
      """WITH coverage AS (
        |  SELECT user_id, min(ts) AS cov_start, max(ts) AS cov_end
        |  FROM events GROUP BY 1),
        |probe AS (
        |  SELECT o_orderkey, o_custkey % 150 AS probe_user,
        |         CAST('2024-01-' || lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
        |              || ' 00:00:00' AS TIMESTAMP) AS w_start
        |  FROM orders)
        |SELECT user_id, count(*) AS n_overlapping
        |FROM probe JOIN coverage
        |  ON probe_user = user_id
        | AND w_start <= cov_end
        | AND w_start + INTERVAL 3 DAY >= cov_start
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the widened string-key merge route must match native ASOF too
    "q_asof_join_str" ->
      s"""${asofCarrySql("'u' || CAST(o_custkey % 150 AS VARCHAR)",
                         "'u' || CAST(user_id AS VARCHAR)")}
         |SELECT o_orderkey, k AS user_key, ts, value, event_id
         |FROM aj ORDER BY o_orderkey""".stripMargin,

    // the streamed ingest-time route must equal the batch as-of on the
    // one-shot replay (single micro-batch ⇒ merge over the full corpus)
    "q_stream_asof" ->
      s"""${asofCarrySql("o_custkey % 150", "user_id")}
         |SELECT o_orderkey, k AS user_id, ts, value, event_id
         |FROM aj ORDER BY o_orderkey""".stripMargin,

    // the custom-operator route must be invisible in the result
    "q_asof_join_merge" ->
      s"""${asofCarrySql("o_custkey % 150", "user_id")}
         |SELECT o_orderkey, k AS user_id, ts, value, event_id
         |FROM aj ORDER BY o_orderkey""".stripMargin,

    "q_asof_join" ->
      s"""${asofCarrySql("o_custkey % 150", "user_id")}
         |SELECT o_orderkey, k AS user_id, ts, value, event_id
         |FROM aj ORDER BY o_orderkey""".stripMargin,

    "q_gap_fill" ->
      s"""WITH grid AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
         |                TIMESTAMP '2024-01-12 00:00:00', INTERVAL 1 HOUR))
         |    AS bucket_start),
         |m AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
         |         ${OracleSql.sMilliSql("value")} AS s, count(value) AS n
         |  FROM events WHERE user_id = 7 GROUP BY 1),
         |agg AS (
         |  SELECT bucket_start, ${OracleSql.milliMeanSql("s", "n")} AS mean_value
         |  FROM m WHERE n > 0)
         |SELECT g.bucket_start, a.mean_value,
         |       last_value(a.mean_value IGNORE NULLS)
         |         OVER (ORDER BY g.bucket_start ROWS UNBOUNDED PRECEDING)
         |         AS filled_value
         |FROM grid g LEFT JOIN agg a ON g.bucket_start = a.bucket_start
         |ORDER BY g.bucket_start""".stripMargin,

    "q_interp_linear" ->
      s"""WITH grid AS (
         |  SELECT unnest(generate_series(TIMESTAMP '2024-01-05 00:00:00',
         |                TIMESTAMP '2024-01-12 00:00:00', INTERVAL 1 HOUR))
         |    AS bucket_start),
         |mm AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
         |         ${OracleSql.sMilliSql("value")} AS s, count(value) AS n
         |  FROM events WHERE user_id = 7 GROUP BY 1),
         |agg AS (
         |  SELECT bucket_start, ${OracleSql.milliMeanSql("s", "n")} AS mean_value
         |  FROM mm WHERE n > 0),
         |j AS (
         |  SELECT g.bucket_start, a.mean_value
         |  FROM grid g LEFT JOIN agg a ON g.bucket_start = a.bucket_start),
         |w AS (
         |  SELECT bucket_start, mean_value,
         |    last_value(mean_value IGNORE NULLS)
         |      OVER (ORDER BY bucket_start ROWS UNBOUNDED PRECEDING) AS pv,
         |    last_value(CASE WHEN mean_value IS NOT NULL THEN bucket_start END
         |        IGNORE NULLS)
         |      OVER (ORDER BY bucket_start ROWS UNBOUNDED PRECEDING) AS pb,
         |    first_value(mean_value IGNORE NULLS)
         |      OVER (ORDER BY bucket_start
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         |    first_value(CASE WHEN mean_value IS NOT NULL THEN bucket_start END
         |        IGNORE NULLS)
         |      OVER (ORDER BY bucket_start
         |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
         |  FROM j),
         |mic AS (
         |  -- exact micro-int interpolation, mirroring the engine:
         |  -- pm + halfUp((nm-pm)*dt / span); pv/nv are micro-exact means
         |  SELECT bucket_start, mean_value, pv, nv, pb, nb,
         |         CAST(round(pv * 1e6) AS HUGEINT) AS pm,
         |         CAST(round(nv * 1e6) AS HUGEINT) AS nm,
         |         CAST(epoch(bucket_start) - epoch(pb) AS HUGEINT) AS dt,
         |         CAST(epoch(nb) - epoch(pb) AS HUGEINT) AS span
         |  FROM w)
         |SELECT bucket_start, mean_value,
         |  CASE WHEN pv IS NULL THEN nv
         |       WHEN nv IS NULL THEN pv
         |       WHEN pb = nb THEN pv
         |       ELSE CAST(pm + ${OracleSql.ratioHalfUpSql("(nm - pm) * dt", "span")}
         |                 AS DOUBLE) / 1e6
         |  END AS interp_value
         |FROM mic ORDER BY bucket_start""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n, GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // the UNION-of-measures statement IS unpivot's semantics — the
    // Spark side must make its Expand invisible in the result
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem)
        |SELECT l_returnflag, measure, count(*) AS n,
        |       CAST(sum(CAST(round(val * 100, 0) AS BIGINT)) AS BIGINT)
        |         AS sum_centi
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n, GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |       count(*) AS n, GROUPING(l_returnflag, l_linestatus) AS gid
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_set_ops" ->
      """WITH p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id FROM events WHERE event_type = 'error'),
        |both_rel AS (
        |  SELECT user_id, 'both' AS relation FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)),
        |pure_rel AS (
        |  SELECT user_id, 'purchase_only' AS relation FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e))
        |SELECT user_id, relation FROM both_rel
        |UNION ALL SELECT user_id, relation FROM pure_rel
        |ORDER BY relation, user_id""".stripMargin,

    // the bloom prefilter is pure execution strategy — the oracle is the
    // plain semi-join
    "q_bloom_semi" ->
      """SELECT l_returnflag,
        |       count(*) AS n_items,
        |       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0
        |         AS net_value
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_fact_join_smj" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the physical layout differs (bucketed scan, no exchange); the
    // RESULT must not — same oracle as the shuffling twin
    "q_fact_join_bucketed" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scd2" ->
      """WITH v AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         o_orderdate AS vf,
        |         lead(o_orderdate) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate, o_orderkey) AS vt
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice AS price,
        |       strftime(vf, '%Y-%m-%d') AS valid_from,
        |       coalesce(strftime(vt, '%Y-%m-%d'), '9999-12-31') AS valid_to,
        |       CAST(vt IS NULL AS INT) AS is_current
        |FROM v ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    // sort-merge carry formulation (OracleSql.pitCarrySql) — identical
    // semantics to the interval join, budget-fitting at sf1
    "q_pit_join" ->
      s"""WITH ${OracleSql.pitCarrySql}
         |SELECT l_orderkey, l_linenumber, o_custkey,
         |       strftime(l_shipdate, '%Y-%m-%d') AS ship_day,
         |       version_key, version_price
         |FROM pit ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the oracle states the CDC end state directly
    "q_cdc_apply" -> CdcEndStateSql,

    // the versioned apply is arrival-order-independent → same end state
    "q_stream_cdc" -> CdcEndStateSql,

    // streamed ≡ batch: static dim per micro-batch + exact aggregate;
    // same sort-merge carry as q_pit_join
    "q_stream_pit" ->
      s"""WITH ${OracleSql.pitCarrySql}
         |SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
         |       CAST(version_key IS NOT NULL AS INT) AS matched,
         |       count(*) AS n,
         |       CAST(sum(CAST(round(coalesce(version_price, 0) * 100, 0)
         |                     AS BIGINT)) AS BIGINT) AS price_cents
         |FROM pit GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the salt is pure execution strategy — the oracle is the plain join
    "q_salted_join" ->
      """SELECT o_orderpriority,
        |       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the aggregate replaces only the execution strategy — the window
    // formulation IS the oracle for the top-k aggregate
    "q_topk_agg" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |           AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT n_name, s_suppkey, s_name, revenue_cents / 100.0 AS revenue,
        |         row_number() OVER (PARTITION BY n_name
        |                            ORDER BY revenue_cents DESC, s_suppkey) AS rank
        |  FROM rev
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey)
        |SELECT n_name, rank, s_suppkey, s_name, revenue
        |FROM ranked WHERE rank <= 3
        |ORDER BY n_name, rank""".stripMargin,

    "q_top_suppliers_per_nation" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |           AS revenue_cents
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT n_name, s_suppkey, s_name, revenue_cents / 100.0 AS revenue,
        |         row_number() OVER (PARTITION BY n_name
        |                            ORDER BY revenue_cents DESC, s_suppkey) AS rank
        |  FROM rev
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation   ON s_nationkey = n_nationkey)
        |SELECT n_name, rank, s_suppkey, s_name, revenue
        |FROM ranked WHERE rank <= 3
        |ORDER BY n_name, rank""".stripMargin,

    // same cap + pair join; the cap predicate is part of the semantics
    "q_cooccur_pairs" ->
      """WITH i AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (
        |  SELECT ok FROM i GROUP BY ok
        |  HAVING count(*) BETWEEN 2 AND 100),
        |k AS (SELECT i.ok, i.pk FROM i JOIN sized USING (ok))
        |SELECT x.pk AS part_a, y.pk AS part_b, count(*) AS n_orders
        |FROM k x JOIN k y ON x.ok = y.ok AND x.pk < y.pk
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,

    // directed rules over the same capped baskets; counts exact, the
    // three measures are the identical closed-form divisions
    "q_assoc_rules" ->
      """WITH i AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |sized AS (
        |  SELECT ok FROM i GROUP BY ok
        |  HAVING count(*) BETWEEN 2 AND 100),
        |k AS (SELECT i.ok, i.pk FROM i JOIN sized USING (ok)),
        |ic AS (SELECT pk, count(*) AS n_item FROM k GROUP BY 1),
        |nb AS (SELECT count(DISTINCT ok) AS nb FROM k),
        |p AS (
        |  SELECT x.pk AS part_a, y.pk AS part_b, count(*) AS n_pair
        |  FROM k x JOIN k y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (
        |  SELECT part_a AS antecedent, part_b AS consequent, n_pair FROM p
        |  UNION ALL
        |  SELECT part_b, part_a, n_pair FROM p)
        |SELECT d.antecedent, d.consequent, d.n_pair,
        |       round(CAST(d.n_pair AS DOUBLE) / a.n_item, 6) AS confidence,
        |       round(CAST(d.n_pair * nb.nb AS DOUBLE)
        |             / CAST(a.n_item * c.n_item AS DOUBLE), 6) AS lift
        |FROM d
        |JOIN ic a ON d.antecedent = a.pk
        |JOIN ic c ON d.consequent = c.pk, nb
        |ORDER BY 1, 2""".stripMargin,

    // the oracle states the PLAIN theta join — the binned decomposition
    // must be invisible in the result
    "q_range_join_binned" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate,
        |         o_orderdate + INTERVAL 170 HOUR AS o_end
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00')
        |SELECT o.o_orderkey, count(*) AS n_shipped,
        |       CAST(sum(CAST(round(l.l_quantity * 100, 0) AS BIGINT))
        |            AS BIGINT) AS qty_centi
        |FROM o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate AND l.l_shipdate < o.o_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // deliberately the SAME theta-join aggregate as q_range_join_binned:
    // the hour-grain pre-aggregation is a plan decomposition, and the
    // oracle proves it invisible in the result
    "q_range_join_agg" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate,
        |         o_orderdate + INTERVAL 170 HOUR AS o_end
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1995-07-01 00:00:00')
        |SELECT o.o_orderkey, count(*) AS n_shipped,
        |       CAST(sum(CAST(round(l.l_quantity * 100, 0) AS BIGINT))
        |            AS BIGINT) AS qty_centi
        |FROM o JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate AND l.l_shipdate < o.o_end
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** The ONE change-feed construction both CDC paths run (batch
    * q_cdc_apply unions the groups; the streaming sink lands them as
    * three seq-ordered micro-batch files) — and the thing
    * [[CdcEndStateSql]] describes. Editing any modulus/delta here is
    * the only way to change the feed, so the two engines and the oracle
    * cannot drift apart silently. Groups, in sequence order:
    * seq 1 = update (+500) on id%100==50 plus inserts (+0.25 under
    * id+1000000) on id%500==0; seq 2 = competing update (+1000) that
    * must win; seq 3 = deletes on id%97==0 that beat both. */
  private[graft] def cdcFeedGroups(snap: DataFrame): Seq[DataFrame] = {
    def feed(pred: org.apache.spark.sql.Column, op: String, seq: Long,
             id: org.apache.spark.sql.Column,
             value: org.apache.spark.sql.Column) =
      snap.filter(pred).select(lit(op).as("op"), id.as("event_id"),
        lit(seq).as("seq"), col("event_type"), value.as("value"))
    val idc = col("event_id")
    Seq(
      feed(idc % 100 === 50, "U", 1L, idc, col("value") + 500)
        .unionByName(feed(idc % 500 === 0, "I", 1L, idc + 1000000L,
          col("value") + 0.25)),
      feed(idc % 100 === 50, "U", 2L, idc, col("value") + 1000),
      feed(idc % 97 === 0, "D", 3L, idc, col("value")))
  }

  /** Deterministic as-of oracle via sort-merge carry (the same technique
    * as [[OracleSql.pitCarrySql]]): union events (kind 0) and probes
    * (kind 1) per key, order by (t, kind, event_id) — events sort before
    * probes at equal t (the inclusive `p.ts >= e.ts`), tied events
    * ascending so the carried row is the MAX event_id — and carry the
    * last event's (value, event_id) forward. Replaces DuckDB's native
    * `ASOF LEFT JOIN`, whose tie pick among duplicate (key, ts) events
    * is UNSPECIFIED: on the 10×-replicated sf1 sweep data every probe
    * has 10 identical candidates and native ASOF returns an arbitrary
    * replica (PERF r12 "as-of family, proven equal modulo DuckDB's
    * unspecified tie"). The carry states the engine's contract —
    * latest ts, then max event_id — so the family is oracle-green at
    * any scale, and it is also sort-linear where the r12 form relied on
    * DuckDB's ASOF operator. `keyProbe`/`keyEv` widen the key (e.g.
    * 'u' || id for the string-key route). */
  private def asofCarrySql(keyProbe: String, keyEv: String): String =
    s"""WITH av AS (
       |  SELECT $keyEv AS k, ts AS t, 0 AS kind, event_id, value,
       |         CAST(NULL AS BIGINT) AS o_orderkey,
       |         CAST(NULL AS TIMESTAMP) AS pts
       |  FROM events
       |  UNION ALL
       |  SELECT $keyProbe,
       |         CAST('2024-01-' || lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0') ||
       |              ' 00:00:00' AS TIMESTAMP),
       |         1, NULL, NULL, o_orderkey,
       |         CAST('2024-01-' || lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0') ||
       |              ' 00:00:00' AS TIMESTAMP)
       |  FROM orders),
       |aj AS (
       |  SELECT o_orderkey, k, pts AS ts, cval AS value, cid AS event_id
       |  FROM (
       |    SELECT *,
       |      last_value(CASE WHEN kind = 0 THEN value END IGNORE NULLS)
       |        OVER w AS cval,
       |      last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
       |        OVER w AS cid
       |    FROM av
       |    WINDOW w AS (PARTITION BY k ORDER BY t, kind, event_id
       |                 ROWS UNBOUNDED PRECEDING))
       |  WHERE kind = 1)""".stripMargin

  private lazy val CdcEndStateSql =
    """WITH survivors AS (
      |  SELECT event_id, event_type,
      |         CASE WHEN event_id % 100 = 50 THEN value + 1000
      |              ELSE value END AS value
      |  FROM events WHERE event_id % 97 <> 0),
      |ins AS (
      |  SELECT event_id + 1000000 AS event_id, event_type,
      |         value + 0.25 AS value
      |  FROM events WHERE event_id % 500 = 0),
      |merged AS (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 1e6, 0) AS BIGINT)) AS BIGINT)
      |         AS value_micro
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
}
