package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph computation on DataFrames — the driver coordinates a
  * fixed number of rounds, each round one shuffle join + one aggregate;
  * no RDDs, no Pregel runtime.
  *
  * Scale design:
  *  - each iteration is exactly one `edges ⋈ ranks` shuffle on `src` plus
  *    one `groupBy(dst)` exchange — the canonical distributed-PageRank
  *    shape; the degree column rides ON the edge table so the loop never
  *    re-joins it;
  *  - `localCheckpoint(true)` after every round truncates lineage — an
  *    unbounded iterative plan otherwise grows Catalyst analysis
  *    super-linearly with rounds (the classic iterative-DataFrame trap);
  *  - arithmetic is INTEGER micro-units throughout (`r div deg`,
  *    `(damp · Σ) div 1e6`) — a floating Σ of contributions is
  *    aggregation-order dependent, so two runs (or two engines) could
  *    disagree in the last ulp; integer fixed-point is exact under any
  *    order, which is what lets a DuckDB oracle replay the whole
  *    iteration with unrolled CTEs.
  *
  * Reference: Page, Brin, Motwani, Winograd (1999), "The PageRank
  * citation ranking"; damping 0.85.
  */
object GraphOps {

  /** Fixed-point PageRank over a directed edge list `(src, dst)`.
    *
    * Every node must appear as a source (no dangling mass — callers with
    * dangling nodes add self-loops or redistribute first; the bipartite
    * incidence graphs this engine builds are symmetric, so the
    * precondition holds by construction). Returns `(node, rank_micro)`
    * after `iters` rounds from a uniform start of 1.0 (= 1e6 micro),
    * with per-round update
    * `r' = (1−d) + d · Σ_in (r_src div deg_src)` in micro-units.
    */
  def pageRank(edges: DataFrame, iters: Int, dampMicro: Long = 850000L)
      : DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // degree rides on the edge relation once; the loop joins ranks only
    val ed = edges.join(deg, "src").localCheckpoint(true)
    val nodes = deg.select(col("src").as("node")).localCheckpoint(true)
    var ranks = nodes.select(col("node"), lit(1000000L).as("r"))
    val base = 1000000L - dampMicro
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks, ed("src") === ranks("node"))
        .groupBy(col("dst")).agg(sum(expr("r div deg")).as("c"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"$dampMicro * coalesce(c, 0) div 1000000"))
            .as("r"))
        .localCheckpoint(true)
    }
    ranks.select(col("node"), col("r").as("rank_micro"))
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007) —
    * community detection over an edge list `(src, dst)`: every node
    * starts as its own community and each round adopts the MOST
    * FREQUENT label among its neighbours, ties broken by the smaller
    * label — a deterministic total rule, unlike the random-order
    * original, which is what lets a DuckDB oracle replay every round
    * with unrolled CTEs. A fixed round count (not convergence) keeps
    * the plan bounded; labels spread one hop per round, so r rounds
    * find communities of diameter ≲ r — the "coarse communities
    * cheaply" contract, distinct from connected components (which this
    * converges to only as r → ∞ on well-connected graphs).
    *
    * Scale shape per round: one `edges ⋈ labels` shuffle on the label
    * side + one `(node, label)` count + one per-node row_number window
    * BOUNDED by the node's distinct neighbour labels (≤ degree, never
    * global); `localCheckpoint(true)` truncates lineage per round like
    * [[pageRank]]. Callers pass a symmetric edge list for undirected
    * semantics. Returns `(node, community)`.
    *
    * @param initLabel renders a node id into its INITIAL label value
    *   (default: the node itself). Lets callers iterate on compact
    *   integer node keys while keeping the label domain — and therefore
    *   the (count DESC, label) tie-break ORDER — in the original string
    *   space: label VALUES, not node key width, are what the oracle's
    *   deterministic mode-adoption rule observes. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      initLabel: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        identity): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nodes = ed.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var labels = nodes.select(col("node"), initLabel(col("node")).as("label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("c").desc, col("label"))
    for (_ <- 1 to rounds) {
      labels = ed.join(labels, ed("dst") === labels("node"))
        .select(ed("src").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("label"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Per-node triangle participation over an undirected edge list —
    * the local-clustering signal a dedup/link-analysis pipeline reads
    * off a kNN or co-occurrence graph (dense triangles = tight
    * near-dup cliques; triangle-free hubs = promiscuous false joins).
    *
    * Degree orientation (Schank & Wagner 2005; Suri & Vassilvitskii
    * WWW'11 "the curse of the last reducer"): orient every edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges
    * only at each edge's LOW endpoint, and close them against the
    * oriented edge set. Out-degree after orientation is O(√m) on any
    * graph, so wedge count is O(m^1.5) total and — the part that
    * matters at 100 TB — a degree-10⁶ hub generates ZERO wedges at
    * itself instead of 10¹²: the skew that kills the naive
    * neighbor-join moves to the bounded oriented lists. Both joins are
    * plain equi-joins (wedge anchor; closing (v,w) pair), so Catalyst
    * shuffles on the join keys — no cross product, no driver
    * adjacency. Each triangle is found exactly once, anchored at its
    * minimum-(deg, id) vertex.
    *
    * Input may contain duplicates and both directions; self-loops are
    * dropped. Returns `(node, n_tri)` for nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // canonical undirected edge set, materialized once: the degree
    // aggregate reads it twice (both endpoint projections) and the
    // orientation join once more — unmaterialized, an expensive edge
    // construction (e.g. the kNN pipeline feeding q_triangle_count)
    // re-runs per reference
    val und = edges.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    val deg = und.select(col("a").as("n"))
      .unionByName(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    // (deg, id) lexicographic orientation, written as an explicit
    // boolean so the DuckDB oracle states the identical predicate
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("lo"),
      when(aFirst, col("b")).otherwise(col("a")).as("hi"),
      when(aFirst, col("db")).otherwise(col("da")).as("hi_deg"))
      .localCheckpoint(true) // reused 3× below: orient once, not thrice
    // wedges at the low endpoint, ordered so each wedge appears once
    val e1 = oriented.select(col("lo"), col("hi").as("v"), col("hi_deg").as("dv"))
    val e2 = oriented.select(col("lo"), col("hi").as("w"), col("hi_deg").as("dw"))
    val wedges = e1.join(e2, Seq("lo"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    // key(v) < key(w) means the closing edge, if present, is oriented v→w
    val closing = oriented.select(col("lo").as("v"), col("hi").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
    tris.select(explode(array(col("lo"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Local clustering coefficient per node (Watts & Strogatz 1998):
    * `C(v) = 2·tri(v) / (deg(v)·(deg(v)−1))` over the canonical
    * undirected simple graph — how close each node's neighborhood is
    * to a clique. On a kNN graph this separates tight near-dup
    * clusters (C→1) from promiscuous hub joins (C→0) node by node,
    * which is the triage [[triangleCounts]]' raw counts feed. Returns
    * `(node, deg, n_tri, coef)` for nodes with deg ≥ 2 (the
    * coefficient is undefined below); triangle-free nodes appear with
    * coef 0. Cost = triangleCounts + one degree aggregate + a same-key
    * join; the coefficient arithmetic is exact-integer → one rounded
    * division. */
  def clusteringCoefficients(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = edges.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true) // shared by the degree agg and the triangle pass
    val deg = und.select(col("a").as("node"))
      .unionByName(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tri = triangleCounts(und, "a", "b")
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("coef"))
  }

  /** Breadth-first min-hop distances from a seed set over a directed
    * edge list `(src, dst)` — the reachability probe behind blast-radius
    * analysis on a dependency/near-dup graph ("everything within k hops
    * of these contaminated docs"). Frontier-style expansion, the
    * distributed-BFS shape: each round is exactly one `edges ⋈ frontier`
    * equi-join on `src` + one `distinct` + one anti-join against the
    * settled set, so per-round cost is O(edges incident to the frontier),
    * not O(V·E) — the Bellman-Ford trap a naive relax loop buys. The
    * settled set is localCheckpointed per round (same lineage-truncation
    * discipline as [[pageRank]]); hop assignment is MIN by construction
    * (a node joins the settled set the first round it is reached and the
    * anti-join bars re-entry), so the result is deterministic regardless
    * of join order or partitioning. Returns `(node, hop)` for all nodes
    * within `maxHops` of a seed, seeds at hop 0. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
    var settled = seeds.select(col("node"), lit(0).as("hop"))
      .distinct().localCheckpoint(true)
    var frontier = settled.select(col("node"))
    for (h <- 1 to maxHops) {
      val next = ed.join(frontier, ed("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(settled.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        .select(col("node"), lit(h).as("hop"))
        .localCheckpoint(true)
      settled = settled.unionByName(next).localCheckpoint(true)
      frontier = next.select(col("node"))
    }
    settled
  }

  /** Bounded-hop min-COST distances (Bellman-Ford relaxation over the
    * min-plus semiring) from a seed set over a weighted directed edge
    * list `(src, dst, w)`: after `rounds` rounds, `dist(v)` = the
    * cheapest total weight of any seed→v path using ≤ `rounds` edges —
    * [[bfsHops]]' weighted sibling (hop count IS min-plus with w≡1).
    * Each round is one `edges ⋈ dist` shuffle + one `min` groupBy —
    * the textbook distributed Bellman-Ford round, cost O(E) per round
    * with map-side-combinable min. Weights are INTEGER longs: min-plus
    * over integers is exact under any merge order, so the unrolled
    * DuckDB replay is bit-equal (the pageRank fixed-point argument).
    * Unlike BFS there is no settled set — a node's cost can improve in
    * a later round via a cheaper multi-edge path, so every round
    * re-mins over everything reached so far. */
  def minCostPaths(edges: DataFrame, seeds: DataFrame, rounds: Int)
      : DataFrame = {
    val ed = edges.select(col("src"), col("dst"), col("w"))
      .localCheckpoint(true)
    var dist = seeds.select(col("node"), lit(0L).as("d"))
      .distinct().localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val relaxed = ed.join(dist, ed("src") === dist("node"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist
  }
}
