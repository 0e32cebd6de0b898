package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Iterative graph centrality over relational edge lists — the family
  * (PageRank-style fixed-point over a join+aggregate kernel) that link
  * analysis, citation ranking, and seed-quality scoring pipelines run
  * over exactly the bipartite graphs a warehouse already has (buyer ⇄
  * item, doc ⇄ domain, part ⇄ supplier).
  *
  * Determinism design: classic double-valued PageRank is NOT
  * cross-engine reproducible — per-destination contribution sums are
  * float additions whose order depends on partitioning. Here rank is
  * integer MASS (1e6 per node at start) and every step is integer
  * arithmetic: `mass div outdeg` floor-division routing, an
  * order-independent BIGINT sum per destination, then the damped update
  * `150000 + (850 * inmass) div 1000` (= teleport 0.15 + damping 0.85
  * at the same 1e6 scale). Every engine computes identical bits, which
  * is what lets the g01 gate hold a full value-level DuckDB oracle —
  * unrolled as k nested CTEs — rather than a weak rows-only check.
  *
  * Scale shape (one iteration = one co-partitioned join + one
  * aggregate): edges carry (src, dst, outdeg) and are barriered once —
  * the k unrolled iterations scan the checkpointed edge list, not the
  * fact table, and the rank relation (one row per NODE, not per edge)
  * is the only thing that flows between rounds. Both joins and the
  * contribution aggregate hash-partition on the same keys, so AQE
  * coalesces the exchanges; k is a constant (fixed-point to ~1e-3 of
  * final rank in 3-5 rounds on bounded-degree graphs), so the plan
  * depth is bounded. No driver-side loop state, no collect.
  */
object Graph {

  /** Bidirectional bipartite edges part⇄supplier from the lineitem fact:
    * node ids are disjoint by parity (part → 2k, supplier → 2k+1).
    */
  def partSupplierEdges(lineitem: DataFrame): DataFrame = {
    val pairs = lineitem.select(
      (col("l_partkey") * 2).as("p"),
      (col("l_suppkey") * 2 + 1).as("s"))
    pairs.select(col("s").as("src"), col("p").as("dst"))
      .unionByName(pairs.select(col("p").as("src"), col("s").as("dst")))
      .distinct()
  }

  /** Integer-mass PageRank, k unrolled synchronous iterations.
    * Returns (node, pr) for every node. Bidirectional edges guarantee
    * outdeg ≥ 1 (no dangling mass) and indegree ≥ 1 (every node gets a
    * damped update), so no outer-join/coalesce leg is needed.
    */
  def pagerankInt(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"pagerankInt: iterations must be >= 1")
    // outdeg attached by a WINDOW count over the edges themselves
    // (round-14; was a degree groupBy + shuffle join back — guide §2.4),
    // one barrier: iteration plans re-read this, not the edge derivation
    val routed = graft.Session.barrier(edges.withColumn("outdeg",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    var ranks = routed.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1000000L))
    for (_ <- 1 to iterations) {
      ranks = routed.join(ranks, routed("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inmass"))
        .select(col("dst").as("node"),
          (lit(150000L) + expr("(850 * inmass) div 1000")).as("pr"))
    }
    ranks
  }

  /** Personalized PageRank (g09), integer mass: teleport flows ONLY to
    * the seed set — the "rank the graph around these nodes" form that
    * drives related-item recommendation and seed-expansion labeling,
    * vs [[pagerankInt]]'s global ranking. Same determinism contract:
    * mass starts as 1e6 on each seed, routes by floor division, and the
    * per-round update is `(seed ? 150000 : 0) + (850·inmass) div 1000` —
    * all integer, bit-identical in any engine, so g09 holds a full value
    * oracle (k unrolled CTE pairs). Nodes whose rank rounds to 0 drop out of
    * the rank relation (and the result) — the relation stays
    * seed-neighborhood-sized on a sparse graph instead of node-count-
    * sized, which is the PPR scale win at 100 TB.
    *
    * Scale shape per round: one co-partitioned join + aggregate over the
    * barriered routed edges (as g01), plus a seed-set full-outer join —
    * the seed relation is barriered once and is tiny by definition.
    */
  def personalizedPagerankInt(edges: DataFrame, seedsRaw: DataFrame,
                              iterations: Int): DataFrame = {
    require(iterations >= 1, "personalizedPagerankInt: iterations must be >= 1")
    // window outdeg instead of degree groupBy + join (round-14, as g01)
    val routed = graft.Session.barrier(edges.withColumn("outdeg",
      count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src")))))
    val seeds = graft.Session.barrier(seedsRaw.select(col("node")).distinct())
    var ranks = seeds.select(col("node"), lit(1000000L).as("pr"))
    for (_ <- 1 to iterations) {
      val damped = routed.join(ranks, routed("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inmass"))
        .select(col("dst").as("node"), expr("(850 * inmass) div 1000").as("dm"))
      ranks = damped
        .join(seeds.withColumn("tp", lit(150000L)), Seq("node"), "full_outer")
        .select(col("node"),
          (coalesce(col("dm"), lit(0L)) + coalesce(col("tp"), lit(0L))).as("pr"))
        .where(col("pr") > 0)
    }
    ranks
  }

  /** Integer-mass HITS (Kleinberg 1999): k unrolled synchronous rounds of
    * the mutual-reinforcement pair a = Eᵀh, h = Ea over a DIRECTED edge
    * list src(hub) → dst(authority) — the ranking PageRank can't express
    * (one score per node vs the two coupled roles; on a bipartite
    * source→item graph the roles fall out naturally). Unnormalized
    * integer masses seeded at h₀ = 1: every round is exact BIGINT sums,
    * bit-identical in any engine, so the gate holds a full value oracle
    * (unrolled CTE pairs, the g01 discipline). Without normalization the
    * masses grow ~|E|-factor per round — callers keep `iterations` small
    * (the ranking stabilizes in 2-3 rounds anyway; the g13 gate uses 2,
    * worst-case mass ≤ maxdeg^(2k) « 2⁶³ on the gate graph).
    *
    * Scale shape per round: two |E|-bounded co-partitioned join+aggregate
    * passes over the barriered edge list — identical to [[pagerankInt]]'s
    * round shape, twice per round. Top-k emission is TakeOrdered
    * (map-side partial top-k, never a global sort).
    */
  def hitsInt(edges: DataFrame, iterations: Int = 2, k: Int = 20): DataFrame = {
    require(iterations >= 1, "hitsInt: iterations must be >= 1")
    val e = graft.Session.barrier(edges.select(col("src"), col("dst")).distinct())
    var hub = e.select(col("src").as("node")).distinct()
      .withColumn("mass", lit(1L))
    var auth = e.select(col("dst").as("node")).withColumn("mass", lit(1L)).limit(0)
    for (_ <- 1 to iterations) {
      auth = e.join(hub.withColumnRenamed("mass", "hm"),
          e("src") === col("node"))
        .groupBy(col("dst")).agg(sum(col("hm")).as("mass"))
        .select(col("dst").as("node"), col("mass"))
      hub = e.join(auth.withColumnRenamed("mass", "am"),
          e("dst") === col("node"))
        .groupBy(col("src")).agg(sum(col("am")).as("mass"))
        .select(col("src").as("node"), col("mass"))
    }
    auth.select(lit("auth").as("role"), col("node"), col("mass"))
      .orderBy(col("mass").desc, col("node")).limit(k)
      .unionByName(
        hub.select(lit("hub").as("role"), col("node"), col("mass"))
          .orderBy(col("mass").desc, col("node")).limit(k))
      .orderBy(col("role"), col("mass").desc, col("node"))
  }

  /** Undirected co-supply graph: supplier pair (u < v) connected iff
    * they supply at least one common part. The wedge step is the usual
    * bounded self-join: parts fan out to their (small) supplier sets,
    * pairs within a part, distinct across parts.
    *
    * Caveat measured at sf0.1: with few supplier nodes this graph is
    * near-COMPLETE (499 500 of 499 500 possible edges), which makes any
    * census over it inherently Θ(n³) — a fixture property, not an
    * operator property. Prefer [[coPurchaseEdges]] (part granularity,
    * naturally sparse) for graph gates.
    */
  def coSupplierEdges(lineitem: DataFrame): DataFrame = {
    val ps = lineitem.select(col("l_partkey").as("pk"),
      col("l_suppkey").as("s")).distinct()
    ps.as("a").join(ps.as("b"),
        col("a.pk") === col("b.pk") && col("a.s") < col("b.s"))
      .select(col("a.s").as("u"), col("b.s").as("v"))
      .distinct()
  }

  /** Undirected co-purchase graph: part pair (u < v) connected iff some
    * order contains both — the market-basket projection at PART
    * granularity (20k nodes at sf0.1, max degree ~220), sparse at every
    * scale because baskets are small. The pair fan-out is basket-
    * centered: Σ C(|basket|, 2), linear in orders.
    */
  def coPurchaseEdges(lineitem: DataFrame): DataFrame = {
    val po = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("p")).distinct()
    po.as("a").join(po.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** Triangle + wedge census (g02) over an undirected edge list (u < v).
    *
    * Naive triangle enumeration joins the edge list with itself on
    * shared endpoints — fanout O(Σ deg²), which a single hub node makes
    * quadratic. The standard fix (degree orientation): direct every
    * edge from its (degree, id)-smaller endpoint to the larger. The
    * orientation is acyclic, every triangle survives as exactly one
    * path pattern a→b, b→c plus closing edge a→c, and each node's
    * OUT-degree is bounded by O(√m) on any graph (arboricity bound) —
    * so the wedge join's fanout is O(m^1.5) worst-case instead of
    * unbounded, and hubs stop being hot keys because their edges point
    * INTO them. Two hash joins, both on edge keys; no driver loop.
    *
    * Everything is exact integer arithmetic (counts and floor-division
    * wedge formula), so the single result row holds a full value
    * oracle. Global clustering coefficient = 3·triangles / wedges is
    * left as the two exact integers rather than a float ratio.
    */
  def triangleCensus(undRaw: DataFrame): DataFrame = {
    // the edge list feeds the orientation pass, the degree stats and the
    // edge census — barrier it once so its derivation (typically a fact
    // scan + distinct) runs once, not three times
    val und = graft.Session.barrier(undRaw)
    val oriented = graft.Session.barrier(orientByDegree(und))
    val wedgePaths = oriented.as("e1").join(oriented.as("e2"),
        col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    // SHUFFLE_HASH on the edge side (round-14, guide §3.1): sort-merge
    // would SORT the wedge table — by far the largest relation in the
    // census — just to close triangles; hashing the (arboricity-bounded)
    // oriented edge list per partition streams the wedges unsorted.
    // Measured 10.0 s -> 4.1 s on the full co-purchase census (g04).
    val triangles = wedgePaths.join(oriented.as("e3").hint("shuffle_hash"),
      col("a") === col("e3.src") && col("c") === col("e3.dst"))
    // node count and wedge count come from ONE pass over the degree
    // table (round-14: was two separate aggregates, each re-deriving it)
    val nodeStats = degreeTable(und)
      .agg(count(lit(1)).as("n_nodes"),
        sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nTri = triangles.agg(count(lit(1)).as("n_triangles"))
    nodeStats.crossJoin(nEdges).crossJoin(nTri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"))
  }

  /** Degree-orient an undirected (u < v) edge list: src = the
    * (degree, id)-smaller endpoint. Round-14 shape: both endpoint
    * degrees are attached with WINDOW counts over the symmetric edge
    * list — deg(x) = rows with x in the first (equally: second)
    * position of sym — instead of building a degree table and shuffle-
    * joining it twice (guide §2.4: the groupBy+join pair keyed the same
    * way collapses into one windowed exchange per endpoint; 2 exchanges
    * total instead of ~6, no join).
    */
  private def orientByDegree(und: DataFrame): DataFrame = {
    val sym = und.select(col("u"), col("v"))
      .unionByName(und.select(col("v").as("u"), col("u").as("v")))
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val wV = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    sym
      .withColumn("du", count(lit(1)).over(wU))
      .withColumn("dv", count(lit(1)).over(wV))
      .where(col("u") < col("v"))
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
  }

  /** (node, deg) over an undirected (u < v) edge list — one fold. */
  private def degreeTable(und: DataFrame): DataFrame =
    und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** G17: LOCAL clustering coefficient per node (Watts–Strogatz 1998)
    * — the per-node refinement of [[triangleCensus]]'s global ratio,
    * the standard community-tightness feature for node classification
    * and spam/bot detection: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
    * reported as the exact pair (tri, deg) plus the milli-floored
    * ratio so every row hash-compares.
    *
    * Same degree-oriented wedge join as the census (O(m^1.5) bound,
    * hubs point INTO, never a Σdeg² fanout) — but instead of counting
    * triangles once, each (a,b,c) triangle explodes to its THREE
    * member nodes (a ×3 map-side multiply) and one node-keyed fold
    * counts per-node incidences; left-join back onto the deg ≥ 2
    * node set so triangle-free nodes report 0, not absence.
    */
  def localClustering(undRaw: DataFrame): DataFrame = {
    val und = graft.Session.barrier(undRaw)
    val deg = degreeTable(und)
    val oriented = graft.Session.barrier(orientByDegree(und))
    val triangles = oriented.as("e1").join(oriented.as("e2"),
        col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      // shuffle-hash on the edge side: stream the wedges unsorted (g04's
      // closing-join lesson, guide §3.1)
      .join(oriented.as("e3").hint("shuffle_hash"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"))
      .select(col("a"), col("b"), col("c"))
    val perNode = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("tri"))
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc_milli", expr("(2000 * tri) div (deg * (deg - 1))"))
      .orderBy(col("node"))
  }

  /** G20: 4-cycle (rectangle) census — the second motif after
    * [[triangleCensus]]'s triangles, the signal bipartite-ish
    * structure (co-purchase, user-item) actually has when triangles
    * are scarce: every unordered endpoint pair (a < c) with n wedges
    * through distinct centers contributes C(n, 2) rectangles (two
    * different centers close a 4-cycle; same-center pairs are the
    * same wedge, excluded by the pair count being over centers).
    *
    * Shape: wedges enumerate center-out (Σ C(deg, 2) fanout — the
    * [[neighborJaccard]] bound, sane on the support-thresholded
    * projection), ONE (a, c)-keyed fold with map-side combine, then
    * the C(n,2) sum — never an edge-list 4-way self-join (Θ(m²)).
    * Exact integers end to end; one row, full value oracle.
    */
  def rectangleCensus(undRaw: DataFrame): DataFrame = {
    val und = graft.Session.barrier(undRaw.select(col("u"), col("v")))
    val sym = und.unionByName(und.select(col("v").as("u"), col("u").as("v")))
    val wedges = sym.as("e1").join(sym.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e1.u").as("b"), col("e2.v").as("c"))
    val pairCounts = wedges.groupBy(col("a"), col("c"))
      .agg(count(lit(1)).as("n"))
    val nEdges = und.agg(count(lit(1)).as("n_edges"))
    val nWedges = pairCounts.agg(sum(col("n")).as("n_wedges"))
    // every 4-cycle is counted once per DIAGONAL pair ({a,c} and
    // {b,d}), so the C(n,2) sum is exactly twice the cycle count
    val nRect = pairCounts
      .agg(expr("sum((n * (n - 1)) div 2) div 2").as("n_rectangles"))
    nEdges.crossJoin(nWedges).crossJoin(nRect)
  }

  /** G21: degree profile — the graph data card (log₂-binned degree
    * histogram plus the max degree): the first thing anyone asks of a
    * 100 TB graph before choosing join strategies (is there a hub? how
    * heavy is the tail?), and the sanity panel next to the census
    * gates. Bins are an explicit CASE ladder (`bin b ⟺ deg ∈ [2^b,
    * 2^{b+1})`, capped at 10) — portable integer comparisons, no log.
    */
  def degreeProfile(undRaw: DataFrame): DataFrame = {
    val und = graft.Session.barrier(undRaw.select(col("u"), col("v")))
    val deg = und.select(col("u").as("n"))
      .unionByName(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val bin = (0 to 9).reverse
      .foldLeft(lit(10L): org.apache.spark.sql.Column) { (acc, b) =>
        when(col("deg") < (1L << (b + 1)), lit(b.toLong)).otherwise(acc)
      }
    graft.Session.barrier(deg.withColumn("bin", bin))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"))
      .orderBy(col("bin"))
  }

  /** Iterative min-label propagation to convergence — the shared
    * connected-components kernel of d07/d15 (near-dup clusters) and e04
    * (entity resolution). `edges` is an undirected edge list carried in
    * BOTH directions as (src, dst); `init` the starting (node, label)
    * relation (node may be any equatable type — doc ids, names).
    *
    * Each round every node takes the minimum label among itself and its
    * neighbours: ONE shuffle-join + one aggregate, with the node's
    * previous label riding the union (tagged `own`) so the same
    * aggregate yields both the new label and the convergence signal —
    * no second join per round; convergence is a zero test on changed
    * labels ([[graft.Iterate.untilZero]]). O(diameter) rounds;
    * the match/near-dup graphs these callers build are tiny cliques, so
    * 2-4 rounds regardless of corpus size.
    */
  def minLabelComponents(edges: DataFrame, init: DataFrame,
                         maxRounds: Int = 20): DataFrame = {
    val e = graft.Session.barrier(edges.select(col("src"), col("dst")))
    graft.Iterate.untilZero("minLabelComponents",
        graft.Session.barrier(init.select(col("node"), col("label"))), maxRounds) { labels =>
      val messages = e.join(labels, e("dst") === labels("node"))
        .select(e("src").as("node"), col("label"), lit(false).as("own"))
      // null-safe: a node present in `edges` but absent from `init` has
      // prev=NULL on the round it first appears; `=!=` would yield NULL
      // there and under-count it as unchanged, declaring convergence
      // while its freshly-assigned label still needs to propagate
      graft.Iterate.Round(
        labels.select(col("node"), col("label"), lit(true).as("own"))
          .unionByName(messages)
          .groupBy(col("node"))
          .agg(min(col("label")).as("label"),
               min(when(col("own"), col("label"))).as("prev")),
        test = !(col("label") <=> col("prev")), out = Seq("node", "label"))
    }
  }

  /** Multi-source BFS distances (g10) — hop distance from a seed set,
    * capped at `maxHops`: the "within-N-hops neighborhood" primitive
    * under influence radii, fraud-ring expansion, and k-hop feature
    * extraction. Semantics are exact BY DEFINITION of the cap: after
    * round k every node reachable in ≤ k hops holds its true distance,
    * so `maxHops` fixed rounds compute exactly `min(dist, maxHops)`
    * with nodes beyond the horizon absent — no convergence test, no
    * cycle hazard (the g07/g08 fixed-round contract).
    *
    * Scale shape: the Pregel relaxation — per round ONE shuffle whose
    * message volume is bounded by |E| (each directed edge emits at most
    * one candidate distance), folded by a map-side-combinable min;
    * rounds are the constant hop budget, each behind a barrier so the
    * lineage never re-derives earlier rounds.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 16,
      s"bfsDistances: hop budget $maxHops out of [0, 16]")
    val e = graft.Session.barrier(
      edges.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst")))
        .distinct())
    val seeded = graft.Session.barrier(
      seeds.select(col("node"), lit(0L).as("dist")).distinct())
    graft.Iterate.fixed(maxHops, seeded, graft.Iterate.Cadence.EveryRound) { dist =>
      val msgs = e.join(dist, e("dst") === dist("node"))
        .select(e("src").as("node"), (col("dist") + 1L).as("dist"))
      dist.unionByName(msgs).groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }.orderBy(col("node"))
  }

  /** Weighted single-source (multi-seed) shortest paths (g11) — min
    * total edge weight over paths using at most `maxEdges` edges: the
    * Bellman–Ford relaxation with a fixed round budget, the cost twin
    * of [[bfsDistances]] (hop cap there, edge-count cap here). After
    * round k every node holds the exact cheapest cost among paths of
    * ≤ k edges — again exact BY DEFINITION of the cap, with no
    * convergence test and no negative-cycle hazard (weights are
    * required positive, and the cap bounds path length regardless).
    * Unlike BFS a settled node can still IMPROVE in a later round (a
    * longer-but-cheaper path), which the per-round min fold handles for
    * free. Integer weights keep every cost an exact BIGINT sum — the
    * g01 cross-engine-bit-identity discipline.
    *
    * Scale shape: identical to [[bfsDistances]] — one |E|-bounded
    * shuffle per round, map-side-combinable min, barrier per round.
    * Parallel edges collapse to their cheapest at build time so the
    * per-round message volume is the simple-edge count.
    */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame, maxEdges: Int): DataFrame = {
    require(maxEdges >= 0 && maxEdges <= 16,
      s"ssspWeighted: edge budget $maxEdges out of [0, 16]")
    val e = graft.Session.barrier(
      edges.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionByName(edges.select(col("v").as("src"), col("u").as("dst"), col("w")))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")))
    val seeded = graft.Session.barrier(
      seeds.select(col("node"), lit(0L).as("cost")).distinct())
    graft.Iterate.fixed(maxEdges, seeded, graft.Iterate.Cadence.EveryRound) { dist =>
      val msgs = e.join(dist, e("src") === dist("node"))
        .select(e("dst").as("node"), (col("cost") + col("w")).as("cost"))
      dist.unionByName(msgs).groupBy(col("node")).agg(min(col("cost")).as("cost"))
    }.orderBy(col("node"))
  }

  /** Item-to-item collaborative filtering (g03): top-k item pairs by
    * co-occurrence, with neighborhood Jaccard carried as the exact
    * integer fraction (common, n_u + n_w − common) — the Amazon
    * item-to-item CF kernel (Linden, Smith & York 2003): two items are
    * similar in proportion to the baskets they share, and the score
    * feeds "frequently bought together".
    *
    * Why this formulation survives 100 TB where generic common-neighbor
    * scoring does not: candidate pairs come from a wedge join centered
    * on the BASKET side of the bipartite item⇄basket graph, so fanout
    * is Σ C(|basket|, 2) — linear in transactions for bounded baskets
    * (an order has a handful of lines; the unipartite co-purchase
    * graph's item degrees grow with the catalog's popularity skew, and
    * wedge joins centered on items explode as Σ deg² — measured 1.5e8
    * wedges at sf0.1 vs 9e5 for the basket-centered form on the same
    * data). Popular ITEMS are harmless: they fan out only within each
    * basket, and the hot (u, w) pair keys collapse in the map-side
    * partial aggregate. The final top-k is a TakeOrderedAndProject —
    * metadata-sized driver result, no global sort materialized.
    *
    * `minBaskets` is the support floor every production CF pipeline
    * applies (a pair seen once is noise, and the long tail of
    * singleton pairs is most of the aggregate's output otherwise).
    */
  def itemPairsCF(baskets: DataFrame, k: Int,
                  minBaskets: Long = 1L): DataFrame = {
    // the distinct pair table feeds both wedge-join sides and the
    // basket-count table — barrier so the fact scan + distinct run once
    // (unbarriered, the plan re-derives it four times; broadcast and
    // hash exchanges can't reuse each other)
    val po = graft.Session.barrier(
      baskets.select(col("basket"), col("item")).distinct())
    // round-14: per-item basket counts ride the pair expansion as a
    // WINDOW count attached before the wedge join (constant per item,
    // folded with max) — the separate count table, its barrier and the
    // two shuffle joins back onto the pair list disappear (guide §2.4)
    val wItem = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
    val poN = po.withColumn("nbk", count(lit(1)).over(wItem))
    poN.as("a").join(poN.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .select(col("a.item").as("u"), col("b.item").as("w"),
        col("a.nbk").as("nu"), col("b.nbk").as("nw"))
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common"), max(col("nu")).as("nu"),
        max(col("nw")).as("nw"))
      .where(col("common") >= minBaskets)
      .select(col("u"), col("w"), col("common"),
        (col("nu") + col("nw") - col("common")).as("denom"))
      .orderBy(col("common").desc, col("u"), col("w"))
      .limit(k)
  }

  /** Q74: association rules over the SAME basket projection as
    * [[itemPairsCF]] — support, confidence, and lift (Agrawal/Srikant
    * Apriori semantics) in exact milli-units:
    * lift = N·c_ab / (c_a·c_b), reported as
    * `N·c_ab·1000 div (c_a·c_b)` (envelope: N·c_ab·1000 < 2⁶³ — c_ab
    * is a pair count, orders of magnitude under N). Where g03 ranks
    * pairs by raw co-occurrence, lift normalizes away item popularity —
    * the two lists genuinely disagree, which is the point of the
    * metric. Deterministic top-k by (lift desc, a, b).
    *
    * Scale shape: identical to g03's — one distinct pass, a per-basket
    * pair expansion (bounded by basket size), two broadcast-sized count
    * joins, TakeOrdered. The only driver value is N (one long).
    */
  def basketLift(baskets: DataFrame, k: Int, minBaskets: Long = 2L): DataFrame = {
    val po = graft.Session.barrier(
      baskets.select(col("basket"), col("item")).distinct())
    val n = po.select(col("basket")).distinct().count()
    // per-item counts ride the pair expansion as a window (as g03)
    val wItem = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
    val poN = po.withColumn("nbk", count(lit(1)).over(wItem))
    poN.as("a").join(poN.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .select(col("a.item").as("a"), col("b.item").as("b"),
        col("a.nbk").as("na"), col("b.nbk").as("nb"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"), max(col("na")).as("c_a"),
        max(col("nb")).as("c_b"))
      .where(col("c_ab") >= minBaskets)
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        expr(s"$n * c_ab * 1000 div (c_a * c_b)").as("lift_milli"),
        expr("c_ab * 1000 div c_a").as("conf_milli"))
      .orderBy(col("lift_milli").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the kernel that replaces [[minLabelComponents]] when
    * component DIAMETER is unbounded. Min-label propagates one hop per
    * round (O(diameter) shuffles: a 10⁶-node path needs 10⁶ rounds);
    * star contraction rewires every node to its neighborhood minimum
    * each round, halving tree heights, and converges in O(log n) rounds
    * on ANY graph shape — the difference between impossible and ~20
    * shuffles on the path-like graphs (message threads, click chains,
    * citation chains) a 100 TB corpus actually contains.
    *
    * Node ids must be numeric (orderable); state is a directed
    * child→parent edge list with parent < child, barriered per phase so
    * round N scans the previous round's checkpoint, not the whole
    * lineage. Each phase is one aggregate + one co-partitioned join +
    * one distinct — all shuffles keyed on node id, no collect_list (hub
    * neighborhoods never materialize in one task; the min is a partial
    * aggregate). Convergence = the exact (count, Σ xxhash64) signature
    * of the edge state repeating — two metadata-sized aggregates, no
    * driver-side edge data.
    *
    * At the fixpoint every edge points directly at its component's
    * minimum node, so labels read straight off the star: label(child) =
    * parent, roots and isolated nodes label themselves. `nodes`
    * supplies the full universe (isolated ids never appear in `edges`).
    * Returns (node, label) with label = min node id of the component,
    * bit-identical in any engine — the same contract as
    * [[minLabelComponents]], which GraphSpec pins by equivalence.
    */
  def alternatingStarComponents(edgesRaw: DataFrame, nodes: DataFrame,
                                maxRounds: Int = 30): DataFrame = {
    // canonical child→parent start state: (hi, lo), self-loops dropped
    val start = graft.Session.barrier(
      edgesRaw.select(
          greatest(col("u"), col("v")).as("c"),
          least(col("u"), col("v")).as("p"))
        .where(col("c") =!= col("p"))
        .distinct())
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("c"), col("p")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val e = graft.Iterate.untilStable("alternatingStarComponents", start,
        maxRounds)(signature) { e =>
      // large-star: m(u) = min over the SYMMETRIC neighborhood ∪ {u};
      // every strictly larger neighbor v re-points to m. Each edge (c,p)
      // survives from p's group (c ∈ Γ⁺(p)), so no adjacency is lost,
      // and m ≤ u < v keeps the child>parent canonical form.
      // Round-14: both stars compute their per-group minimum with a
      // WINDOW over the grouping key instead of groupBy + self-join —
      // one exchange and one pass per star, each star consumed once, so
      // a round carries ONE barrier (was two) and ~half the exchanges
      // (optimization guide §2.4: two operations keyed the same way
      // share one exchange).
      val sym = e.select(col("c").as("u"), col("p").as("v"))
        .unionByName(e.select(col("p").as("u"), col("c").as("v")))
      val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
      val large = sym
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .where(col("v") > col("u"))
        .select(col("v").as("c"), col("m").as("p"))
        .distinct()
      // small-star: within each node's ≤-neighborhood (already the
      // child→parent direction), all parents and the node itself
      // re-point to the minimum parent. The (c→m) union branch rides
      // the same pass as a 2-way explode.
      val wC = org.apache.spark.sql.expressions.Window.partitionBy(col("c"))
      large
        .withColumn("m", min(col("p")).over(wC))
        .select(explode(array(
            struct(col("p").as("a"), col("m").as("b")),
            struct(col("c").as("a"), col("m").as("b")))).as("x"))
        .select(col("x.a").as("c"), col("x.b").as("p"))
        .where(col("c") =!= col("p"))
        .distinct()
    }
    nodes.select(col("node"))
      .join(e.select(col("c").as("node"), col("p").as("label")), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
  }

  /** The g05 fixture graph: doc-id chain segments — doc i links to i−1
    * unless the md5 of its id starts with "ff" (p = 1/256), giving
    * expected segment length 256 and component diameters in the
    * hundreds-to-thousands at bench scale: exactly the high-diameter
    * regime [[minLabelComponents]] cannot touch and star contraction
    * finishes in O(log n) rounds. md5-on-decimal-string is the e04
    * precedent: bit-identical in every engine, so the oracle rebuilds
    * the same graph without sharing code.
    */
  def docChainEdges(documents: DataFrame): DataFrame =
    documents
      .where(col("doc_id") > 0 &&
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) =!= "ff")
      .select(col("doc_id").as("u"), (col("doc_id") - 1).as("v"))

  /** G18: strongly connected components under a hop cap — the directed
    * sibling of [[alternatingStarComponents]], by the FW-BW principle
    * (Fleischer et al. 2000): v and w share an SCC iff each reaches the
    * other, so `scc_label(v) = min{m : v→m ∧ m→v within ≤2^rounds
    * hops}`. Reachability is built by RELATION DOUBLING — R₂ₖ = Rₖ∘Rₖ
    * with dedup, the r36 pointer-jump generalized to out-degree > 1 —
    * so a 16-hop horizon costs 4 barriered self-joins, not 16.
    *
    * The hop cap is the g10 discipline: a defined, deterministic
    * quantity both engines compute identically (the oracle's recursion
    * carries the same cap), and the honest form — on the md5-gated
    * chain + back-edge graph every cycle lives in a ≤5-node interval,
    * so 16 hops is exhaustive unless back edges chain pathologically;
    * full SCC = iterate doubling to fixpoint. Graph: u→u+1 chain edges
    * (md5 'ff' cuts) + u→u−4 back edges where md5(u) starts 'a' —
    * cycles exist exactly at the back edges.
    */
  def sccLocal(documents: DataFrame, rounds: Int = 4): DataFrame = {
    val ids = graft.Session.barrier(documents.select(col("doc_id").as("n")))
    val h2 = substring(md5(col("a.n").cast("string").cast("binary")), 1, 2)
    val h1 = substring(md5(col("a.n").cast("string").cast("binary")), 1, 1)
    val chain = ids.as("a").join(ids.as("b"), col("b.n") === col("a.n") + 1)
      .where(h2 =!= "ff")
      .select(col("a.n").as("src"), col("b.n").as("dst"))
    val back = ids.as("a").join(ids.as("b"), col("b.n") === col("a.n") - 4)
      .where(h1 === "a")
      .select(col("a.n").as("src"), col("b.n").as("dst"))
    val r = graft.Iterate.fixed(rounds, graft.Session.barrier(
        ids.select(col("n").as("src"), col("n").as("dst"))
          .unionByName(chain).unionByName(back).distinct()),
        graft.Iterate.Cadence.EveryRound) { r =>
      r.as("x").join(r.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst")).distinct()
    }
    val scc = r.as("f").join(r.as("b"),
        col("f.src") === col("b.dst") && col("f.dst") === col("b.src"))
      .groupBy(col("f.src").as("node"))
      .agg(min(col("f.dst")).as("scc_label"))
    val sizes = scc.groupBy(col("scc_label"))
      .agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, Seq("scc_label"))
      .select(col("node"), col("scc_label"), col("scc_size"),
        (col("scc_size") > 1).as("in_cycle"))
      .orderBy(col("node"))
  }

  /** Support-thresholded co-purchase graph: part pair (u < v) connected
    * iff they co-occur in ≥ `minSupport` orders — the standard market-
    * basket sparsifier. The raw co-purchase projection is near-complete
    * on dense fixtures (avg degree 115 at sf0.01); support ≥ 2 drops it
    * to maxdeg 13 / 3.4k edges, the regime where per-node neighborhood
    * analytics ([[neighborJaccard]], [[kCore]]) are meaningful AND their
    * wedge/peel costs stay arboricity-bounded. Pair counting is basket-
    * centered (Σ C(|basket|, 2), linear in orders) with map-side combine
    * on the (u, v) count — never an edge-list self-join.
    */
  def coPurchaseEdgesSupported(lineitem: DataFrame, minSupport: Int): DataFrame = {
    val po = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("p")).distinct()
    po.as("a").join(po.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .select(col("u"), col("v"))
  }

  /** Neighborhood Jaccard similarity between node pairs sharing common
    * neighbors — the graph-native "users who bought X also bought Y"
    * score (open neighborhoods; adjacency of the pair itself neither
    * required nor excluded).
    *
    * Shape: common-neighbor counts come from wedge enumeration centered
    * at the shared node — fanout Σ C(deg(w), 2), the same arboricity-
    * sensitive bound g02's census accepts, kept sane here by running on
    * the support-thresholded projection (maxdeg 13 ⇒ ≤ 78 pairs/center).
    * On a graph with genuine hubs, feed a support- or degree-capped edge
    * list; the operator itself never materializes a neighbor LIST — only
    * flat wedge rows a map-side combine collapses. Degrees join back on
    * the pair endpoints (node-sized relation, shuffle join — NOT
    * broadcast, node count is unbounded). `inter/uni` is one IEEE
    * division of two small exact ints, bit-identical in any engine.
    */
  def neighborJaccard(undRaw: DataFrame, minInter: Int): DataFrame = {
    val und = graft.Session.barrier(undRaw)
    val adj = und.select(col("u").as("w"), col("v").as("n"))
      .unionByName(und.select(col("v").as("w"), col("u").as("n")))
    // endpoint degrees RIDE the wedge join (round-14, the q74/g03
    // pattern): on the symmetric adjacency, deg(x) = #rows with n = x,
    // so a window count keyed on the NEIGHBOR column puts each wedge
    // endpoint's degree on the row it already carries — the degree
    // table, its barrier, and the two endpoint joins back onto the pair
    // list disappear (guide §2.4; the join-back form also re-ran the
    // |2E| degree pass once per broadcast side). dn is constant within
    // each (x, y) group, so the fold takes max.
    val adjD = adj.withColumn("dn", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("n"))))
    adjD.as("a").join(adjD.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("x"), col("b.n").as("y"))
      .agg(count(lit(1)).as("inter"),
        max(col("a.dn")).as("dx"), max(col("b.dn")).as("dy"))
      .where(col("inter") >= minInter)
      .withColumn("uni", col("dx") + col("dy") - col("inter"))
      .select(col("x"), col("y"), col("inter"), col("uni"),
        round(col("inter").cast("double") / col("uni"), 6).as("jaccard"))
      .orderBy(col("x"), col("y"))
  }

  /** Link prediction by resource-allocation index (g12) — score
    * NON-adjacent node pairs by Σ_{w ∈ N(x)∩N(y)} 1/deg(w) (Zhou, Lü &
    * Zhang 2009), the common-neighbor family's best simple predictor:
    * a shared neighbor "allocates" its unit of resource equally across
    * its links, so rare shared neighbors count more than hubs. The
    * "people you may know" / "customers also considered" primitive,
    * here over the co-purchase projection.
    *
    * Determinism: integer-scaled weights (10^6 div deg — floor division
    * of positive BIGINTs, bit-identical in any engine; the g01 mass
    * discipline) and a (score DESC, x, y) total order on the cut.
    * Scale shape: the same wedge-centered kernel as [[neighborJaccard]]
    * — per-wedge weight rides the adjacency row, so scoring is ONE
    * groupBy over wedges (arboricity-bounded on the supported
    * projection), the existing-edge anti-join removes known links, and
    * the k-cut is a TakeOrdered, never a global sort.
    */
  def linkPrediction(undRaw: DataFrame, minCommon: Int, k: Int): DataFrame = {
    require(minCommon >= 1 && k >= 1,
      s"linkPrediction: minCommon ($minCommon) and k ($k) must be >= 1")
    val und = graft.Session.barrier(undRaw)
    val adj = und.select(col("u").as("w"), col("v").as("n"))
      .unionByName(und.select(col("v").as("w"), col("u").as("n")))
    // center degree as a WINDOW count over the adjacency's own join key
    // (round-14, guide §2.4: the window and the wedge join share the w
    // partitioning) instead of a degree groupBy + join back; the weighted
    // adjacency is then BARRIERED — it feeds both wedge-join sides, and
    // the broadcast build side otherwise re-derives the whole subtree
    val wadj = graft.Session.barrier(
      adj.withColumn("deg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("w"))))
        .withColumn("rw", expr("1000000 div deg"))
        .select(col("w"), col("n"), col("rw")))
    val scores = wadj.as("a").join(wadj.as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n"))
      .groupBy(col("a.n").as("x"), col("b.n").as("y"))
      .agg(count(lit(1)).as("common"), sum(col("a.rw")).as("ra_score"))
      .where(col("common") >= minCommon)
    val existing = und.select(
      least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
    scores.join(existing, Seq("x", "y"), "left_anti")
      .orderBy(col("ra_score").desc, col("x"), col("y"))
      .limit(k)
  }

  /** Synchronous label propagation (g08): `rounds` fixed sweeps over an
    * undirected edge list (u < v) — the classic community-detection
    * heuristic (Raghavan/Albert/Kumara 2007) that groups a co-purchase
    * graph into "bought-together" neighborhoods without a modularity
    * solver. Each round EVERY node simultaneously adopts the most
    * frequent label among its neighbours, ties broken by the SMALLEST
    * label; labels start as node ids. The deliberate determinism
    * choices: synchronous rounds (no randomized sweep order — the
    * asynchronous variant is engine-dependent), integer labels with a
    * total tie order, and a FIXED round count shared with the oracle
    * ([[graft.SparkEntry]]'s `kcorePeelRounds` discipline), so any
    * engine computes identical bits and the gate holds a full value
    * oracle. Every edge endpoint has >= 1 neighbour by construction, so
    * no keep-own-label fallback leg is needed.
    *
    * Scale shape: per round, one (node, neighbour-label) count and one
    * per-node argmax — both map-side-combinable groupBys (`max_by` over
    * the (count, -label) struct instead of a window sort, so no
    * per-node row sort materializes); only 16-byte (node, label) rows
    * flow between rounds, and the symmetrized edge list is barriered
    * once and re-read each round. At 100 TB: rounds × 2 co-partitioned
    * shuffles of label-sized rows, never payloads — the same envelope
    * as [[pagerankInt]].
    */
  def labelPropagation(undRaw: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "labelPropagation: rounds must be >= 1")
    val und = undRaw.select(col("u"), col("v"))
    val sym = graft.Session.barrier(
      und.unionByName(und.select(col("v").as("u"), col("u").as("v"))))
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = sym.join(labels, sym("v") === labels("node"))
        .groupBy(sym("u").as("n"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("n"))
        .agg(max_by(col("label"), struct(col("c"), (-col("label")).as("neg")))
          .as("label"))
        .select(col("n").as("node"), col("label"))
    }
    labels
  }

  /** G16: degree assortativity (Newman 2002) — does the graph wire
    * hubs to hubs or hubs to leaves? The Pearson correlation of
    * endpoint degrees over the symmetrized edge list, reported as the
    * EXACT integer numerators: r = r_num / r_den with
    * r_num = n·Σxy − (Σx)², r_den = n·Σx² − (Σx)² (x = y by edge
    * symmetry, so one moment set suffices). The band column is the
    * audit verdict itself; callers divide only for display. Envelope:
    * n·Σxy stays far below 2⁶³ while max-degree² · |E| · 2 does —
    * true for any graph this engine's peel/census kernels accept.
    *
    * Scale shape: one degree aggregate, two degree equi-joins over
    * the barriered edge list, one global fold to a single row — all
    * co-partitioned shuffles of id-sized rows.
    */
  def assortativity(edgesRaw: DataFrame): DataFrame = {
    val edges = graft.Session.barrier(edgesRaw.select(col("u"), col("v")))
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val j = sym
      .join(deg.select(col("node").as("u"), col("deg").as("dx")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dy")), "v")
    j.agg(count(lit(1)).as("n_ends"),
        sum(col("dx") * col("dy")).as("s_xy"),
        sum(col("dx")).as("s_x"),
        sum(col("dx") * col("dx")).as("s_x2"))
      .select(col("n_ends"), col("s_xy"), col("s_x"), col("s_x2"),
        (col("n_ends") * col("s_xy") - col("s_x") * col("s_x")).as("r_num"),
        (col("n_ends") * col("s_x2") - col("s_x") * col("s_x")).as("r_den"))
      .withColumn("band",
        when(col("r_num") > 0, "assortative")
          .when(col("r_num") < 0, "disassortative").otherwise("neutral"))
  }

  /** G15: Newman–Girvan modularity of the [[labelPropagation]]
    * communities — the quality score that tells a pipeline whether its
    * partitioning is real structure or noise, in EXACT integers: per
    * community c, `q_num = 4m·m_c − d_c²` (the Q contribution scaled by
    * (2m)², so Q = Σ q_num / 4m²). Communities with q_num ≤ 0 are the
    * degenerate ones (no better than random wiring at that degree
    * mass) — the audit signal itself.
    *
    * Scale shape: the LPA rounds dominate (their envelope); the score
    * adds one degree aggregate, two label equi-joins over the edge
    * list, and two label-keyed folds — all co-partitioned shuffles of
    * id-sized rows. The single driver-side value is `m` (one long,
    * the kCore discipline).
    */
  def modularity(edgesRaw: DataFrame, rounds: Int): DataFrame = {
    val edges = graft.Session.barrier(edgesRaw.select(col("u"), col("v")))
    val labels = labelPropagation(edges, rounds)
    val deg = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val m = edges.count() // metadata-sized driver value
    val lu = labels.select(col("node").as("u"), col("label").as("lu"))
    val lv = labels.select(col("node").as("v"), col("label").as("lv"))
    val mIn = edges.join(lu, "u").join(lv, "v")
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("m_in"))
    labels.join(deg, "node")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_tot"))
      .join(mIn, Seq("label"), "left")
      .withColumn("m_in", coalesce(col("m_in"), lit(0L)))
      .select(col("label"), col("n_nodes"), col("m_in"), col("d_tot"),
        (lit(4L * m) * col("m_in") - col("d_tot") * col("d_tot")).as("q_num"))
      .orderBy(col("label"))
  }

  /** k-core decomposition membership: iteratively peel nodes of degree
    * < k until fixpoint; emit each surviving node with its within-core
    * degree. The classic cohesion filter (dense-community extraction,
    * spam-graph pruning) and the canonical *data-dependent-rounds*
    * iteration — exactly where driver-side loop state must stay
    * metadata-sized.
    *
    * Per round: window degree counts over the symmetric edge list and
    * the keep filter, re-barriered so round N reads round N−1's
    * materialization, not a 2^N-deep lineage. Round count is bounded by
    * the peel depth — O(n) pathological chains exist; real
    * co-occurrence graphs settle in ~10 rounds. At 100 TB each round is
    * two co-partitioned shuffles of the shrinking edge list — the peel
    * only ever deletes, so cost is monotone decreasing.
    */
  def kCore(edgesRaw: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    val wU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    val wV = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
    val core = graft.Iterate.untilZero("kCore",
        graft.Session.barrier(edgesRaw.select(col("u"), col("v"))), maxRounds) { e =>
      // round-14: endpoint degrees attached by WINDOW counts over the
      // symmetric edge list (deg(x) = rows with x first ⟺ x second in
      // sym), replacing the degree-table build + two left_semi joins —
      // 2 exchanges per round instead of ~5 (guide §2.4). The peel only
      // deletes, so fixpoint ⟺ zero edges dropped this round.
      val deg = col("du") >= k.toLong && col("dv") >= k.toLong
      graft.Iterate.Round(
        e.select(col("u"), col("v"))
          .unionByName(e.select(col("v").as("u"), col("u").as("v")))
          .withColumn("du", count(lit(1)).over(wU))
          .withColumn("dv", count(lit(1)).over(wV)),
        test = col("u") < col("v") && !deg, out = Seq("u", "v"),
        keep = Some(col("u") < col("v") && deg))
    }
    core.select(col("u").as("node")).unionByName(core.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  /** G19: coreness (core number) per node — the k-core sweep every
    * graph-ML feature stack computes (Batagelj–Zaversnik's output,
    * here as the honest bounded form): coreness(v) = max k ≤ `maxK`
    * with v surviving the k-core peel. Reuses [[kCore]] verbatim per k
    * (one kernel, two gates — g07's peel cannot drift from this
    * sweep); k-cores nest, so the indicator SUM over k ∈ [2, maxK]
    * plus 1 IS the capped coreness. `rounds` stays pinned to the
    * oracle's unroll (the g07 contract — deeper-than-unrolled peels
    * fail loudly engine-side, never silently diverge).
    */
  def coreness(edgesRaw: DataFrame, maxK: Int = 4, rounds: Int = 20): DataFrame = {
    require(maxK >= 2, s"coreness: maxK must be >= 2, got $maxK")
    val edges = graft.Session.barrier(edgesRaw.select(col("u"), col("v")))
    val all = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node"))).distinct()
    val withFlags = (2 to maxK).foldLeft(all) { (acc, k) =>
      acc.join(kCore(edges, k, maxRounds = rounds)
          .select(col("node"), lit(1L).as(s"in$k")),
        Seq("node"), "left")
    }
    withFlags
      .select(col("node"),
        (2 to maxK).map(k => coalesce(col(s"in$k"), lit(0L)))
          .foldLeft(lit(1L): org.apache.spark.sql.Column)(_ + _).as("coreness"))
      .orderBy(col("node"))
  }

  /** Per-edge triangle support over an undirected (u < v) edge list —
    * the inner kernel of [[kTruss]]. Enumeration is degree-oriented
    * (the [[triangleCensus]] trick: fanout arboricity-bounded, hubs
    * receive edges instead of fanning out), each triangle is found
    * exactly once, and its THREE undirected edges are credited by
    * normalizing every directed pair back to (min, max) before the
    * count aggregate. One wedge join + one closing join + one
    * map-side-combinable aggregate — no edge-list self-join on raw ids.
    */
  private def triangleEdgeSupport(undRaw: DataFrame): DataFrame = {
    // no barrier on the edge list itself: the only caller (kTruss)
    // always passes an already-checkpointed edge set, so re-checkpointing
    // it per peel round was pure overhead
    val und = undRaw.select(col("u"), col("v"))
    val oriented = graft.Session.barrier(orientByDegree(und))
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.as("e3").hint("shuffle_hash"),
        col("a") === col("e3.src") && col("c") === col("e3.dst"))
      .select(col("a"), col("b"), col("c"))
    tri.select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .unionByName(tri.select(least(col("b"), col("c")).as("u"),
        greatest(col("b"), col("c")).as("v")))
      .unionByName(tri.select(least(col("a"), col("c")).as("u"),
        greatest(col("a"), col("c")).as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
  }

  /** k-truss (g14): the edge-level strengthening of [[kCore]] — every
    * surviving edge must sit in ≥ k−2 triangles whose other two edges
    * also survive. The cohesion filter of community-detection pipelines
    * (a k-truss is a (k−1)-core of unusually well-knit edges, immune to
    * the hub-chaining that inflates cores).
    *
    * Peel loop: [[triangleEdgeSupport]] per round (degree-oriented,
    * re-oriented on the SHRINKING edge set each round), drop edges
    * under k−2, re-barrier, repeat to fixpoint ([[kCore]] discipline). At
    * fixpoint the support column carried by the last filter IS the
    * final support (the edge set did not change), so the result needs
    * no extra enumeration. `maxRounds` is pinned to the oracle's unroll
    * count by the caller (g07's `kcorePeelRounds` contract): a fixture
    * needing deeper peeling fails loudly engine-side instead of
    * hash-mismatching a pre-fixpoint oracle. Scale: each round is three
    * co-partitioned shuffles of a monotonically shrinking edge list,
    * with the wedge fanout arboricity-bounded; the peel only deletes.
    */
  def kTruss(edgesRaw: DataFrame, k: Int, maxRounds: Int = 16): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3, got $k")
    val start = graft.Session.barrier(edgesRaw.select(col("u"), col("v")))
      .withColumn("support", lit(0L)) // empty graph: one round, support intact
    graft.Iterate.untilZero("kTruss", start, maxRounds) { kept =>
      val e = kept.select(col("u"), col("v"))
      // the peel only deletes, so fixpoint ⟺ zero edges dropped by the
      // support filter
      graft.Iterate.Round(
        e.join(triangleEdgeSupport(e), Seq("u", "v"), "left")
          .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("support")),
        test = col("support") < (k - 2).toLong, out = Seq("u", "v", "support"),
        keep = Some(col("support") >= (k - 2).toLong))
    }.orderBy(col("u"), col("v"))
  }
}
