package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.core.Caching.RegisterSyntax
import graft.io.GraphStore

/** Iterative graph analytics beyond d8's connected components: a
  * fixed-round PageRank over the customer→supplier purchase graph
  * (who funnels order volume to whom — the entity-importance score a
  * recommendation tier like the reference's T4/T5 indexes would rank
  * by).
  *
  * Determinism discipline: ranks live in integer MICROS and each
  * node's out-contribution is `rank_micro div outdeg` (integer floor
  * division) — so the per-round incoming sum is a sum of exact
  * integers, order-independent, and the DuckDB oracle (the same three
  * rounds as chained CTEs) matches bit-exactly. A float PageRank's
  * Σ(rank/outdeg) accumulates in whatever order the engine reduces —
  * the one thing a cross-engine hash gate cannot tolerate.
  *
  * Scale notes: every purchase edge runs from a customer to a
  * supplier, so on the served tier g1 is one closed form
  * ([[bipartiteRanks]]): one edge-grain generate and one groupBy(node)
  * with partial aggregation — one exchange, no join, no cache, the
  * tier read once. The closed form is exact only while no node id is
  * both a customer and a supplier; the served version's `_stats` value
  * bounds decide that with no job ([[GraphStore.purchaseBipartite]]).
  * When the bounds are missing or the key ranges overlap (customer
  * keys reach [[SuppOffset]] from SF ≈ 6,667) g1 runs the rounds
  * ([[pagerank]]): the edge list persisted on hash(src) and one
  * groupBy(dst) exchange per round, with no node table to reattach to
  * and nothing broadcast. Rounds are FIXED (3), so unlike d8's
  * convergence loop there is no per-round driver action: either form
  * is one lazy plan, and rank state is O(|nodes|), never materialized
  * to the driver.
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  /** Supplier node ids are offset to share one node-id space with
    * customer keys. Single source of truth — `io/GraphStore`'s
    * materialized edge tier shares the node-id space through this
    * constant. Customer keys reach it from SF ≈ 6,667, where a
    * customer and a supplier share an id: g1's guard sees that in the
    * served bounds and runs the rounds; the other purchase-graph
    * queries do not check. */
  val SuppOffset = 1000000000L
  private val Damping = 850000L // 0.85 in micros
  private val Base = 150000L    // 0.15 in micros
  private val Rounds = 3

  /** Each `a`—`b` edge of `df` in both directions, as (src, dst): one
    * generate per input row, so the input is read once (a union of
    * the two directions reads it once per direction). */
  private def bothWays(df: DataFrame, a: String, b: String): DataFrame =
    df.select(inline(array(
      struct(col(a).as("src"), col(b).as("dst")),
      struct(col(b).as("src"), col(a).as("dst")))))

  /** g1 — 3-round PageRank over customer→supplier order volume. */
  val g1Pagerank: Q = (s, dir) => {
    // edges come from the materialized purchase tier (GraphStore —
    // built once per source snapshot, shared by g1/g3/g5/g6/g8/g9/g10
    // instead of each query re-running lineitem⋈orders+distinct)
    val edges = GraphStore.purchaseEdges(s, dir)
    purchaseRanks(edges, GraphStore.purchaseBipartite(edges))
      .select(col("node"), col("rank_micro"),
        (col("node") >= SuppOffset).as("is_supplier"))
  }

  /** (node, rank_micro) of g1's rounds over purchase edges `cust`,
    * `supp`, `cust_deg`: the closed form when `bipartite` (no id is
    * both a `cust` and a `supp`), else the rounds on the edge set
    * persisted on hash(src), whose layout serves every round: edges
    * never move after the one exchange. */
  private[graft] def purchaseRanks(edges: DataFrame, bipartite: Boolean): DataFrame =
    if (bipartite) bipartiteRanks(edges)
    else pagerank(edges
      .select(col("cust").as("src"), col("supp").as("dst"),
        col("cust_deg").as("outdeg"))
      .repartition(col("src"))
      .registerCache())

  /** The rank after a round whose incoming contributions sum to
    * `inMicro` (null: none). */
  private def rank(inMicro: Column): Column =
    lit(Base) + (lit(Damping) * coalesce(inMicro, lit(0L)) / lit(1000000L)).cast("long")

  /** g1's rounds in closed form on a bipartite customer→supplier edge
    * set. No edge enters a customer, so after any round a customer's
    * rank is `Base`; a supplier sends nothing. So from round 2 on the
    * ranks are fixed: a customer holds `Base`, a supplier
    * `Base + ⌊D · Σ_{c→s} ⌊Base div outdeg(c)⌋ / 10⁶⌋`, and round 1
    * drops out (exact for any round count ≥ 2). Each edge row emits
    * its customer with no contribution and its supplier with one, and
    * one groupBy(node) — partially aggregated before its exchange —
    * sums them: a node's in-sum is the same sum of exact integers the
    * rounds form, so the ranks are bit-identical to [[pagerank]]'s.
    * The oracle SQL keeps the three-round CTE chain, re-proving the
    * algebra cross-engine on every run. */
  private def bipartiteRanks(edges: DataFrame): DataFrame =
    edges.select(inline(array(
        struct(col("cust").as("node"), lit(null).cast("long").as("c")),
        struct(col("supp").as("node"),
          (lit(Base) / col("cust_deg")).cast("long").as("c")))))
      .groupBy("node").agg(sum("c").as("in_micro"))
      .select(col("node"), rank(col("in_micro")).as("rank_micro"))

  /** The g1 rounds over a DISTINCT `(src, dst, outdeg)` edge frame
    * (`outdeg` = edges out of `src`): (node, rank_micro) for every
    * endpoint. Any directed graph — nothing assumes g1's bipartite
    * purchase shape, which is why g1 runs it only when the bipartite
    * guard fails ([[purchaseRanks]]): a customer key that collides
    * with an offset supplier id, or a version with no value bounds.
    * `edges` is read once per round plus once for the node set, so
    * callers pass a cached frame.
    *
    * Every round is ONE exchange: the contribution sum's groupBy(dst).
    * Rank state never exists at node grain between rounds — round r
    * reads contrib₍ᵣ₋₁₎ straight onto the edge rows (`edges ⟕ contrib`
    * on src = dst, which rides `edges`' hash(src) layout and contrib's
    * hash(dst) exchange), and the coalesce(0) for a node without
    * in-edges sits on the edge row: every src is a node, and a node
    * no edge enters has no contribution row, so this IS the oracle's
    * `nodes ⟕ contrib` reattach, minus the node table. Both node-grain
    * joins are PINNED to shuffle_hash (g3/g5/g9's scale-honesty rule):
    * contributions are node grain, 10⁸⁺ rows at 100 TB, so the small-SF
    * broadcast plan AQE would otherwise pick can never exist at scale. */
  private[graft] def pagerank(edges: DataFrame): DataFrame = {
    def contribution(perEdge: Column, from: DataFrame): DataFrame =
      from.select(col("dst"), (perEdge / col("outdeg")).cast("long").as("c"))
        .groupBy("dst").agg(sum("c").as("in_micro"))
    // round 1 collapsed algebraically (r15, g5's rule): r0 ranks are
    // the CONSTANT 10⁶ on every node and outdeg rides the edge row, so
    // contrib₁ = Σ_{src→dst} (10⁶ div outdeg(src)) needs no join. The
    // oracle SQL keeps the r0 join form, re-proving the algebra
    // cross-engine on every run.
    var contrib = contribution(lit(1000000L), edges)
    for (_ <- 2 to Rounds) {
      val prev = contrib.select(col("dst").as("node"), col("in_micro"))
      contrib = contribution(rank(col("in_micro")),
        edges.join(prev.hint("shuffle_hash"), col("src") === col("node"), "left_outer"))
    }
    // the node set without a node table: src is distinct per partition
    // of the hash(src) cache (no exchange), and every dst has a row in
    // the last contributions — the full-outer join on src = dst emits
    // each node once, a src no edge enters with the coalesce(0) rank
    edges.select("src").distinct()
      .join(contrib.hint("shuffle_hash"), col("src") === col("dst"), "full_outer")
      .select(coalesce(col("dst"), col("src")).as("node"),
        rank(col("in_micro")).as("rank_micro"))
  }

  /** The same three rounds as chained CTEs. `//` is DuckDB's integer
    * floor division — the Spark side casts the fractional division to
    * long, identical for non-negative operands. */
  val g1PagerankSql: String = {
    def round(prev: String, out: String) =
      s"""$out AS (
        SELECT node,
               150000 + CAST(850000 * coalesce(i.in_micro, 0) // 1000000 AS BIGINT) AS rank_micro
        FROM nodes LEFT JOIN (
          SELECT dst, CAST(SUM(c) AS BIGINT) AS in_micro FROM (
            SELECT e.dst, r.rank_micro // o.outdeg AS c
            FROM edges e JOIN $prev r ON e.src = r.node
            JOIN outdeg o ON e.src = o.src) GROUP BY dst) i
          ON node = i.dst)"""
    s"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000000 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
    ${round("r0", "r1")},
    ${round("r1", "r2")},
    ${round("r2", "r3")}
    SELECT node, rank_micro, node >= 1000000000 AS is_supplier FROM r3"""
  }

  /** g2 — triangle support per node over the top-k co-supply graph:
    * each supplier keeps edges to its 3 strongest partners (most
    * shared parts, ties broken on partner id), and the query counts
    * per-supplier how many supplier-triples are pairwise so-connected
    * — the "how clustered is this entity" feature a recommendation
    * tier derives.
    *
    * The k-NN sparsification is the scale decision, not a shortcut:
    * raw same-part co-occurrence on this data is a near-complete
    * graph (every supplier pair shares some part — measured 20s at
    * sf0.1 on the dense form), and triangle counting on a dense graph
    * is Σdeg² wedges — quadratic garbage in, garbage out. Top-k keeps
    * |E| ≤ k·|suppliers| BY CONSTRUCTION at any scale factor, so the
    * wedge join is bounded the way d13's rarity prefix bounds the
    * shingle join. Each triangle {a<b<c} is found exactly once as
    * wedge e(a,b)⋈e(b,c) closed by e(a,c) over canonical u<v edges —
    * three equi-joins on a 3n-row edge list.
    */
  val g2Triangles: Q = (s, dir) => {
    // The k-NN edge set comes from the materialized co-supply tier
    // (GraphStore.cosupplyUnd — the wedge self-join runs once per
    // source snapshot, not once per g2/g4/g11 run; the inline form and
    // its scale analysis live in GraphStore.cosupplyUndInline).
    // Persisted: the wedge join reads edges twice, the closing join a
    // third time.
    val edges = GraphStore.cosupplyUnd(s, dir).registerCache()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.ev") === col("e2.eu"))
      .join(edges.as("e3"),
        col("e1.eu") === col("e3.eu") && col("e2.ev") === col("e3.ev"))
      .select(col("e1.eu").as("a"), col("e1.ev").as("b"), col("e2.ev").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("supplier"))
      .groupBy("supplier").agg(count(lit(1)).as("n_triangles"))
  }

  val g2TrianglesSql: String = """
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
    shared AS (
      SELECT a.sp AS u, b.sp AS v, count(*) AS shared
      FROM ps a JOIN ps b ON a.p = b.p AND a.sp <> b.sp
      GROUP BY 1, 2),
    topk AS (
      SELECT u, v,
             row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rk
      FROM shared),
    edges AS (
      SELECT DISTINCT least(u, v) AS eu, greatest(u, v) AS ev
      FROM topk WHERE rk <= 3),
    tri AS (
      SELECT e1.eu AS a, e1.ev AS b, e2.ev AS c
      FROM edges e1
      JOIN edges e2 ON e1.ev = e2.eu
      JOIN edges e3 ON e1.eu = e3.eu AND e2.ev = e3.ev)
    SELECT supplier, count(*) AS n_triangles
    FROM (SELECT a AS supplier FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
    GROUP BY supplier"""

  /** g3 — fixed-round BFS over the customer↔supplier order graph: min
    * hop distance (≤ 3) from the seed set "customers of nation 0".
    * The reachability/expansion primitive (who is N introductions
    * away) on the same bipartite edge list as g1.
    *
    * Rounds are FIXED and unrolled into one lazy plan (g1's
    * discipline — no per-round driver action, no growing lineage at
    * this depth); each round is one equi-join frontier⋈edges + one
    * min-aggregate, both keyed on node. Min-distance is
    * order-independent, so the hash gate holds. The bipartite
    * structure alternates sides, so round r's frontier is one side
    * only — the join never touches the whole node set.
    */
  val g3BfsHops: Q = (s, dir) => {
    // persisted: each of the 3 unrolled rounds joins the same edges
    // (served from the materialized purchase tier). Frontier joins are
    // PINNED to shuffle_hash (g9's measurement-honesty rule): at small
    // SFs the planner would broadcast the 10×-smaller EDGE table — a
    // plan the 100 TB cluster can never run (edges are corpus-sized) —
    // which made the measured shuffle-growth exponent read the plan
    // CLIFF (2.15 across sf0.01→sf0.1) instead of the production
    // plan's linear growth; pinned, the exponent is 1.08 and the SHJ
    // is ~10% faster than the r13 SMJ at sf0.1 (no edge sorts). Build
    // side = the frontier: bounded by the node population, the side a
    // distributed BFS step hashes per partition. (A cust-keyed cached
    // layout was measured and REJECTED: the per-run release rebuilds
    // the cache every run, and paying the repartition inside the clock
    // cost 1.8× at sf0.1 for one saved 13 MB exchange.)
    val edges = GraphStore.purchaseEdges(s, dir).registerCache()
    val seeds = Tables.load(s, dir, "customer")
      .filter(col("c_nationkey") === 0)
      .select(col("c_custkey").as("node"), lit(0).as("dist"))
    // alternate sides: d0 custs -> d1 supps -> d2 custs -> d3 supps
    val d1 = edges.join(seeds.hint("shuffle_hash"), col("cust") === col("node"))
      .select(col("supp").as("node")).distinct().withColumn("dist", lit(1))
    val d2 = edges.join(d1.hint("shuffle_hash"), col("supp") === col("node"))
      .select(col("cust").as("node")).distinct().withColumn("dist", lit(2))
    val d3 = edges.join(d2.hint("shuffle_hash"), col("cust") === col("node"))
      .select(col("supp").as("node")).distinct().withColumn("dist", lit(3))
    seeds.unionByName(d1).unionByName(d2).unionByName(d3)
      .groupBy("node").agg(min("dist").as("hops"))
  }

  val g3BfsHopsSql: String = """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey + 1000000000 AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    d0 AS (SELECT c_custkey AS node, 0 AS dist FROM customer WHERE c_nationkey = 0),
    d1 AS (SELECT DISTINCT supp AS node, 1 AS dist
           FROM edges JOIN d0 ON cust = node),
    d2 AS (SELECT DISTINCT cust AS node, 2 AS dist
           FROM edges JOIN d1 ON supp = node),
    d3 AS (SELECT DISTINCT supp AS node, 3 AS dist
           FROM edges JOIN d2 ON cust = node)
    SELECT node, min(dist) AS hops FROM (
      SELECT * FROM d0 UNION ALL SELECT * FROM d1
      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
    GROUP BY node"""


  /** g4 — synchronous label propagation (2 fixed rounds) over g2's
    * top-k co-supply graph: community detection by iterated
    * neighbor-majority vote, the classic LPA primitive (Raghavan et
    * al. 2007) a dedup/recommendation tier uses to group entities
    * without a cluster count in advance.
    *
    * Determinism: labels are node ids (ints); each round every node
    * adopts the most frequent label among its neighbors with ties
    * broken toward the SMALLEST label — argmax realized as a
    * row_number over (count DESC, label ASC), identical in both
    * engines, so synchronous LPA (normally noted for order-dependence)
    * is exactly reproducible here.
    *
    * Scale shape: the same k-NN sparsified edge list as g2 (|E| ≤
    * 2k·|suppliers| by construction), cached once; each round is one
    * edge⋈label equi-join + one (src,label) count + one per-src window
    * — all keyed on src, no driver action, rounds unrolled into one
    * lazy plan (g1's discipline).
    */
  /** g4's machinery, shared with g11: the shared-parts-top-3
    * undirected edge set (`eu < ev`, distinct) and the 2-round
    * synchronous label-propagation communities over it. Returns
    * (und, labels[node, label]); the directed edge frame used by the
    * propagation rounds is registerCache'd inside. */
  private def g4Community(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // und is served from the materialized co-supply tier (the wedge
    // self-join runs once per source snapshot, not once per consumer
    // query) and cached: edges and every downstream consumer are
    // projections of it.
    val und = GraphStore.cosupplyUnd(s, dir).registerCache()
    val edges = bothWays(und, "eu", "ev")
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to 2) {
      val cnt = edges.join(labels, col("dst") === col("node"))
        .groupBy("src", "label").agg(count(lit(1)).as("cnt"))
      val pick = Window.partitionBy("src")
        .orderBy(col("cnt").desc, col("label"))
      labels = cnt.withColumn("rn", row_number().over(pick))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
    }
    (und, labels)
  }

  val g4LabelProp: Q = (s, dir) => {
    val (_, labels) = g4Community(s, dir)
    labels.select(col("node"), col("label").as("community"))
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy("community")))
  }

  /** The ps→und→edges→l2 CTE chain shared by g4's and g11's oracles. */
  private val g4ChainSql: String = {
    def round(prev: String, out: String) =
      s"""$out AS (
        SELECT src AS node, label FROM (
          SELECT e.src, l.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY e.src
                                    ORDER BY count(*) DESC, l.label) AS rn
          FROM edges e JOIN $prev l ON e.dst = l.node
          GROUP BY e.src, l.label)
        WHERE rn = 1)"""
    s"""ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
    shared AS (
      SELECT a.sp AS u, b.sp AS v, count(*) AS shared
      FROM ps a JOIN ps b ON a.p = b.p AND a.sp <> b.sp
      GROUP BY 1, 2),
    topk AS (
      SELECT u, v,
             row_number() OVER (PARTITION BY u ORDER BY shared DESC, v) AS rk
      FROM shared),
    und AS (
      SELECT DISTINCT least(u, v) AS eu, greatest(u, v) AS ev
      FROM topk WHERE rk <= 3),
    edges AS (SELECT eu AS src, ev AS dst FROM und
              UNION ALL SELECT ev, eu FROM und),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    ${round("l0", "l1")},
    ${round("l1", "l2")}"""
  }

  val g4LabelPropSql: String = s"""
    WITH $g4ChainSql
    SELECT node, label AS community,
           count(*) OVER (PARTITION BY label) AS community_size
    FROM l2"""

  /** g5 — HITS hubs & authorities over the customer→supplier order
    * graph (Kleinberg 1999): customers that buy from many strong
    * suppliers are hubs, suppliers bought by many strong hubs are
    * authorities — the bipartite mutual-reinforcement score.
    *
    * Determinism: the classical L2 normalization is replaced by L∞ in
    * integer micros — each half-step divides by the round's MAX score
    * (`x·10⁶ div max`), so every value stays an exact int64 and the
    * chained-CTE oracle matches bit-for-bit (g1's discipline; a float
    * norm would hash-differ in the last ulp).
    *
    * Scale shape: per round, two edge⋈score equi-joins + two grouped
    * sums (both keyed on the join key, co-partitioned with the cached
    * edge list) and two ONE-row max aggregates broadcast back — the
    * same broadcast-scalar pattern as q39/c7. Rounds are fixed (2),
    * one lazy plan, no driver iteration. Overflow headroom: scores are
    * ≤10⁶ after each normalization, so a raw sum is ≤ indeg·10⁶ and
    * the ·10⁶ rescale stays inside int64 up to ~10⁶-degree nodes; at
    * web scale you'd shift to 128-bit sums or pre-scale the max.
    */
  val g5Hits: Q = (s, dir) => {
    val edges = GraphStore.purchaseEdges(s, dir)
      .select(col("cust").as("src"), col("supp").as("dst"))
      .registerCache()
    // Scale each raw score by the frame's one-row max. Precondition:
    // `raw` is a registered cache — it is read twice (the max agg and
    // the projection), so an uncached argument recomputes its whole
    // upstream chain per read, doubling per half-round.
    def normalize(raw: DataFrame, key: String, rawCol: String,
                  outCol: String): DataFrame = {
      val maxCol = rawCol + "_max"
      raw.crossJoin(broadcast(raw.agg(max(rawCol).as(maxCol))))
        .select(col(key).as("node"),
          expr(s"($rawCol * 1000000) div $maxCol").as(outCol))
    }
    // round-1 authority pass collapsed algebraically (guide §1.2 "fix
    // the distributed algorithm"): h0 is the CONSTANT 10⁶ on every
    // distinct src, and each edge's src is in that set by
    // construction, so a1_raw = Σ_{src→dst} h0(src) = 10⁶·indeg(dst).
    // The unrolled form paid a distinct + an edges⋈h0 join (r15
    // per-job trace: 5 AQE stage-jobs) to compute a degree count; the
    // oracle SQL below KEEPS the join form, so the algebra is
    // re-proven cross-engine on every correctness run.
    var araw = edges.groupBy("dst")
      .agg((count(lit(1)) * lit(1000000L)).as("a_raw"))
      .registerCache()
    var auths = normalize(araw, "dst", "a_raw", "auth_micro")
    var hubs: DataFrame = null
    for (r <- 1 to 2) {
      // each half-round's raw-sum frame feeds BOTH its one-row max and
      // the normalized scores; uncached, every reuse re-runs the whole
      // upstream chain and the recomputation DOUBLES per half-round —
      // 2^4 plan blow-up over 2 rounds (measured: 18s -> ~1s at sf0.1)
      // shuffle_hash pin, g3/g9's scale-honesty rule: with round 1
      // collapsed the rank side estimates small enough at bench SFs
      // that the planner BROADCASTS it — but ranks are node-grain
      // (10⁸⁺ at 100 TB), so that plan cannot exist at scale and the
      // measured cost would be a small-SF artifact. Pinned, the rank
      // side hash-builds per partition (never sorts, never
      // broadcasts); r15 A/B vs the unrolled form: 2.76 vs 2.96 s.
      val hraw = edges.join(auths.hint("shuffle_hash"), col("dst") === col("node"))
        .groupBy("src").agg(sum("auth_micro").as("h_raw"))
        .registerCache()
      hubs = normalize(hraw, "src", "h_raw", "hub_micro")
      if (r < 2) {
        araw = edges.join(hubs.hint("shuffle_hash"), col("src") === col("node"))
          .groupBy("dst").agg(sum("hub_micro").as("a_raw"))
          .registerCache()
        auths = normalize(araw, "dst", "a_raw", "auth_micro")
      }
    }
    hubs.select(col("node"), col("hub_micro").as("score_micro"),
        lit("hub").as("role"))
      .union(auths.select(col("node"), col("auth_micro").as("score_micro"),
        lit("authority").as("role")))
  }

  val g5HitsSql: String = {
    def round(hPrev: String, i: Int) =
      s"""a${i}raw AS (
        SELECT dst, CAST(SUM(hub_micro) AS BIGINT) AS a_raw
        FROM edges JOIN $hPrev ON src = node GROUP BY dst),
    a$i AS (SELECT dst AS node,
                   a_raw * 1000000 // (SELECT MAX(a_raw) FROM a${i}raw) AS auth_micro
            FROM a${i}raw),
    h${i}raw AS (
        SELECT src, CAST(SUM(auth_micro) AS BIGINT) AS h_raw
        FROM edges JOIN a$i ON dst = node GROUP BY src),
    h$i AS (SELECT src AS node,
                   h_raw * 1000000 // (SELECT MAX(h_raw) FROM h${i}raw) AS hub_micro
            FROM h${i}raw)"""
    s"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000000 AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS hub_micro
           FROM edges),
    ${round("h0", 1)},
    ${round("h1", 2)}
    SELECT node, hub_micro AS score_micro, 'hub' AS role FROM h2
    UNION ALL
    SELECT node, auth_micro AS score_micro, 'authority' AS role FROM a2"""
  }

  /** g6 — degree profile + assortativity of the purchase graph: the
    * structural health check run before any iterative algorithm (a
    * hub-dominated or disassortative graph changes the g1/g4/g5 cost
    * model — degree skew IS the salting decision). Assortativity is
    * the Pearson correlation between src out-degree and dst in-degree
    * across edges, computed from exact int64 sufficient statistics
    * (q86's discipline); the two denominator factors are cast to
    * double BEFORE multiplying (their int64 product overflows at
    * ~10⁶ edges, the doubles are exact up to 2⁵³ each), and the final
    * sqrt/divide is one deterministic IEEE step in both engines.
    *
    * Plan: one edge build (g1's shape), degree aggregates keyed on
    * src / dst, degrees joined back onto edges on their own keys, one
    * global map-combined sum — no window, nothing node-quadratic.
    */
  val g6DegreeStats: Q = (s, dir) => {
    // the tier's denormalized degree columns make this ONE scan-and-
    // aggregate pass — no degree aggregates, no joins back onto edges
    val joined = GraphStore.purchaseEdges(s, dir)
      .select(col("cust").as("src"), col("supp").as("dst"),
        col("cust_deg").as("x"), col("supp_deg").as("y"))
    joined.agg(
        count(lit(1)).as("n_edges"),
        countDistinct(col("src")).as("n_customers"),
        countDistinct(col("dst")).as("n_suppliers"),
        max(col("x")).as("max_outdeg"),
        max(col("y")).as("max_indeg"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("assortativity",
        (col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n_edges") * col("sxx") - col("sx") * col("sx")).cast("double") *
             (col("n_edges") * col("syy") - col("sy") * col("sy")).cast("double")))
      .select("n_edges", "n_customers", "n_suppliers",
        "max_outdeg", "max_indeg", "assortativity")
  }

  val g6DegreeStatsSql: String = s"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + $SuppOffset AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    od AS (SELECT src, count(*) AS x FROM edges GROUP BY src),
    id AS (SELECT dst, count(*) AS y FROM edges GROUP BY dst),
    j AS (SELECT e.src, e.dst, od.x, id.y
          FROM edges e JOIN od USING (src) JOIN id USING (dst)),
    m AS (
      SELECT count(*) AS n_edges,
             count(DISTINCT src) AS n_customers,
             count(DISTINCT dst) AS n_suppliers,
             CAST(max(x) AS BIGINT) AS max_outdeg,
             CAST(max(y) AS BIGINT) AS max_indeg,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx,
             CAST(SUM(y*y) AS BIGINT) AS syy
      FROM j)
    SELECT n_edges, n_customers, n_suppliers, max_outdeg, max_indeg,
           CAST(n_edges*sxy - sx*sy AS DOUBLE)
             / sqrt(CAST(n_edges*sxx - sx*sx AS DOUBLE)
                    * CAST(n_edges*syy - sy*sy AS DOUBLE)) AS assortativity
    FROM m"""

  /** g7 — link prediction by the resource-allocation index (Zhou,
    * Lü & Zhang 2009): score a candidate customer pair (u, v) by
    * Σ_p 1/deg(p) over the parts p both have bought. The "customers
    * who buy like you" primitive behind a co-purchase recommender —
    * same family as the reference's T4/T5 ranking tier, and the
    * integer twin of Adamic-Adar (1/deg instead of 1/log deg keeps
    * every weight an exact `1000000 div deg` micro-integer, so the
    * per-pair sum is order-independent and the cross-engine hash gate
    * holds — g1's determinism discipline).
    *
    * Scale shape: the wedge expansion through a part is Σ_p deg(p)²,
    * and deg(p) (customers per part) is a data-model constant (~30,
    * measured flat from sf0.001→0.1), so wedge volume grows LINEARLY
    * with the corpus. `HubCap` makes that bound explicit: a part
    * bought by more than HubCap customers carries ~zero signal per
    * pair (its weight is below 1/HubCap) and would contribute the
    * quadratic term — it is dropped, the d7/d13 df-cap discipline.
    * The upper-triangle predicate halves the wedge list; g2's
    * hash(u) repartition clusters (u, v) so the pair aggregate AND
    * the per-u top-3 window both run exchange-free after ONE
    * linear-sized shuffle.
    */
  private val HubCap = 48L
  val g7LinkPredict: Q = (s, dir) => {
    val li = Tables.loadParallel(s, dir, "lineitem").select("l_orderkey", "l_partkey")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    // persisted: the wedge join reads the capped edge list twice
    val e = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy("p")))
      .filter(col("deg") <= HubCap)
      // int, not long: w_micro ≤ 10⁶ by construction (deg ≥ 1), and
      // every wedge row ships it through the hash(u) exchange — the
      // narrower type is free shuffle bytes (guide §2.3); sum(int)
      // still aggregates into a BIGINT, so the output schema and the
      // oracle hash are unchanged
      .withColumn("w_micro", expr("cast(1000000 div deg as int)"))
      // r15: an explicit pre-cache repartition(p) was A/B'd to try to
      // elide the two hash(p) re-exchanges the self-join plans ABOVE
      // this cache (~16 MB): CollapseRepartition removes it (the deg
      // window already establishes hash(p)) and the plan is
      // byte-identical — Spark 4.1.2 re-exchanges over AQE'd cached
      // plans regardless (r14's verified engine limitation). Revisit
      // on a Spark upgrade, not with more layout attempts here.
      .registerCache()
    val w = Window.partitionBy("u")
      .orderBy(col("ra_micro").desc, col("v"))
    e.as("a")
      .join(e.as("b"), col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .select(col("a.c").as("u"), col("b.c").as("v"),
        col("a.w_micro").as("w_micro"))
      .repartition(col("u"))
      .groupBy("u", "v")
      .agg(sum("w_micro").as("ra_micro"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("u"), col("v"), col("ra_micro"), col("rk").cast("int").as("rk"))
  }

  val g7LinkPredictSql: String = s"""
    WITH cp AS (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (
      SELECT c, p, 1000000 // count(*) OVER (PARTITION BY p) AS w_micro
      FROM cp
      QUALIFY count(*) OVER (PARTITION BY p) <= $HubCap),
    pairs AS (
      SELECT a.c AS u, b.c AS v, CAST(sum(a.w_micro) AS BIGINT) AS ra_micro
      FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
      GROUP BY 1, 2)
    SELECT u, v, ra_micro, rk FROM (
      SELECT u, v, ra_micro,
             CAST(row_number() OVER (PARTITION BY u
                    ORDER BY ra_micro DESC, v) AS INT) AS rk
      FROM pairs) WHERE rk <= 3"""

  /** g8 — k-core peeling (fixed 3 rounds, k=5) over the bipartite
    * customer↔supplier order graph: repeatedly drop nodes with degree
    * < k and re-count. The cohesive-subgraph extraction that separates
    * structurally-embedded entities from peripheral ones — the graph
    * health-check a fraud/recommender tier runs before trusting
    * degree-based features, and the peel-ordering primitive behind
    * density-based corpus pruning.
    *
    * g1/g3's discipline: rounds are FIXED and unrolled into one lazy
    * plan (full k-core converges in ≤ max-degree rounds; 3 bounded
    * rounds give the standard truncated peel whose fixpoint the
    * oracle mirrors as chained CTEs). Round 1 filters on the tier's
    * denormalized degrees; each later round is two keyed window counts
    * (over cust, over supp) + one conjunctive filter, keyed on the
    * edge's own endpoints — the edge list is built ONCE, cached, and
    * only SHRINKS; no exchange ever carries more than the current
    * edge set. Output is each surviving node's side and final degree —
    * integer-exact.
    */
  private val CoreK = 5
  val g8Kcore: Q = (s, dir) => {
    // r15 restructure (guide §2.4): each peel round used to run two
    // degree AGGREGATES plus two SEMI-JOINS back onto the edge set —
    // four edge-grain exchanges per round and a cache per round so
    // the three reads of the predecessor didn't recompute lineage
    // (26 AQE stage-jobs at sf0.1). Both gates are expressible as
    // keyed WINDOW counts over the same snapshot — count over
    // hash(cust), count over hash(supp), one conjunctive filter —
    // which is TWO exchanges per round, reads the predecessor exactly
    // once (no per-round cache), and keeps the peel semantics
    // bit-identical (both degrees come from the same pre-filter
    // snapshot, exactly as the two semi-joins did). Round 1 is free:
    // the tier already denormalizes full-set degrees (cust_deg /
    // supp_deg are count-over-the-same-window at build time), so the
    // first peel is a filter on the cached tier columns with no
    // exchange at all. The DuckDB oracle keeps the HAVING+IN CTE
    // rounds, re-proving each rewrite cross-engine on every run.
    val tier = GraphStore.purchaseEdges(s, dir).registerCache()
    var edges = tier
      .filter(col("cust_deg") >= CoreK && col("supp_deg") >= CoreK)
      .select("cust", "supp")
    for (_ <- 2 to 3) {
      edges = edges
        .withColumn("cd", count(lit(1)).over(Window.partitionBy("cust")))
        .withColumn("sd", count(lit(1)).over(Window.partitionBy("supp")))
        .filter(col("cd") >= CoreK && col("sd") >= CoreK)
        .select("cust", "supp")
    }
    val e3 = edges.registerCache()
    e3.select(inline(array(
        struct(col("cust").as("node"), lit("cust").as("side")),
        struct(col("supp").as("node"), lit("supp").as("side")))))
      .groupBy("node", "side").agg(count(lit(1)).as("degree"))
  }

  val g8KcoreSql: String = {
    def round(prev: String, out: String) =
      s"""$out AS (
        SELECT cust, supp FROM $prev
        WHERE cust IN (SELECT cust FROM $prev GROUP BY cust HAVING count(*) >= $CoreK)
          AND supp IN (SELECT supp FROM $prev GROUP BY supp HAVING count(*) >= $CoreK))"""
    s"""WITH e0 AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey + $SuppOffset AS supp
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    ${round("e0", "e1")},
    ${round("e1", "e2")},
    ${round("e2", "e3")}
    SELECT node, side, count(*) AS degree FROM (
      SELECT cust AS node, 'cust' AS side FROM e3
      UNION ALL SELECT supp, 'supp' FROM e3)
    GROUP BY 1, 2"""
  }

  private val WalkLen = 3

  /** g9 — deterministic hash-walks: one fixed-length "random" walk per
    * node over the undirected purchase graph, where each step picks
    * the neighbor minimizing md5(start, step, neighbor). That is
    * exactly how reproducible random-walk sampling works at cluster
    * scale (node2vec/DeepWalk corpus generation, neighborhood
    * sampling for GNN training): the hash IS the seeded RNG, so any
    * executor — and the DuckDB oracle — picks the identical neighbor
    * with no shared state, no seed plumbing, and no collect.
    *
    * Scale shape: each of the 3 unrolled steps is one frontier⋈edges
    * equi-join on the current node + one min_by aggregate per walker —
    * both keyed, both map-combinable; frontier stays |nodes|-sized
    * throughout. Walk length is fixed so the whole thing is ONE lazy
    * plan over the cached undirected edge set (g1's discipline).
    */
  val g9HashWalks: Q = (s, dir) => {
    // both directions of every tier edge from ONE store read;
    // pre-partition the cached edge set on src (g1's discipline): the
    // three per-round shuffle-hash joins then reuse this one layout
    // instead of re-exchanging |edges| every step
    val edges = bothWays(GraphStore.purchaseEdges(s, dir), "cust", "supp")
      .repartition(col("src"))
      .registerCache()
    var walks = edges.select(col("src").as("walk_id")).distinct()
      .withColumn("cur", col("walk_id"))
      .withColumn("path", array(col("walk_id")))
    for (t <- 1 to WalkLen) {
      // shuffle-hash, not broadcast: the edge set is node-scale — at
      // production size it can never broadcast, and pinning the
      // strategy keeps the measured shuffle growth honest (a
      // small-SF broadcast would hide the join's true exchange)
      walks = walks.join(edges.hint("shuffle_hash"), col("cur") === col("src"))
        .groupBy("walk_id")
        .agg(expr(
          s"""min_by(named_struct('path', array_append(path, dst), 'cur', dst),
                     md5(concat(cast(walk_id as string), '#$t#', cast(dst as string))))""").as("w"))
        .select(col("walk_id"), col("w.cur").as("cur"), col("w.path").as("path"))
    }
    walks.select(col("walk_id"),
      col("path")(1).as("hop1"), col("path")(2).as("hop2"),
      col("path")(3).as("hop3"))
  }

  val g9HashWalksSql: String = {
    def step(prev: String, out: String, t: Int) =
      s"""$out AS (
        SELECT walk_id,
               arg_min(dst, md5(walk_id::VARCHAR || '#$t#' || dst::VARCHAR)) AS cur
        FROM $prev JOIN e ON $prev.cur = e.src
        GROUP BY walk_id)"""
    s"""WITH d0 AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + $SuppOffset AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM d0 UNION ALL SELECT dst, src FROM d0),
    w0 AS (SELECT DISTINCT src AS walk_id, src AS cur FROM e),
    ${step("w0", "w1", 1)},
    ${step("w1", "w2", 2)},
    ${step("w2", "w3", 3)}
    SELECT w1.walk_id, w1.cur AS hop1, w2.cur AS hop2, w3.cur AS hop3
    FROM w1 JOIN w2 ON w1.walk_id = w2.walk_id
            JOIN w3 ON w2.walk_id = w3.walk_id"""
  }

  /** g10 — 2-hop neighbor feature aggregation: the message-passing
    * layer of a GraphSAGE/GCN feature pipeline, run as a batch graph
    * op. Each node's account balance (integer cents) is mean-pooled
    * from its neighbors (hop 1), then the POOLED values are pooled
    * again (hop 2) — so h2 summarizes the 2-hop neighborhood without
    * ever materializing 2-hop pairs (the |edges|² trap; message
    * passing is why GNN systems never enumerate k-hop neighborhoods).
    * This is node FEATURE engineering — the g-family's stats (g6),
    * ranks (g1/g5) and link scores (g7) feed dashboards; these
    * columns feed a model.
    *
    * Determinism: means are integer floor-divisions of exact cent
    * sums; hop-2 re-pools hop-1's already-floored values, so both
    * engines chain the identical quantization.
    *
    * Scale shape: g1's discipline exactly — one cached edge set
    * (both directions generated from one store read) pre-partitioned
    * on src, each hop = one edges⋈features equi-join
    * + one map-combined mean per dst; 2 unrolled hops, one lazy plan.
    */
  val g10SageFeatures: Q = (s, dir) => {
    val edges = bothWays(GraphStore.purchaseEdges(s, dir), "cust", "supp")
      .repartition(col("src"))
      .registerCache()
    val feats = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("node"),
        expr("cast(round(c_acctbal * 100) as bigint)").as("f"))
      .union(Tables.load(s, dir, "supplier")
        .select((col("s_suppkey") + SuppOffset).as("node"),
          expr("cast(round(s_acctbal * 100) as bigint)").as("f")))
    def pool(h: DataFrame): DataFrame =
      edges.hint("shuffle_hash").join(h, col("src") === col("node"))
        .groupBy(col("dst"))
        // floor-mean via positive-dividend offset: Spark's `div`
        // truncates toward zero, DuckDB's `//` floors — they disagree
        // on negative sums (acctbal can be negative). Adding K per
        // neighbor makes the dividend positive, where truncation ==
        // floor in BOTH engines, then K subtracts back out exactly.
        .agg(expr("(cast(sum(f) as bigint) + 10000000 * count(1)) div count(1) - 10000000").as("f"))
        .select(col("dst").as("node"), col("f"))
    val h1 = pool(feats)
    val h2 = pool(h1)
    feats.join(h1.select(col("node"), col("f").as("h1")), Seq("node"))
      .join(h2.select(col("node"), col("f").as("h2")), Seq("node"))
      .select(col("node"), col("f").as("feat_cents"),
        col("h1").as("h1_cents"), col("h2").as("h2_cents"))
  }

  val g10SageFeaturesSql: String = s"""
    WITH d0 AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey + $SuppOffset AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM d0 UNION ALL SELECT dst, src FROM d0),
    f0 AS (
      SELECT c_custkey AS node, CAST(round(c_acctbal * 100) AS BIGINT) AS f
      FROM customer
      UNION ALL
      SELECT s_suppkey + $SuppOffset, CAST(round(s_acctbal * 100) AS BIGINT)
      FROM supplier),
    h1 AS (
      SELECT dst AS node,
             (CAST(SUM(f) AS BIGINT) + 10000000 * count(*)) // count(*)
               - 10000000 AS f
      FROM e JOIN f0 ON e.src = f0.node GROUP BY dst),
    h2 AS (
      SELECT dst AS node,
             (CAST(SUM(f) AS BIGINT) + 10000000 * count(*)) // count(*)
               - 10000000 AS f
      FROM e JOIN h1 ON e.src = h1.node GROUP BY dst)
    SELECT f0.node, f0.f AS feat_cents, h1.f AS h1_cents, h2.f AS h2_cents
    FROM f0 JOIN h1 USING (node) JOIN h2 USING (node)"""

  // =========================================================================
  // g11 — modularity of the g4 communities
  // =========================================================================

  /** Newman modularity audit of g4's label-propagation communities:
    * per community, Q_c = e_c/m − (d_c/2m)² in integer micros — the
    * number that says whether the partition found real structure
    * (ΣQ_c ≫ 0) or noise (≈ 0). Community detection without a
    * modularity readout is unfalsifiable; this is the quality gate
    * for g4 exactly as s8/d18 are for the ANN/MinHash families.
    *
    * Determinism: e_c, d_c, m are exact counts; each division runs on
    * NON-NEGATIVE int64 (so floor = truncate, no cross-engine
    * divergence) and the subtraction happens after both divisions.
    * Bound: d_c ≤ 2m so d_c²·10⁶ ≤ 4m²·10⁶ — int64-safe to m ≈ 10⁶
    * edges at micro precision (the supplier graph is |suppliers|·3
    * edges by construction, far under).
    *
    * Scale shape: the edge set and labels come from g4's machinery
    * (one shared-parts self-join bounded by parts-per-supplier, the
    * cached edge frame); on top, two node-keyed equi-joins attach
    * community labels to edge endpoints, one union-degree aggregate,
    * and everything lands on the |communities| grain. m is a one-row
    * broadcast scalar (q39's shape).
    */
  val g11Modularity: Q = (s, dir) => {
    val (und, labels0) = g4Community(s, dir)  // und arrives cached
    // labels feed THREE consumers (both endpoint joins + dsum): cached,
    // or the 2-round propagation over the wedge edges replays 3×
    // (measured: 3.4s → 1.6s best-of-3 at sf0.1)
    val labels = labels0.registerCache()
    val m = und.agg(count(lit(1)).as("m"))
    val ein = und
      .join(labels.select(col("node").as("eu"), col("label").as("cu")), "eu")
      .join(labels.select(col("node").as("ev"), col("label").as("cv")), "ev")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = und.select(explode(array(col("eu"), col("ev"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val dsum = labels.join(deg, "node")
      .groupBy(col("label").as("community"))
      .agg(sum("deg").as("d_sum"), count(lit(1)).as("n_nodes"))
    // left join: a community whose members keep NO internal edges
    // after propagation must still report e_in=0 (the advice-r6 rule)
    dsum.join(ein, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"),
        expr("""coalesce(e_in, 0L) * 1000000 div m
                - (d_sum * d_sum * 1000000) div (4 * m * m)""")
          .as("contrib_micro"))
  }

  val g11ModularitySql: String = s"""
    WITH $g4ChainSql,
    m AS (SELECT count(*) AS m FROM und),
    deg AS (
      SELECT node, count(*) AS deg
      FROM (SELECT eu AS node FROM und UNION ALL SELECT ev FROM und)
      GROUP BY node),
    ein AS (
      SELECT la.label AS community, count(*) AS e_in
      FROM und JOIN l2 la ON und.eu = la.node
               JOIN l2 lb ON und.ev = lb.node
      WHERE la.label = lb.label GROUP BY 1),
    dsum AS (
      SELECT l2.label AS community, CAST(sum(deg) AS BIGINT) AS d_sum,
             count(*) AS n_nodes
      FROM l2 JOIN deg ON l2.node = deg.node GROUP BY 1)
    SELECT community, n_nodes, coalesce(e_in, 0) AS e_in, d_sum,
           coalesce(e_in, 0) * 1000000 // m
             - (d_sum * d_sum * 1000000) // (4 * m * m) AS contrib_micro
    FROM dsum LEFT JOIN ein USING (community) CROSS JOIN m"""

  val queries: Map[String, Q] = Map(
    "g11_modularity" -> g11Modularity,
    "g10_sage_features" -> g10SageFeatures,
    "g9_hash_walks" -> g9HashWalks,
    "g8_kcore" -> g8Kcore,
    "g7_link_predict" -> g7LinkPredict,
    "g6_degree_stats" -> g6DegreeStats,
    "g5_hits" -> g5Hits,
    "g4_label_prop" -> g4LabelProp,
    "g1_pagerank" -> g1Pagerank,
    "g2_triangles" -> g2Triangles,
    "g3_bfs_hops" -> g3BfsHops)
  val oracleSql: Map[String, String] = Map(
    "g11_modularity" -> g11ModularitySql,
    "g10_sage_features" -> g10SageFeaturesSql,
    "g9_hash_walks" -> g9HashWalksSql,
    "g8_kcore" -> g8KcoreSql,
    "g7_link_predict" -> g7LinkPredictSql,
    "g6_degree_stats" -> g6DegreeStatsSql,
    "g5_hits" -> g5HitsSql,
    "g4_label_prop" -> g4LabelPropSql,
    "g1_pagerank" -> g1PagerankSql,
    "g2_triangles" -> g2TrianglesSql,
    "g3_bfs_hops" -> g3BfsHopsSql)
}
