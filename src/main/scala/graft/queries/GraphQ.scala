package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Scope, Tables}
import graft.graph.{Centrality, Community, GraphOps}
import QHelp._

/** Graph-analytics catalog entries over the nation trade graph: nations
  * are vertices; an undirected edge connects two nations whose mutual
  * trade volume (lineitems between a customer of one and a supplier of
  * the other, either direction) is ≥ 1.2× the mean pair volume. The
  * threshold is RELATIVE, so the graph stays non-trivial at every scale
  * factor (the raw nation-pair matrix is complete).
  *
  * Reference: `finds/recipes/graph.py:185-287` nodes_centrality /
  * community_quality; BFS closeness and compact-forward triangles are the
  * distributed forms ([[graft.graph.Centrality]]).
  */
object GraphQ {

  /** Directed customer→supplier edge list for `g_hits` — shared with
    * PlanAudit's `g_hits__round_body` audit-only row. shuffle_hash on the
    * orders side: SMJ would sort all of lineitem just to build the edge
    * list that hitsCounts immediately re-shuffles by dst; hashing the
    * ~4x-smaller orders projection per partition skips both sort passes
    * at any scale.
    */
  def hitsEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))

  /** Canonical (a < b) thresholded nation trade edges. */
  def nationGraph(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
    // threshold via an empty-frame window so the 4-table aggregate `t`
    // appears ONCE in the plan (a crossJoin(t.agg) duplicates the whole
    // join subtree — 2x scan + 2x codegen); the window is a single
    // partition of ~600 pair rows. Persisted: the graph queries run
    // several actions (BFS levels, modularity aggregates) over this.
    import org.apache.spark.sql.expressions.Window
    Scope.persist(t.withColumn("__thr", avg("w").over(Window.partitionBy(lit(1))) * 1.2)
      .where(col("w") >= col("__thr"))
      .select(col("a").as("src"), col("b").as("dst")))
  }

  // MATERIALIZED: the oracles reference und/nodes many times (unrolled
  // walk CTEs, recursive BFS); DuckDB would otherwise inline the whole
  // 4-table join per reference — the g_betweenness sigma^3 join made the
  // fully-inlined plan blow up the optimizer (observed: >30 GB, stuck).
  private val edgeSql = """
      t AS MATERIALIZED (SELECT least(c_nationkey, s_nationkey) a, greatest(c_nationkey, s_nationkey) b, count(*) w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE c_nationkey <> s_nationkey GROUP BY 1, 2),
      e AS MATERIALIZED (SELECT a, b FROM t CROSS JOIN (SELECT avg(w) * 1.2 AS thr FROM t) WHERE w >= thr),
      und AS MATERIALIZED (SELECT a s, b d FROM e UNION ALL SELECT b, a FROM e),
      nodes AS MATERIALIZED (SELECT DISTINCT s AS n FROM und),
      deg AS MATERIALIZED (SELECT s AS n, count(*) AS d FROM und GROUP BY 1)"""

  val qs: Seq[Q] = Seq(

    // Per-node triangle count + local clustering coefficient
    // (nx.triangles / nx.clustering, graph.py:207-210) via degree-ordered
    // compact-forward wedge join.
    Q("g_triangles", (s, dir) => {
      Centrality.clusteringCoefficient(nationGraph(s, dir))
        .select(bi(col("node")).as("node"), bi(col("triangles")).as("triangles"),
          bi(col("degree")).as("degree"), r6(col("clustering")).as("clustering"))
    }, Some(s"""
      WITH $edgeSql,
      tri AS (
        SELECT e1.a x, e1.b y, e2.b z
        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
      ),
      pern AS (
        SELECT n, count(*) AS tc FROM (
          SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
        ) GROUP BY 1
      )
      SELECT CAST(nodes.n AS BIGINT) AS node,
             CAST(COALESCE(pern.tc, 0) AS BIGINT) AS triangles,
             CAST(deg.d AS BIGINT) AS degree,
             ROUND(CASE WHEN deg.d >= 2
               THEN COALESCE(pern.tc, 0) * 2.0 / (deg.d * (deg.d - 1))
               ELSE 0.0 END, 6) AS clustering
      FROM nodes LEFT JOIN pern ON nodes.n = pern.n JOIN deg ON nodes.n = deg.n""")),

    // Closeness centrality (nx.closeness_centrality wf_improved,
    // graph.py:228) — all-sources BFS in Spark, recursive CTE in the
    // oracle.
    Q("g_closeness", (s, dir) => {
      // the ≤ 25-node nation graph takes closeness' driver-local tier
      Centrality.closeness(nationGraph(s, dir))
        .select(bi(col("node")).as("node"), r6(col("closeness")).as("closeness"))
    }, Some(s"""
      WITH RECURSIVE $edgeSql,
      walk(src, node, dist) AS (
        SELECT n, n, 0 FROM nodes
        UNION
        SELECT w.src, und.d, w.dist + 1
        FROM walk w JOIN und ON w.node = und.s
        WHERE w.dist < 25
      ),
      sp AS MATERIALIZED (SELECT src, node, min(dist) AS dd FROM walk GROUP BY 1, 2),
      agg AS (SELECT src, count(*) AS r, sum(dd) AS sumd FROM sp GROUP BY 1)
      SELECT CAST(src AS BIGINT) AS node,
             ROUND(CASE WHEN sumd > 0
               THEN ((r - 1.0) / sumd) * ((r - 1.0) / ((SELECT count(*) FROM nodes) - 1.0))
               ELSE 0.0 END, 6) AS closeness
      FROM agg""")),

    // Eigenvector-direction estimate via EXACT walk counting
    // (nx.eigenvector_centrality graph.py:198; power method A^k·1 with
    // integer counts — cross-engine exact, unlike per-iteration float
    // normalization). score = walks / max(walks).
    Q("g_eigen", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Centrality.walkCounts(nationGraph(s, dir), iters = 6)
        .withColumn("__mx", max("w").over(Window.partitionBy(lit(1))))
        .select(bi(col("node")).as("node"), bi(col("w")).as("walks"),
          r6(col("w").cast("double") / col("__mx")).as("score"))
    }, Some(s"""
      WITH $edgeSql,
      v0 AS (SELECT n AS node, CAST(1 AS BIGINT) AS w FROM nodes),
      v1 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v0 ON und.d = v0.node GROUP BY 1),
      v2 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v1 ON und.d = v1.node GROUP BY 1),
      v3 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v2 ON und.d = v2.node GROUP BY 1),
      v4 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v3 ON und.d = v3.node GROUP BY 1),
      v5 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v4 ON und.d = v4.node GROUP BY 1),
      v6 AS (SELECT und.s AS node, SUM(w) AS w FROM und JOIN v5 ON und.d = v5.node GROUP BY 1)
      SELECT CAST(node AS BIGINT) AS node, CAST(w AS BIGINT) AS walks,
             ROUND(CAST(w AS DOUBLE) / MAX(w) OVER (), 6) AS score
      FROM v6""")),

    // HITS hub/authority via EXACT path counting on the directed
    // customer→supplier graph (nx.hits graph.py:201; same integer-exact
    // trick as g_eigen — the normalized float hits() is spec-only).
    Q("g_hits", (s, dir) => {
      Centrality.hitsCounts(hitsEdges(s, dir), iters = 3)
        .select(bi(col("node")).as("node"),
          bi(col("hub_walks")).as("hub_walks"),
          bi(col("auth_walks")).as("auth_walks"))
    }, Some("""
      WITH e AS (SELECT DISTINCT o_custkey AS s, l_suppkey AS d
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      n AS (SELECT s AS node FROM e UNION SELECT d FROM e),
      a0 AS (SELECT node, CAST(1 AS BIGINT) AS a FROM n),
      h1 AS (SELECT n.node, COALESCE(SUM(a0.a), 0) AS h
             FROM n LEFT JOIN e ON e.s = n.node LEFT JOIN a0 ON a0.node = e.d GROUP BY 1),
      a1 AS (SELECT n.node, COALESCE(SUM(h1.h), 0) AS a
             FROM n LEFT JOIN e ON e.d = n.node LEFT JOIN h1 ON h1.node = e.s GROUP BY 1),
      h2 AS (SELECT n.node, COALESCE(SUM(a1.a), 0) AS h
             FROM n LEFT JOIN e ON e.s = n.node LEFT JOIN a1 ON a1.node = e.d GROUP BY 1),
      a2 AS (SELECT n.node, COALESCE(SUM(h2.h), 0) AS a
             FROM n LEFT JOIN e ON e.d = n.node LEFT JOIN h2 ON h2.node = e.s GROUP BY 1),
      h3 AS (SELECT n.node, COALESCE(SUM(a2.a), 0) AS h
             FROM n LEFT JOIN e ON e.s = n.node LEFT JOIN a2 ON a2.node = e.d GROUP BY 1),
      a3 AS (SELECT n.node, COALESCE(SUM(h3.h), 0) AS a
             FROM n LEFT JOIN e ON e.d = n.node LEFT JOIN h3 ON h3.node = e.s GROUP BY 1)
      SELECT CAST(n.node AS BIGINT) AS node,
             CAST(h3.h AS BIGINT) AS hub_walks,
             CAST(a3.a AS BIGINT) AS auth_walks
      FROM n JOIN h3 ON h3.node = n.node JOIN a3 ON a3.node = n.node""")),

    // Betweenness centrality (nx.betweenness_centrality, graph.py:229) —
    // level-synchronous Brandes in Spark; the oracle counts shortest
    // paths EXACTLY via unrolled walk CTEs (σ_st = walks of length
    // dist(s,t)) and sums pair dependencies σ_sx·σ_xt/σ_st directly.
    // Integer path counts are cross-engine exact; only the final ratio
    // sum is float (round 6 both sides, like the Brandes deltas).
    Q("g_betweenness", (s, dir) => {
      // local Brandes tier — see g_ecc
      Centrality.betweenness(nationGraph(s, dir), normalized = true)
        .select(bi(col("node")).as("node"), r6(col("betweenness")).as("betweenness"))
    }, Some(s"""
      WITH $edgeSql,
      w0 AS (SELECT n AS s, n AS v, CAST(1 AS BIGINT) AS c FROM nodes),
      w1 AS (SELECT w0.s, und.d AS v, SUM(c) AS c FROM w0 JOIN und ON w0.v = und.s GROUP BY 1, 2),
      w2 AS (SELECT w1.s, und.d AS v, SUM(c) AS c FROM w1 JOIN und ON w1.v = und.s GROUP BY 1, 2),
      w3 AS (SELECT w2.s, und.d AS v, SUM(c) AS c FROM w2 JOIN und ON w2.v = und.s GROUP BY 1, 2),
      w4 AS (SELECT w3.s, und.d AS v, SUM(c) AS c FROM w3 JOIN und ON w3.v = und.s GROUP BY 1, 2),
      w5 AS (SELECT w4.s, und.d AS v, SUM(c) AS c FROM w4 JOIN und ON w4.v = und.s GROUP BY 1, 2),
      w6 AS (SELECT w5.s, und.d AS v, SUM(c) AS c FROM w5 JOIN und ON w5.v = und.s GROUP BY 1, 2),
      w7 AS (SELECT w6.s, und.d AS v, SUM(c) AS c FROM w6 JOIN und ON w6.v = und.s GROUP BY 1, 2),
      w8 AS (SELECT w7.s, und.d AS v, SUM(c) AS c FROM w7 JOIN und ON w7.v = und.s GROUP BY 1, 2),
      allw AS MATERIALIZED (
        SELECT s, v, 0 AS l, c FROM w0 UNION ALL SELECT s, v, 1, c FROM w1
        UNION ALL SELECT s, v, 2, c FROM w2 UNION ALL SELECT s, v, 3, c FROM w3
        UNION ALL SELECT s, v, 4, c FROM w4 UNION ALL SELECT s, v, 5, c FROM w5
        UNION ALL SELECT s, v, 6, c FROM w6 UNION ALL SELECT s, v, 7, c FROM w7
        UNION ALL SELECT s, v, 8, c FROM w8
      ),
      sp AS MATERIALIZED (SELECT s, v, min(l) AS d FROM allw GROUP BY 1, 2),
      -- unroll-depth guard: a shortest path AT the depth-8 bound means the
      -- graph's diameter may exceed the unroll (distances are contiguous,
      -- so a missed 9-pair implies an 8-pair exists) — fail loudly instead
      -- of hash-mismatching (g_ecc unrolls to 25 for the same graph)
      chk AS (SELECT CASE WHEN (SELECT max(d) FROM sp) >= 8
                THEN error('g_betweenness oracle: walk CTE unroll depth 8 reached - extend the w-CTEs')
                ELSE 1 END AS ok),
      sigma AS MATERIALIZED (
        SELECT sp.s, sp.v, sp.d, allw.c AS sig
        FROM sp JOIN allw ON allw.s = sp.s AND allw.v = sp.v AND allw.l = sp.d
      ),
      bt AS (
        SELECT sx.v AS node, SUM(CAST(sx.sig AS DOUBLE) * xt.sig / st.sig) AS b
        FROM sigma st
        JOIN sigma sx ON sx.s = st.s AND sx.v <> st.s AND sx.v <> st.v
        JOIN sigma xt ON xt.s = sx.v AND xt.v = st.v
        WHERE st.s <> st.v AND sx.d + xt.d = st.d
        GROUP BY 1
      )
      SELECT CAST(nodes.n AS BIGINT) AS node,
             ROUND(COALESCE(bt.b, 0) / ((cnt.cn - 1.0) * (cnt.cn - 2.0)), 6) AS betweenness
      FROM nodes LEFT JOIN bt ON nodes.n = bt.node
      CROSS JOIN (SELECT count(*) AS cn FROM nodes) cnt
      CROSS JOIN chk WHERE chk.ok = 1""")),

    // Community quality of the region partition (nx_comm.modularity +
    // partition_quality, graph.py:271-287): one row of
    // (communities, modularity, coverage, performance).
    Q("g_community", (s, dir) => {
      val edges = nationGraph(s, dir)
      val nodes = Centrality.symmetrize(edges).select(col("src").as("node")).distinct()
      val comm = nodes.join(Tables.nation(s, dir)
          .select(col("n_nationkey").as("node"), col("n_regionkey").as("community")),
        "node")
      Community.qualitySummary(edges, comm)
        .select(bi(col("communities")).as("communities"),
          r6(col("modularity")).as("modularity"),
          r6(col("coverage")).as("coverage"),
          r6(col("performance")).as("performance"))
    }, Some(s"""
      WITH $edgeSql,
      nc AS (SELECT nodes.n, n_regionkey r FROM nodes JOIN nation ON nodes.n = n_nationkey),
      m AS (SELECT count(*) AS m FROM e),
      intra AS (SELECT x.r, count(*) AS L
                FROM e JOIN nc x ON e.a = x.n JOIN nc y ON e.b = y.n
                WHERE x.r = y.r GROUP BY 1),
      dc AS (SELECT nc.r, sum(deg.d) AS dsum FROM nc JOIN deg ON nc.n = deg.n GROUP BY 1),
      qc AS (SELECT dc.r,
               COALESCE(intra.L, 0) / CAST(m.m AS DOUBLE)
                 - (dc.dsum / (2.0 * m.m)) * (dc.dsum / (2.0 * m.m)) AS term
             FROM dc LEFT JOIN intra ON dc.r = intra.r CROSS JOIN m),
      sizes AS (SELECT r, count(*) AS nr FROM nc GROUP BY 1),
      stats AS (
        SELECT (SELECT count(*) FROM nc) AS n,
               (SELECT m FROM m) AS m,
               (SELECT sum(COALESCE(L, 0)) FROM intra) AS intra_e,
               (SELECT sum(nr * (nr - 1) / 2.0) FROM sizes) AS intra_pairs
      )
      SELECT CAST((SELECT count(DISTINCT r) FROM nc) AS BIGINT) AS communities,
             ROUND((SELECT sum(term) FROM qc), 6) AS modularity,
             ROUND(intra_e / CAST(m AS DOUBLE), 6) AS coverage,
             ROUND((intra_e + ((n * (n - 1) / 2.0 - intra_pairs) - (m - intra_e)))
                 / (n * (n - 1) / 2.0), 6) AS performance
      FROM stats""")),

    // Eccentricity per node (nx.eccentricity, graph.py:230) — longest
    // shortest path within the component; same all-sources BFS as
    // closeness, max instead of sum.
    Q("g_ecc", (s, dir) => {
      // the aggregated nation graph is ≤ 25 nodes — the driver-local
      // BFS tier (same values, spec'd equal to the distributed tier)
      // skips ~2 Spark jobs per BFS level
      Centrality.eccentricity(nationGraph(s, dir))
        .select(bi(col("node")).as("node"), bi(col("eccentricity")).as("eccentricity"))
    }, Some(s"""
      WITH RECURSIVE $edgeSql,
      walk(src, node, dist) AS (
        SELECT n, n, 0 FROM nodes
        UNION
        SELECT w.src, und.d, w.dist + 1
        FROM walk w JOIN und ON w.node = und.s
        WHERE w.dist < 25
      ),
      sp AS MATERIALIZED (SELECT src, node, min(dist) AS dd FROM walk GROUP BY 1, 2)
      SELECT CAST(src AS BIGINT) AS node, CAST(max(dd) AS BIGINT) AS eccentricity
      FROM sp GROUP BY 1""")),

    // Connected components (nx.connected_components, graph_info
    // graph.py:73-76) — min-label propagation in Spark, recursive
    // reachability CTE in the oracle.
    Q("g_components", (s, dir) => {
      // local union-find tier — see g_ecc
      GraphOps.connectedComponents(nationGraph(s, dir))
        .select(bi(col("node")).as("node"), bi(col("component")).as("component"))
    }, Some(s"""
      WITH RECURSIVE $edgeSql,
      reach(node, r) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT und.d, reach.r FROM reach JOIN und ON reach.node = und.s
      )
      SELECT CAST(node AS BIGINT) AS node, CAST(min(r) AS BIGINT) AS component
      FROM reach GROUP BY 1""")),

    // Whole-graph one-row summary (graph_info graph.py:30-86): counts,
    // density, transitivity, average clustering, components.
    Q("g_info", (s, dir) => {
      GraphOps.graphInfo(nationGraph(s, dir))
        .select(bi(col("nodes")).as("nodes"), bi(col("edges")).as("edges"),
          r6(col("density")).as("density"),
          r6(col("transitivity")).as("transitivity"),
          r6(col("avg_clustering")).as("avg_clustering"),
          bi(col("components")).as("components"),
          bi(col("largest_component")).as("largest_component"))
    }, Some(s"""
      WITH RECURSIVE $edgeSql,
      tri AS (
        SELECT e1.a x, e1.b y, e2.b z
        FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
      ),
      pern AS (
        SELECT n, count(*) AS tc FROM (
          SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
        ) GROUP BY 1
      ),
      clus AS (
        SELECT nodes.n, deg.d AS d, COALESCE(pern.tc, 0) AS tc,
               CASE WHEN deg.d >= 2
                 THEN COALESCE(pern.tc, 0) * 2.0 / (deg.d * (deg.d - 1))
                 ELSE 0.0 END AS c
        FROM nodes LEFT JOIN pern ON nodes.n = pern.n JOIN deg ON nodes.n = deg.n
      ),
      reach(node, r) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT und.d, reach.r FROM reach JOIN und ON reach.node = und.s
      ),
      comp AS (SELECT node, min(r) AS component FROM reach GROUP BY 1),
      csz AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
      compagg AS (SELECT count(*) AS components, max(sz) AS largest FROM csz),
      agg AS (SELECT count(*) AS nodes, sum(tc) / 3 AS tri3,
                     sum(d * (d - 1) / 2.0) AS wedges, avg(c) AS avgc FROM clus),
      m AS (SELECT count(*) AS edges FROM e)
      SELECT CAST(nodes AS BIGINT) AS nodes, CAST(edges AS BIGINT) AS edges,
             ROUND(edges * 2.0 / (nodes * (nodes - 1.0)), 6) AS density,
             ROUND(CASE WHEN wedges > 0 THEN tri3 * 3.0 / wedges ELSE 0.0 END, 6) AS transitivity,
             ROUND(avgc, 6) AS avg_clustering,
             CAST(components AS BIGINT) AS components,
             CAST(largest AS BIGINT) AS largest_component
      FROM agg CROSS JOIN m CROSS JOIN compagg"""))
  )
}
