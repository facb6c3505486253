package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Scope

/** Graph analytics as declarative DataFrame plans (SURVEY.md §2.9;
  * reference: `finds/recipes/graph.py:185-317` on networkx).
  *
  * The graph is an edge DataFrame (src, dst). Degree/centrality and the
  * neighborhood-overlap link-prediction scores (common neighbors,
  * Jaccard, Adamic-Adar, preferential attachment, resource allocation)
  * are joins + aggregations — fully distributed, no vertex program
  * needed. PageRank is iterated DataFrame joins ([[pageRank]]).
  */
object GraphOps {

  /** Node degrees of an undirected edge list (edges deduped by caller). */
  def degrees(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame =
    // ONE pass over the edge list: explode each edge to its two
    // endpoints. The former unionAll(select(src), select(dst)) planned
    // the ENTIRE upstream of `edges` twice — for g_degree that was two
    // scans + two joins + two distinct aggregations (AQE's stage cache
    // reuses the map side at runtime, but each union branch still ran
    // its own reduce-side dedup and final aggregate). Same multiset of
    // nodes (explode keeps null endpoints as null rows, exactly like
    // the union did), so the degree counts are identical.
    edges.select(explode(array(col(src), col(dst))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** Link-prediction scores for node pairs (a < b) on one side of a
    * bipartite edge list sharing neighbors on the other side:
    * common-neighbor count, Jaccard, Adamic-Adar, preferential
    * attachment (graph.py:295-317).
    *
    * Duplicate (node, neighbor) rows are tolerated — both the degree agg
    * (count_distinct) and the adjacency set dedup inside their own
    * aggregation, so callers need NOT pre-`distinct()` the edge list
    * (that's a whole extra shuffle + materialization of the raw edges).
    *
    * A shared neighbor of degree d emits d² pair rows, so one hub
    * neighbor dominates the join at scale; `maxNeighborDegree` drops
    * hub neighbors from pair generation (node degrees for Jaccard /
    * pref-attach stay full). The per-neighbor adjacency list is built in
    * ONE shuffle with [[graft.functions.AggF.cappedSortedSet]] — the
    * guard is enforced INSIDE the aggregation (a hub group stops
    * accumulating and yields NULL the moment it crosses the cap, on the
    * map side too), replacing the former distinct + degree-count + join
    * + collect four-shuffle pipeline with identical semantics.
    */
  def linkPrediction(edges0: DataFrame, node: String, neighbor: String,
                     maxNeighborDegree: Int = Int.MaxValue): DataFrame = {
    // two consumers (node degrees, pair generation) scan the edge list.
    // Deliberately NOT persisted: profiled at sf0.1, the InMemoryRelation
    // build + columnar re-scan cost ~4.7 s while the saved re-scan of a
    // codegen'd broadcast-join upstream is ~1 s. Callers with a genuinely
    // expensive upstream can persist before calling.
    val edges = edges0
    // deg (one row per node) backs TWO broadcast joins (deg_a, deg_b);
    // persisting the tiny aggregate stops the second broadcast from
    // re-running the full edge scan + distinct-count shuffle
    val deg = Scope.persist(edges.groupBy(col(node).as("n"))
      .agg(count_distinct(col(neighbor)).as("deg")))
    // one groupBy builds the sorted adjacency list per shared neighbor; a
    // native generator then emits its d(d−1)/2 pairs — no self-join. The
    // per-neighbor weights (1/log d, 1/d) come from size(ns) = the true
    // neighbor degree (kept groups never overflowed). nbdeg == 1
    // neighbors can't form a pair — dropped before the weight arithmetic
    // (also keeps 1/log(1) out of the plan).
    val cappable = edges.schema(node).dataType match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val adj =
      if (cappable)
        edges.groupBy(col(neighbor).as("nb"))
          .agg(graft.functions.AggF.cappedSortedSet(col(node), maxNeighborDegree).as("ns"))
          .where(col("ns").isNotNull)
      else // non-int ids: plain collect_set, guard applied after the fact
        edges.groupBy(col(neighbor).as("nb"))
          .agg(sort_array(collect_set(col(node))).as("ns"))
          .where(size(col("ns")) <= maxNeighborDegree)
    // AQE sizes reducer coalescing on PRE-explode bytes: the adjacency
    // is ~|N| compact array rows (a few MB at sf0.1), so the
    // pair-generation stage — explode to Σ d²/2 rows + partial pair
    // aggregation — was coalesced to 2 tasks and ran 1.6 s of the
    // query's 2.6 s on two cores (stage trace, round 7). An
    // explicit round-robin repartition to the session's shuffle
    // parallelism pins the explode's input width: the extra exchange
    // moves only the compact array rows, and the d²/2-row explosion
    // runs at full width. At cluster scale the adjacency is large
    // enough that AQE keeps the width anyway; the repartition then
    // only rebalances the array rows across that same width.
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val byNbr = adj.where(size(col("ns")) > 1)
      .select(col("ns"),
        (lit(1.0) / log(size(col("ns")).cast("double"))).as("w_aa"),
        (lit(1.0) / size(col("ns")).cast("double")).as("w_ra"))
      .repartition(parts)
    // int node ids take the PACKED pair path: each pair is one primitive
    // long (a<<32)|b — the explode emits primitive longs (no per-pair row
    // allocation) and the d²/2-row aggregation runs on a single primitive
    // key. Wider id types keep the struct-pair kernel.
    val intIds = byNbr.schema("ns").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }
    val shared = if (intIds) {
      byNbr
        .select(explode(graft.functions.HashF.packedPairs(col("ns"))).as("pk"),
          col("w_aa"), col("w_ra"))
        .groupBy("pk")
        .agg(count(lit(1)).as("common"),
          sum(col("w_aa")).as("adamic_adar"),
          sum(col("w_ra")).as("resource_alloc"))
        .select(shiftrightunsigned(col("pk"), 32).cast("int").as("n_a"),
          col("pk").bitwiseAND(lit(0xffffffffL)).cast("int").as("n_b"),
          col("common"), col("adamic_adar"), col("resource_alloc"))
    } else byNbr
      .select(explode(graft.functions.HashF.sortedPairs(col("ns"))).as("p"),
        col("w_aa"), col("w_ra"))
      .groupBy(col("p.a").as("n_a"), col("p.b").as("n_b"))
      .agg(count(lit(1)).as("common"),
        sum(col("w_aa")).as("adamic_adar"),
        sum(col("w_ra")).as("resource_alloc"))
    // The deg joins are left UNHINTED on purpose: AQE converts both to
    // BroadcastHashJoin at runtime (verified on the executed adaptive
    // plan — the static audit's 2 SMJs never actually run), so the
    // Σd²/2-row `shared` frame is not shuffled for the degree lookups.
    // A static broadcast() needs a size guard, and the deg.count() that
    // sizes it serializes the deg build ahead of the main job (measured
    // ~1 s slower end-to-end at sf0.1); AQE makes the same call from
    // accurate runtime sizes for free, and on a graph whose |N|-row deg
    // frame outgrows the broadcast threshold it falls back to a shuffled
    // join — the correct shape — again without a hand-rolled probe.
    shared
      .join(deg.select(col("n").as("n_a"), col("deg").as("deg_a")), "n_a")
      .join(deg.select(col("n").as("n_b"), col("deg").as("deg_b")), "n_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("deg_a") + col("deg_b") - col("common")))
      .withColumn("pref_attach", col("deg_a") * col("deg_b"))
  }

  /** Connected components of an undirected graph by iterated min-label
    * propagation: every node repeatedly adopts the smallest component id
    * in its closed neighborhood until a fixed point (≤ component-diameter
    * + 1 rounds; labels only fall, so it always ends). Both tiers run to
    * convergence, so they return the same labels on any graph.
    * Deterministic; returns (node, component) with component = the
    * smallest node id in the component.
    *
    * Each round is one join + one aggregation; the iterate is eagerly
    * localCheckpoint'ed (referenced twice: by the neighbor-min join and
    * the convergence anti-check — un-materialized it doubles lineage per
    * round). Graphs within `maxLocalEdges` take the driver-local
    * union-find of [[components]] instead (see
    * [[Centrality.localOrDistributed]]): the min-label iteration costs
    * ~2 Spark jobs per diameter step — pure scheduler overhead at 25
    * nodes.
    */
  def connectedComponents(edges: DataFrame, maxLocalEdges: Long = 200000L): DataFrame =
    Centrality.localOrDistributed(edges, maxLocalEdges, "node", "component") { es =>
      edges.sparkSession.createDataFrame(components(es).toSeq).toDF("node", "component")
    } {
      // the label frame is re-joined to the edges every round, so which
      // side moves depends on |V| — see [[Centrality.tieredByKey]]. The
      // edge cache stays with the caller's scope: graphInfo's later
      // symmetrize(edges) reads it
      val (und, hinted) = Centrality.tieredByKey(Centrality.symmetrize(edges), "dst")
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")).localCheckpoint()
      var changed = true
      while (changed) {
        val next = ccRound(und, labels, hinted).localCheckpoint()
        changed = !next.as("a").join(hinted(labels.as("b")), "node")
          .where(col("a.component") =!= col("b.component")).isEmpty
        labels = next
      }
      labels
    }

  /** One min-label round of [[connectedComponents]]: every node adopts
    * the smallest label among itself and its neighbors in `und` (the
    * symmetrized edges). `hinted` is the tier's join-side hint.
    */
  private[graft] def ccRound(und: DataFrame, labels: DataFrame,
                             hinted: DataFrame => DataFrame): DataFrame = {
    val nbrMin = und.join(hinted(labels), und("dst") === labels("node"))
      .groupBy(und("src").as("node")).agg(min("component").as("__nc"))
    labels.join(hinted(nbrMin), Seq("node"), "left")
      .select(col("node"),
        least(col("component"), coalesce(col("__nc"), col("component"))).as("component"))
  }

  /** Union-find over a collected edge array with path compression:
    * (node, component) for every node of `es`, the MIN root id winning
    * each union (matching the distributed min-label propagation) — the
    * local tier of [[connectedComponents]], [[graphInfo]] and
    * [[graft.text.NearDup.dupGroups]].
    */
  private[graft] def components(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap[Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min id wins
    }
    es.map(_._1).distinct.map(n => (n, find(n)))
  }

  /** One-row whole-graph summary (graph.py:30-86 `graph_info`, undirected
    * unweighted form): node/edge counts, density, transitivity
    * (3·triangles / wedges), average clustering coefficient, connected
    * components count + the largest component's size.
    *
    * Everything except the component iteration is ONE lazy plan; the
    * component frame comes from [[connectedComponents]] (inherently
    * iterative) and joins in as a small aggregate. Graphs within
    * `maxLocalEdges` take the driver-local [[summary]] instead (see
    * [[Centrality.localOrDistributed]]).
    */
  def graphInfo(edges: DataFrame, maxLocalEdges: Long = 200000L): DataFrame =
    Centrality.localOrDistributed(edges, maxLocalEdges)(summary(edges.sparkSession, _)) {
      val cc = Centrality.clusteringCoefficient(edges)
      val compFrame = connectedComponents(edges, maxLocalEdges = 0)
      val comp = compFrame
        .groupBy("component").agg(count(lit(1)).as("csz"))
        .agg(count(lit(1)).as("components"), max("csz").as("largest_component"))
      val und = Centrality.symmetrize(edges)
      val base = cc.agg(
        count(lit(1)).as("nodes"),
        (sum(col("triangles")) / 3).cast("long").as("triangles"),
        sum(col("degree") * (col("degree") - 1) / 2).as("wedges"),
        avg(col("clustering")).as("avg_clustering"))
      val m = und.agg((count(lit(1)) / 2).cast("long").as("edges"))
      base.crossJoin(m).crossJoin(comp).select(
        col("nodes"), col("edges"),
        // nodes ≥ 2 guard: an empty graph's 0·(0−1) divisor is a hard
        // DIVIDE_BY_ZERO under ANSI mode (Spark 4 default), not a null
        when(col("nodes") >= 2,
          col("edges") * 2.0 / (col("nodes") * (col("nodes") - 1))).as("density"),
        when(col("wedges") > 0, col("triangles") * 3.0 / col("wedges"))
          .otherwise(0.0).as("transitivity"),
        col("avg_clustering"),
        col("components"), col("largest_component"))
    }

  /** The local tier of [[graphInfo]]: the whole 1-row summary in one
    * pass over the collected symmetrized edges. The distributed form
    * runs ~4 independent job chains (triangle joins, edge count,
    * component agg, final crossJoins) whose scheduler overhead dwarfs a
    * tiny graph (g_info measured 1.16 s on the 5-node sf0.1 nation
    * graph; this path ~0.15 s). GraphInfoSpec pins equality with the
    * distributed tier on random graphs.
    *
    * Arithmetic mirrors the distributed/oracle form operation-for-
    * operation: triangles = Σ per-node / 3 in integers, wedges =
    * Σ d(d−1)/2 (exact integer values in double), transitivity =
    * triangles·3/wedges, avg clustering summed in ascending node order
    * (ulp-level order sensitivity is absorbed by the catalog's round-6
    * projection, same as the distributed sum's partition order).
    */
  private def summary(spark: SparkSession, es: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val schema = Seq("nodes", "edges", "density", "transitivity",
      "avg_clustering", "components", "largest_component")
    // empty graph: the distributed tier's global aggregates over zero
    // rows yield (0, 0, null density — via its nodes≥2 guard — and
    // transitivity 0.0 via the wedges>0 guard, null avg, 0 components,
    // null max); mirror that row instead of letting empty.max throw
    if (es.isEmpty)
      return Seq((0L, 0L, Option.empty[Double], 0.0, Option.empty[Double],
        0L, Option.empty[Long])).toDF(schema: _*)
    val adj = scala.collection.mutable.LongMap.empty[scala.collection.mutable.HashSet[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.HashSet.empty[Long]) += b
    }
    val nodes = adj.keys.toArray.sorted
    val n = nodes.length.toLong
    val m = es.length.toLong / 2 // symmetrize emits both directions, distinct
    // Per-node triangle counts by FORWARD adjacency over a degree order
    // (count each triangle once at its lowest-ordered vertex, credit all
    // three corners): O(Σ fwd-degree²) ≤ O(m^1.5), where the naive
    // all-neighbor-pairs loop is O(Σ d²) — a 100k-edge star is within the
    // local bound yet would cost 5·10⁹ set probes single-threaded there.
    // Pre-resolve the degree order to dense int indices once — the
    // merge-intersect inner loop then runs pure primitive int compares
    // (a LongMap probe per comparison would undo the rewrite's point)
    val byOrder = nodes.sortBy(u => (adj(u).size, u))
    val ordOf = scala.collection.mutable.LongMap.empty[Int]
    byOrder.zipWithIndex.foreach { case (u, i) => ordOf(u) = i }
    val fwd: Array[Array[Int]] = byOrder.map { u =>
      val ou = ordOf(u)
      adj(u).iterator.map(ordOf).filter(_ > ou).toArray.sorted
    }
    val triByOrd = new Array[Long](byOrder.length)
    var uo = 0
    while (uo < fwd.length) {
      val fu = fwd(uo)
      var i = 0
      while (i < fu.length) {
        val vo = fu(i)
        // merge-intersect the two order-sorted forward lists
        val fv = fwd(vo)
        var a = 0
        var b = 0
        while (a < fu.length && b < fv.length) {
          val oa = fu(a)
          val ob = fv(b)
          if (oa == ob) {
            triByOrd(uo) += 1; triByOrd(vo) += 1; triByOrd(oa) += 1
            a += 1; b += 1
          } else if (oa < ob) a += 1
          else b += 1
        }
        i += 1
      }
      uo += 1
    }
    var triTotal = 0L
    var wedges = 0.0
    var clusterSum = 0.0
    nodes.foreach { u => // ascending node order: the scaladoc'd sum order
      val d = adj(u).size.toLong
      val t = triByOrd(ordOf(u))
      triTotal += t
      wedges += (d * (d - 1) / 2).toDouble
      clusterSum += (if (d >= 2) t * 2.0 / (d * (d - 1)) else 0.0)
    }
    val triangles = triTotal / 3
    val compSizes = components(es).groupBy(_._2).values.map(_.length)
    Seq((n, m,
        m * 2.0 / (n * (n - 1)),
        if (wedges > 0) triangles * 3.0 / wedges else 0.0,
        clusterSum / n,
        compSizes.size.toLong, compSizes.max.toLong))
      .toDF(schema: _*)
  }

  /** PageRank by iterated joins (damping d, fixed iteration count —
    * deterministic; graph.py's networkx pagerank analog). Dangling mass
    * is redistributed uniformly, matching networkx semantics.
    *
    * No per-iteration driver-side aggregate: the dangling mass is a 1-row
    * aggregate cross-joined (broadcast) into the update plan. Each round
    * is eagerly localCheckpoint'ed: the update references the previous
    * ranks through BOTH the dangling aggregate and the contribution join,
    * so an un-materialized iteration DOUBLES the lineage (the
    * GraphX-Pregel per-round materialization pattern).
    */
  def pageRank(edges0: DataFrame, iters: Int = 10, d: Double = 0.85): DataFrame = {
    // per-round edge join tiered on |V|: the edge frame is materialized
    // ONCE (it used to re-run its upstream subtree every round — each
    // round is its own job) — see [[Centrality.tieredByKey]]
    val (edges, hinted) = Centrality.tieredByKey(edges0.select(col("src"), col("dst")), "src")
    val nodes = Scope.persist(edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct())
    val n = nodes.count().toDouble
    val outDeg = edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("out"))
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iters) {
      val withOut = ranks.join(outDeg, Seq("node"), "left")
      val dangling = withOut.where(col("out").isNull)
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm"))
      val contribs = hinted(withOut.where(col("out").isNotNull))
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), (col("rank") / col("out")).as("c"))
        .groupBy("node").agg(sum("c").as("in_rank"))
      ranks = nodes.join(contribs, Seq("node"), "left").crossJoin(dangling)
        .select(col("node"),
          (lit((1 - d) / n) + lit(d) * (coalesce(col("in_rank"), lit(0.0)) + col("__dm") / n))
            .as("rank"))
        .localCheckpoint()
    }
    // the result reads only the checkpointed ranks
    Scope.release(nodes)
    Scope.release(edges)
    ranks
  }
}
