package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.core.Scope

/** Vertex centrality measures as DataFrame programs (SURVEY.md §2.9;
  * reference `finds/recipes/graph.py:185-233` `nodes_centrality` on
  * networkx: clustering, triangles, degree, eigenvector, closeness,
  * betweenness, HITS).
  *
  * Scale shapes:
  *   - triangles/clustering: degree-ordered edge orientation bounds the
  *     wedge join by Σ min-degree² (the compact-forward algorithm) — no
  *     hub blow-up;
  *   - eigenvector/HITS: power iteration = join + groupBy per step, norm
  *     folded in as a broadcast 1-row aggregate (no driver round-trip per
  *     iteration beyond the BFS-inherent ones), lineage truncated with
  *     eager localCheckpoints;
  *   - closeness/betweenness: all-sources level-synchronous BFS — the
  *     frontier frame is (source, node) keyed, so the n·m work distributes
  *     over the cluster; output is O(n²) rows, which is inherent to
  *     exact all-pairs centrality (sample sources for approximations).
  */
object Centrality {

  /** Both directions of an undirected edge list, self-loops dropped. */
  def symmetrize(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
  }

  /** The one tier decision of the graph ops with a driver-local tier
    * ([[closeness]], [[eccentricity]], [[betweenness]],
    * [[GraphOps.connectedComponents]], [[GraphOps.graphInfo]],
    * [[graft.text.NearDup.dupGroups]]). `local` runs on the
    * [[symmetrize]]d edges collected as (src, dst) longs when the ids are
    * integral, `maxLocalEdges > 0` and 2·|edges| ≤ `maxLocalEdges`;
    * otherwise `distributed` runs. Symmetrize emits at most two rows per
    * input row, so one count of the input bounds the collect, and
    * `maxLocalEdges ≤ 0` forces the distributed tier without a count
    * job. The local result's `ids` columns are cast back to the input's
    * id type, so a result's schema does not depend on its tier.
    *
    * The decision stays count-then-collect (2 jobs): the tempting
    * one-job limit(maxEdges+1).collect() plans CollectLimitExec, whose
    * incremental partition fetch (1, then 4x, ...) runs FOUR sequential
    * rounds when a tiny graph never fills the limit — measured
    * g_components 0.60 -> 0.94 s before reverting (round 10).
    */
  private[graft] def localOrDistributed(edges: DataFrame, maxLocalEdges: Long, ids: String*)
      (local: Array[(Long, Long)] => DataFrame)(distributed: => DataFrame): DataFrame = {
    val und = symmetrize(edges)
    if (!integralIds(und, "src") || maxLocalEdges <= 0 || 2 * edges.count() > maxLocalEdges)
      return distributed
    val out = local(und.selectExpr("cast(src as long)", "cast(dst as long)")
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val idType = und.schema("src").dataType
    out.select(out.columns.map(c => if (ids.contains(c)) col(c).cast(idType).as(c) else col(c)): _*)
  }

  /** Whether every named column holds integral ids: the driver-local
    * tiers pack ids into primitive longs, so strings, decimals and
    * fractional ids stay on the distributed tiers.
    */
  private def integralIds(df: DataFrame, cols: String*): Boolean =
    cols.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** Undirected degrees from a symmetrized edge list. */
  private def degs(und: DataFrame): DataFrame =
    und.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** Unnormalized power iteration in EXACT integer arithmetic:
    * w_k(n) = number of length-k walks ending at n (w_0 ≡ 1), i.e.
    * A^k · 1 on the symmetrized adjacency. Normalizing w_k gives the
    * power-method eigenvector estimate — but the counts themselves are
    * integers, so unlike [[eigenvector]] (per-iteration float L2
    * normalization, engine-specific summation order) they replay
    * bit-for-bit in any engine: the oracle vehicle for the eigenvector
    * family (`g_eigen`). Fixed iteration count — one join + one agg per
    * round, lineage linear in `iters`.
    *
    * Deliberately ONE lazy plan, no per-round materialization: the
    * round-9 verdict suggested checkpoint-interval batching (materialize
    * every 2nd round) against the 20-shuffle/deep-tree plan. Measured
    * interleaved in one JVM (sf0.1, min-of-3): catalog
    * 1.02 s, +persist(und) 1.15 s, +localCheckpoint every 2nd round
    * 1.05 s — no variant wins; the eager checkpoints serialize rounds
    * that the lazy plan overlaps, and at this iterate size (|V| rows)
    * the deep tree is pure planner time that the checkpoint does not
    * remove. Rejected; [[eigenvector]] (float, 100 rounds, lineage
    * DOUBLING per round) is where per-round checkpointing is load-
    * bearing and already does it.
    */
  def walkCounts(edges: DataFrame, iters: Int): DataFrame = {
    // int64 guard: walk counts grow ~maxdeg per round, exact only while
    // iters·log₂(maxdeg) < 63 — fine at iters=6 on the ≤25-node nation
    // graph; a high-degree graph at depth overflows. Oracle vehicle only;
    // the production path is the float eigenvectorCentrality.
    val und = symmetrize(edges)
    var v = allNodes(und).withColumn("w", lit(1L))
    for (_ <- 1 to iters) {
      v = und.join(v, und("dst") === v("node"))
        .groupBy(und("src").as("node")).agg(sum("w").as("w"))
    }
    v
  }

  private def allNodes(und: DataFrame): DataFrame =
    und.select(col("src").as("node")).distinct()

  /** Materialized edge frame and join-side hint for the per-round joins
    * of [[GraphOps.connectedComponents]], [[eigenvector]] and
    * [[GraphOps.pageRank]], tiered on |V|. Below the broadcast
    * threshold AQE broadcasts the |V|-row state frame at runtime, so the
    * edges stay a plain persisted cache and the joins stay un-hinted;
    * pre-partitioning there is a strict loss (measured on a
    * 1.17M-edge/16k-node graph: 39.5 MB shuffled vs 18.2 MB). Past it,
    * the edges take [[shuffleTier]].
    *
    * The |V| probe is one map-side approx_count_distinct pass over
    * src ∪ dst riding the materialization the loop needs anyway (±2% vs
    * a threshold with wide headroom); counting `src` alone would miss
    * pageRank's sink-only nodes, which its rank frame still carries.
    * The broadcast tier's cache belongs to the caller's [[Scope]] (a
    * loop that is done with it releases it early); the shuffle tier has
    * already dropped it for the checkpoint.
    */
  private[graph] def tieredByKey(edges0: DataFrame, key: String)
      : (DataFrame, DataFrame => DataFrame) = {
    val bcThresh = org.apache.spark.sql.graftx.Bridge
      .broadcastThreshold(edges0.sparkSession)
    val cached = Scope.persist(edges0)
    val nv = cached.select(explode(array(col("src"), col("dst"))).as("node"))
      .agg(approx_count_distinct(col("node"))).head().getLong(0)
    // a state row ≈ two longs + row overhead in the broadcast relation
    val big = bcThresh < 0 || nv * 48L > bcThresh
    if (!big) (cached, (df: DataFrame) => df)
    else {
      val tier = shuffleTier(cached, key)
      Scope.release(cached)
      tier
    }
  }

  /** The shuffle tier of [[tieredByKey]]: the edges hash-partitioned by
    * the join key ONCE through an AQE-stable checkpoint, plus the hint
    * that pins SHUFFLE_HASH on the |V|-row state side. Un-hinted, the
    * planner degrades to a per-round SortMergeJoin that re-shuffles AND
    * re-sorts the |E| side (rounds are separate jobs, so exchange reuse
    * never spans the eager checkpoints); this way |E| streams
    * exchange-free and unsorted every round. Measured on a 4M-node tree
    * (labels ~190 MB, past broadcast; 8M symmetrized edges, 23 rounds):
    * 152.3/145.6 -> 55.2/36.8 s.
    */
  private[graft] def shuffleTier(edges: DataFrame, key: String)
      : (DataFrame, DataFrame => DataFrame) =
    (graft.core.Ckpt.partitioned(edges.repartition(col(key))),
      (df: DataFrame) => df.hint("shuffle_hash"))

  /** Per-node triangle counts (graph.py `nx.triangles`). Compact-forward:
    * orient each undirected edge from the (degree, id)-smaller endpoint to
    * the larger; every triangle appears exactly once as wedge
    * u→v, u→w closed by v→w.
    */
  def triangles(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame = {
    val und = symmetrize(edges, src, dst)
    val d = degs(und)
    // oriented edges with the (deg, id) order key on both endpoints
    // o feeds THREE join legs (e1, e2, the closing edge) — persist so the
    // und+degree subtree compiles and evaluates once, not three times
    val o = Scope.persist(und
      .join(d.select(col("node").as("src"), col("deg").as("ds")), "src")
      .join(d.select(col("node").as("dst"), col("deg").as("dd")), "dst")
      .where(struct(col("ds"), col("src")) < struct(col("dd"), col("dst")))
      .select(col("src").as("u"), col("dst").as("v"),
        struct(col("dd"), col("dst")).as("ordv")))
    val tri = o.as("e1").join(o.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.ordv") < col("e2.ordv"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      .join(o.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    allNodes(und).join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient 2T / (d(d−1)) (graph.py `nx.clustering`,
    * unweighted); 0 for degree < 2.
    */
  def clusteringCoefficient(edges: DataFrame, src: String = "src",
                            dst: String = "dst"): DataFrame = {
    val und = symmetrize(edges, src, dst)
    triangles(edges, src, dst).join(degs(und), "node")
      .select(col("node"), col("triangles"), col("deg").as("degree"),
        when(col("deg") >= 2,
          col("triangles") * 2.0 / (col("deg") * (col("deg") - 1)))
          .otherwise(0.0).as("clustering"))
  }

  /** Degree centrality deg/(n−1) (graph.py `nx.degree_centrality`). */
  def degreeCentrality(edges: DataFrame): DataFrame = {
    val und = symmetrize(edges)
    val n = allNodes(und).count().toDouble
    degs(und).select(col("node"), (col("deg") / (n - 1)).as("degree_centrality"))
  }

  /** Eigenvector centrality by power iteration on A + I (networkx's
    * update x ← x + Ax), L2-normalized (graph.py
    * `nx.eigenvector_centrality`). Fixed iteration count — deterministic.
    *
    * The update references the previous iterate TWICE (in Ax and in the
    * +x term), so lineage DOUBLES per un-materialized iteration — each
    * round is eagerly localCheckpoint'ed (the GraphX-Pregel pattern:
    * power iteration is a per-round distributed job, not a lazy plan).
    * Normalization (scale-invariant for the direction) happens every
    * `normalizeEvery` rounds and at the end; between norms values grow
    * like λ₁^k, bounded in double for any realistic spectral radius.
    */
  def eigenvector(edges: DataFrame, iters: Int = 100,
                  normalizeEvery: Int = 10): DataFrame = {
    // per-round edge join tiered on |V| — see [[tieredByKey]]
    val (und, hinted) = tieredByKey(symmetrize(edges), "src")
    val nodes = Scope.persist(allNodes(und))
    def normalized(v: DataFrame): DataFrame = {
      val n2 = v.agg(sqrt(sum(col("x") * col("x"))).as("__n2"))
      v.crossJoin(n2).select(col("node"), (col("x") / col("__n2")).as("x"))
    }
    var x = nodes.withColumn("x", lit(1.0)).localCheckpoint()
    var prev = x
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      i += 1
      val ax = hinted(x).join(und, x("node") === und("src"))
        .select(col("dst").as("node"), col("x"))
        .groupBy("node").agg(sum("x").as("ax"))
      val next = x.join(ax, Seq("node"), "left")
        .select(col("node"), (col("x") + coalesce(col("ax"), lit(0.0))).as("x"))
      if (i % normalizeEvery == 0) {
        x = normalized(next).localCheckpoint()
        // L∞ convergence check against the previous normalized iterate
        converged = x.as("a").join(prev.as("b"), "node")
          .agg(max(abs(col("a.x") - col("b.x"))).as("d"))
          .head().getDouble(0) < 1e-10
        prev = x
      } else {
        x = next.localCheckpoint()
      }
    }
    // the result reads only the checkpointed iterate
    Scope.release(nodes)
    Scope.release(und)
    normalized(x).select(col("node"), col("x").as("eigenvector"))
  }

  /** HITS hubs/authorities by power iteration, L1-normalized per step
    * (graph.py `nx.hits`). On an undirected (symmetrized) graph hubs and
    * authorities coincide, matching networkx on nx.Graph.
    */
  def hits(edges: DataFrame, iters: Int = 100,
           checkpointEvery: Int = 10): DataFrame = {
    val e = Scope.persist(edges.select(col("src"), col("dst")))
    val nodes = Scope.persist(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct())
    val nInv = lit(1.0) / nodes.count().toDouble
    // L1-normalize only at checkpoints + at the end (see eigenvector:
    // a per-step norm doubles the plan per iteration)
    def l1(v: DataFrame, c: String): DataFrame = {
      val s = v.agg(sum(col(c)).as("__s"))
      v.crossJoin(s).select(col("node"), (col(c) / col("__s")).as(c))
    }
    var hub = nodes.withColumn("h", nInv)
    var auth = hub.select(col("node"), col("h").as("a"))
    var prev = hub
    var converged = false
    var i = 0
    while (i < iters && !converged) {
      i += 1
      // a(v) = Σ_{u→v} h(u)
      val a1 = hub.join(e, hub("node") === e("src"))
        .select(col("dst").as("node"), col("h"))
        .groupBy("node").agg(sum("h").as("a"))
      auth = nodes.join(a1, Seq("node"), "left")
        .select(col("node"), coalesce(col("a"), lit(0.0)).as("a"))
      // h(u) = Σ_{u→v} a(v)
      val h1 = auth.join(e, auth("node") === e("dst"))
        .select(col("src").as("node"), col("a"))
        .groupBy("node").agg(sum("a").as("h"))
      hub = nodes.join(h1, Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0.0)).as("h"))
      if (i % checkpointEvery == 0) {
        hub = l1(hub, "h").localCheckpoint()
        auth = auth.localCheckpoint()
        converged = hub.as("a").join(prev.as("b"), "node")
          .agg(max(abs(col("a.h") - col("b.h"))).as("d"))
          .head().getDouble(0) < 1e-10
        prev = hub
      }
    }
    // the result reads only checkpoints, so both caches go: a run that
    // stopped between checkpoints checkpoints its final iterate here
    if (i % checkpointEvery != 0) {
      hub = hub.localCheckpoint()
      auth = auth.localCheckpoint()
    }
    Scope.release(e)
    Scope.release(nodes)
    l1(hub, "h").select(col("node"), col("h").as("hub"))
      .join(l1(auth, "a").select(col("node"), col("a").as("authority")), "node")
  }

  /** All-sources BFS distances over a symmetrized edge list:
    * (src, node, dist) for every reachable pair, dist ≤ maxDepth.
    * Level-synchronous frontier expansion; one localCheckpoint + one
    * emptiness check per level (inherent to BFS termination).
    */
  def bfsDistances(und: DataFrame, sources: DataFrame, maxDepth: Int = 30): DataFrame = {
    var visited = sources.select(col("node").as("s"), col("node"), lit(0).as("dist"))
      .localCheckpoint()
    var depth = 0
    var more = true
    while (depth < maxDepth && more) {
      depth += 1
      // the frontier is a FILTER of the checkpointed union — zero
      // recompute, so each level costs one materialization (the union
      // checkpoint) plus one trivial emptiness probe, instead of
      // checkpointing the frontier separately (2 heavy jobs/level)
      val frontier = visited.where(col("dist") === depth - 1)
      val nxt = frontier.join(und, frontier("node") === und("src"))
        .select(col("s"), und("dst").as("node")).distinct()
        .join(visited.select(col("s"), col("node")), Seq("s", "node"), "left_anti")
        .withColumn("dist", lit(depth))
      visited = visited.unionByName(nxt).localCheckpoint()
      more = !visited.where(col("dist") === depth).isEmpty
    }
    visited
  }

  /** Closeness centrality, networkx `wf_improved` form (graph.py
    * `nx.closeness_centrality`):
    * C(v) = ((r−1)/Σd) · ((r−1)/(n−1)) with r = #reachable incl. v.
    * Graphs within `maxLocalEdges` run the driver-local BFS of
    * [[bfsLocalStats]] (see [[localOrDistributed]]).
    */
  def closeness(edges: DataFrame, maxDepth: Int = 30,
                maxLocalEdges: Long = 200000L): DataFrame =
    localOrDistributed(edges, maxLocalEdges, "node") { es =>
      val (stats, n) = bfsLocalStats(es, maxDepth)
      edges.sparkSession.createDataFrame(stats.toSeq.map { case (s, r, sumd, _) =>
        (s, if (sumd > 0) ((r - 1).toDouble / sumd) * ((r - 1).toDouble / (n - 1)) else 0.0)
      }).toDF("node", "closeness")
    } {
      val und = Scope.persist(symmetrize(edges))
      val nodes = allNodes(und)
      val n = nodes.count().toDouble
      val dists = bfsDistances(und, nodes, maxDepth)
      // dists is a checkpoint: the result never reads the cache
      Scope.release(und)
      dists.groupBy(col("node"))
        .agg(count(lit(1)).as("r"), sum("dist").as("sumd"))
        .select(col("node"),
          when(col("sumd") > 0,
            ((col("r") - 1) / col("sumd")) * ((col("r") - 1) / (n - 1)))
            .otherwise(0.0).as("closeness"))
    }

  /** Per-node eccentricity: the longest shortest path from each node to
    * any node in its connected component (graph.py:230 `nx.eccentricity`
    * — commented in the reference as "max distance of node to other").
    * Diameter = max eccentricity, radius = min (over a connected graph).
    * Tiered like [[closeness]].
    */
  def eccentricity(edges: DataFrame, maxDepth: Int = 30,
                   maxLocalEdges: Long = 200000L): DataFrame =
    localOrDistributed(edges, maxLocalEdges, "node") { es =>
      edges.sparkSession.createDataFrame(bfsLocalStats(es, maxDepth)._1.toSeq
        .map { case (s, _, _, ecc) => (s, ecc) }).toDF("node", "eccentricity")
    } {
      val und = Scope.persist(symmetrize(edges))
      val dists = bfsDistances(und, allNodes(und), maxDepth)
      Scope.release(und) // dists is a checkpoint
      dists.groupBy(col("s").as("node"))
        .agg(max("dist").as("eccentricity"))
    }

  /** One-row (diameter, radius) of each node's eccentricity — only
    * meaningful on a connected graph (nx raises there; we report the max
    * component-local values).
    */
  def diameterRadius(edges: DataFrame, maxDepth: Int = 30): DataFrame =
    eccentricity(edges, maxDepth)
      .agg(max("eccentricity").as("diameter"), min("eccentricity").as("radius"))

  /** Driver-local all-sources BFS, ≤ `maxDepth` levels, over the
    * collected symmetrized edges of a small graph: (node, reachable,
    * sum-of-distances, eccentricity) per source, and the node count.
    * The distributed BFS pays ~2 Spark jobs per level — the right trade
    * on a billion-edge graph, pure overhead on a 25-node nation summary
    * (where the reference's networkx call is milliseconds). Values are
    * identical to the distributed forms (spec'd equal).
    */
  private def bfsLocalStats(es: Array[(Long, Long)], maxDepth: Int)
      : (Array[(Long, Int, Long, Int)], Int) = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = adj.keySet.toArray.sorted
    val stats = nodes.map { s =>
      val dist = scala.collection.mutable.LongMap[Int](s -> 0)
      var frontier = List(s)
      var d = 0
      while (frontier.nonEmpty && d < maxDepth) {
        d += 1
        frontier = frontier.flatMap(adj(_)).distinct
          .filter(m => !dist.contains(m))
        frontier.foreach(m => dist(m) = d)
      }
      val r = dist.size
      (s, r, dist.values.map(_.toLong).sum, dist.values.max)
    }
    (stats, nodes.length)
  }

  /** Unnormalized HITS power iteration in EXACT integer arithmetic on a
    * DIRECTED edge list (the [[walkCounts]] trick applied to
    * [[hits]]): with a_0 ≡ 1,
    *   h_k(u) = Σ_{u→v} a_{k-1}(v),  a_k(v) = Σ_{u→v} h_k(u)
    * — pure path counting, bit-identical in any engine, so the HITS
    * family gets an oracle vehicle (`g_hits`). Nodes missing a side
    * (no out-edges / no in-edges) carry 0, matching the dangling
    * handling of the normalized float [[hits]]. Returns
    * (node, hub_walks, auth_walks).
    *
    *
    * Mechanics (round 8): three data-adaptive tiers behind one probe
    * (|E| count + approx_count_distinct |V|) over the materialized
    * edge list.
    *
    *  - LOCAL tier (|E| ≤ maxLocalEdges, default 2M ≈ 32 MB of
    *    (long,long) pairs): collect the deduped in-memory edge list and
    *    run the recurrence driver-side — O(iters·|E|) integer work,
    *    ~0.2 s at 600k edges. The distributed tiers' wall time is
    *    stage-count × scheduler floor (2·iters sequential rounds, each
    *    a job), which a graph this small never amortizes: the same
    *    reasoning as the local tier of [[GraphOps.connectedComponents]],
    *    spec'd equal to both distributed tiers (HitsRoundShapeSpec).
    *  - BROADCAST path (|V| ≤ maxBroadcastNodes, default 5M ≈ 80 MB of
    *    (long,long) rows): the whole 2·iters-round recurrence stays a
    *    single LAZY plan — each round joins the edge frame to the
    *    previous |V|-row count frame via an explicit broadcast(), so no
    *    |E| shuffle and NO per-round eager job exist at all; the one
    *    real job is the final output action. The previous formulation
    *    ran 2 joins + 1 eager localCheckpoint per round (6 eager jobs
    *    at iters=3) and its measured bottleneck was per-job scheduler
    *    floor, not data (VERDICT r6 #2; per-job breakdown). This is
    *    the path the ×10/×30 scale runs in LEDGER.md took (they exceed
    *    the local |E| guard but keep |V| ≈ 0.5M) — many-edges-few-nodes
    *    is the common corpus shape, so this tier carries most real scale.
    *  - SHUFFLE path (large |V|, where broadcasting the count frames
    *    would be driver-side poison): the round-6 structure — edge list
    *    pre-partitioned by join side through Ckpt.partitioned (keeps
    *    HashPartitioning under AQE), SHUFFLE_HASH per round so the |E|
    *    legs stream exchange-free and unsorted, one eager checkpoint
    *    per round to truncate the dual-consumption lineage — the shape
    *    a 100 TB graph with a web-scale vertex set takes.
    */
  def hitsCounts(edges0: DataFrame, iters: Int,
                 src: String = "src", dst: String = "dst",
                 maxBroadcastNodes: Long = 5000000L,
                 maxLocalEdges: Long = 2000000L): DataFrame = {
    require(iters >= 1, s"hitsCounts needs iters >= 1, got $iters")
    // build+distinct under AQE — the upstream edge construction keeps
    // its runtime re-plans (e.g. AQE broadcasting the orders side of
    // the g_hits edge build; forcing this step non-adaptive measured
    // 2.5x slower end-to-end), then ONE materialization feeds whichever
    // path the probe picks.
    val raw = hitsRaw(edges0, src, dst)
    // one probe job: exact |E| (free — count(1) rides the same agg) +
    // HLL |V| — one map-side pass over the in-memory partitions, no
    // shuffle, no exact distinct. ±2% HLL error is irrelevant against a
    // 5M-row threshold chosen with ~16x headroom (80 MB vs the 8 GB
    // broadcast hard cap).
    val probeRow = raw.agg(
      approx_count_distinct(col("s")).as("ns"),
      approx_count_distinct(col("d")).as("nd"),
      count(lit(1)).as("m")).head()
    val approxV = probeRow.getLong(0) + probeRow.getLong(1)
    val edgeCount = probeRow.getLong(2)
    if (integralIds(raw, "s", "d") && edgeCount <= maxLocalEdges)
      return hitsCountsLocal(raw, iters)
    // zero-count nodes are NOT re-joined inside either loop — a zero
    // term contributes nothing to the next sum, so the sparse frames are
    // exact; the full node set (with 0s) falls out of the final
    // full-outer assembly below, with no extra pass over the edges.
    // int64 guard: counts grow ~maxdeg per sum round, so the vehicle is
    // exact only while 2·iters·log₂(maxdeg) < 63 — fine at iters=3 on
    // bounded-degree graphs, NOT safe at depth on a high-degree graph.
    // Oracle vehicle only; the production path is the float hits().
    // The two partitioning-preserved edge copies (eByD/eByS) belong to
    // the SHUFFLE path only. Round 8 briefly fed them to the broadcast
    // path too, chasing zero-exchange rounds — a win in the regime it
    // was measured in (sf0.1, 600k edges, where stage-boundary latency
    // dominates) but that regime is owned by the driver-local tier now:
    // every graph the broadcast path actually serves is ≥ maxLocalEdges,
    // where the two eager |E| repartition+checkpoint jobs cost far more
    // than the tiny |V|-row agg exchanges they remove. Measured at the
    // scale the path exists for (×30, 16.5M edges; LEDGER.md): 9.4 s
    // off `raw` vs 24.4 s off the checkpointed pair. The broadcast
    // chain therefore consumes `raw` directly — its joins broadcast the
    // count frames, so it has NO distribution requirement on the edge
    // legs and the only shuffles in the whole lazy plan are the
    // ≤|V|-row aggregation exchanges.
    var hub: DataFrame = null
    var auth: DataFrame = null
    if (approxV <= maxBroadcastNodes) {
      // lazy broadcast chain: fresh `.as` aliases on every round give the
      // using-column joins fresh exprIds, so the edges-on-both-sides
      // self-reference never trips ambiguous-self-join analysis. The
      // h_iters subtree is consumed twice (by a_iters and the output) —
      // identical broadcast exchanges, deduped by ReuseExchange; even
      // un-deduped it is one extra in-memory |E| scan, not a shuffle.
      for (i <- 1 to iters) {
        hub =
          // round 1 degenerates: a_0 ≡ 1, so h_1(u) = outdeg(u)
          if (i == 1) raw.as("e1h").groupBy(col("s").as("node"))
            .agg(count(lit(1)).as("h"))
          else raw.as(s"e${i}h").select(col("s"), col("d").as("node"))
            .join(broadcast(auth), Seq("node"))
            .groupBy(col("s")).agg(sum("a").as("h"))
            .select(col("s").as("node"), col("h"))
        auth = raw.as(s"e${i}a").select(col("d"), col("s").as("node"))
          .join(broadcast(hub), Seq("node"))
          .groupBy(col("d")).agg(sum("h").as("a"))
          .select(col("d").as("node"), col("a"))
      }
    } else {
      val (eByD, eByS) = hitsShuffleEdges(raw)
      for (i <- 1 to iters) {
        // Checkpointing auth per round truncates the lineage (hub is a
        // prefix of auth: un-checkpointed, the final hub⋈auth would
        // re-execute the whole chain twice — 13 SMJs at iters=3).
        val (h, a) = hitsRound(eByD, eByS, if (i == 1) None else Some(auth))
        hub = h
        auth = a.localCheckpoint()
      }
    }
    // Final assembly WITHOUT re-aggregating the edge list: after round 1
    // every count is strictly positive (h_1 = outdeg ≥ 1 on every edge
    // source, so each subsequent join keeps every edge and each sum is a
    // sum of positives), hence the sparse hub frame covers EXACTLY the
    // nodes with out-edges and auth exactly those with in-edges — their
    // union is the whole vertex set. A full-outer join of the two |V|-row
    // frames therefore replaces the former nodes = src∪dst DISTINCT (a
    // second full |E| shuffle) plus two left joins; nodes missing a side
    // carry 0, same as the dangling handling of the float hits().
    // shuffle_hash: SMJ would sort both |V|-row frames just to pair
    // unique keys once (full-outer SHJ builds one side's hash map and
    // streams the other — Spark 3.1+)
    hub.join(auth.hint("shuffle_hash"), Seq("node"), "full_outer")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub_walks"),
        coalesce(col("a"), lit(0L)).as("auth_walks"))
  }

  /** The deduped, materialized (s, d) edge list every [[hitsCounts]]
    * tier reads.
    */
  private[graft] def hitsRaw(edges0: DataFrame, src: String, dst: String): DataFrame =
    edges0.select(col(src).as("s"), col(dst).as("d")).distinct().localCheckpoint()

  /** The SHUFFLE path's edge pair over [[hitsRaw]]: partitioned by d
    * (the hub leg) and by s (the auth leg) through Ckpt.partitioned, so
    * both |E| legs keep HashPartitioning under AQE. The partition count
    * is the session's, as in [[shuffleTier]]: the |V|-row count
    * aggregates each round joins them to come out hash-partitioned at
    * that count, and at any other count EnsureRequirements re-shuffles
    * both |E| legs every round.
    */
  private[graft] def hitsShuffleEdges(raw: DataFrame): (DataFrame, DataFrame) =
    (graft.core.Ckpt.partitioned(raw.repartition(col("d"))),
      graft.core.Ckpt.partitioned(raw.repartition(col("s"))))

  /** One hub+auth round of the [[hitsCounts]] SHUFFLE path, from the
    * previous auth counts to (hub, auth) over [[hitsShuffleEdges]];
    * `None` is round 1, where a_0 ≡ 1 makes h_1(u) = outdeg(u).
    * SHUFFLE_HASH on the |V|-row count side: SMJ would re-SORT the |E|
    * side every round; hashing the per-partition slice of the count
    * frame streams the pre-partitioned edges unsorted
    * (HitsRoundShapeSpec asserts the exchange-free |E| legs).
    */
  private[graft] def hitsRound(eByD: DataFrame, eByS: DataFrame,
                               prevAuth: Option[DataFrame]): (DataFrame, DataFrame) = {
    val hub = prevAuth match {
      case None => eByD.groupBy(col("s").as("node")).agg(count(lit(1)).as("h"))
      case Some(auth) =>
        eByD.join(auth.hint("shuffle_hash"), eByD("d") === auth("node"))
          .groupBy(eByD("s").as("node")).agg(sum("a").as("h"))
    }
    (hub, eByS.join(hub.hint("shuffle_hash"), eByS("s") === hub("node"))
      .groupBy(eByS("d").as("node")).agg(sum("h").as("a")))
  }

  /** Driver-local tier of [[hitsCounts]]: the identical integer
    * recurrence over the collected (deduped, in-memory) edge list.
    * Only called under the caller's |E| guard — the collect reads the
    * checkpointed partitions, not the upstream plan. Key coverage needs
    * no node-set pass: after round 1 every count is positive, so hub
    * keys = exactly the sources (h₁ = outdeg ≥ 1, and later rounds add
    * a ≥ 0 terms per source, creating the entry either way) and auth
    * keys = exactly the destinations; their union is the vertex set —
    * the same argument the distributed full-outer assembly rests on.
    */
  private def hitsCountsLocal(raw: DataFrame, iters: Int): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val es = raw.selectExpr("cast(s as long) AS s", "cast(d as long) AS d")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = es.length
    var hub = scala.collection.mutable.LongMap.empty[Long]
    var auth = scala.collection.mutable.LongMap.empty[Long]
    for (i <- 1 to iters) {
      val h = scala.collection.mutable.LongMap.empty[Long]
      var j = 0
      while (j < n) {
        val (s, d) = es(j)
        h(s) = h.getOrElse(s, 0L) + (if (i == 1) 1L else auth.getOrElse(d, 0L))
        j += 1
      }
      hub = h
      val a = scala.collection.mutable.LongMap.empty[Long]
      j = 0
      while (j < n) {
        val (s, d) = es(j)
        a(d) = a.getOrElse(d, 0L) + hub.getOrElse(s, 0L)
        j += 1
      }
      auth = a
    }
    val keys = (hub.keySet ++ auth.keySet).toSeq
    // node dtype parity with the distributed tiers: their full-outer
    // using-join coalesces the s- and d-typed node columns, so cast to
    // that same coalesce type (schema-only probe, no job)
    val nodeType = raw.select(coalesce(col("s"), col("d"))).schema.head.dataType
    keys.map(k => (k, hub.getOrElse(k, 0L), auth.getOrElse(k, 0L)))
      .toDF("node", "hub_walks", "auth_walks")
      .select(col("node").cast(nodeType).as("node"),
        col("hub_walks"), col("auth_walks"))
  }

  /** The local tier of [[betweenness]]: exact Brandes per source, BFS
    * bounded at `maxDepth` levels, over the collected symmetrized edges.
    * The distributed level-synchronous form pays ~2 Spark jobs per BFS
    * level FORWARD and per level BACKWARD — pure scheduler overhead on a
    * tiny aggregated graph. Values equal the distributed form (spec'd).
    */
  private def brandes(es: Array[(Long, Long)], normalized: Boolean,
                      maxDepth: Int): Seq[(Long, Double)] = {
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val nodes = adj.keySet.toArray.sorted
    val bc = scala.collection.mutable.LongMap[Double]().withDefaultValue(0.0)
    for (s <- nodes) {
      val stack = scala.collection.mutable.ArrayBuffer[Long]()
      val pred = scala.collection.mutable.LongMap[List[Long]]().withDefaultValue(Nil)
      val sigma = scala.collection.mutable.LongMap[Double]().withDefaultValue(0.0)
      val dist = scala.collection.mutable.LongMap[Int]()
      sigma(s) = 1.0; dist(s) = 0
      val queue = scala.collection.mutable.Queue[Long](s)
      while (queue.nonEmpty) {
        val v = queue.dequeue(); stack += v
        if (dist(v) < maxDepth) for (w <- adj(v)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; queue.enqueue(w) }
          if (dist(w) == dist(v) + 1) { sigma(w) += sigma(v); pred(w) = v :: pred(w) }
        }
      }
      val delta = scala.collection.mutable.LongMap[Double]().withDefaultValue(0.0)
      for (w <- stack.reverseIterator) {
        pred(w).foreach(v => delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w)))
        if (w != s) bc(w) += delta(w)
      }
    }
    val n = nodes.length
    // n ≤ 2 has no transit vertices — networkx _rescale leaves values
    // unscaled there; dividing by (n-1)(n-2) would yield Inf/NaN
    val scale = if (normalized && n > 2) 1.0 / ((n - 1.0) * (n - 2.0)) else if (normalized) 1.0 else 0.5
    nodes.toSeq.map(x => (x, bc(x) * scale))
  }

  /** Betweenness centrality via all-sources level-synchronous Brandes:
    * forward BFS accumulates path counts σ, the backward sweep per depth
    * level accumulates dependencies δ(v) = Σ_w σv/σw (1 + δw). Undirected,
    * endpoints excluded; `normalized` divides by (n−1)(n−2) (the networkx
    * normalization combined with the undirected 1/2). Graphs within
    * `maxLocalEdges` run the driver-local [[brandes]] (see
    * [[localOrDistributed]]).
    */
  def betweenness(edges: DataFrame, normalized: Boolean = true, maxDepth: Int = 30,
                  maxLocalEdges: Long = 200000L): DataFrame =
    localOrDistributed(edges, maxLocalEdges, "node") { es =>
      edges.sparkSession.createDataFrame(brandes(es, normalized, maxDepth))
        .toDF("node", "betweenness")
    } {
      val und = Scope.persist(symmetrize(edges))
      // a checkpoint, not a cache: the output join reads it after `und`
      // is released
      val nodes = allNodes(und).localCheckpoint()
      val n = nodes.count().toDouble

      // forward: levels(s, node, dist, sigma)
      var levels = nodes.select(col("node").as("s"), col("node"),
        lit(0).as("dist"), lit(1.0).as("sigma")).localCheckpoint()
      var frontier = levels
      var depth = 0
      while (depth < maxDepth && !frontier.isEmpty) {
        depth += 1
        val nxt = frontier.join(und, frontier("node") === und("src"))
          .select(col("s"), und("dst").as("node"), col("sigma"))
          .join(levels.select(col("s"), col("node")), Seq("s", "node"), "left_anti")
          .groupBy("s", "node").agg(sum("sigma").as("sigma"))
          .withColumn("dist", lit(depth))
          .select("s", "node", "dist", "sigma")
          .localCheckpoint()
        levels = levels.unionByName(nxt).localCheckpoint()
        frontier = nxt
      }
      val maxDist = levels.agg(max("dist")).head().getInt(0)

      // backward: delta per level, deepest first
      var deltas = levels.where(col("dist") === maxDist)
        .select(col("s"), col("node"), col("dist"), lit(0.0).as("delta"))
        .localCheckpoint()
      for (lv <- maxDist to 1 by -1) {
        val wLvl = deltas.where(col("dist") === lv)
          .join(levels.where(col("dist") === lv)
            .select(col("s"), col("node"), col("sigma")), Seq("s", "node"))
          .select(col("s").as("ws"), col("node").as("wn"),
            col("sigma").as("wsig"), col("delta"))
        val vLvl = levels.where(col("dist") === lv - 1)
          .select(col("s").as("vs"), col("node").as("vn"), col("sigma").as("vsig"))
        val contrib = vLvl.join(und, col("vn") === und("src"))
          .join(wLvl, col("vs") === col("ws") && und("dst") === col("wn"))
          .groupBy(col("vs").as("s"), col("vn").as("node"))
          .agg(sum(col("vsig") / col("wsig") * (lit(1.0) + col("delta"))).as("delta"))
        // nodes at lv-1 with no successors at lv get delta 0
        val lvl = levels.where(col("dist") === lv - 1)
          .join(contrib, Seq("s", "node"), "left")
          .select(col("s"), col("node"), col("dist"),
            coalesce(col("delta"), lit(0.0)).as("delta"))
          .localCheckpoint()
        deltas = deltas.unionByName(lvl)
      }
      val raw = deltas.where(col("node") =!= col("s"))
        .groupBy("node").agg(sum("delta").as("bsum"))
      // same n ≤ 2 guard as brandes (networkx _rescale semantics)
      val scale = if (normalized && n > 2) 1.0 / ((n - 1) * (n - 2)) else if (normalized) 1.0 else 0.5
      Scope.release(und) // levels and deltas are checkpoints
      nodes.join(raw, Seq("node"), "left")
        .select(col("node"), (coalesce(col("bsum"), lit(0.0)) * scale).as("betweenness"))
    }
}
