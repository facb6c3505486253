package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Scope

/** Community detection + partition quality as DataFrame programs
  * (SURVEY.md §2.9; reference `finds/recipes/graph.py:234-287`
  * `community_detection` (label propagation, Louvain) and
  * `community_quality` (modularity, coverage/performance) on networkx).
  *
  * Both detectors are synchronous fixed-point iterations with
  * deterministic tie-breaks (count desc, then smallest label) — no RNG,
  * so results are reproducible across runs and cluster sizes. Each
  * iteration is one join + one aggregation over the edge frame; lineage
  * is truncated per round with eager localCheckpoints.
  */
object Community {

  /** Synchronous label propagation (graph.py:249 label_propagation):
    * every node adopts the most frequent label among its neighbors AND
    * itself (the self-vote damps the two-coloring oscillation of purely
    * synchronous LPA); ties break to the smallest label. Runs until a
    * fixed point or `maxIters`.
    * Returns (node, community) with community = the label fixed point.
    */
  def labelPropagation(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val und = Scope.persist(Centrality.symmetrize(edges))
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    var changed = true
    var it = 0
    while (changed && it < maxIters) {
      it += 1
      val nbrVotes = und.join(labels, und("dst") === labels("node"))
        .select(und("src").as("node"), col("label"))
      val votes = nbrVotes.unionAll(labels.select(col("node"), col("label")))
        .groupBy("node", "label").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("node").orderBy(col("c").desc, col("label").asc)
      val next = votes.withColumn("__r", row_number().over(w))
        .where(col("__r") === 1).select(col("node"), col("label"))
        .localCheckpoint()
      changed = !next.as("a").join(labels.as("b"), Seq("node"))
        .where(col("a.label") =!= col("b.label")).isEmpty
      labels = next
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Louvain-style community detection (graph.py:255 louvain): rounds of
    * synchronous local moving — each node moves to the neighboring
    * community with the largest modularity gain
    * ΔQ ∝ k_{v,c} − γ·deg_v·Σtot_{c∖v}/(2m), ties to the smallest
    * community id — followed by one graph coarsening (communities become
    * supernodes, edge weights sum), then local moving again. Deterministic.
    */
  def louvain(edges: DataFrame, gamma: Double = 1.0, moveRounds: Int = 10,
              levels: Int = 2): DataFrame = {
    // weighted symmetric edge list (weight 1 per undirected edge direction)
    var g = Centrality.symmetrize(edges).withColumn("w", lit(1.0))
      .localCheckpoint()
    // node → community at the finest level
    var assign = g.select(col("src").as("node")).distinct()
      .withColumn("community", col("node")).localCheckpoint()

    for (level <- 1 to levels) {
      var comm = g.select(col("src").as("node")).distinct()
        .withColumn("community", col("node")).localCheckpoint()
      val totalW = g.agg(sum("w")).head().getDouble(0) // = 2m
      val deg = Scope.persist(g.groupBy(col("src").as("node")).agg(sum("w").as("deg")))

      var round = 0
      var stable = false
      while (round < moveRounds && !stable) {
        round += 1
        val commTot = comm.join(deg, "node")
          .groupBy("community").agg(sum("deg").as("tot"))
        // k_{v,c}: weight from v into each neighbor community
        val kvc = g.join(comm.select(col("node").as("dst"),
            col("community").as("c")), "dst")
          .groupBy(col("src").as("node"), col("c"))
          .agg(sum("w").as("kvc"))
        val own = comm.select(col("node"), col("community").as("ownc"))
        val cand = kvc.join(own, "node").join(deg, "node")
          .join(commTot.select(col("community").as("c"), col("tot")), "c")
          .withColumn("totExcl",
            when(col("c") === col("ownc"), col("tot") - col("deg")).otherwise(col("tot")))
          .withColumn("gain",
            col("kvc") - lit(gamma) * col("deg") * col("totExcl") / lit(totalW))
        // keep the option of staying put even with no internal neighbors
        val stay = own.join(deg, "node")
          .join(commTot.select(col("community").as("ownc"), col("tot")), "ownc")
          .select(col("node"), col("ownc").as("c"), lit(0.0).as("kvc"),
            col("ownc"), col("deg"),
            col("tot"), (col("tot") - col("deg")).as("totExcl"),
            (lit(0.0) - lit(gamma) * col("deg") * (col("tot") - col("deg")) / lit(totalW))
              .as("gain"))
        val all = cand.select("node", "c", "gain")
          .unionByName(stay.select("node", "c", "gain"))
        val w = Window.partitionBy("node").orderBy(col("gain").desc, col("c").asc)
        val next = all.withColumn("__r", row_number().over(w))
          .where(col("__r") === 1)
          .select(col("node"), col("c").as("community"))
          .localCheckpoint()
        stable = next.as("a").join(comm.as("b"), "node")
          .where(col("a.community") =!= col("b.community")).isEmpty
        comm = next
      }

      // fold this level's assignment into the finest-level mapping
      val mapping = comm.select(col("node").as("__k"), col("community").as("__newc"))
      assign = assign.join(mapping, assign("community") === col("__k"))
        .select(col("node"), col("__newc").as("community"))
        .localCheckpoint()

      // coarsen: communities become supernodes; weights aggregate
      if (level < levels) {
        val m = comm.select(col("node"), col("community"))
        g = g.join(m.select(col("node").as("src"), col("community").as("cs")), "src")
          .join(m.select(col("node").as("dst"), col("community").as("cd")), "dst")
          .groupBy(col("cs").as("src"), col("cd").as("dst"))
          .agg(sum("w").as("w"))
          .localCheckpoint()
      }
    }
    assign
  }

  /** Modularity of a node→community assignment (graph.py:283
    * nx_comm.modularity): Q = Σ_c [ L_c/m − γ (d_c/2m)² ] with m =
    * undirected edge count, L_c intra-community edges, d_c degree sum.
    */
  def modularity(edges: DataFrame, communities: DataFrame,
                 gamma: Double = 1.0): Double = {
    val und = Centrality.symmetrize(edges)
    val m2 = und.count().toDouble // 2m
    val c = communities.select(col("node"), col("community"))
    val withC = und
      .join(c.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(c.select(col("node").as("dst"), col("community").as("cd")), "dst")
    // each undirected intra edge appears twice in the symmetrized list
    val byComm = withC.groupBy("cs")
      .agg(sum(when(col("cs") === col("cd"), 1.0).otherwise(0.0)).as("intra2"),
        count(lit(1)).cast("double").as("dc"))
    byComm.select(sum(col("intra2") / m2 -
        lit(gamma) * (col("dc") / m2) * (col("dc") / m2)).as("q"))
      .head().getDouble(0)
  }

  /** Greedy modularity maximization (graph.py:261
    * nx_comm.greedy_modularity_communities — Clauset-Newman-Moore):
    * every node starts as its own community; repeatedly merge the
    * CONNECTED pair with the largest modularity gain
    * ΔQ = e_ij/m − 2γ·d_i·d_j/(2m)² while the best gain is NON-NEGATIVE
    * (networkx breaks only on a negative dq, so zero-gain merges happen).
    * Ties break to the smallest (i, j). Returns (node, community),
    * community = smallest member node id.
    *
    * CNM is inherently sequential — one merge depends on the last — so
    * after a DISTRIBUTED canonical-edge aggregation the merge loop runs
    * driver-side on the deduped edge list (guarded by `maxEdges`; the
    * same memory shape networkx needs). This is the exact-parity twin;
    * [[louvain]] is the distributed scale path.
    */
  def greedyModularity(edges: DataFrame, gamma: Double = 1.0,
                       maxEdges: Int = 5000000): DataFrame = {
    val spark = edges.sparkSession
    val und = Centrality.symmetrize(edges)
    val canon = und.where(col("src") < col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .limit(maxEdges + 1).collect()
    require(canon.length <= maxEdges,
      s"greedyModularity: graph exceeds maxEdges=$maxEdges deduped edges; " +
        "use louvain for graphs of this size")
    val edgeList = canon.map(r => (r.getLong(0), r.getLong(1)))
    val m = edgeList.length.toDouble
    val twoM = 2.0 * m

    import scala.collection.mutable
    // community state: id -> degree sum; inter-community weights keyed (lo, hi)
    val comm = mutable.Map.empty[Long, Long].withDefaultValue(0L) // node -> community
    val deg = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val w = mutable.Map.empty[(Long, Long), Double].withDefaultValue(0.0)
    val members = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]]
    for ((a, b) <- edgeList) {
      comm(a) = a; comm(b) = b
      deg(a) += 1.0; deg(b) += 1.0
      w((math.min(a, b), math.max(a, b))) += 1.0
    }
    for (n <- comm.keys) members(n) = mutable.ArrayBuffer(n)

    var done = m == 0
    while (!done) {
      // best-positive-ΔQ connected pair, ties to smallest (i, j)
      var best: (Long, Long) = null
      var bestDq = 0.0
      for (((i, j), eij) <- w) {
        val dq = eij / m - 2.0 * gamma * deg(i) * deg(j) / (twoM * twoM)
        val better = dq >= 0 && (best == null ||
          dq > bestDq + 1e-15 ||
          (math.abs(dq - bestDq) <= 1e-15 &&
            (i < best._1 || (i == best._1 && j < best._2))))
        if (better) { best = (i, j); bestDq = dq }
      }
      if (best == null) done = true
      else {
        val (i, j) = best // merge j into i (i < j by key canon)
        members(i) ++= members(j)
        members.remove(j)
        deg(i) += deg(j)
        deg.remove(j)
        // re-key j's inter-community weights onto i
        val touchJ = w.keys.filter(k => k._1 == j || k._2 == j).toSeq
        for (k <- touchJ) {
          val other = if (k._1 == j) k._2 else k._1
          val wt = w.remove(k).get
          if (other != i) {
            val nk = (math.min(i, other), math.max(i, other))
            w(nk) += wt
          }
        }
      }
    }
    val assign = members.toSeq.flatMap { case (_, ns) =>
      val cid = ns.min
      ns.map(n => (n, cid))
    }
    spark.createDataFrame(assign).toDF("node", "community")
  }

  /** One-row, one-plan partition summary: (communities, modularity,
    * coverage, performance) — the whole of `community_quality`
    * (graph.py:271-287) as a single lazy DataFrame. [[modularity]] /
    * [[partitionQuality]] mirror the reference's scalar API but cost one
    * driver action per scalar; catalog/production code should use this
    * fused form (7 actions → 1).
    */
  def qualitySummary(edges: DataFrame, communities: DataFrame,
                     gamma: Double = 1.0): DataFrame = {
    val und = Centrality.symmetrize(edges)
    val c = communities.select(col("node"), col("community"))
    val withC = und
      .join(c.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(c.select(col("node").as("dst"), col("community").as("cd")), "dst")
    // per-community: directed intra-edge count (2·L_c) and degree sum d_c
    val byComm = withC.groupBy("cs")
      .agg(sum(when(col("cs") === col("cd"), 1.0).otherwise(0.0)).as("intra2"),
        count(lit(1)).cast("double").as("dc"))
    val m2df = und.agg(count(lit(1)).cast("double").as("m2")) // = 2m
    val qdf = byComm.crossJoin(m2df)
      .agg(sum(col("intra2") / col("m2")
          - lit(gamma) * (col("dc") / col("m2")) * (col("dc") / col("m2"))).as("modularity"),
        first(col("m2")).as("m2"),
        (sum(col("intra2")) / 2).as("intra"))
    val sdf = c.groupBy("community").agg(count(lit(1)).as("nc"))
      .agg(count(lit(1)).as("communities"),
        sum(col("nc")).cast("double").as("n"),
        sum(col("nc") * (col("nc") - 1) / 2.0).as("intra_pairs"))
    val allPairs = col("n") * (col("n") - 1) / 2.0
    qdf.crossJoin(sdf).select(
      col("communities"),
      col("modularity"),
      (col("intra") / (col("m2") / 2)).as("coverage"),
      ((col("intra") + ((allPairs - col("intra_pairs")) - (col("m2") / 2 - col("intra"))))
        / allPairs).as("performance"))
  }

  /** Coverage and performance of a partition (graph.py:285
    * nx_comm.partition_quality): coverage = intra-edges/m; performance =
    * (intra-edges + absent inter-pairs) / (n choose 2).
    */
  def partitionQuality(edges: DataFrame, communities: DataFrame): (Double, Double) = {
    val und = Centrality.symmetrize(edges)
    val c = communities.select(col("node"), col("community"))
    val n = c.count().toDouble
    val m = und.count().toDouble / 2
    val intra = und
      .join(c.select(col("node").as("src"), col("community").as("cs")), "src")
      .join(c.select(col("node").as("dst"), col("community").as("cd")), "dst")
      .where(col("cs") === col("cd")).count().toDouble / 2
    // possible intra pairs per community: Σ n_c(n_c−1)/2
    val intraPairs = c.groupBy("community").agg(count(lit(1)).as("nc"))
      .select(sum(col("nc") * (col("nc") - 1) / 2).as("p"))
      .head().getDouble(0)
    val totalPairs = n * (n - 1) / 2
    val interPairs = totalPairs - intraPairs
    val interEdges = m - intra
    val coverage = intra / m
    val performance = (intra + (interPairs - interEdges)) / totalPairs
    (coverage, performance)
  }
}
