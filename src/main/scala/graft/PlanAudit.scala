package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import graft.graph.{Centrality, GraphOps}

/** Plan-discipline audit: builds the physical plan of EVERY catalog
  * query and writes a one-line-per-query summary to PLANS.md — join
  * strategies, exchange count, whole-stage-codegen spans, scan pushdown
  * — flagging any BroadcastNestedLoopJoin or CartesianProduct outside
  * the declared allowlist. Exits nonzero on a violation, so it doubles
  * as a plan-regression gate.
  *
  * Run at sf0.001: plans are audited, not executed (some queries run
  * small driver-side jobs — breakpoint collects, iterative graph builds
  * — while CONSTRUCTING the frame, which is why the audit uses the
  * smallest scale).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 sbt "runMain graft.PlanAudit"
  */
object PlanAudit {

  /** Queries where a nested-loop/cartesian physical join is the declared
    * design, not a regression.
    */
  private val allowlist = Map(
    "s_knn" -> "exactness baseline: brute-force cosine is a cartesian by definition",
    "t_embdup" -> "declared exact twin on a bounded slice (scale path is the LSH-bucketed cosineDups)",
    "s_ivf2" -> "crossJoin of the 1-row broadcast centroid-array frame: per-row quantizer assignment+probe (no N×nLists materialization)",
    "j13_bucket" -> "broadcast interval lookup against a 3-row dimension (non-equi by nature)",
    "w11_smooth" -> "dense rebalance grid: dates × permnos dimension cross (both provably-small dims)",
    "g_info__distributed" -> "crossJoins of 1-row summary aggregates (edge count, component count)",
    "g_community" -> "crossJoins of 1-row modularity/coverage aggregates",
    "a10_kpp__bydate" -> "rel-window expansion: events × 13-row broadcast range cross",
    "t_semdedup__full" -> "crossJoin of the 1-row broadcast centroid-array frame: per-row quantizer assignment (the s_ivf2 shape)",
    "t_semdedup2__full" -> "crossJoins of 1-row broadcast frames: the two-level cell structure (membership kernel) and the coarse centroid array inside the fit's sample assignment — the same s_ivf2 shape at √nLists width",
    "s_ivf2l__full" -> "crossJoins of 1-row broadcast frames: the two-level cell structure (probe kernel) and the fit-internal coarse assignment"
  )

  /** Audit-only frames for plan shapes the catalog queries hide from the
    * gate: `g_hits` and `g_components` eagerly checkpoint each loop round
    * (the final plan shows only the last round + output joins), and
    * `a10_kpp` collects its distributed matrix during construction (the
    * returned frame is 1 local row, so its row was all zeros through
    * round 5). The `__round_body` rows run the production round function
    * once, un-checkpointed ([[hitsRoundBody]], [[ccRoundBody]]); the a10
    * row audits the pre-collect matrix.
    */
  private val extras: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "g_hits__round_body" -> ((s: SparkSession, dir: String) =>
      hitsRoundBody(graft.queries.GraphQ.hitsEdges(s, dir))),
    // the connectedComponents SHUFFLE tier (labels past broadcast, the
    // corpus-scale regime); the catalog-scale broadcast tier is the
    // round-16 shape
    "g_components__round_body" -> ((s: SparkSession, dir: String) =>
      ccRoundBody(graft.queries.GraphQ.nationGraph(s, dir))),
    "a10_kpp__bydate" -> ((s: SparkSession, dir: String) =>
      graft.queries.BacktestQ.a10ByDate(s, dir)._1),
    // g_info's catalog row takes the driver-local tier — this audits
    // the corpus-scale distributed tier
    "g_info__distributed" -> ((s: SparkSession, dir: String) =>
      graft.graph.GraphOps.graphInfo(graft.queries.GraphQ.nationGraph(s, dir),
        maxLocalEdges = 0)),
    // the composite training-data chain (score → gate → redact → exact
    // + near dedup → decontaminate) is spec-only (catalog frozen at 88)
    // but its end-to-end plan is the flagship 100 TB shape — audit it
    "t_pipeline__full" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.documents(s, dir)
      val bench = docs.orderBy("doc_id").limit(50).select(col("text").as("q"))
      graft.text.CorpusPipeline.clean(docs, "doc_id", "text", bench, "q")
    }),
    // spec-only cross-document boilerplate-line scrub: audit the
    // hits-only rebuild shape (no cartesian, corpus text never shuffled)
    "t_linededup__full" -> ((s: SparkSession, dir: String) =>
      graft.text.LineDedup.dedupLines(
        graft.core.Tables.documents(s, dir), "doc_id", "text")),
    // spec-only SemDeDup-style clustered semantic dedup: audit the pair
    // generation (quantizer assignment, candidate equi-join, rescore
    // joins). semanticDedup itself ends in dupGroups' checkpointed
    // iteration, which leaves no plan to audit — the g_hits story.
    "t_semdedup__full" -> ((s: SparkSession, dir: String) =>
      graft.sim.Semantic.semanticDups(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        0.9, nLists = 8)),
    // spec-only DSIR selection: the two model fits run at frame
    // CONSTRUCTION (bounded ≤-buckets collects, the quantizer-fit
    // pattern); the audited plan is the scale-path remainder — the
    // shuffle-free weight projection into the TakeOrderedAndProject
    // top-k (never a full sort of the corpus)
    "t_dsir__full" -> ((s: SparkSession, dir: String) => {
      val docs = graft.core.Tables.documents(s, dir)
      val target = graft.text.NgramLm.fit(docs.orderBy("doc_id").limit(50), "text")
      val raw = graft.text.NgramLm.fit(docs, "text")
      graft.text.NgramLm.dsirSelect(docs, "doc_id", "text", target, raw, 100)
    }),
    // round 13: the two-level (hierarchical) scope twins — audit the
    // membership/probe pair generation (one broadcast-structure kernel
    // pass, candidate equi-join, rescore joins); the quantizer FIT runs
    // at frame construction (bounded sample + per-cell local Lloyd, the
    // t_dsir__full pattern), so the audited plan is the corpus-pass
    // remainder
    "t_semdedup2__full" -> ((s: SparkSession, dir: String) =>
      graft.sim.Semantic.semanticDupsTwoLevel(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        0.9, nLists = 8, cProbe = 2)),
    "s_ivf2l__full" -> ((s: SparkSession, dir: String) =>
      graft.sim.Similarity.ivfTopKTwoLevel(
        graft.core.Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 5, nLists = 16, nProbe = 4)),
    // the full training-prep sequence (round-12 verdict #2): clean →
    // chunk → per-chunk recount → pack. The chunk/recount stages fuse
    // over the pipeline's persisted survivors (no corpus re-scan —
    // CorpusPipelineSpec pins scan-count equality with clean()); the
    // only addition over t_pipeline__full is packing's one
    // deterministic hash exchange.
    "t_chunkpack__full" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.functions.col
      val docs = graft.core.Tables.documents(s, dir)
      val bench = docs.orderBy("doc_id").limit(50).select(col("text").as("q"))
      graft.text.CorpusPipeline.chunkAndPack(
        graft.text.CorpusPipeline.clean(docs, "doc_id", "text", bench, "q"),
        "doc_id", "text", maxChunkTokens = 64, overlap = 8, packBudget = 2048L)
    })
  )

  /** One un-checkpointed [[graft.graph.Centrality.hitsRound]] over the
    * shuffle-path edge pair, with in-degree counts standing in for the
    * previous round's auth. HitsRoundShapeSpec pins its shape.
    */
  private[graft] def hitsRoundBody(edges: DataFrame): DataFrame = {
    val (eByD, eByS) = Centrality.hitsShuffleEdges(Centrality.hitsRaw(edges, "src", "dst"))
    val auth = eByS.groupBy(col("d").as("node")).agg(count(lit(1)).as("a"))
    Centrality.hitsRound(eByD, eByS, Some(auth))._2
  }

  /** One un-checkpointed [[graft.graph.GraphOps.ccRound]] over the
    * shuffle-tier edges, from the seed labels (every node its own
    * component). CCRoundShapeSpec pins its shape.
    */
  private[graft] def ccRoundBody(edges: DataFrame): DataFrame = {
    val (und, hinted) = Centrality.shuffleTier(Centrality.symmetrize(edges), "dst")
    val labels = und.select(col("src").as("node")).distinct()
      .withColumn("component", col("node"))
    GraphOps.ccRound(und, labels, hinted)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(spark)

    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.FileSourceScanExec

    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    var violations = List.empty[String]
    (SparkEntry.queries.toSeq.sortBy(_._1) ++ extras).foreach { case (name, fn) =>
      // traverse the TREE, not the rendered string: the string embeds
      // every cached relation's build plan recursively (a persist-using
      // query renders 100s of phantom operators), while InMemoryTableScan
      // has no children so traversal counts only the outer query
      val executed = fn(spark, sfDir).queryExecution.executedPlan
      // initialPlan (post-EnsureRequirements) so Exchanges are visible;
      // inputPlan would show the tree before shuffles are inserted
      val root: SparkPlan = executed match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val ops = root.collect { case n => n }
      def cnt(p: SparkPlan => Boolean) = ops.count(p)
      val bhj = cnt(_.isInstanceOf[BroadcastHashJoinExec])
      val smj = cnt(_.isInstanceOf[SortMergeJoinExec])
      val shj = cnt(_.isInstanceOf[ShuffledHashJoinExec])
      val bnlj = cnt(_.isInstanceOf[BroadcastNestedLoopJoinExec])
      val cart = cnt(_.isInstanceOf[CartesianProductExec])
      val shuffles = cnt(_.isInstanceOf[ShuffleExchangeExec])
      val bcasts = cnt(_.isInstanceOf[BroadcastExchangeExec])
      val fileScans = ops.collect { case s: FileSourceScanExec => s }
      val pushed = fileScans.count(
        _.metadata.get("PushedFilters").exists(v => v != "[]"))
      val cached = cnt(_.getClass.getSimpleName == "InMemoryTableScanExec")
      val flag =
        if ((bnlj > 0 || cart > 0) && allowlist.contains(name)) "allowed"
        else if (bnlj > 0 || cart > 0) { violations ::= name; "VIOLATION" }
        else ""
      rows += f"| $name | $bhj | $smj | $shj | $bnlj | $cart | $shuffles | $bcasts | ${fileScans.size} | $pushed | $cached | $flag |"
      spark.sharedState.cacheManager.clearCache()
    }

    val md = new StringBuilder
    md ++= "# PLANS — physical-plan audit of every catalog query\n\n"
    md ++= s"Generated by `graft.PlanAudit` at `$sfDir` (plans audited, not executed;\n"
    md ++= "iterative builds run their small construction jobs). Counts come from\n"
    md ++= "traversing the pre-adaptive physical tree — cached-relation build plans\n"
    md ++= "are excluded. A BroadcastNestedLoopJoin / CartesianProduct anywhere but\n"
    md ++= "the allowlist fails the audit (exit 1) — it is a plan-regression gate,\n"
    md ++= "not just a report.\n\n"
    md ++= "`__`-suffixed rows are AUDIT-ONLY frames, not catalog queries: the\n"
    md ++= "hits loop body that per-round checkpoints hide from the final plan,\n"
    md ++= "and the a10_kpp distributed matrix that the query collects during\n"
    md ++= "construction (its own catalog row is a 1-row local frame with no\n"
    md ++= "plan to audit — reading a zero-row a10_kpp line as 'no shuffles'\n"
    md ++= "would be wrong; read a10_kpp__bydate instead). g_hits is the same\n"
    md ++= "story since its driver-local tier landed: the sf0.1 graph sits under\n"
    md ++= "the 2M-edge local guard, so the catalog row is a local result with no\n"
    md ++= "distributed plan — the corpus-scale shuffle tier is what\n"
    md ++= "g_hits__round_body audits; g_info since its round-10 local twin —\n"
    md ++= "g_info__distributed audits the corpus-scale summary plan.\n"
    md ++= "g_components__round_body (r17) audits the connectedComponents\n"
    md ++= "SHUFFLE tier's un-checkpointed round (pre-partitioned |E| leg +\n"
    md ++= "shuffle-hash label builds — the labels-past-broadcast regime);\n"
    md ++= "the catalog-scale broadcast tier keeps the round-16 shape.\n"
    md ++= "t_pipeline__full is the composite training-data chain\n"
    md ++= "(CorpusPipeline.clean: score → gate → redact → exact + near dedup →\n"
    md ++= "decontaminate) — spec-only (catalog frozen at 88) but the flagship\n"
    md ++= "end-to-end 100 TB shape; its cached counts are the persisted scored\n"
    md ++= "survivors that keep the corpus scan + kernel projection at one\n"
    md ++= "execution across the three downstream consumers.\n"
    md ++= "t_semdedup__full audits Semantic.semanticDups' pair generation (the\n"
    md ++= "candidate equi-join + exact-cosine rescore joins over the cached\n"
    md ++= "quantizer assignment — the centroid-broadcast kernel sits inside the\n"
    md ++= "cached build plan); semanticDedup itself ends in dupGroups'\n"
    md ++= "checkpointed iteration, which leaves no outer plan (the g_hits story).\n"
    md ++= "t_dsir__full audits NgramLm.dsirSelect's scale path: the two model\n"
    md ++= "fits run at frame construction (bounded <=-buckets collects), so the\n"
    md ++= "audited plan is the shuffle-free importance-weight projection feeding\n"
    md ++= "the TakeOrderedAndProject top-k — never a full sort of the corpus.\n"
    md ++= "t_chunkpack__full is the full training-prep sequence (clean → chunk →\n"
    md ++= "per-chunk token recount → pack): chunking + recount fuse over the\n"
    md ++= "pipeline's persisted survivors, so its row must read exactly like\n"
    md ++= "t_pipeline__full plus ONE shuffle (packing's deterministic hash\n"
    md ++= "exchange) and NO extra corpus scan.\n"
    md ++= "t_semdedup2__full / s_ivf2l__full (round 13) audit the TWO-LEVEL\n"
    md ++= "scope twins: one broadcast-structure kernel pass (membership/probe),\n"
    md ++= "the candidate equi-join, and the rescore joins — the quantizer fit\n"
    md ++= "(bounded sample + per-cell local Lloyd) runs at frame construction\n"
    md ++= "(the t_dsir__full pattern), so nothing N·nLists appears in any plan.\n\n"
    md ++= "Allowlisted: " + allowlist.map { case (k, v) => s"`$k` ($v)" }.mkString("; ") + "\n\n"
    md ++= "| query | BHJ | SMJ | SHJ | BNLJ | cart | shuffle | bcast | scans | pushed | cached | flag |\n"
    md ++= "|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    rows.foreach(r => md ++= r + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), md.toString)
    println(s"PLANS.md written: ${rows.size} queries, ${violations.size} violations")
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println("plan violations: " + violations.mkString(", "))
      sys.exit(1)
    }
  }
}
