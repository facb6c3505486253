package graft

import org.apache.spark.sql.functions._
import graft.sim.{Semantic, Similarity}

/** SemDeDup-style clustered semantic dedup ([[graft.sim.Semantic]]):
  * differential vs the exact all-pairs twin, determinism, the nProbe
  * soft-assignment recall knob, the degenerate-cluster cap, group
  * semantics vs a local union-find, and the paper's farthest-from-
  * centroid keep policy vs a local recomputation.
  */
class SemanticSpec extends SparkSpec {
  import spark.implicits._

  // 10 tight direction clusters of 20 (the TextSpec ANN generator)
  private def clustered = (0 until 200).map { i =>
    val c = i % 10
    val v = Array.tabulate(16) { d =>
      (math.cos(c * 2.399 + d * 0.71) + 0.001 * ((i * 31 + d) % 7)).toFloat
    }
    (i.toLong, v)
  }.toDF("vec_id", "embedding")

  test("big-regime semanticDups (int8 prefilter in the list join) equals the catalog branch") {
    // the real catalog embeddings PLUS 20 planted exact copies, so the
    // tight-threshold arm can never pass vacuously (this corpus has no
    // natural cos ≥ 0.9 pairs — a measured rescore-bytes lesson); the
    // big regime fuses the lossless int8 upper bound into the per-list
    // pair join (round 12) — outputs must match pair-for-pair
    val base = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val vecs = base.union(base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label")))
    // 0.7 = the MinClusterScopedThreshold floor (round 14): the loose
    // arm exercises the prefilter's survivor volume at the loosest
    // accepted threshold; the guard owns everything below it
    for (threshold <- Seq(0.7, 0.9)) {
      // one scope per run: don't pin 8 MEMORY_AND_DISK caches in the
      // shared session
      def run() = graft.core.Scope.within {
        Semantic.semanticDups(vecs, "vec_id",
          "embedding", threshold = threshold, nLists = 8, nProbe = 2, maxList = 10000)
          .select(col("id_a"), col("id_b"), col("cos"))
          .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      }
      val cat = run()
      val big = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
      assert(cat.nonEmpty, s"t=$threshold produced no pairs — vacuous despite planted dups")
      assert(cat.keySet == big.keySet,
        s"t=$threshold: onlyCat=${(cat.keySet -- big.keySet).take(5)} " +
          s"onlyBig=${(big.keySet -- cat.keySet).take(5)}")
      cat.foreach { case (k, c) =>
        assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
          BigDecimal(big(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
          s"t=$threshold $k: $c vs ${big(k)}")
      }
    }
  }

  test("nLists=1 degenerates to the exact all-pairs twin") {
    // one cluster holds everything, so the candidate scope is total:
    // semanticDups must equal cosineDupsExact value-for-value
    val sem = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
        nLists = 1)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6))
      .as[(Long, Long, Double)].collect().toSet
    val exact = Similarity.cosineDupsExact(clustered, "vec_id", "embedding", 0.9)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(sem == exact)
    assert(sem.nonEmpty, "generator sanity: some pairs above 0.9")
  }

  test("planted exact copies are all found at clustered nLists; no false positives") {
    // 40 spread base vectors + an identical copy of every 4th: identical
    // vectors always share a cluster, so every planted pair survives the
    // cluster scope at any nLists
    val base = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 2.399 + d * 0.71).toFloat))
    }
    val copies = (0 until 40 by 4).map { i => (1000L + i, base(i)._2) }
    val vecs = (base ++ copies).toDF("vec_id", "embedding")
    val sem = Semantic.semanticDups(vecs, "vec_id", "embedding", 0.999,
        nLists = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Similarity.cosineDupsExact(vecs, "vec_id", "embedding", 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 40 by 4).map(i => (i.toLong, 1000L + i)).toSet
    assert(planted.subsetOf(sem), "every planted (base, copy) pair found")
    assert(sem.subsetOf(exact), "exact rescoring admits no false positives")
  }

  test("deterministic run-to-run at a fixed seed") {
    def run() = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.95,
        nLists = 10, seed = 7L)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6))
      .as[(Long, Long, Double)].collect().toSet
    assert(run() == run())
  }

  test("nProbe=2 soft assignment only adds pairs (boundary recall knob)") {
    val one = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
        nLists = 10, nProbe = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val two = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
        nLists = 10, nProbe = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // lists[0] is included in both assignments, so nProbe=1 pairs survive
    assert(one.subsetOf(two))
  }

  test("maxList drops degenerate clusters from pair generation") {
    // with everything in ONE list (nLists=1), a cap below the corpus
    // size suppresses all pairs; without the cap there are many
    val capped = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
      nLists = 1, maxList = 50)
    val uncapped = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
      nLists = 1)
    assert(capped.count() == 0)
    assert(uncapped.count() > 0)
  }

  test("semanticDedup groups match a local union-find of the pair graph") {
    val pairs = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.95,
        nLists = 10, seed = 7L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // local reference: min-label connected components + sizes
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val label = nodes.map(n => n -> nodes.filter(m => find(m) == find(n)).min).toMap
    val sizes = label.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expect = nodes.map(n => (n, label(n), sizes(label(n)))).toSet
    val got = Semantic.semanticDedup(clustered, "vec_id", "embedding", 0.95,
        nLists = 10, seed = 7L)
      .select("doc_id", "keep_id", "group_size")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expect)
  }

  test("keepFarthest picks the group member farthest from its centroid") {
    // one direction with magnitudes 1..5 (cosine 1.0 pairwise — one dup
    // group of 5) + far-off singleton directions; nLists=1 makes the
    // centroid the GLOBAL mean, recomputed locally below
    val dir = Array.tabulate(8)(d => math.sin(d * 0.9 + 0.4))
    val group = (1 to 5).map(m => (m.toLong, dir.map(x => (x * m).toFloat)))
    // scaled basis vectors: pairwise orthogonal (cos 0) and far from the
    // ladder direction, so the ladder is the ONLY >= 0.999 dup group
    val others = (0 until 6).map { i =>
      (100L + i, Array.tabulate(8)(d => if (d == i) 2.0f else 0.0f))
    }
    val vecs = (group ++ others).toDF("vec_id", "embedding")
    val out = Semantic.semanticDedup(vecs, "vec_id", "embedding", 0.999,
        nLists = 1, keepFarthest = true)
      .select("doc_id", "keep_id", "group_size")
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._1).toSet == (1L to 5L).toSet, "the magnitude ladder is the one group")
    assert(out.forall(_._3 == 5L))
    // local argmax ||x - mean||^2 over the group (k=1 Lloyd = the mean)
    val all = (group ++ others).map(_._2.map(_.toDouble))
    val mean = all.transpose.map(c => c.sum / all.size)
    val d2 = group.map { case (id, v) =>
      id -> v.map(_.toDouble).zip(mean).map { case (x, m) => (x - m) * (x - m) }.sum
    }
    val expectKeep = d2.maxBy(p => (p._2, -p._1))._1
    assert(out.forall(_._2 == expectKeep),
      s"keeper should be $expectKeep (distances $d2), got ${out.map(_._2).toSet}")
  }

  test("default keep policy is the group-minimum id (dupGroups convention)") {
    val out = Semantic.semanticDedup(clustered, "vec_id", "embedding", 0.95,
        nLists = 10, seed = 7L)
      .select("doc_id", "keep_id").as[(Long, Long)].collect()
    val byGroup = out.groupBy(_._2)
    byGroup.foreach { case (keep, members) =>
      assert(members.map(_._1).min == keep)
    }
  }

  test("reserved id column name and bad arguments are rejected") {
    for (bad <- Seq("list", "lists", "cos", "centroid")) {
      val renamed = clustered.withColumnRenamed("vec_id", bad)
      intercept[IllegalArgumentException](
        Semantic.semanticDups(renamed, bad, "embedding", 0.9))
      intercept[IllegalArgumentException](
        Semantic.semanticDedup(renamed, bad, "embedding", 0.9, keepFarthest = true))
    }
    intercept[IllegalArgumentException](
      Semantic.semanticDups(clustered, "vec_id", "embedding", 1.5))
    intercept[IllegalArgumentException](
      Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9, nProbe = 0))
  }

  test("mid-threshold misuse is rejected across the cluster-scoped family") {
    // round-13 finding, round-14 guard: at t = 0.4 the flat and
    // two-level scopes overlapped on 2.65% of pairs — each an arbitrary
    // ~0.2% sliver of the qualifying universe. The guard steers
    // mid-threshold similarity joins to cosineDups/cosineDupsExact.
    assert(Semantic.MinClusterScopedThreshold == 0.7)
    val e = intercept[IllegalArgumentException](
      Semantic.semanticDups(clustered, "vec_id", "embedding", 0.4))
    assert(e.getMessage.contains("cosineDups"), e.getMessage)
    intercept[IllegalArgumentException](
      Semantic.semanticDupsTwoLevel(clustered, "vec_id", "embedding", 0.4))
    intercept[IllegalArgumentException](
      Semantic.semanticDedup(clustered, "vec_id", "embedding", 0.69))
    intercept[IllegalArgumentException](
      Semantic.semanticDedupTwoLevel(clustered, "vec_id", "embedding", 0.69))
    // the floor itself and everything above stays accepted
    assert(Semantic.semanticDups(clustered, "vec_id", "embedding",
      Semantic.MinClusterScopedThreshold, nLists = 4).columns
      .sameElements(Array("id_a", "id_b", "cos")))
  }

  test("closing the scope drops the internal caches; frames stay correct after close") {
    import graft.core.Scope
    spark.sharedState.cacheManager.clearCache() // isolate from earlier tests
    val (pairs, scope) = Scope.open(Semantic.semanticDups(
      clustered, "vec_id", "embedding", 0.95, nLists = 10, seed = 7L))
    val before = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!spark.sharedState.cacheManager.isEmpty, "vector/assignment caches live")
    scope.close()
    assert(spark.sharedState.cacheManager.isEmpty,
      "closing the scope must unpersist both internal caches")
    // re-evaluation after the close recomputes and agrees
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet == before)
    // the default min-id dedup is eager and releases its caches itself
    Semantic.semanticDedup(clustered, "vec_id", "embedding", 0.95,
      nLists = 10, seed = 7L).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "semanticDedup (min-id policy) must not pin caches after returning")
    // keepFarthest reads the caches lazily, so they stay with the scope
    val (far, farScope) = Scope.open(Semantic.semanticDedup(
      clustered, "vec_id", "embedding", 0.95, nLists = 10, seed = 7L,
      keepFarthest = true))
    val want = far.select("doc_id", "keep_id").as[(Long, Long)].collect().toSet
    assert(!spark.sharedState.cacheManager.isEmpty, "keepFarthest reads the caches lazily")
    farScope.close()
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(far.select("doc_id", "keep_id").as[(Long, Long)].collect().toSet == want)
  }

  test("plan: no cartesian; every nested-loop join is a 1-row identity broadcast") {
    val plan = Semantic.semanticDups(clustered, "vec_id", "embedding", 0.9,
      nLists = 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the only BNLJ shape is the broadcast of the 1-row collected
    // centroid array (IdentityBroadcastMode over a global aggregate) —
    // cached-plan reprs may print it more than once, but never against
    // a corpus-sized side
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    val ident = "IdentityBroadcastMode".r.findAllIn(plan).size
    assert(bnlj == ident, s"non-centroid nested-loop join in:\n$plan")
  }
}
