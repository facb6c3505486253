package graft.sim

import org.apache.spark.sql.functions._
import graft.functions.VectorF

/** Two-level (hierarchical) semantic-dedup scope
  * ([[graft.sim.Semantic.semanticDupsTwoLevel]]):
  *   - the SCOPE CONTRACT — pairs ≡ brute-force cosine filtered to
  *     "shares ≥ 1 membership", memberships from the op's own quantizer;
  *   - determinism (same seed twice → identical output; the fine fit
  *     sorts group rows by value, so shuffle arrival order cannot leak);
  *   - the measured recall contract on a seeded isotropic corpus with
  *     planted near-dups (the worst-case geometry the scaladoc cites);
  *   - cross-regime equality (catalog vs big/int8-prefiltered pair
  *     join — the SemanticSpec harness transposed);
  *   - kernel selection semantics (exact ties → smaller index/list;
  *     degenerate vectors → first cells' smallest lists);
  *   - cProbe = 1 pair uniqueness without a dedup shuffle.
  */
class TwoLevelSpec extends graft.SparkSpec {
  import spark.implicits._

  /** Seeded isotropic unit vectors + planted near-dups: nBase vectors
    * at `dim`, nDup perturbed copies at cos ≈ 0.95 of bases 0..nDup-1
    * (dup i = base i + noise, renormalized), ids: bases 0..nBase-1,
    * dups nBase+i.
    */
  private def isotropicWithDups(nBase: Int, nDup: Int, dim: Int, seed: Long) = {
    val rnd = new java.util.Random(seed)
    def unit(noise: Array[Double] = null, of: Array[Double] = null) = {
      val v = if (of == null) Array.fill(dim)(rnd.nextGaussian())
        else Array.tabulate(dim)(d => of(d) + noise(d))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val bases = Array.fill(nBase)(unit())
    val dups = (0 until nDup).map { i =>
      unit(Array.fill(dim)(rnd.nextGaussian() * 0.035), bases(i))
    }
    (bases.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      dups.zipWithIndex.map { case (v, i) => ((nBase + i).toLong, v) })
      .toSeq.toDF("vec_id", "embedding")
  }

  test("scope contract: pairs == brute-force cosine filtered to shared membership") {
    val df = isotropicWithDups(nBase = 800, nDup = 120, dim = 16, seed = 7)
    val t = 0.5
    val (nLists, cProbe, seed) = (24, 2, 42L)
    val pairs = Semantic.semanticDupsTwoLevelUnguarded(df, "vec_id", "embedding",
      threshold = t, nLists = nLists, cProbe = cProbe, seed = seed)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap

    // the op's own scope, recomputed: same fit inputs + seed → same
    // quantizer (the determinism test below pins that), memberships via
    // the same kernel
    val v = Similarity.prepped(df, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tl = Similarity.fitTwoLevelQuantizer(v, nLists, seed)
    val mem = Similarity.twoLevelMemberships(v, "vec_id", tl.structure, cProbe)
      .as[(Long, Array[Int])].collect().map { case (id, ls) => id -> ls.toSet }.toMap
    val vecs = df.as[(Long, Array[Double])].collect().toMap
    v.unpersist(blocking = false)

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = vecs.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if mem(a).intersect(mem(b)).nonEmpty
      c = cos(vecs(a), vecs(b))
      if c >= t
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "vacuous: no in-scope pairs at the threshold")
    assert(pairs.keySet == expected,
      s"onlyOp=${(pairs.keySet -- expected).take(5)} onlyBrute=${(expected -- pairs.keySet).take(5)}")
  }

  test("determinism: same seed twice -> identical pairs and cosines") {
    val df = isotropicWithDups(nBase = 600, nDup = 80, dim = 16, seed = 11)
    def run() = Semantic.semanticDupsTwoLevelUnguarded(df, "vec_id", "embedding",
      threshold = 0.5, nLists = 20, cProbe = 2, seed = 99L)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val a = run()
    val b = run()
    assert(a.nonEmpty && a == b)
  }

  test("recall contract: planted cos~0.95 pair recall >= 0.9 at cProbe=2, occupancy rule") {
    // the scaladoc's measured regime, scaled to spec runtime: isotropic
    // unit vectors at dim 64 (the corpus geometry), lists at the
    // twoLevelNLists occupancy rule
    val nBase = 5000
    val nDup = 500
    val df = isotropicWithDups(nBase, nDup, dim = 64, seed = 3)
    val n = nBase + nDup
    val pairs = Semantic.semanticDupsTwoLevel(df, "vec_id", "embedding",
      threshold = 0.9, nLists = Capacity.twoLevelNLists(n, cProbe = 2),
      cProbe = 2, seed = 42L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = (0 until nDup).count(i =>
      pairs.contains((i.toLong, (nBase + i).toLong)))
    val recall = found.toDouble / nDup
    assert(recall >= 0.9, s"planted-pair recall $recall < 0.9 ($found/$nDup)")
  }

  test("big-regime two-level (int8 prefilter in the list join) equals the catalog branch") {
    val base = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val vecs = base.union(base.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label")))
    def run() = graft.core.Scope.within {
      Semantic.semanticDupsTwoLevel(vecs,
        "vec_id", "embedding", threshold = 0.9, nLists = 8, cProbe = 2,
        maxList = 10000)
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    }
    val cat = run()
    val big = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(cat.nonEmpty, "vacuous despite planted exact copies")
    assert(cat.keySet == big.keySet,
      s"onlyCat=${(cat.keySet -- big.keySet).take(5)} onlyBig=${(big.keySet -- cat.keySet).take(5)}")
    cat.foreach { case (k, c) =>
      assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
        BigDecimal(big(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
        s"$k: $c vs ${big(k)}")
    }
  }

  test("cProbe=1 memberships are single: pair rows unique without a distinct") {
    val df = isotropicWithDups(nBase = 400, nDup = 60, dim = 16, seed = 5)
    val pairs = Semantic.semanticDupsTwoLevelUnguarded(df, "vec_id", "embedding",
      threshold = 0.3, nLists = 12, cProbe = 1, seed = 42L)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.length == pairs.toSet.size, "duplicate pair rows at cProbe=1")
  }

  test("kernel selection: exact ties keep the smaller cell index / list id") {
    // two cells at mirrored positions, the query equidistant; within the
    // probed cell two fines equidistant — both ties must resolve small
    val sql = """
      select array(0.0d, 1.0d) as v,
        array(
          named_struct('gcent', array(1.0d, 1.0d), 'gcc', 2.0d,
            'fines', array(
              named_struct('list', 3, 'centroid', array(0.0d, 2.0d), 'cc', 4.0d),
              named_struct('list', 7, 'centroid', array(0.0d, 0.0d), 'cc', 0.0d))),
          named_struct('gcent', array(-1.0d, 1.0d), 'gcc', 2.0d,
            'fines', array(
              named_struct('list', 9, 'centroid', array(-1.0d, 1.0d), 'cc', 2.0d)))
        ) as cells
    """
    val row = spark.sql(sql)
      .select(VectorF.twoLevelMemberships(col("v"), col("cells"), 1).as("m"))
      .as[Array[Int]].head()
    // coarse tie (both cells at distance² 1) -> cell 0; fine tie within
    // cell 0 (lists 3 and 7 both at distance² 1) -> list 3
    assert(row.toSeq == Seq(3), s"got ${row.toSeq}")
    // cProbe=2 probes both cells, nearest cell first
    val row2 = spark.sql(sql)
      .select(VectorF.twoLevelMemberships(col("v"), col("cells"), 2).as("m"))
      .as[Array[Int]].head()
    assert(row2.toSeq == Seq(3, 9), s"got ${row2.toSeq}")
  }

  test("degenerate vectors: NaN/zero rows take the documented memberships and don't crash") {
    val sql = """
      select array(
          named_struct('gcent', array(1.0d, 0.0d), 'gcc', 1.0d,
            'fines', array(
              named_struct('list', 5, 'centroid', array(1.0d, 0.0d), 'cc', 1.0d),
              named_struct('list', 2, 'centroid', array(0.9d, 0.1d), 'cc', 0.82d))),
          named_struct('gcent', array(0.0d, 1.0d), 'gcc', 1.0d,
            'fines', array(
              named_struct('list', 8, 'centroid', array(0.0d, 1.0d), 'cc', 1.0d)))
        ) as cells
    """
    // non-finite vv -> first cProbe cells in index order, each cell's
    // nearest-by-scan fine; NaN distances never displace, so the cell's
    // FIRST fine in (list-sorted) array order wins. The builder sorts
    // fines by list id, but this hand-built cell deliberately does not
    // (fine order 5 then 2) — the kernel's documented degenerate rule
    // is "first fine in array order", which here is list 5.
    val nan = spark.sql(sql).select(
      VectorF.twoLevelMemberships(
        array(lit(Double.NaN), lit(1.0)), col("cells"), 2).as("m"))
      .as[Array[Int]].head()
    assert(nan.toSeq == Seq(5, 8), s"got ${nan.toSeq}")
    // a zero vector is finite: regular nearest semantics apply
    val zero = spark.sql(sql).select(
      VectorF.twoLevelMemberships(
        array(lit(0.0), lit(0.0)), col("cells"), 1).as("m"))
      .as[Array[Int]].head()
    assert(zero.toSeq == Seq(2), s"got ${zero.toSeq}") // cc 0.82 < 1.0
    // and end-to-end: a corpus containing NaN/zero rows still runs
    // (zero norms used to raise ANSI DIVIDE_BY_ZERO across the whole
    // rescore family — now they divide as NaN, the documented
    // degenerate semantics, and surface as NaN-cos pairs)
    val df = isotropicWithDups(nBase = 300, nDup = 40, dim = 16, seed = 13)
      .union(Seq(
        (900000L, Array.fill(16)(Double.NaN)),
        (900001L, Array.fill(16)(0.0))).toDF("vec_id", "embedding"))
    val pairs = Semantic.semanticDupsTwoLevelUnguarded(df, "vec_id", "embedding",
      threshold = 0.5, nLists = 10, cProbe = 2, seed = 42L)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    val zeroPairs = pairs.filter(p => p._1 == 900001L || p._2 == 900001L)
    assert(zeroPairs.nonEmpty && zeroPairs.forall(_._3.isNaN),
      s"zero-norm pairs should surface with NaN cos, got ${zeroPairs.take(3).toSeq}")
    // the exact twin takes the same ANSI-safe path
    val exact = Similarity.cosineDupsExact(df, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    assert(exact.filter(p => p._1 == 900001L || p._2 == 900001L).forall(_._3.isNaN))
  }

  test("semanticDedupTwoLevel groups and keepFarthest re-pick are well-formed") {
    val df = isotropicWithDups(nBase = 500, nDup = 80, dim = 16, seed = 17)
    val groups = Semantic.semanticDedupTwoLevel(df, "vec_id", "embedding",
      threshold = 0.9, nLists = 16, cProbe = 2, seed = 42L)
      .as[(Long, Long, Long)].collect()
    assert(groups.nonEmpty)
    // min-id policy: keeper is the group's smallest member
    groups.groupBy(_._2).foreach { case (keep, members) =>
      assert(members.map(_._1).min == keep)
    }
    val farRows = graft.core.Scope.within(Semantic.semanticDedupTwoLevel(df, "vec_id",
      "embedding", threshold = 0.9, nLists = 16, cProbe = 2, seed = 42L,
      keepFarthest = true).as[(Long, Long, Long)].collect())
    // same groups, one keeper per group, keeper is a member
    assert(farRows.map(_._1).sorted.toSeq == groups.map(_._1).sorted.toSeq)
    farRows.groupBy(_._2).foreach { case (keep, members) =>
      assert(members.map(_._1).contains(keep))
    }
  }

  test("ivfTopKTwoLevel: recall vs brute force, determinism, cross-regime equality") {
    val df = isotropicWithDups(nBase = 1500, nDup = 200, dim = 32, seed = 29)
    val k = 5
    // the s_ivf2 catalog shape (nLists = ivfNLists(1700) = 16, nProbe 4
    // -> ~25% coverage) — the regime the flat recall spec pins too
    def run() = Similarity.ivfTopKTwoLevel(df, "vec_id", "embedding", k = k,
      nLists = Capacity.ivfNLists(1700), nProbe = 4, seed = 42L)
      .select("query_id", "neighbor_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    val a = run()
    assert(a.toSeq.sorted == run().toSeq.sorted, "nondeterministic output")
    // recall@k vs exact brute force (spec-pinned contract; the planted
    // dups guarantee non-trivial true neighbors exist)
    val truth = Similarity.bruteForceTopK(df, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    def meanRecall(rows: Array[(Long, Long, Int, Double)]): Double = {
      val got = rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val rs = truth.map { case (q, t) =>
        got.get(q).map(g => (g intersect t).size.toDouble / t.size).getOrElse(0.0)
      }
      rs.sum / rs.size
    }
    // the recall CONTRACT is relative to the flat op on the SAME corpus
    // and shape: this seeded corpus is isotropic-worst-case, where ANY
    // 25%-coverage IVF has middling absolute recall (flat measures
    // ~0.61 here; its own >=0.9 spec runs on a clustered corpus) — the
    // versioned scope must not give up more than a sliver of it
    val flat = Similarity.ivfTopK(df, "vec_id", "embedding", k = k,
      nLists = Capacity.ivfNLists(1700), nProbe = 4, seed = 42L)
      .select("query_id", "neighbor_id", "rank", "cos")
      .as[(Long, Long, Int, Double)].collect()
    val (rTwo, rFlat) = (meanRecall(a), meanRecall(flat))
    assert(rTwo >= rFlat - 0.12 && rTwo >= 0.45,
      s"two-level recall@$k $rTwo vs flat $rFlat — outside the pinned contract")
    // cross-regime: the big (int8 bounds + bar) path is output-identical
    val big = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(a.map(t => (t._1, t._3)).toSet == big.map(t => (t._1, t._3)).toSet)
    val bigM = big.map(t => (t._1, t._3) -> (t._2, t._4)).toMap
    a.foreach { case (q, n, r, c) =>
      val (bn, bc) = bigM((q, r))
      // the catalog regime scores f64, the big regime f32: a cosine
      // sitting on a 6dp rounding boundary can round one quantum apart
      // (the documented vecPayload knife edge) — same neighbors, and
      // cosines within one quantum (+ FP slack on the comparison)
      assert(n == bn && math.abs(c - bc) <= 1.01e-6, s"($q,$r): ($n,$c) vs ($bn,$bc)")
    }
  }

  test("twoLevelNLists occupancy rule") {
    // cProbe=1 degenerates to the flat rule; cProbe=2 halves the target
    // list size (cProbe x lists at ~1/cProbe size keeps occupancy)
    assert(Capacity.twoLevelNLists(2000, cProbe = 1) == Capacity.ivfNLists(2000))
    assert(Capacity.twoLevelNLists(1458000, cProbe = 2) ==
      Capacity.ivfNLists(1458000, rowsPerList = 63))
    // caps hold
    assert(Capacity.twoLevelNLists(1L << 62, cProbe = 2) == (1 << 20))
    assert(Capacity.twoLevelNLists(100, cProbe = 2) == 16)
  }
}
