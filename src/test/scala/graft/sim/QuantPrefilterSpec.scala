package graft.sim

import org.apache.spark.sql.functions._
import graft.functions.VectorF

/** The big-regime near-dup candidate prefilter (round 12): cosineDups
  * fuses an int8-quantized cosine UPPER BOUND into the LSH bucket
  * self-join, so candidate pairs that cannot reach the threshold die
  * inside the join's stage — they never shuffle into the distinct and
  * never re-join vectors. Correctness rests on one inequality
  * ([[graft.functions.QuantKernel]]): the bound never reads BELOW the
  * exact dot, so prefilter survivors are a superset of the true pairs
  * and the exact rescore downstream makes the output identical to the
  * catalog branch.
  *
  * Lives in package graft.sim to reach the private[sim] quantUpper so
  * the property test exercises the PRODUCTION formula, not a replica.
  */
class QuantPrefilterSpec extends graft.SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private lazy val vecs = graft.core.Tables.embeddings(spark, dir)

  private def inBigRegime[A](f: => A): A =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  test("quantI8: layout, zero vector, null semantics; dotpI8 exactness") {
    val out = Seq(
      (1L, Array(1.0, -1.0, 0.5, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)),
      (3L, Array(127.0, -127.0, 63.5, 1.0))
    ).toDF("id", "v")
      .select(col("id"), VectorF.quantI8(col("v").cast("array<double>")).as("q"))
      .select(col("id"), col("q.q"), col("q.s"), col("q.l1"))
      .as[(Long, Array[Byte], Double, Double)].collect().sortBy(_._1)
    // id 1: s = 1/127; components quantize to ±127, ±64 (0.5/(1/127) = 63.5
    // rounds half-UP to 64), 0
    assert(out(0)._2.toSeq == Seq[Byte](127, -127, 64, 0))
    assert(out(0)._3 == 1.0 / 127.0 && out(0)._4 == 2.5)
    // id 2: all-zero vector → s = 0, q = 0, l1 = 0 (bound check 0 ≥ 0
    // keeps the pair; the exact stage's NaN cosine drops it)
    assert(out(1)._2.forall(_ == 0) && out(1)._3 == 0.0 && out(1)._4 == 0.0)
    // id 3: s = 1 exactly, components round to themselves
    assert(out(2)._2.toSeq == Seq[Byte](127, -127, 64, 1) && out(2)._3 == 1.0)

    // dotpI8 is exact integer arithmetic
    val d = Seq((Array[Byte](127, -127, 64, 1), Array[Byte](1, 2, 3, 4)))
      .toDF("a", "b").select(VectorF.dotpI8(col("a"), col("b"))).as[Long].head()
    assert(d == 127L - 254L + 192L + 4L)

    // null array / null element / length mismatch → null (DotProduct
    // convention)
    val nulls = spark.sql(
      """SELECT CAST(NULL AS ARRAY<DOUBLE>) AS v, CAST(NULL AS BINARY) AS x, CAST('ab' AS BINARY) AS y
         UNION ALL SELECT ARRAY(1.0, CAST(NULL AS DOUBLE)), CAST('a' AS BINARY), CAST('ab' AS BINARY)""")
      .select(VectorF.quantI8(col("v")).as("q"), VectorF.dotpI8(col("x"), col("y")).as("d"))
      .collect()
    assert(nulls.forall(r => r.isNullAt(0) && r.isNullAt(1)), nulls.mkString(","))
  }

  test("quantUpper never reads below the exact dot (adversarial + random)") {
    val rnd = new scala.util.Random(42)
    def vec(dim: Int, gen: Int => Double): Array[Double] = Array.tabulate(dim)(gen)
    val shapes: Seq[Array[Double]] =
      Seq(
        vec(64, _ => rnd.nextDouble() * 2 - 1),            // uniform
        vec(64, _ => rnd.nextGaussian()),                  // gaussian
        vec(64, i => if (i == 7) 1e30 else 1e-30),         // spike + tiny
        vec(64, i => if (i % 2 == 0) 1e-300 else -1e-300), // subnormal-adjacent
        vec(64, _ => 0.0),                                 // zero
        vec(64, _ => -3.25),                               // constant negative
        vec(1, _ => 0.7), vec(1, _ => -0.7),               // dim 1
        vec(128, i => math.sin(i.toDouble)),               // smooth
        vec(64, i => if (i < 32) 1.0 else -1.0)            // sign blocks
      ) ++
        // near-duplicate pairs land adjacent so crossJoin pairs them too
        (0 until 40).map(k => vec(64, i => rnd.nextGaussian() * (1 + k * 0.1))) ++
        (0 until 40).map(k => vec(64, i => math.cos(i * (k + 1) / 7.0) + rnd.nextDouble() * 1e-6))
    val df = shapes.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val q = df.select(col("id"), col("v"), VectorF.quantI8(col("v")).as("q"))
    val a = q.select(col("id").as("ia"), col("v").as("va"), col("q").as("qa"))
    val b = q.select(col("id").as("ib"), col("v").as("vb"), col("q").as("qb"))
    val checked = a.crossJoin(b).where(col("ia") <= col("ib"))
      .select(col("ia"), col("ib"),
        VectorF.dotp(col("va"), col("vb")).as("dot"),
        Similarity.quantUpper(col("qa"), col("qb")).as("upper"))
      .collect()
    assert(checked.length == shapes.length * (shapes.length + 1) / 2)
    var verified = 0
    checked.foreach { r =>
      val (ia, ib) = (r.getLong(0), r.getLong(1))
      // dimension-mismatched pairs: BOTH the exact dot and the bound go
      // null (same length-mismatch convention) — filters drop the pair
      // in both paths; assert the consistency rather than skip silently
      if (r.isNullAt(2) || r.isNullAt(3)) {
        assert(r.isNullAt(2) && r.isNullAt(3), s"($ia,$ib): null asymmetry $r")
      } else {
        val (dot, upper) = (r.getDouble(2), r.getDouble(3))
        // a non-finite exact dot makes BOTH the bound and the exact
        // cosine NaN, and Spark orders NaN above every double — such
        // pairs pass the prefilter AND the exact `cos >= t` filter, in
        // both regimes consistently (they surface with cos = NaN), so
        // the bound owes no ordering there; everywhere finite it must
        // dominate
        if (!dot.isNaN && !dot.isInfinite) {
          assert(upper >= dot, s"($ia,$ib): upper $upper < dot $dot")
          verified += 1
        }
      }
    }
    // 4095 pairs total; dim-1/dim-128 mismatches and the spike/Inf
    // shapes account for the non-finite remainder
    assert(verified > 3500, s"only $verified finite pairs — test is vacuous")
  }

  test("quantLower never reads above the exact dot (same adversarial set)") {
    val rnd = new scala.util.Random(7)
    val shapes: Seq[Array[Double]] =
      Seq(Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(0.0),
        Array.tabulate(64)(i => if (i == 3) 1e30 else 1e-30),
        Array.fill(64)(-2.5), Array.tabulate(64)(i => math.sin(i * 0.7))) ++
        (0 until 30).map(_ => Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val df = shapes.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val q = df.select(col("id"), col("v"), VectorF.quantI8(col("v")).as("q"))
    val a = q.select(col("id").as("ia"), col("v").as("va"), col("q").as("qa"))
    val b = q.select(col("id").as("ib"), col("v").as("vb"), col("q").as("qb"))
    val checked = a.crossJoin(b).where(col("ia") <= col("ib"))
      .select(VectorF.dotp(col("va"), col("vb")).as("dot"),
        Similarity.quantLower(col("qa"), col("qb")).as("lower"),
        Similarity.quantUpper(col("qa"), col("qb")).as("upper"))
      .collect()
    var verified = 0
    checked.foreach { r =>
      val dot = r.getDouble(0)
      if (!dot.isNaN && !dot.isInfinite) {
        val (lo, up) = (r.getDouble(1), r.getDouble(2))
        assert(lo <= dot && dot <= up, s"violated: $lo <= $dot <= $up")
        assert(lo <= up)
        verified += 1
      }
    }
    assert(verified > 400, s"only $verified finite pairs — vacuous")
  }

  test("big-regime top-k (ivfTopK / ivfTopKFixed / lshTopK) matches the catalog branch") {
    def runs: Seq[() => Map[(Long, Long), (Long, Double)]] = Seq(
      () => Similarity.ivfTopK(vecs, "vec_id", "embedding", k = 5,
        nLists = 16, nProbe = 4, seed = 42L),
      () => Similarity.ivfTopKFixed(vecs, "vec_id", "embedding", k = 5,
        nLists = 16, nProbe = 4),
      () => Similarity.lshTopK(vecs, "vec_id", "embedding", k = 5,
        planes = 12, tables = 4)
    ).map(f => () => f().select(col("query_id"), col("rank"),
        col("neighbor_id"), col("cos"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap)
    for ((run, name) <- runs.zip(Seq("ivfTopK", "ivfTopKFixed", "lshTopK"))) {
      val cat = run()
      val big = inBigRegime(run())
      assert(cat.nonEmpty, s"$name produced nothing — vacuous")
      assert(cat.keySet == big.keySet, s"$name (query,rank) sets differ")
      cat.foreach { case (key, (n, c)) =>
        val (n2, c2) = big(key)
        assert(n == n2, s"$name $key: neighbor $n vs $n2 (cos $c vs $c2)")
        assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
          BigDecimal(c2).setScale(6, BigDecimal.RoundingMode.HALF_UP),
          s"$name $key: $c vs $c2")
      }
    }
  }

  test("top-k prefilter: k larger than any query's candidate count keeps everything") {
    // 6 clustered vectors, k = 50 — every query has < k candidates, so
    // the bar degenerates to -Inf and the prefilter must keep all;
    // output must equal the catalog branch exactly
    val vs = (0 until 6).map(i =>
      (i.toLong, Array.tabulate(8)(j => (if (i % 2 == 0) 1.0 else -1.0) * (j + 1) + i * 0.01)))
    val df = vs.toDF("vec_id", "embedding")
    def run() = Similarity.lshTopK(df, "vec_id", "embedding", k = 50,
        planes = 2, tables = 2)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 9).as("cos"))
      .as[(Long, Long, Long, Double)].collect().toSet
    val cat = run()
    val big = inBigRegime(run())
    assert(cat.nonEmpty && cat == big,
      s"onlyCat=${(cat -- big).take(3)} onlyBig=${(big -- cat).take(3)}")
  }

  test("top-k plan gates: quantized bounds big-regime only") {
    def topk = Similarity.ivfTopKFixed(vecs, "vec_id", "embedding", k = 5,
      nLists = 16, nProbe = 4)
    val big = inBigRegime(topk.queryExecution.executedPlan.toString)
    assert(big.contains("graft_quant_i8") && big.contains("graft_dot_i8"), big.take(3000))
    assert(big.contains("graft_dotf"), big.take(3000)) // exact rescore on survivors
    val small = topk.queryExecution.executedPlan.toString
    assert(!small.contains("graft_quant_i8") && !small.contains("graft_dot_i8"),
      small.take(3000))
    assert(small.contains("graft_dot("), small.take(3000))
  }

  test("big-regime cosineDups output is identical to the catalog branch") {
    // 20 planted exact copies keep the tight-threshold arm non-vacuous
    // (this corpus has no natural cos ≥ 0.9 pairs)
    val withDups = vecs.union(vecs.orderBy("vec_id").limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label")))
    for (threshold <- Seq(0.4, 0.9)) {
      def run() = Similarity.cosineDups(withDups, "vec_id", "embedding",
          threshold = threshold, planes = 8, tables = 8, maxBucket = 10000)
        .select(col("id_a"), col("id_b"), col("cos"))
        .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val cat = run()
      val big = inBigRegime(run())
      assert(cat.nonEmpty, s"t=$threshold: no pairs — vacuous despite planted dups")
      assert(cat.keySet == big.keySet,
        s"t=$threshold pair sets differ: onlyCat=${(cat.keySet -- big.keySet).take(5)} " +
          s"onlyBig=${(big.keySet -- cat.keySet).take(5)}")
      cat.foreach { case (k, c) =>
        assert(BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP) ==
          BigDecimal(big(k)).setScale(6, BigDecimal.RoundingMode.HALF_UP),
          s"t=$threshold $k: $c vs ${big(k)}")
      }
    }
  }

  test("plan gates: prefilter only in the big regime; payload off the distinct") {
    def pairs = Similarity.cosineDups(vecs, "vec_id", "embedding",
      threshold = 0.9, planes = 8, tables = 8)
    val big = inBigRegime(pairs.queryExecution.executedPlan.toString)
    // quantized prefilter inside the bucket join's stage, exact rescore
    // (float32 big-regime payload) downstream
    assert(big.contains("graft_quant_i8") && big.contains("graft_dot_i8"), big.take(3000))
    assert(big.contains("graft_dotf"), big.take(3000))
    // the distinct's input is id pairs only — no vector payload column
    // survives past the prefilter (the HashAggregate for the distinct
    // groups exactly [id_a, id_b])
    val aggKeys = "HashAggregate\\(keys=\\[id_a[^\\]]*id_b[^\\]]*\\]".r
    assert(aggKeys.findFirstIn(big).isDefined, big.take(3000))
    assert(!aggKeys.findFirstIn(big).get.contains("__v"), aggKeys.findFirstIn(big).get)
    // catalog regime: no quantization anywhere, broadcast joins, exact
    // float64 dot — bit-for-bit the pre-round-12 plan
    val small = pairs.queryExecution.executedPlan.toString
    assert(!small.contains("graft_quant_i8") && !small.contains("graft_dot_i8"),
      small.take(3000))
    assert(small.contains("BroadcastHashJoin") && small.contains("graft_dot("),
      small.take(3000))
  }

  test("scalar quant twins equal the Catalyst expressions (the streaming prefilter's single-definition guarantee)") {
    // the thresholded AnnStream state loop runs QuantKernel
    // .quantizeDoubles / .upperBound per stored doc; both must be
    // value-identical to the batch expressions (QuantizeI8 / quantUpper)
    // on the adversarial set or the stream's bound semantics drift
    val rnd = new scala.util.Random(7)
    val shapes: Seq[Array[Double]] =
      Seq(Array.fill(16)(rnd.nextGaussian()), Array.fill(16)(0.0),
        Array.tabulate(16)(i => if (i == 3) 1e30 else 1e-30),
        Array.fill(16)(-2.5), Array.tabulate(16)(i => math.sin(i * 0.7))) ++
        (0 until 20).map(_ => Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val df = shapes.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
      .withColumn("q", VectorF.quantI8(col("v")))
    val cols = df.select(col("id"), col("q.q"), col("q.s"), col("q.l1"))
      .as[(Long, Array[Byte], Double, Double)].collect()
      .map(r => r._1 -> (r._2.toSeq, r._3, r._4)).toMap
    shapes.zipWithIndex.foreach { case (v, i) =>
      val (q, s, l1) = graft.functions.QuantKernel.quantizeDoubles(v)
      val (ce, cs, cl1) = cols(i.toLong)
      assert(q.toSeq == ce && (s == cs || (s.isNaN && cs.isNaN)) &&
        (l1 == cl1 || (l1.isNaN && cl1.isNaN)), s"row $i: ($s,$l1) vs ($cs,$cl1)")
    }
    val a = df.select(col("id").as("ia"), col("q").as("qa"))
    val b = df.select(col("id").as("ib"), col("q").as("qb"))
    val ub = a.crossJoin(b).where(col("ia") <= col("ib"))
      .select(col("ia"), col("ib"),
        Similarity.quantUpper(col("qa"), col("qb")).as("ub"))
      .as[(Long, Long, Double)].collect()
    assert(ub.length == shapes.length * (shapes.length + 1) / 2)
    ub.foreach { case (ia, ib, colUb) =>
      val (qa, sa, l1a) = graft.functions.QuantKernel.quantizeDoubles(shapes(ia.toInt))
      val (qb, sb, l1b) = graft.functions.QuantKernel.quantizeDoubles(shapes(ib.toInt))
      val scalUb = graft.functions.QuantKernel.upperBound(qa, sa, l1a, qb, sb, l1b)
      assert(scalUb == colUb || (scalUb.isNaN && colUb.isNaN),
        s"($ia,$ib): scalar $scalUb vs column $colUb")
    }
  }
}
