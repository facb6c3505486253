package graft

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.backtest.Backtesting
import graft.ml.{Portfolio, Risk}
import graft.sources.Ingest

class PortfolioSpec extends SparkSpec {

  private val sigma = DenseMatrix((0.04, 0.0), (0.0, 0.01))
  private val mu = DenseVector(0.10, 0.05)

  test("GMV weights inversely proportional to variance (diagonal case)") {
    val s = Portfolio.gmv(sigma)
    // 1/.04 : 1/.01 = 25 : 100 -> (0.2, 0.8)
    assert(math.abs(s.weights(0) - 0.2) < 1e-12)
    assert(math.abs(s.weights(1) - 0.8) < 1e-12)
    assert(math.abs(s.weights.sum - 1.0) < 1e-12)
  }

  test("tangency maximizes Sharpe among convex combos; weights sum to 1") {
    val t = Portfolio.tangency(mu, sigma)
    assert(math.abs(t.weights.sum - 1.0) < 1e-12)
    val sharpeT = t.mean.get / t.volatility
    val g = Portfolio.gmv(sigma, Some(mu))
    assert(sharpeT >= g.mean.get / g.volatility - 1e-12)
  }

  test("efficient portfolio hits its target mean") {
    val e = Portfolio.efficient(mu, sigma, target = 0.07)
    assert(math.abs(e.mean.get - 0.07) < 1e-10)
    assert(math.abs(e.weights.sum - 1.0) < 1e-10)
  }
}

class RiskSpec extends SparkSpec {

  test("parametric VaR at 5% uses z = -1.645") {
    val (v, es) = Risk.parametric(sigma = 1.0, alpha = 0.05)
    assert(math.abs(v - 1.6449) < 1e-3)
    assert(es > v) // ES beyond VaR
    assert(math.abs(es - 2.0627) < 1e-3)
  }

  test("Kupiec LR is ~0 when violations match expectation") {
    assert(Risk.kupiecLR(s = 50, n = 1000, p = 0.05) < 1e-9)
    assert(Risk.kupiecLR(s = 90, n = 1000, p = 0.05) > 10.0) // clear reject
  }

  test("inverse normal CDF round-trips key quantiles") {
    assert(math.abs(Risk.inverseNormalCdf(0.5)) < 1e-9)
    assert(math.abs(Risk.inverseNormalCdf(0.975) - 1.959964) < 1e-5)
  }
}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("CSV ingest coerces per declared schema with reference rules") {
    withTempDir("ingest") { dir =>
      val f = dir.resolve("t.csv").toFile
      val pw = new java.io.PrintWriter(f)
      pw.println("PERMNO ,Ret,Shrout,Name")
      pw.println("1,0.05,100,acme corp")
      pw.println("2,n/a,,widget 12-34 inc")
      pw.println("2,0.07,50,widget two")  // dup pk: keep last by columns
      pw.close()
      val schema = StructType(Seq(
        StructField("permno", IntegerType), StructField("ret", DoubleType),
        StructField("shrout", LongType), StructField("name", StringType)))
      val out = Ingest.readCsv(spark, f.getAbsolutePath, schema, pk = Seq("permno"))
        .as[(Int, Option[Double], Long, String)].collect()
        .map(r => r._1 -> r).toMap
      assert(out(1)._2.contains(0.05) && out(1)._3 == 100L)
      val r2 = out(2)
      assert(r2._3 == 50L || r2._3 == 0L)        // one of the dups survived
      assert(out.size == 2)                      // pk dedup
      // float coercion: 'n/a' -> null on whichever row shows it
      val all = Ingest.readCsv(spark, f.getAbsolutePath, schema)
        .where(col("permno") === 2)
      assert(all.where(col("ret").isNull).count() == 1)
      // CRSP digit-dash rule
      val names = all.select("name").as[String].collect().toSet
      assert(names.contains("widget 1234 inc"))
    }
  }

  test("screens drop and keep by value sets") {
    val df = Seq((1, "A"), (2, "B"), (3, "C")).toDF("k", "v")
    val out = Ingest.screen(df, dropIf = Map("v" -> Seq("B")),
        keepIf = Map("k" -> Seq(1, 2)))
      .select("k").as[Int].collect().toSet
    assert(out == Set(1))
  }
}

class SmoothSpec extends SparkSpec {
  import spark.implicits._

  test("holdings smoothing averages over the last k rebalances") {
    val h = Seq((1, 10, 1.0), (2, 10, 0.0), (2, 20, 1.0))
      .toDF("rebaldate", "permno", "weight")
    val out = Backtesting.smooth(h, k = 2)
      .select("rebaldate", "permno", "smoothed").as[(Int, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1, 10)) == 1.0)          // only itself in window
    assert(out((2, 10)) == 0.5)          // (1.0 + 0.0)/2
    assert(out((2, 20)) == 0.5)          // (0.0 + 1.0)/2
  }

  test("bivariate sorts weight within cells") {
    // signal2 independent of signal so all 4 cells are populated
    val cs = (for { p <- 1 to 16 } yield
      (p, 202401, p.toDouble, ((p - 1) % 4).toDouble, 1.0, true))
      .toDF("permno", "rebaldate", "signal", "signal2", "cap", "nyse")
    val out = Backtesting.bivariateSorts(cs, 2, 2)
    val sums = out.groupBy("f1", "f2").agg(sum("weight").as("s"))
      .select("s").as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
    assert(out.select("f1", "f2").distinct().count() == 4)
  }
}

class SplitsSpec extends SparkSpec {
  import spark.implicits._
  import graft.ml.Splits

  private def ids = (0L until 1000L).map(Tuple1(_)).toDF("id")

  test("assign: deterministic, near-exact fractions, stable across layouts") {
    val a = Splits.assign(ids, "id", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
    val counts = a.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") - 800L) < 50, s"train ${counts("train")}")
    assert(math.abs(counts("val") - 100L) < 40)
    // same assignment regardless of partitioning (pure per-row hash)
    val b = Splits.assign(ids.repartition(7), "id", Seq(0.8, 0.1, 0.1),
      Seq("train", "val", "test"))
    assert(a.as[(Long, String)].collect().toMap == b.as[(Long, String)].collect().toMap)
  }

  test("stratified assignment hits exact per-stratum proportions") {
    val labeled = (0L until 400L).map(i => (i, s"c${i % 4}")).toDF("id", "label")
    val out = Splits.assignStratified(labeled, "id", "label",
      Seq(0.75, 0.25), Seq("train", "test"))
    val per = out.groupBy("label", "split").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    (0 until 4).foreach { c =>
      assert(per((s"c$c", "train")) == 75L)
      assert(per((s"c$c", "test")) == 25L)
    }
  }

  test("batches: fixed size within split, deterministic order") {
    val a = Splits.assign(ids, "id", Seq(1.0), Seq("all"))
    val out = Splits.batches(a, "id", batchSize = 64)
    val sizes = out.groupBy("batch").count().as[(Long, Long)].collect().toMap
    assert(sizes.size == 16) // ceil(1000/64)
    (0L until 15L).foreach(b => assert(sizes(b) == 64L))
    assert(sizes(15L) == 1000L - 15 * 64)
  }

  // --- weighted sampling without replacement ---

  private def weighted = (0L until 200L)
    .map(i => (i, if (i == 7L) 50.0 else 1.0)).toDF("id", "w")

  test("sampleWeighted: deterministic, layout-independent, k rows") {
    val a = Splits.sampleWeighted(weighted, "id", "w", 20).as[(Long, Double)]
      .collect().toSet
    val b = Splits.sampleWeighted(weighted.repartition(7), "id", "w", 20)
      .as[(Long, Double)].collect().toSet
    assert(a == b && a.size == 20)
    // a different seed is a different draw
    val c = Splits.sampleWeighted(weighted, "id", "w", 20, seed = 1L)
      .as[(Long, Double)].collect().toSet
    assert(a != c)
  }

  test("sampleWeighted: selection equals the local top-k of ln(u)/w") {
    // Spark supplies only the per-row hash fraction u; the selection —
    // ordering by ln(u)/w and cutting at k — is recomputed locally and
    // must agree exactly
    val u = (xxhash64(col("id"), lit(0L)).bitwiseAND(lit(Long.MaxValue))
      .cast("double") + 0.5) / 9.223372036854776e18
    val local = weighted.select(col("id"), col("w"), u.as("u"))
      .as[(Long, Double, Double)].collect()
      .sortBy { case (id, w, uu) => (-math.log(uu) / w, id) }
      .take(20).map(_._1).toSet
    val got = Splits.sampleWeighted(weighted, "id", "w", 20)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == local)
  }

  test("sampleWeighted: inclusion frequency tracks the weight across seeds") {
    val small = (0L until 10L)
      .map(i => (i, if (i == 3L) 50.0 else 1.0)).toDF("id", "w")
    // P(heavy wins a k=1 draw) = 50/59 ≈ 0.847; 200 seeds, 3σ ≈ 0.08
    val wins = (1L to 200L).count { s =>
      Splits.sampleWeighted(small, "id", "w", 1, seed = s)
        .as[(Long, Double)].collect().head._1 == 3L
    }
    assert(wins > 150 && wins < 195, s"heavy item won $wins/200")
  }

  // --- per-group weighted sampling + mixture draws ---

  private def sourced = (0L until 300L)
    .map(i => (i, s"src${i % 3}", 1.0 + (i % 7))).toDF("id", "src", "w")

  /** Local reference: per-group top-k of the ES key ln(u)/w. */
  private def localTopK(rows: Seq[(Long, String, Double)], k: Int,
                        seed: Long = 0L): Map[String, Seq[Long]] = {
    val keyed = sourced.sparkSession.createDataFrame(rows)
      .toDF("id", "src", "w")
      .select(col("id"), col("src"),
        (log((xxhash64(col("id"), lit(seed)).bitwiseAND(lit(Long.MaxValue))
          .cast("double") + 0.5) / 9.223372036854776e18) / col("w")).as("key"))
      .as[(Long, String, Double)].collect()
    keyed.groupBy(_._2).view.mapValues(
      _.sortBy { case (id, _, key) => (-key, id) }.take(k).map(_._1).toSeq).toMap
  }

  test("sampleWeightedPerGroup: k rows per group, equal to the local per-group top-k") {
    val rows = sourced.as[(Long, String, Double)].collect().toSeq
    val want = localTopK(rows, 10).values.flatten.toSet
    val got = Splits.sampleWeightedPerGroup(sourced, "id", "w", "src", 10)
    val byGroup = got.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("src0" -> 10L, "src1" -> 10L, "src2" -> 10L))
    assert(got.select("id").as[Long].collect().toSet == want)
    // layout independence
    val again = Splits.sampleWeightedPerGroup(sourced.repartition(7), "id", "w", "src", 10)
    assert(again.select("id").as[Long].collect().toSet == want)
    // a group smaller than k yields all its eligible rows
    val tiny = Seq((1L, "a", 1.0), (2L, "a", 0.0), (3L, "b", 2.0)).toDF("id", "src", "w")
    val all = Splits.sampleWeightedPerGroup(tiny, "id", "w", "src", 5)
      .select("id").as[Long].collect().toSet
    assert(all == Set(1L, 3L)) // weight-0 row ineligible
  }

  test("sampleMixture: per-group targets honored; absent groups contribute nothing") {
    val counts = Map("src0" -> 25, "src1" -> 5)
    val got = Splits.sampleMixture(sourced, "id", "w", "src", counts)
    val byGroup = got.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(byGroup == Map("src0" -> 25L, "src1" -> 5L)) // src2 absent
    // each group's draw is the same ids sampleWeightedPerGroup picks at
    // that group's own k (one aggregate pass must not distort ranks)
    val rows = sourced.as[(Long, String, Double)].collect().toSeq
    val local = localTopK(rows, 25)
    val gotIds = got.select("id").as[Long].collect().toSet
    assert(gotIds == (local("src0").take(25) ++ local("src1").take(5)).toSet)
    // a target above the group size returns the whole group
    val greedy = Splits.sampleMixture(sourced, "id", "w", "src", Map("src0" -> 500))
    assert(greedy.count() == 100)
  }

  test("per-group sampling rejects non-integral ids; mixture rejects non-string groups") {
    // a silent cast("long") would null string ids (empty sample) or
    // collapse decimals onto one long (over-sized sample)
    val strId = Seq(("a", "g", 1.0), ("b", "g", 2.0)).toDF("id", "src", "w")
    intercept[IllegalArgumentException](
      Splits.sampleWeightedPerGroup(strId, "id", "w", "src", 1))
    intercept[IllegalArgumentException](
      Splits.sampleMixture(strId, "id", "w", "src", Map("g" -> 1)))
    val intGroup = Seq((1L, 3, 1.0), (2L, 3, 2.0)).toDF("id", "src", "w")
    intercept[IllegalArgumentException](
      Splits.sampleMixture(intGroup, "id", "w", "src", Map("3" -> 1)))
    // int ids are fine (they join back exactly)
    val intId = Seq((1, "g", 1.0), (2, "g", 2.0)).toDF("id", "src", "w")
    assert(Splits.sampleWeightedPerGroup(intId, "id", "w", "src", 1).count() == 1)
  }

  test("per-group sampling plan: bounded aggregate + broadcast semi join, no window sort") {
    val plan = withTempDir("wsample") { dir =>
      sourced.write.mode("overwrite").parquet(s"$dir/docs")
      val corpus = spark.read.parquet(s"$dir/docs")
      val out = Splits.sampleWeightedPerGroup(corpus, "id", "w", "src", 10)
      out.collect(): Unit // AQE decides the semi-join strategy at runtime
      out.queryExecution.executedPlan.toString
    }
    assert(plan.contains("graft_topk_neighbors"), s"expected bounded top-k aggregate:\n$plan")
    assert(!plan.contains("Window"), s"per-group sampling must not sort via a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"winner semi join should broadcast:\n$plan")
  }

  test("sampleWeighted: non-positive, null and NaN weights are excluded; plan is top-k") {
    // NaN matters: Spark orders NaN above every real value, so `w > 0`
    // is TRUE for NaN and an unfiltered NaN key would sort first and
    // monopolize the sample
    val df = Seq((1L, 2.0), (2L, 0.0), (3L, -1.0), (4L, 1.0), (6L, Double.NaN))
      .toDF("id", "w").union(Seq(5L).toDF("id").withColumn("w", lit(null).cast("double")))
    val out = Splits.sampleWeighted(df, "id", "w", 10).as[(Long, Double)].collect()
    assert(out.map(_._1).toSet == Set(1L, 4L)) // k > eligible rows: all of them
    // plan shape on a frame where the limit binds (on the 4-row frame
    // above, constant folding leaves <= k rows and EliminateLimits
    // strips the limit, degenerating the plan to a plain sort)
    val plan = Splits.sampleWeighted(weighted, "id", "w", 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("sampleWeighted: +Infinity weights are excluded, matching sampleLogWeighted") {
    // an infinite weight's key ln(u)/∞ = -0.0 ties at the very top and
    // such rows would win in id order; sampleLogWeighted already
    // excludes non-finite log weights, and the two methods are pinned
    // to select identical rows — the edge must agree too (r11 ADVICE)
    val df = (0L until 50L).map(i => (i, 1.0 + (i % 5))).toDF("id", "w")
      .union(Seq((100L, Double.PositiveInfinity), (101L, Double.PositiveInfinity))
        .toDF("id", "w"))
    val lin = Splits.sampleWeighted(df, "id", "w", 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(!lin.contains(100L) && !lin.contains(101L), s"infinite weight won: $lin")
    val logd = Splits.sampleLogWeighted(df.withColumn("lw", log(col("w"))),
        "id", "lw", 10).select("id").as[Long].collect().toSet
    assert(lin == logd, s"linear $lin vs log $logd")
  }

  test("uniform01: ids outside [0, 2^46) raise instead of silently skewing the split") {
    // the Lehmer step overflows Long at |id| ~ 2^47 and Java's % then
    // goes negative — every such row would land in the FIRST split;
    // the guard turns the silent skew into a per-row error
    val ok = Splits.assign(Seq(0L, 1L, (1L << 46) - 1).map(Tuple1(_)).toDF("id"),
      "id", Seq(0.5, 0.5), Seq("a", "b")).collect()
    assert(ok.length == 3)
    for (bad <- Seq(1L << 46, 1L << 47, Long.MaxValue / 48271L + 10, -1L)) {
      val e = intercept[Exception] {
        Splits.assign(Seq(bad).map(Tuple1(_)).toDF("id"),
          "id", Seq(0.5, 0.5), Seq("a", "b")).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("out of domain")), s"$bad: $e")
    }
    // in-domain values are untouched (the t_split oracle formula)
    val u = Splits.uniform01(lit(42L))
    val want = (((42L + 1) * 48271L % 2147483647L * 16807L) % 2147483647L)
      .toDouble / 2147483647.0
    assert(spark.range(1).select(u.as("u")).as[Double].head() == want)
  }
}

/** Token-budget sequence packing: budget safety, assignment totality,
  * near-optimal pack counts, determinism — the contract a trainer's
  * data loader relies on.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._
  import graft.ml.Packing

  // skewed token counts: many small docs, a few near-budget ones
  private def docs = (0L until 500L)
    .map(i => (i, 10L + (i * 48271L % 2147483647L) % 900L)).toDF("id", "ntok")

  test("every doc lands in exactly one pack; no pack exceeds the budget") {
    val budget = 1000L
    val packed = Packing.pack(docs, "id", "ntok", budget)
    val rows = packed.select("id", "ntok", "pack").as[(Long, Long, Long)].collect()
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    val perPack = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    perPack.foreach { case (p, tot) => assert(tot <= budget, s"pack $p holds $tot") }
  }

  test("pack count is near the token-total lower bound") {
    val budget = 1000L
    val packed = Packing.pack(docs, "id", "ntok", budget)
    val total = docs.agg(sum("ntok")).as[Long].head()
    val lower = math.ceil(total.toDouble / budget).toLong
    val got = packed.select("pack").distinct().count()
    // per-partition BFD: within 11/9 of optimal plus one tail pack per
    // partition (32 shuffle partitions)
    assert(got <= math.ceil(lower * 11.0 / 9.0).toLong + 32, s"$got packs vs lower bound $lower")
  }

  test("deterministic across input layouts") {
    val a = Packing.pack(docs, "id", "ntok", 1000L)
      .select("id", "pack").as[(Long, Long)].collect().toMap
    val b = Packing.pack(docs.repartition(7).sortWithinPartitions(desc("id")),
      "id", "ntok", 1000L).select("id", "pack").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("re-packing a frame that already carries a pack column is rejected") {
    val packed = Packing.pack(docs, "id", "ntok", 1000L)
    // a blind second pack would append a duplicate 'pack' field and make
    // every downstream select("pack") ambiguous
    intercept[IllegalArgumentException] {
      Packing.pack(packed, "id", "ntok", 500L)
    }
    assert(Packing.pack(packed.drop("pack"), "id", "ntok", 500L)
      .columns.count(_ == "pack") == 1)
  }

  test("oversize documents pack alone; null token counts pack as zero") {
    val mixed = Seq((1L, 100L), (2L, 5000L), (3L, 200L)).toDF("id", "ntok")
      .union(Seq(4L).toDF("id").withColumn("ntok", lit(null).cast("long")))
    val out = Packing.pack(mixed, "id", "ntok", 1000L)
      .select("id", "pack").as[(Long, Long)].collect().toMap
    assert(out.size == 4)
    // the oversize doc shares its pack with nobody
    assert(!out.exists { case (id, p) => id != 2L && p == out(2L) })
    val stats = Packing.packStats(Packing.pack(mixed, "id", "ntok", 1000L),
      "ntok", 1000L).select("n_docs", "n_tokens").as[(Long, Long)].collect()
    assert(stats.map(_._2).sum == 5300L)
  }
}
