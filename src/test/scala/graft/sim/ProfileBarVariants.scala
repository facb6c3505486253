package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-14 same-JVM A/B/C of the ANN bar computation (the segment the
  * round-13 verdict's lead fix changed): the ×729 re-read with the
  * committed pre-reduce read 184 s against round 13's 76.4 s committed
  * row (fallback-sort path, different session) — a regression signal
  * that needs ATTRIBUTION before the ×2187 attempt. Three variants of
  * the bar frame (per-query k-th-largest lower bound) over the
  * IDENTICAL bounds stream (two-level probe join, int8 bounds in-stage,
  * probe frame persisted once and shared):
  *
  *   A. plain  — groupBy.agg(topKNeighbors) with the default
  *      ObjectHashAggregate sort-fallback at 128 distinct keys (the
  *      round-13 shape whose partial sorts the full candidate volume);
  *   B. prered — the faedd20 mapPartitions pre-reduce (inlined below
  *      verbatim after its removal from Similarity — MEASURED SLOWER:
  *      leaves Tungsten rows for Scala tuples across the candidate
  *      volume), then the aggregate;
  *   C. raised — plain aggregate with
  *      spark.sql.objectHashAggregate.sortBased.fallbackThreshold
  *      raised so the partial keeps its hash map (per-partition
  *      distinct queries = nProbe·Q/P by the probe-join's list
  *      partitioning — bounded, and the TopKBuf buffers are ≤ r
  *      entries each, so the map is small by construction).
  *
  * Interleaved reps (A,B,C,A,B,C), min per variant, calib-bracketed.
  * Usage: Test/runMain graft.sim.ProfileBarVariants <dir> <copies> [reps]
  */
object ProfileBarVariants {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_x243se")
    val copies = args.lift(1).getOrElse("243").toInt
    val reps = args.lift(2).getOrElse("2").toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("barvariants")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)

    val k = 5
    val nLists = Capacity.ivfNLists(copies * Capacity.RefEmbeddingRows)
    val nProbe = 4
    val cProbe = nProbe + 2
    println(s"[barvar] dir=$dir copies=$copies nLists=$nLists")

    val emb = graft.core.Tables.embeddings(spark, dir)
    val v = Similarity.prepped(emb, "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tl = Similarity.fitTwoLevelQuantizer(v, nLists, 42L)
    val vq = v.withColumn("__q", graft.functions.VectorF.quantI8(col("__v")))
    val near = vq.select(col("vec_id"), col("__q"), col("__n"), col("__v"))
      .crossJoin(broadcast(tl.structure))
      .select(col("vec_id"), col("__q"), col("__n"),
        graft.functions.VectorF.twoLevelProbes(col("__v"), col("__cells"), cProbe, nProbe).as("lists"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    near.count() // materialize the shared probe frame outside the timings

    def bounds(): DataFrame = {
      val assignedQ = near.select(col("vec_id").as("neighbor_id"),
        element_at(col("lists"), 1).as("list"),
        col("__q").as("qb"), col("__n").as("nb"))
      val probesQ = near.select(col("vec_id").as("query_id"),
        col("__q").as("qa"), col("__n").as("na"),
        explode(col("lists")).as("list"))
      val ub = Similarity.nanDiv(Similarity.quantUpper(col("qa"), col("qb")), col("na") * col("nb"))
      val lb = Similarity.nanDiv(Similarity.quantLower(col("qa"), col("qb")), col("na") * col("nb"))
      probesQ.join(Similarity.hashHinted(assignedQ, big = true), "list")
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), ub.as("__ub"), lb.as("__lb"))
    }

    def bar(in: DataFrame): DataFrame = in
      .groupBy("query_id")
      .agg(graft.functions.AggF.topKNeighbors(col("neighbor_id"), col("__lb"), k).as("__tk"))
      .select(col("query_id"),
        when(size(col("__tk")) < k, lit(Double.NegativeInfinity))
          .otherwise(element_at(col("__tk"), k).getField("cos") - 1.5e-6).as("__thr"))

    // the faedd20 pre-reduce, verbatim (variant B's historical shape):
    // per-partition hash map of TopKBuf, flush-and-clear epochs
    def preReduce(in: DataFrame, r: Int): DataFrame = {
      import spark.implicits._
      val maxEntries = math.max(1 << 16, ((64L << 20) / (160L + 16L * r)).toInt)
      in.where(col("query_id").isNotNull && col("neighbor_id").isNotNull &&
          col("__lb").isNotNull && !isnan(col("__lb")))
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
          col("__lb").cast("double"))
        .as[(Long, Long, Double)]
        .mapPartitions { it =>
          new Iterator[(Long, Long, Double)] {
            private var out: Iterator[(Long, Long, Double)] = Iterator.empty
            private def refill(): Unit = {
              if (!it.hasNext) return
              val map = new java.util.HashMap[java.lang.Long, graft.functions.TopKBuf]()
              while (it.hasNext && map.size < maxEntries) {
                val (q, id, lb) = it.next()
                var buf = map.get(q)
                if (buf == null) { buf = new graft.functions.TopKBuf(r); map.put(q, buf) }
                buf.insert(lb, id)
              }
              out = scala.jdk.CollectionConverters.IteratorHasAsScala(map.entrySet().iterator())
                .asScala.flatMap { e =>
                  (0 until e.getValue.n).map(i =>
                    (e.getKey.longValue(), e.getValue.ids(i), e.getValue.scores(i)))
                }
            }
            def hasNext: Boolean = { if (!out.hasNext) refill(); out.hasNext }
            def next(): (Long, Long, Double) = { if (!hasNext) throw new NoSuchElementException; out.next() }
          }
        }
        .toDF("query_id", "neighbor_id", "__lb")
    }

    val fbKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    def run(variant: String): Double = {
      val t0 = System.nanoTime()
      variant match {
        case "A" =>
          bar(bounds()).write.format("noop").mode("overwrite").save()
        case "B" =>
          bar(preReduce(bounds(), k)).write.format("noop").mode("overwrite").save()
        case "C" =>
          val old = spark.conf.get(fbKey)
          spark.conf.set(fbKey, Similarity.barFallbackKeys(k).toString)
          try bar(bounds()).write.format("noop").mode("overwrite").save()
          finally spark.conf.set(fbKey, old)
      }
      (System.nanoTime() - t0) / 1e9
    }

    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (1 to reps).foreach { r =>
      Seq("A", "B", "C").foreach { vn =>
        val st = graft.Calib.singleThread()
        val t = run(vn)
        println(f"[barvar] rep$r $vn%-2s ${t}%8.2f s  (st=$st%.2f)")
        times(vn) = t :: times(vn)
      }
    }
    val js = Seq("A", "B", "C").map(vn =>
      f""""$vn":{"min":${times(vn).min}%.2f,"reps":[${times(vn).reverse.map(t => f"$t%.2f").mkString(",")}]}""")
      .mkString(",")
    println(s"""{"barVariants":"x$copies",$js}""")
    spark.stop()
  }
}
