package graft.sim

import org.apache.spark.sql.functions._
import graft.functions.QuantKernel

/** Round-14 decomposition of e_annstream's ×2187 slope (round-13
  * verdict #2: 24.7 s at the sixth decade — 3% of the gate, but the
  * slope read 4.4× per 3× and a seventh decade would want the dominant
  * term NAMED before it compounds). Per-arrival cost of the thresholded
  * state loop ([[graft.streaming.AnnStream]] `boundedPairs`) splits
  * into:
  *
  *   - PLANES term: the projection/banding pass — planes·tables dots
  *     per row, planes = 12 + ⌈log₂ copies⌉ (grows LOG-linearly);
  *   - COLLISION-MASS term: one int8 upper-bound check per (arrival,
  *     retained doc) pair in the bucket — the bucket pair-occurrence
  *     count, the SAME quantity whose super-linear growth is the
  *     adjudicated s_lsh law (moderate-cos mass ×4·(1−θ/π)² > 1 per
  *     capacity doubling);
  *   - SURVIVOR/EMIT term: f32 dots for bound-passing pairs and the
  *     emitted ≥ t near-dups (both ~linear when planted dups are
  *     per-copy).
  *
  * The harness counts all three EXACTLY with a flatMapGroups twin of
  * the state loop (same arrival order, same eviction/inert/zero-norm
  * semantics, same QuantKernel scalar bound — the AnnThresholdSpec
  * twins), and brackets wall time for (a) the banding pass alone and
  * (b) the real op — so the slope attributes to a COUNT, not an
  * inference. There is no TTL in the stress configuration
  * (ttlMs = MaxValue), so state turnover is list growth itself =
  * the collision-mass term.
  *
  * Usage: Test/runMain graft.sim.ProfileAnnStreamDecomp <dir> <copies>
  * (dir generated by ScaleStress; embeddings-only dirs fine)
  */
object ProfileAnnStreamDecomp {

  case class Banded(bucket: String, id: Long, vec: Array[Double], ts: Long)

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf8")
    val copies = args.lift(1).getOrElse("81").toInt
    val reps = args.lift(2).getOrElse("2").toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("annstreamdecomp")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)
    import spark.implicits._

    val planes = Capacity.lshPlanes(copies * Capacity.RefEmbeddingRows)
    val tables = 4
    val t = 0.9
    val maxBucketSize = 100000
    println(s"[decomp] dir=$dir copies=$copies planes=$planes")

    val vecs = graft.core.Tables.embeddings(spark, dir)

    def bandedFrame() = vecs
      .select(col("vec_id").cast("long").as("id"),
        col("embedding").cast("array<double>").as("vec"),
        Similarity.lshProjections(col("embedding"), planes, tables).as("__p"),
        lit(0L).as("ts"))
      .select(col("id"), col("vec"), col("ts"),
        explode(array((0 until tables).map(tb =>
          struct(lit(tb).as("tbl"),
            Similarity.packSignature(col("__p"), tb, planes).as("sig"))): _*)).as("s"))
      .select(concat_ws(":", col("s.tbl"), col("s.sig")).as("bucket"),
        col("id"), col("vec"), col("ts"))

    def timeIt(label: String)(f: => Unit): Double = {
      val best = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[decomp] $label%-18s min-of-$reps = $best%8.2f s")
      best
    }

    // (a) the planes term: projection + banding only — the vec payload
    // is DROPPED before the write so the arm times the planes·tables
    // projection arithmetic, not 4× full-f64-vector serialization the
    // real op never pays per table (first cut measured 68 s at ×729
    // against the real op's 17 s — payload, not planes)
    val tBand = timeIt("banding-only") {
      bandedFrame().select("bucket", "id", "ts")
        .write.format("noop").mode("overwrite").save()
    }

    // (b) the real op (what the stress row times)
    val tOp = timeIt("real-op") {
      graft.streaming.AnnStream.cosineCandidates(vecs, "vec_id", "embedding",
          planes = planes, tables = tables, maxBucketSize = maxBucketSize,
          threshold = Some(t))
        .toDF().distinct().write.format("noop").mode("overwrite").save()
    }

    // (c) exact counts from a flatMapGroups twin of the state loop
    val sc = spark.sparkContext
    val arrivals = sc.longAccumulator("arrivals")
    val dots8 = sc.longAccumulator("int8 bound checks")
    val dotsF = sc.longAccumulator("f32 survivor dots")
    val emits = sc.longAccumulator("emitted pairs")
    bandedFrame().as[Banded]
      .groupByKey(_.bucket)
      .flatMapGroups { (_: String, it: Iterator[Banded]) =>
        var docs = List.empty[(Long, Array[Float], Array[Byte], Double, Double, Double)]
        var inert = false
        it.toArray.sortBy(r => (r.ts, r.id)).foreach { r =>
          if (!inert) {
            arrivals.add(1)
            val v32 = new Array[Float](r.vec.length)
            val vw = new Array[Double](r.vec.length)
            var i = 0
            while (i < r.vec.length) { v32(i) = r.vec(i).toFloat; vw(i) = v32(i).toDouble; i += 1 }
            var nrm = 0.0
            i = 0
            while (i < vw.length) { nrm += vw(i) * vw(i); i += 1 }
            val rNorm = math.sqrt(nrm)
            if (rNorm > 0) {
              val (q, s, l1) = QuantKernel.quantizeDoubles(vw)
              docs.foreach { case (eid, evec, eq, es, el1, en) =>
                if (eid != r.id) {
                  dots8.add(1)
                  if (QuantKernel.upperBound(eq, es, el1, q, s, l1) >= t * en * rNorm) {
                    dotsF.add(1)
                    var d = 0.0
                    var j = 0
                    while (j < evec.length) { d += evec(j).toDouble * v32(j).toDouble; j += 1 }
                    if (d / (en * rNorm) >= t) emits.add(1)
                  }
                }
              }
              if (docs.length >= maxBucketSize) { docs = Nil; inert = true }
              else docs = (r.id, v32, q, s, l1, rNorm) :: docs
            }
          }
        }
        Iterator.empty: Iterator[Int]
      }.write.format("noop").mode("overwrite").save()

    println(f"""{"decomp":"x$copies","planes":$planes,"bandingSec":$tBand%.2f,""" +
      f""""opSec":$tOp%.2f,"arrivals":${arrivals.value},"int8Checks":${dots8.value},""" +
      f""""f32Dots":${dotsF.value},"emits":${emits.value}}""")
    spark.stop()
  }
}
