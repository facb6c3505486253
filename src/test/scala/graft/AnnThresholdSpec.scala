package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.functions.{QuantKernel, VectorF}
import graft.streaming.{AnnCandidate, AnnStream}

/** The thresholded ANN candidate stream (round 13: int8 prefilter in
  * the bucket state, float32 payloads — [[graft.streaming.AnnStream]]):
  *   - thresholded output ≡ the unthresholded op filtered to cos ≥ t
  *     (pair sets exact, cosines within the documented f32 drift);
  *   - streamed ≡ batch for the thresholded mode (replay determinism);
  *   - the scalar quant twins ([[QuantKernel.quantizeDoubles]] /
  *     [[QuantKernel.upperBound]]) are value-equal to the Catalyst
  *     expressions the batch prefilter runs, on adversarial vectors —
  *     the single-definition guarantee for the bound semantics;
  *   - cap/inert behavior matches the unthresholded loop.
  */
class AnnThresholdSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int, n: Int = 40, dim: Int = 16) = {
    val rnd = new scala.util.Random(seed)
    val bases = (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val dups = bases.take(n / 3).map { case (i, v) =>
      (1000L + i, v.map(x => x + 0.02f * rnd.nextGaussian().toFloat))
    }
    bases ++ dups
  }

  test("thresholded stream == unthresholded stream filtered to cos >= t") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(11)
    val t = 0.9
    def run(threshold: Option[Double], name: String): Map[(Long, Long), Double] = {
      val mem = MemoryStream[(Long, Array[Float])]
      val q = AnnStream.cosineCandidates(
          mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
          planes = 6, tables = 8, maxBucketSize = 1000, threshold = threshold)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      mem.addData(all.take(25): _*); q.processAllAvailable()
      mem.addData(all.drop(25): _*); q.processAllAvailable()
      q.stop()
      spark.table(name).as[AnnCandidate].collect()
        .groupBy(c => (c.id_a, c.id_b)).map { case (k, v) => k -> v.head.cos }
    }
    val un = run(None, "ann_thr_un").filter(_._2 >= t)
    val thr = run(Some(t), "ann_thr_some")
    assert(un.nonEmpty, "vacuous: no pairs above the threshold — replant")
    assert(un.keySet == thr.keySet,
      s"onlyUn=${(un.keySet -- thr.keySet).take(5)} onlyThr=${(thr.keySet -- un.keySet).take(5)}")
    // unthresholded scores f64, thresholded scores the f32 payload:
    // |dcos| <= ~2^-23 (the DotProductFloat bound), asserted at 1e-6
    un.foreach { case (k, c) =>
      assert(math.abs(c - thr(k)) <= 1e-6, s"$k: $c vs ${thr(k)}")
    }
  }

  test("thresholded batch frame equals the thresholded stream") {
    implicit val sqlCtx = spark.sqlContext
    val all = corpus(23)
    val t = 0.8
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.cosineCandidates(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        planes = 6, tables = 8, maxBucketSize = 1000, threshold = Some(t))
      .writeStream.format("memory").queryName("ann_thr_batchpar")
      .outputMode("append").start()
    all.grouped(13).foreach { chunk => mem.addData(chunk: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("ann_thr_batchpar")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    val batch = graft.core.Scope.within(AnnStream.cosineCandidates(
        all.toDF("vec_id", "embedding"), "vec_id", "embedding",
        planes = 6, tables = 8, maxBucketSize = 1000, threshold = Some(t))
      .toDF().select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet)
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("thresholded bucket cap goes inert exactly like the unthresholded loop") {
    implicit val sqlCtx = spark.sqlContext
    // five near-identical vectors, single bucket family, cap 3: the 4th
    // arrival tips the bucket inert, the 5th pairs with nothing
    val v = Array.fill(8)(0.7f)
    val rows = (1 to 5).map(i => (i.toLong, v.map(x => x + 0.0005f * i)))
    val mem = MemoryStream[(Long, Array[Float])]
    val q = AnnStream.cosineCandidates(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        planes = 4, tables = 4, maxBucketSize = 3, threshold = Some(0.9))
      .writeStream.format("memory").queryName("ann_thr_cap")
      .outputMode("append").start()
    rows.foreach { r => mem.addData(r); q.processAllAvailable() }
    q.stop()
    val pairs = spark.table("ann_thr_cap")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs.size == 6, s"pairs: $pairs")
    assert(pairs.flatMap(p => Set(p._1, p._2)).size == 4)
  }
}
