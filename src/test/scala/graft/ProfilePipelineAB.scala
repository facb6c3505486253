package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Dedup
import graft.text.TextOps

/** Round-12 verdict #6: t_pipeline drifted 0.676 → 0.755 s (+12%) and
  * t_dupgroups 0.857 → 0.945 (+10%) across r10→r11 — the round where
  * the fingerprint byte-pass kernel replaced the HOF chain inside
  * t_pipeline's fused Project. Both inside the 15% noise band on
  * sub-second queries, but the coincidence deserves one interleaved
  * same-JVM A/B: arm K is the catalog t_pipeline (fingerprint KERNEL),
  * arm H the identical frame with the HOF twin swapped in (the r10
  * form), plus t_dupgroups solo reps (its kernels did NOT change in
  * r11 — its drift can only be session noise, so its steady-state
  * minimum here is the evidence).
  *
  * MEASURED (round 12, sf0.1, 6 interleaved reps, calib st clean):
  * see README "near-gate watch" — run recorded there.
  *
  * Usage: sbt "Test/runMain graft.ProfilePipelineAB"
  */
object ProfilePipelineAB {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("pipeAB")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    def pipeline(fp: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit = {
      val scored = Tables.pinWidth(Tables.documents(spark, dir))
        .select(col("doc_id"), col("source"),
          TextOps.langId(col("text")).as("pred_lang"),
          round(TextOps.qualityScore(col("text")), 6).as("q"),
          TextOps.bpeishTokenCount(col("text")).as("ntok"),
          fp(col("text")).as("fp"))
      val gated = scored.where(col("q") >= 0.65)
      val kept = Dedup.keepFirst(gated, Seq("fp"), Seq(col("doc_id")))
      kept.groupBy(col("pred_lang"), col("source"))
        .agg(count(lit(1)), sum(col("ntok")), min(col("doc_id")))
        .write.format("noop").mode("overwrite").save()
    }
    def dupgroups(): Unit =
      SparkEntry.queries("t_dupgroups")(spark, dir)
        .write.format("noop").mode("overwrite").save()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // warm all arms (JIT + codegen for both fingerprint forms)
    pipeline(TextOps.fingerprint); pipeline(SpecTwins.fingerprintHof); dupgroups()
    val (ks, hs, ds) = (collection.mutable.Buffer[Double](),
      collection.mutable.Buffer[Double](), collection.mutable.Buffer[Double]())
    for (rep <- 1 to 6) {
      val st = Calib.singleThread()
      val k = time(pipeline(TextOps.fingerprint))
      val h = time(pipeline(SpecTwins.fingerprintHof))
      val d = time(dupgroups())
      ks += k; hs += h; ds += d
      println(f"rep$rep st=$st%.3f kernel=$k%.3f hof=$h%.3f dupgroups=$d%.3f")
      spark.sharedState.cacheManager.clearCache()
    }
    println(f"MIN kernel=${ks.min}%.3f hof=${hs.min}%.3f dupgroups=${ds.min}%.3f")
    spark.stop()
  }
}
