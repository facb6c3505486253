package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Dev harness: does repartitioning the single-file documents scan
  * before the per-doc signature kernels pay for its shuffle?
  *
  * MEASURED (round 7, sf0.1): the ISOLATED minhash signature map is 2x
  * faster widened (0.77 s serial scan+fold -> 0.37 s at 32-way), the
  * cheap simhash map is FASTER as-scanned (0.18 s vs 0.33 s — the
  * shuffle costs more than the map). But the FULL t_minhash /
  * t_dupgroups queries are byte-identical with and without widening
  * (0.88 s / 1.5-1.6 s min both ways, 6 reps): the candidate/verify
  * shuffles dominate and overlap the fold. The widen was therefore NOT
  * adopted in NearDup.minHashDedup — it would add a text shuffle for
  * no end-to-end gain at the scales where the single-file scan exists
  * at all (at corpus scale the scan is already wide).
  */
object ProfileWiden {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROFILE $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("widen")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    val docs = Tables.documents(s, dir)
    println(s"[info] docs scan partitions: ${docs.rdd.getNumPartitions}, rows: ${docs.count()}")
    for (rep <- 1 to 3) {
      time(s"[$rep] simhash map, as-scanned") {
        docs.select(graft.text.NearDup.simHash(col("text")).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"[$rep] simhash map, repartition(32) first") {
        docs.repartition(32)
          .select(graft.text.NearDup.simHash(col("text")).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"[$rep] minhash sig, as-scanned") {
        docs.select(graft.functions.HashF.minhashPolySig(
          SpecTwins.shinglesOf(graft.text.TextOps.tokens(col("text")), 5), 64).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
      time(s"[$rep] minhash sig, repartition(32) first") {
        docs.repartition(32)
          .select(graft.functions.HashF.minhashPolySig(
            SpecTwins.shinglesOf(graft.text.TextOps.tokens(col("text")), 5), 64).as("sig"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    s.stop()
  }
}
