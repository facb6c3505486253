package graft.sim

import org.apache.spark.sql.functions._

/** Round-14 exact mass counts for the text families' sixth decade —
  * the slope attribution rule (the s_lsh/e_annstream template): a wall
  * slope only becomes a LAW when the underlying candidate/pair MASS
  * grows super-linearly; if the mass is linear the slope is execution
  * mechanics (sort spill past memory, fixed-partition n·log n) that
  * added hardware absorbs. Counts, per dir:
  *
  *   - minhash candidate-pair occurrences (the band self-join's output
  *     volume — t_minhash's dominant stream). Within-copy candidates
  *     replicate exactly per copy; cross-copy minhash values live in
  *     disjoint shingle spaces, so LINEAR (count = copies × base) is
  *     the generator-arithmetic expectation.
  *   - jaccard shingle-join pair occurrences Σ_h C(df_h, 2) (t_jaccard's
  *     join output) — same expectation, from per-copy df preservation.
  *
  * Usage: Test/runMain graft.sim.ProfileTextMass <dir> [<dir> ...]
  */
object ProfileTextMass {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_x729d", "/tmp/graft_x2187d")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("textmass")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)

    dirs.foreach { dir =>
      val docs = graft.core.Tables.documents(spark, dir)

      // t_minhash's band self-join volume: per (band, bucket) group of
      // size g, C(g, 2) ordered candidate occurrences
      val sig = docs.select(col("doc_id"),
          graft.text.TextOps.shingleHashes(col("text"), 3).as("hs"))
        .where(size(col("hs")) > 0) // the production minHashDedup filter
        .select(col("doc_id"),
          graft.functions.HashF.minhashPolySigHashes(col("hs"), 16 * 4).as("sig"))
      val bands = graft.text.NearDup.lshBands(sig, "doc_id", "sig", 16, 4)
      val mh = bands.groupBy("band", "bucket").agg(count(lit(1)).as("g"))
        .agg(sum(expr("g * (g - 1)")).cast("long")).head().getLong(0) / 2

      // t_jaccard's shingle-join volume: Σ_h C(df_h, 2) after the
      // maxDf = 1000 prune (catalog constants)
      val ex = docs.select(col("doc_id"),
        explode(graft.text.TextOps.shingleHashes(col("text"), 3)).as("h"))
      val jc = ex.groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") <= 1000)
        .agg(sum(expr("df * (df - 1)")).cast("long")).head().getLong(0) / 2

      println(s"""{"textMass":"$dir","minhashCandOcc":$mh,"jaccardPairOcc":$jc}""")
    }
    spark.stop()
  }
}
