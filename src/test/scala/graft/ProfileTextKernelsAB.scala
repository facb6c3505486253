package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}
import graft.core.Tables
import graft.text.TextOps

/** Round-16 interleaved same-JVM A/B for the counting kernels
  * (TextCounts / BpeishCount / byte-pass langId) against the Hof twins
  * they replaced, at a ×COPIES document corpus (default 30 — the
  * catalog's sf0.1 docs unioned with disjoint id ranges, the ScaleStress
  * isomorphic-copy idea in miniature). Arms alternate K,H per rep in ONE
  * JVM (the committed-call-path A/B rule); each rep also asserts the two
  * arms' full aggregate rows are IDENTICAL — the differential check and
  * the timing ride the same action.
  *
  * Usage: sbt "Test/runMain graft.ProfileTextKernelsAB"
  *   SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_COPIES (default 30),
  *   SPARK_GRAFT_REPS (default 4 per arm).
  */
object ProfileTextKernelsAB {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "30").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "4").toInt
    val spark = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("textKernelsAB")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    def scaledDocs(): DataFrame = {
      val base = Tables.pinWidth(Tables.documents(spark, dir))
        .select(col("doc_id"), col("text"))
      (0 until copies).map { c =>
        base.select((col("doc_id") + lit(c.toLong * 1000000000L)).as("doc_id"), col("text"))
      }.reduce(_ unionAll _)
    }

    // one row of corpus-wide aggregates over every kernel output — forces
    // full evaluation and doubles as the cross-arm equality witness
    def score(kernel: Boolean): org.apache.spark.sql.Row = {
      val lang: Column => Column = if (kernel) TextOps.langId else SpecTwins.langIdHof
      val qual: Column => Column = if (kernel) TextOps.qualityScore else SpecTwins.qualityScoreHof
      val bpe: Column => Column = if (kernel) TextOps.bpeishTokenCount else SpecTwins.bpeishTokenCountHof
      val ws: Column => Column = if (kernel) TextOps.wsTokenCount else SpecTwins.wsTokenCountHof
      scaledDocs().select(
          lang(col("text")).as("l"),
          qual(col("text")).as("q"),
          bpe(col("text")).as("b"),
          ws(col("text")).as("w"))
        .agg(count(when(col("l") === "en", 1)).as("n_en"),
          count(when(col("l") === "zh", 1)).as("n_zh"),
          sum(col("q").cast("decimal(38,6)")).as("sq"),
          sum(col("b").cast("long")).as("sb"),
          sum(col("w").cast("long")).as("sw"))
        .head()
    }

    def time(f: => org.apache.spark.sql.Row): (Double, org.apache.spark.sql.Row) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    // warmup both arms once (codegen/JIT)
    score(kernel = true); score(kernel = false)
    val k = scala.collection.mutable.ListBuffer.empty[Double]
    val h = scala.collection.mutable.ListBuffer.empty[Double]
    for (rep <- 1 to reps) {
      val cal = Calib.singleThread()
      val (tk, rk) = time(score(kernel = true))
      val (th, rh) = time(score(kernel = false))
      require(rk == rh, s"arm outputs differ: kernel=$rk hof=$rh")
      k += tk; h += th
      println(f"[textAB] rep$rep calib_st=$cal%.3f kernel=$tk%7.2f s  hof=$th%7.2f s  (x$copies, agg rows equal)")
    }
    println(f"[textAB] MIN over $reps reps at x$copies: kernel=${k.min}%7.2f s  hof=${h.min}%7.2f s  ratio=${h.min / k.min}%.2fx")
    spark.stop()
  }
}
