package graft.sim

/** Round-14 plan check for the bar-aggregation fix: run ivfTopKTwoLevel
  * in the FORCED big regime (autoBroadcast −1 — the QuantPrefilterSpec
  * gate) on sf0.01 and print the final adaptive plan. What to read in
  * the output:
  *   - the bar aggregate's partial (ObjectHashAggregate, raised
  *     fallback threshold — see [[Similarity.barFallbackKeys]]) sits in
  *     the SAME stage as the probe equi-join — the candidate stream
  *     reduces to ≤ rank entries per (query, partition) before any
  *     exchange, in its hash map, never a sort;
  *   - the survivor filter is a BroadcastHashJoin on the bar frame
  *     (size-aware: query count ≪ BarBroadcastMaxRows), so the bounds
  *     stream never crosses an exchange on its way to the filter.
  * Usage: Test/runMain graft.sim.ProfileBarPlan [sfDir]
  */
object ProfileBarPlan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("barplan")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)
    // force the big regime the QuantPrefilterSpec way
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val emb = graft.core.Tables.embeddings(spark, dir)
    println(s"vectorSideTooBig=${Similarity.vectorSideTooBig(
      Similarity.prepped(emb, "vec_id", "embedding"))}")
    val df = Similarity.ivfTopKTwoLevel(emb, "vec_id", "embedding",
      k = 5, nLists = 16, nProbe = 4)
    df.write.format("noop").mode("overwrite").save()
    println("=== big-regime ivfTopKTwoLevel final adaptive plan ===")
    println(df.queryExecution.executedPlan.toString)
  }
}
