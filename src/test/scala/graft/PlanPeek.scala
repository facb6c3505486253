package graft

import graft.queries.Catalog

/** Dev harness: execute a catalog query, then print its FINAL adaptive
  * executed plan (what AQE actually ran, join strategies included) —
  * the static audit in PLANS.md sees only the pre-adaptive tree.
  * Usage: Test/runMain graft.PlanPeek <query> [sfDir]
  */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("g_linkpred")
    val dir = args.lift(1).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("planpeek")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)
    val df = Catalog.queries(name)(spark, dir)
    df.write.format("noop").mode("overwrite").save()
    // executedPlan after execution reflects AQE's final choices
    println(s"=== $name final adaptive plan ===")
    println(df.queryExecution.executedPlan.toString.take(12000))
  }
}
