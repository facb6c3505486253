package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` for every catalog query (or a
  * comma list) to a directory, one file per query, named
  * `<query>_<suffix>.txt`. Used by the optimization rounds to commit
  * before/after plan evidence (plans/r16/...).
  *
  * Usage: runMain graft.ExplainAll <outDir> <suffix> [sfDir] [q1,q2,...]
  *
  * Plans are captured at bench parity: local[SPARK_GRAFT_CPUS], shuffle
  * partitions to match (default 32, the bench's session shape — a
  * different core count prints a different partitioning). Queries are
  * PLANNED, not executed; iterative builds
  * (graph loops, quantizer fits) still run their small construction jobs
  * at frame build, exactly as PlanAudit does.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(spark)
    new java.io.File(outDir).mkdirs()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // failures are COUNTED and fail the run (round-16 ADVICE): a silent
    // exit-0 partial regeneration leaves stale plan files from a prior
    // run looking current in the committed evidence directory
    var failed = 0
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val pw = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try pw.println(txt) finally pw.close()
        System.err.println(s"[explainall] $name ok")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[explainall] $name FAILED: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[explainall] $failed of ${names.size} queries failed to plan")
      sys.exit(1)
    }
  }
}
