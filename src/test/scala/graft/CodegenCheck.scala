package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One-off: does the t_minhash signature map stay inside
  * WholeStageCodegen at the 10x stress scale? Captures the EXECUTED
  * plan via a QueryExecutionListener (the write action plans its own
  * QueryExecution; AQE finalizes codegen spans only there). */
object CodegenCheck {
  @volatile var last: String = null
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.tune(spark)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        last = qe.executedPlan.toString
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    for (dir <- Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")) {
      SparkEntry.queries("t_minhash")(spark, dir)
        .write.format("noop").mode("overwrite").save()
      Thread.sleep(3000) // listener bus is async
      val p = last
      val spans = "WholeStageCodegen".r.findAllIn(p).length
      println(s"=== $dir: WholeStageCodegen spans=$spans, isFinal=${p.contains("isFinalPlan=true")}")
      p.linesIterator.filter(l => l.contains("graft_minhash") || l.contains("graft_polyhash"))
        .take(8).foreach(l => println("  " + l.trim.take(150)))
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
