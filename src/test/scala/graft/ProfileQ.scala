package graft

import graft.queries.Catalog

/** Dev harness: time named catalog queries exactly as Bench does
  * (noop write, cache cleared between queries). Args = query names;
  * repeats each query REPS times (default 2) to separate first-run
  * codegen cost from steady state.
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("profileq")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.core.Tables.tune(spark)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")
    val taskTime = new java.util.concurrent.atomic.AtomicLong
    val gcTime = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null) {
          taskTime.addAndGet(te.taskMetrics.executorCpuTime / 1000000L)
          gcTime.addAndGet(te.taskMetrics.jvmGCTime)
          tasks.incrementAndGet()
        }
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = for (s <- si.submissionTime; c <- si.completionTime) yield (c - s) / 1000.0
        println(f"  STAGE ${si.stageId}%3d tasks=${si.numTasks}%4d dur=${dur.getOrElse(-1.0)}%7.1f s  ${si.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    val names = if (args.nonEmpty) args.toSeq else Catalog.all.map(_.name)
    for (name <- names; rep <- 1 to reps) {
      taskTime.set(0); gcTime.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      try Catalog.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name failed: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val rt = Runtime.getRuntime
      val usedGb = (rt.totalMemory - rt.freeMemory) / 1e9
      println(f"PROFILE $name%-16s rep$rep $dt%8.2f s  tasks=${tasks.get}%5d taskTime=${taskTime.get / 1000.0}%9.1f s gc=${gcTime.get / 1000.0}%7.1f s heap=$usedGb%5.1f g")
      spark.sharedState.cacheManager.clearCache()
      if (sys.env.contains("SPARK_GRAFT_GC")) { System.gc(); Thread.sleep(1000) }
    }
    spark.stop()
  }
}
