package graft

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Dev probe: cost of a driver-local HITS-counts tier at sf0.1 —
  * edge-list size, collect cost, local recurrence cost — to decide
  * whether a size-guarded local tier (connectedComponentsLocal
  * precedent) is worth shipping for small |E|. Not a test.
  */
object ProfileHitsLocal {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("hitslocal")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)
    for (rep <- 1 to 4) {
      val t0 = System.nanoTime()
      val edges = Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      val es = edges.selectExpr("cast(src as long)", "cast(dst as long)")
        .collect()
      val t1 = System.nanoTime()
      val n = es.length
      // 3 rounds of integer HITS
      var hub = scala.collection.mutable.LongMap.empty[Long]
      var auth = scala.collection.mutable.LongMap.empty[Long]
      for (i <- 1 to 3) {
        val h = scala.collection.mutable.LongMap.empty[Long]
        var j = 0
        while (j < n) {
          val r = es(j)
          val a = if (i == 1) 1L else auth.getOrElse(r.getLong(1), 0L)
          h(r.getLong(0)) = h.getOrElse(r.getLong(0), 0L) + a
          j += 1
        }
        hub = h
        val aa = scala.collection.mutable.LongMap.empty[Long]
        j = 0
        while (j < n) {
          val r = es(j)
          aa(r.getLong(1)) = aa.getOrElse(r.getLong(1), 0L) + hub.getOrElse(r.getLong(0), 0L)
          j += 1
        }
        auth = aa
      }
      val t2 = System.nanoTime()
      // materialize output frame
      import spark.implicits._
      val keys = (hub.keySet ++ auth.keySet).toArray
      val out = keys.map(k => (k, hub.getOrElse(k, 0L), auth.getOrElse(k, 0L))).toSeq
        .toDF("node", "hub_walks", "auth_walks")
      out.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"HITSLOCAL rep$rep edges=$n%d collect=${(t1 - t0) / 1e9}%.2f s local=${(t2 - t1) / 1e9}%.3f s emit=${(t3 - t2) / 1e9}%.2f s total=${(t3 - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
