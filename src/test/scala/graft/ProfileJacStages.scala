package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.TextOps

/** Dev harness: where does t_jaccard's time go? Stage-by-stage. */
object ProfileJacStages {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"STAGE $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("profile")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    for (rep <- 1 to 2) {
      val docs = Tables.documents(s, dir)
      val sh = docs.select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      val ex0 = sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), SpecTwins.polyHash61(col("s")).as("h"))
      val nex = time(s"[$rep] shingle+hash explode count")(ex0.count())
      val grouped = ex0.groupBy("h").agg(sort_array(collect_list("doc_id")).as("ds"))
        .where(size(col("ds")) <= 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ng = time(s"[$rep] groupBy(h)+persist")(grouped.count())
      val sizes = grouped.select(explode(col("ds")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val pairs = grouped.where(size(col("ds")) >= 2)
        .select(posexplode(col("ds")).as(Seq("i", "id_a")), col("ds"))
        .select(col("id_a"),
          explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
      val inter = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val ni = time(s"[$rep] pairs+inter")(inter.count())
      val j = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
      val n = time(s"[$rep] final joins+filter")(
        j.where(col("inter").cast("double") / col("uni") >= 0.6).count())
      println(s"[$rep] nex=$nex ngroups=$ng ninter=$ni nout=$n")
      grouped.unpersist(true)
    }
    s.stop()
  }
}
