package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.text.TextOps

/** Dev harness: t_jaccard A/B — catalog form vs frequency-1 semi-prune.
  *
  * A hash with document frequency 1 can never match in the self-join, so
  * filtering `__df >= 2` on BOTH join inputs shrinks the join shuffle
  * without changing any pair or any Jaccard value — PROVIDED `sizes`
  * still counts every df<=maxDf row (the union denominator includes
  * unshared shingles). Variants interleave in one JVM (AQE re-plans per
  * run; separately-warmed JVMs are not comparable — see bench notes).
  */
object ProfileJaccard {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"PROFILE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Tables.tune(org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").appName("profile")
      .config("spark.sql.shuffle.partitions", 32).getOrCreate())
    s.sparkContext.setLogLevel("WARN")

    // prune=false reproduces the round-9 catalog query exactly.
    def run(prune: Boolean): Long = {
      val docs = Tables.documents(s, dir)
      val sh = docs.select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      val wdf = Window.partitionBy("h")
      val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), SpecTwins.polyHash61(col("s")).as("h"))
        .withColumn("__df", count(lit(1)).over(wdf))
        .where(col("__df") <= 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val side = (if (prune) ex.where(col("__df") >= 2) else ex).select("doc_id", "h")
      val inter = side.as("a").join(side.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val j = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
      val n = j.where(col("inter").cast("double") / col("uni") >= 0.6).count()
      ex.unpersist(true)
      n
    }
    // Variant C: no window, no self-join. One groupBy(h) collects the
    // sorted doc list per hash; df<=maxDf and the "df>=2 can pair" prune
    // are size() predicates on that list; pairs are emitted map-side via
    // posexplode + slice (sum(df^2)/2 rows — identical to the join's
    // output); sizes re-explodes the cached grouped frame. Saves the
    // window sort and both join-side exchanges.
    def runGrouped(): Long = {
      val docs = Tables.documents(s, dir)
      val sh = docs.select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      val grouped = sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), SpecTwins.polyHash61(col("s")).as("h"))
        .groupBy("h").agg(sort_array(collect_list("doc_id")).as("ds"))
        .where(size(col("ds")) <= 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = grouped.select(explode(col("ds")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val pairs = grouped.where(size(col("ds")) >= 2)
        .select(posexplode(col("ds")).as(Seq("i", "id_a")), col("ds"))
        .select(col("id_a"),
          explode(slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
      val inter = pairs.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      val j = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
      val n = j.where(col("inter").cast("double") / col("uni") >= 0.6).count()
      grouped.unpersist(true)
      n
    }
    // Variant D: AllPairs prefix filtering (exact). Canonical global order
    // = (df, h) ascending (rarest first). For J >= t a pair MUST share a
    // hash inside both docs' (n - ceil(t*n) + 1)-prefixes, so only prefix
    // rows enter the self-join; candidates are verified by exact array
    // intersection. t = 3/5 hardcoded as integer rational — float ceil
    // of 0.6*n rounds wrong at n % 5 == 0 and would MISS pairs.
    def runPrefix(): Long = {
      val docs = Tables.documents(s, dir)
      val sh = docs.select(col("doc_id"), TextOps.wordShingles(col("text"), 3).as("sh"))
        .where(size(col("sh")) > 0)
      val grouped = sh.select(col("doc_id"), explode(col("sh")).as("s"))
        .select(col("doc_id"), SpecTwins.polyHash61(col("s")).as("h"))
        .groupBy("h").agg(collect_list("doc_id").as("ds"))
        .where(size(col("ds")) <= 1000)
      val docsets = grouped
        .select(explode(col("ds")).as("doc_id"), size(col("ds")).as("df"), col("h"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("sorted"))
        .select(col("doc_id"),
          transform(col("sorted"), x => x.getField("h")).as("hs"),
          transform(col("sorted"), x => x.getField("df")).as("dfs"),
          size(col("sorted")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // prefix length p = n - ceil(3n/5) + 1; ceil(3n/5) = (3n+4) div 5
      val p = col("n") - floor((col("n") * lit(3) + lit(4)) / lit(5)).cast("int") + lit(1)
      val prefix = docsets
        .select(col("doc_id"), col("n"), posexplode(arrays_zip(col("hs"), col("dfs"))))
        .where(col("pos") < p && col("col.dfs") >= 2)
        .select(col("col.hs").as("h"), col("doc_id"), col("n"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
            && least(col("a.n"), col("b.n")) * lit(5) >= greatest(col("a.n"), col("b.n")) * lit(3))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val ver = cand
        .join(docsets.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("n").as("na")), "id_a")
        .join(docsets.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("n").as("nb")), "id_b")
        .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))))
        .withColumn("uni", col("na") + col("nb") - col("i"))
      val n = ver.where(col("i").cast("double") / col("uni") >= 0.6).count()
      docsets.unpersist(true)
      n
    }
    // Variants E/F: fused ShingleHash61 head (one byte-pass, no strings)
    // feeding the catalog window topology (E) or the prefix filter (F).
    def exFused(): org.apache.spark.sql.DataFrame =
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.HashF.shingleHash61(col("text"), 3)).as("h"))
    def runFusedWindow(): Long = {
      val wdf = Window.partitionBy("h")
      val ex = exFused()
        .withColumn("__df", count(lit(1)).over(wdf))
        .where(col("__df") <= 1000).drop("__df")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val inter = ex.as("a").join(ex.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("inter"))
      val j = inter
        .join(sizes.select(col("doc_id").as("id_a"), col("nsh").as("na")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("nsh").as("nb")), "id_b")
        .withColumn("uni", col("na") + col("nb") - col("inter"))
      val n = j.where(col("inter").cast("double") / col("uni") >= 0.6).count()
      ex.unpersist(true)
      n
    }
    def runFusedPrefix(): Long = {
      val grouped = exFused()
        .groupBy("h").agg(collect_list("doc_id").as("ds"))
        .where(size(col("ds")) <= 1000)
      val docsets = grouped
        .select(explode(col("ds")).as("doc_id"), size(col("ds")).as("df"), col("h"))
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("sorted"))
        .select(col("doc_id"),
          transform(col("sorted"), x => x.getField("h")).as("hs"),
          transform(col("sorted"), x => x.getField("df")).as("dfs"),
          size(col("sorted")).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val p = col("n") - floor((col("n") * lit(3) + lit(4)) / lit(5)).cast("int") + lit(1)
      val prefix = docsets
        .select(col("doc_id"), col("n"), posexplode(arrays_zip(col("hs"), col("dfs"))))
        .where(col("pos") < p && col("col.dfs") >= 2)
        .select(col("col.hs").as("h"), col("doc_id"), col("n"))
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id")
            && least(col("a.n"), col("b.n")) * lit(5) >= greatest(col("a.n"), col("b.n")) * lit(3))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
      val ver = cand
        .join(docsets.select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("n").as("na")), "id_a")
        .join(docsets.select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("n").as("nb")), "id_b")
        .withColumn("i", size(array_intersect(col("hs_a"), col("hs_b"))))
        .withColumn("uni", col("na") + col("nb") - col("i"))
      val n = ver.where(col("i").cast("double") / col("uni") >= 0.6).count()
      docsets.unpersist(true)
      n
    }
    val warm = time("warm (catalog)")(run(prune = false))
    time("warm (fusedwin)")(runFusedWindow())
    time("warm (fusedprefix)")(runFusedPrefix())
    val a1 = time("catalog (1)")(run(prune = false))
    val e1 = time("fused+window (1)")(runFusedWindow())
    val f1 = time("fused+prefix (1)")(runFusedPrefix())
    val a2 = time("catalog (2)")(run(prune = false))
    val e2 = time("fused+window (2)")(runFusedWindow())
    val f2 = time("fused+prefix (2)")(runFusedPrefix())
    val a3 = time("catalog (3)")(run(prune = false))
    val e3 = time("fused+window (3)")(runFusedWindow())
    val f3 = time("fused+prefix (3)")(runFusedPrefix())
    println(s"rows: warm=$warm a=$a1/$a2/$a3 e=$e1/$e2/$e3 f=$f1/$f2/$f3 (must all be equal)")
    s.stop()
  }
}
