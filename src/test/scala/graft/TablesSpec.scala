package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The declared table schemas: they match every testdata scale, a
  * mismatch is reported by table and column, and loading a table (or
  * building a single-table query on it) launches no Spark job.
  */
class TablesSpec extends SparkSpec {

  // the testdata scales (TESTDATA.md), smallest first
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")

  /** Jobs this thread launches while `body` runs, counted by a
    * SparkListener. Events reach a listener in posting order, so once a
    * marker job run after `body` is seen, every earlier job was counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build frames")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "flush listener")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("declared schemas match the files of every testdata scale") {
    for (dir <- scales) {
      val files = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSet
      assert(files == Tables.schemas.keySet, s"$dir holds $files")
      assert(Tables.schemaDrift(spark, dir).isEmpty, dir)
    }
  }

  test("schemaDrift names each differing, missing and undeclared column") {
    import spark.implicits._
    withTempDir("drift") { d =>
      val dir = d.toString
      Seq((1L, "x")).toDF("r_regionkey", "r_comment")
        .write.parquet(s"$dir/region.parquet")
      assert(Tables.schemaDrift(spark, dir) == Seq(
        "region.r_regionkey: declared INT, file has BIGINT",
        "region.r_name: declared STRING, missing from file",
        "region.r_comment: STRING in file, not declared"))
    }
  }

  test("declared-schema reads equal schema-inferring reads") {
    val dir = scales(0)
    for (name <- Tables.schemas.keys.toSeq.sorted) {
      val declared = Tables.table(spark, dir, name)
      val inferred = spark.read.parquet(s"$dir/$name.parquet")
      assert(declared.schema == inferred.schema, name)
      assert(declared.exceptAll(inferred).isEmpty && inferred.exceptAll(declared).isEmpty, name)
    }
  }

  test("building table frames and single-table query frames launches no job") {
    val dir = scales(1)
    val jobs = jobsDuring {
      Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
        Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
        Tables.documents _, Tables.embeddings _).foreach(load => load(spark, dir))
      Seq("p1_scan", "t_fingerprint").foreach(q => SparkEntry.queries(q)(spark, dir))
    }
    assert(jobs == 0)
  }

  test("tune installs the as-of strategy and the checkpoint file manager once") {
    Tables.tune(spark)
    Tables.tune(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.plans.AsOfStrategy) == 1)
    assert(spark.conf.get(graft.streaming.LocalCheckpointFiles.confKey) ==
      classOf[graft.streaming.LocalCheckpointFiles].getName)
  }
}
