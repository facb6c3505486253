package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** [[Bench.summarize]]: the per-pass outcomes → final-line figures step.
  * A failed pass must never count as a (fast) sample, a query that failed
  * every pass must drop out of the total instead of crashing the run, and
  * the stall density ignores sub-0.25 s jitter on tiny queries.
  *
  * [[Layers]], the per-job-group collector behind `bench_layers.json`:
  * it counts a group's jobs, tasks and shuffle bytes, keeps groups
  * apart, and [[Bench.runTagged]] charges a lazy query function's build
  * phase no job.
  */
class BenchSummarySpec extends SparkSpec {

  /** Runs `body` with a fresh [[Layers]] attached, then a marker job;
    * listeners on one bus see events in posting order, so once the
    * marker's end is seen every earlier job's tasks have been counted.
    */
  private def collected(body: => Unit): Layers = {
    val sc = spark.sparkContext
    val layers = new Layers
    val marker = s"bench-spec-marker-${System.nanoTime}"
    val flushed = new CountDownLatch(1)
    val markerJobs = scala.collection.mutable.Set.empty[Int]
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerJobs += e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(layers)
    sc.addSparkListener(flush)
    try {
      body
      sc.setJobGroup(marker, "flush listener")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      layers
    } finally {
      sc.removeSparkListener(flush)
      sc.removeSparkListener(layers)
    }
  }

  private def tagged[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("a failed pass records no sample; an all-failed query leaves the total") {
    val s = Bench.summarize(Seq(
      "a" -> Seq(Some(2.0), None, Some(2.1)),
      "b" -> Seq(None, None, None),
      "c" -> Seq(Some(1.0), Some(1.2), Some(0.9))), Nil, Nil)
    assert(s.samples == Seq("a" -> Seq(2.0, 2.1), "c" -> Seq(1.0, 1.2, 0.9)))
    assert(s.failed == Seq("a", "b"))
    assert(math.abs(s.total - 2.9) < 1e-12)
  }

  test("no failures: every query keeps its min and the failed list is empty") {
    val s = Bench.summarize(Seq("q" -> Seq(Some(0.5), Some(0.4))), Nil, Nil)
    assert(s.failed.isEmpty && s.samples == Seq("q" -> Seq(0.5, 0.4)))
    assert(s.total == 0.4)
  }

  test("stallp needs both >= 1.5x and >= 0.25 s over the query's min") {
    val s = Bench.summarize(Seq(
      // 0.16 is 1.6x its min but only 0.06 s over: jitter, not a stall
      "tiny" -> Seq(Some(0.10), Some(0.16), Some(0.10), Some(0.10)),
      // 3.5 is 1.75x and 1.5 s over: a stall; 2.9 is 1.45x: not one
      "big" -> Seq(Some(2.0), Some(3.5), Some(2.9))), Nil, Nil)
    assert(math.abs(s.stallP - 1.0 / 7) < 1e-12)
    assert(Bench.summarize(Seq("x" -> Seq(None)), Nil, Nil).stallP == 0.0)
  }

  test("mtst is min(mt) / min(st), 0 without calibration samples") {
    val s = Bench.summarize(Nil, Seq(1.2, 1.0, 1.1), Seq(1.3, 1.1, 1.25))
    assert(math.abs(s.mtSt - 1.1) < 1e-12)
    assert(Bench.summarize(Nil, Nil, Nil).mtSt == 0.0)
  }

  test("a groupBy query under one group records its jobs, tasks and shuffle write") {
    val layers = collected {
      tagged("1|agg|run") {
        spark.range(0, 10000, 1, 4).groupBy(col("id") % 13).count()
          .write.format("noop").mode("overwrite").save()
      }
    }
    val l = layers.of("1|agg|run").toMap
    assert(l("jobs") >= 1 && l("stages") >= 1, l)
    assert(l("tasks") >= 1 && l("shuffle_write_bytes") > 0, l)
    assert(l("task_max_ms") >= l("task_median_ms"), l)
    assert(layers.of("1|other|run").forall(_._2 == 0L))
  }

  test("a second group's jobs never land in the first, even when both run at once") {
    val sc = spark.sparkContext
    // job groups are thread-local: each thread tags its own jobs
    def jobs(group: String, n: Int, parts: Int) = new Thread(() => tagged(group)(
      (1 to n).foreach(_ => sc.parallelize(1 to 100, parts).foreach(_ => Thread.sleep(5)))))
    val layers = collected {
      val threads = Seq(jobs("1|a|run", 1, 2), jobs("1|b|run", 3, 3))
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    val a = layers.of("1|a|run").toMap
    val b = layers.of("1|b|run").toMap
    assert((a("jobs"), a("stages"), a("tasks")) == ((1L, 1L, 2L)), a)
    assert((b("jobs"), b("stages"), b("tasks")) == ((3L, 3L, 9L)), b)
  }

  test("a build phase whose query function runs no eager action records 0 jobs") {
    var lazyRun, eagerRun: Bench.Phases = null
    val layers = collected {
      lazyRun = Bench.runTagged(spark, "1|lazy", "lazy",
        (s, _) => s.range(0, 1000, 1, 2).groupBy(col("id") % 7).count(), "")
      eagerRun = Bench.runTagged(spark, "1|eager", "eager",
        (s, _) => { val df = s.range(0, 1000, 1, 2).toDF(); df.count(); df }, "")
    }
    assert(lazyRun.ok && eagerRun.ok)
    assert(layers.of("1|lazy|build").toMap.apply("jobs") == 0L)
    assert(layers.of("1|lazy|run").toMap.apply("tasks") >= 1L)
    assert(layers.of("1|eager|build").toMap.apply("jobs") >= 1L)
  }
}
