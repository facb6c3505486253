package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Results are forced with a noop-format write
  * (count() alone would let Catalyst prune the projections).
  *
  * It also writes `bench_layers.json`: one record per (query, timed
  * pass) with the wall time and the [[Layers]] counters of each phase —
  * `build` (the query function building its plan, including any eager
  * jobs it runs) and `run` (the noop write).
  */
object Bench {

  /** Wall seconds of one timed run's two phases; `ok` is false when the
    * query threw (in `build` when `run` is 0).
    */
  final case class Phases(build: Double, run: Double, ok: Boolean)

  /** Builds `fn`'s plan under the job group `<tag>|build` and forces it
    * with a noop write under `<tag>|run`, so a [[Layers]] listener can
    * split the run's jobs by phase. Both run in one [[graft.core.Scope]],
    * closed afterwards: the query's cached intermediates (shingles, edge
    * lists) go with it, which keeps each measurement independent and
    * bounds heap growth over the run. A failure is reported on stderr
    * and returned as `ok = false`.
    */
  def runTagged(spark: SparkSession, tag: String, name: String,
                fn: (SparkSession, String) => DataFrame, dir: String): Phases = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    var t1 = 0L
    def secs(a: Long, b: Long) = (b - a) / 1e9
    try graft.core.Scope.within {
      sc.setJobGroup(s"$tag|build", name)
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      sc.setJobGroup(s"$tag|run", name)
      df.write.format("noop").mode("overwrite").save()
      Phases(secs(t0, t1), secs(t1, System.nanoTime()), ok = true)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      val t2 = System.nanoTime()
      val built = if (t1 == 0L) t2 else t1
      Phases(secs(t0, built), secs(built, t2), ok = false)
    } finally sc.clearJobGroup()
  }

  /** The timed passes reduced to the figures of the final line.
    * `samples` keeps each query with at least one successful pass (name
    * order); `failed` names every query with a failed pass; `total` sums
    * the per-query minima of `samples`, so a query that failed every pass
    * adds nothing to it.
    */
  final case class Summary(samples: Seq[(String, Seq[Double])], failed: Seq[String],
                           total: Double, stallP: Double, mtSt: Double)

  /** `runs` holds, per query, one entry per pass: its elapsed seconds, or
    * None when the pass threw — a failed pass records no sample, so it
    * can never read as a fast one. `stallP` is the fraction of samples
    * that are both ≥ 1.5× and ≥ 0.25 s over their query's min (the floor
    * keeps sub-second jitter on tiny queries from counting as stalls);
    * `mtSt` is the calibration contention ratio min(mt)/min(st).
    */
  def summarize(runs: Seq[(String, Seq[Option[Double]])],
                calibSt: Seq[Double], calibMt: Seq[Double]): Summary = {
    val samples = runs.map { case (n, rs) => n -> rs.flatten }.filter(_._2.nonEmpty)
    val failed = runs.collect { case (n, rs) if rs.contains(None) => n }
    val nStalled = samples.map { case (_, ts) =>
      val m = ts.min
      ts.count(t => t >= 1.5 * m && t - m >= 0.25)
    }.sum
    val nSamples = samples.map(_._2.size).sum
    Summary(samples, failed, samples.map(_._2.min).sum,
      if (nSamples > 0) nStalled.toDouble / nSamples else 0.0,
      if (calibSt.nonEmpty && calibSt.min > 0 && calibMt.nonEmpty) calibMt.min / calibSt.min else 0.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)

    // Warm-up: run the WHOLE catalog once at the SMALLEST scale factor
    // before timing. Each query compiles its own Catalyst-generated
    // classes (Janino) and the JIT then compiles the hot loops — measured
    // at 5-100 s of one-time cost for the heavy graph/text plans, dwarfing
    // their steady-state execution. The warm dir is derived from sfDir
    // (sibling sf0.001) or SPARK_GRAFT_WARM_DIR; if neither exists the
    // warmup is SKIPPED rather than silently pre-running the catalog on
    // the timed data. Disable with SPARK_GRAFT_NO_WARMUP=1.
    // Dev-loop filter: SPARK_GRAFT_ONLY=q1,q2 times just those queries
    // (same warmup/pass/calib machinery) — parsed ONCE for warmup and
    // pass loop. Unset, EMPTY, or blank = the full catalog (an empty
    // string used to yield Set("") and silently filter out everything —
    // round-9 ADVICE); the driver never sets it, so round benches are
    // always complete.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    var warmed = false
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP")) {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      val warmDir = sys.env.get("SPARK_GRAFT_WARM_DIR")
        .filter(d => new java.io.File(d).isDirectory) // typo'd env → fall through, don't warm cold 87x
        .orElse(Option(sibling.getPath).filter(_ => sibling.isDirectory))
      warmDir match {
        case Some(wd) =>
          System.err.println(s"[bench] warmup dir: $wd")
          SparkEntry.queries.toSeq.sortBy(_._1)
            .filter { case (n, _) => only.forall(_.contains(n)) }
            .foreach { case (name, fn) =>
            try graft.core.Scope.within(fn(spark, wd).write.format("noop").mode("overwrite").save())
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
          }
          warmed = true
        case None =>
          System.err.println(s"[bench] no warmup dir (sibling sf0.001 of $sfDir absent and " +
            "SPARK_GRAFT_WARM_DIR unset) — timing cold, first-query times include JIT")
      }
    }

    // Timed passes, per-query MINIMUM, with the QUERY ORDER SHUFFLED per
    // pass (deterministic seed = pass index): the host VM stalls
    // episodically for 10-60 s with no local cause (observed: a w-family
    // query at 0.4 s in one run and 63 s twenty minutes later, identical
    // binary). Min-of-N rejects a stall only if the passes hit it with
    // DIFFERENT queries — two passes in the same contended hour in the
    // same order inflate the same entries twice (BENCH_r04). Shuffling
    // decorrelates query↔stall; ≥3 passes give each query three draws.
    // All per-pass times are emitted in the JSON so a contended run is
    // self-diagnosing (a query whose passes read 2.1/63.0/2.2 was stalled,
    // not slow). Default 4 passes: a round-7 session caught TWO of three
    // passes dirty (pass totals 149/261/75 s for identical work), so
    // three draws can leave a query with no clean sample; the fourth
    // costs ~1 min steady-state against the 3-4 min warmup.
    // SPARK_GRAFT_PASSES overrides.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "4").toInt

    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
      .filter(n => only.forall(_.contains(n)))
    val perPass = scala.collection.mutable.Map.empty[String, List[Option[Double]]]
    // warm-up jobs carry no job group, so the collector ignores them
    val layers = new Layers
    spark.sparkContext.addSparkListener(layers)
    val phases = mutable.ListBuffer.empty[(Int, String, Phases)]
    val calibSt = scala.collection.mutable.ListBuffer.empty[Double]
    val calibMt = scala.collection.mutable.ListBuffer.empty[Double]
    for (p <- 1 to passes) {
      // Fixed-work CPU calibration before each pass: the same binary has
      // measured 1.5-2x apart on different days (host VM placement /
      // steal), which reads as a spurious whole-catalog regression when
      // rounds are compared. calib_st is one thread of branch-free
      // xorshift (single-core speed); calib_mt runs the identical loop on
      // the session's SPARK_GRAFT_CPUS threads and reports wall time
      // (steal under full load — the regime the queries run in).
      // Comparing rounds: divide query times by the calib ratio before
      // calling anything a regression.
      calibSt += Calib.singleThread()
      calibMt += Calib.multiThread(cpus.toInt)
      val order = new scala.util.Random(p).shuffle(names)
      for (name <- order) {
        val ph = runTagged(spark, s"$p|$name", name, SparkEntry.queries(name), sfDir)
        phases += ((p, name, ph))
        val dt = if (ph.ok) Some(ph.build + ph.run) else None
        perPass(name) = perPass.getOrElse(name, Nil) :+ dt
      }
    }
    val sum = summarize(names.map(n => n -> perPass(n)), calibSt.toSeq, calibMt.toSeq)
    val qs = sum.samples.map { case (k, ts) => "\"" + k + "\":" + f"${ts.min}%.3f" }
      .mkString("{", ",", "}")
    // Detail-line entries ordered by ASCENDING per-query min so the most
    // expensive queries print LAST: the driver's artifact keeps only the
    // final ~2 KB of stdout, which preserves the end of this line — the
    // stall forensics for the top-of-bench queries (the ones a perf
    // comparison flags) now survive in the driver's own file instead of
    // being cut off (round-16 VERDICT residual #1). Full map still goes
    // to bench_passes.json.
    val raw = sum.samples.sortBy(_._2.min).map { case (n, ts) =>
      "\"" + n + "\":[" + ts.map(v => f"$v%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    // Two-line emission (BENCH_r05 lesson): the driver tail-captures stdout
    // (last ~2000 chars) and parses the LAST line, so the per-pass arrays —
    // which tripled the line and truncated the head 28 queries in r5 — go
    // on their own PRECEDING line (and to bench_passes.json for post-hoc
    // diagnosis); the final line is the compact min-only format the driver
    // parses. The round-16 VERDICT asked for the FULL per-pass map in the
    // final line; measured against the r16 artifact that cannot fit — the
    // final line is already 1783 of the 2000 captured chars — so the final
    // line instead carries two SCALAR stall-attribution keys (additive,
    // ~30 chars): "mtst" = the calib contention ratio min(mt)/min(st)
    // (clean host ≈ 1.0; the contended r16 window read 1.17) and
    // "stallp" = the fraction of all per-pass samples ≥ 1.5× and
    // ≥ 0.25 s over their query's min (episodic-stall density; a clean
    // window reads < ~0.05). Together with the reordered detail line a
    // contended bench window self-classifies from the artifact alone.
    // "failed" (additive) lists the queries with a failed pass; a failed
    // pass records no sample, and a query that failed every pass is left
    // out of "queries" and "value".
    val calibJson = "{\"st\":[" + calibSt.map(v => f"$v%.3f").mkString(",") +
      "],\"mt\":[" + calibMt.map(v => f"$v%.3f").mkString(",") + "]}"
    val failedJson = sum.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val detail = f"""{"detail":"per-pass","passes":$passes,"warmup":$warmed,"calib":$calibJson,"times":$raw}"""
    println(detail)
    try {
      val out = new java.io.PrintWriter("bench_passes.json")
      try out.println(detail) finally out.close()
    } catch { case e: Throwable => System.err.println(s"[bench] pass file write failed: ${e.getMessage}") }
    println(f"""{"metric":"total","value":${sum.total}%.3f,"unit":"sec","queries":$qs,"warmup":$warmed,"calib":$calibJson,"mtst":${sum.mtSt}%.2f,"stallp":${sum.stallP}%.3f,"failed":$failedJson,"sf":"$sfDir"}""")
    // stop() drains the listener bus, so every task of every tagged job
    // has reached `layers` before the records are read
    spark.stop()
    def phase(p: Int, name: String, ph: String, wall: Double) =
      (f""""wall_ms":${wall * 1e3}%.1f""" +: layers.of(s"$p|$name|$ph").map { case (k, v) => s""""$k":$v""" })
        .mkString("{", ",", "}")
    val records = phases.map { case (p, name, ph) =>
      s"""{"query":"$name","pass":$p,"ok":${ph.ok},"build":${phase(p, name, "build", ph.build)},""" +
        s""""run":${phase(p, name, "run", ph.run)}}"""
    }
    try {
      val out = new java.io.PrintWriter("bench_layers.json")
      try out.println(records.mkString("[\n", ",\n", "\n]")) finally out.close()
    } catch { case e: Throwable => System.err.println(s"[bench] layer file write failed: ${e.getMessage}") }
  }
}

/** Per-job-group layer counters, summed over every job submitted under
  * a job group (`SparkContext.setJobGroup`); a stage and its tasks count
  * toward the group of the first job that lists the stage. Jobs with no
  * group (Bench's warm-up) are not recorded. Callbacks run on the listener-bus
  * thread: read [[of]] only once the bus has delivered the jobs of
  * interest (after `spark.stop()`, or after a later job was seen).
  */
final class Layers extends SparkListener {
  private val sums = mutable.Map.empty[String, Array[Long]]
  private val taskMs = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def add(group: String, i: Int, v: Long): Unit =
    sums.getOrElseUpdate(group, new Array[Long](Layers.Sums.size))(i) += v

  override def onJobStart(e: SparkListenerJobStart): Unit =
    org.apache.spark.sql.graftx.Bridge.jobGroup(e.properties).foreach { g =>
      add(g, 0, 1)
      e.stageIds.foreach(stageGroup.getOrElseUpdate(_, g))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageGroup.get(e.stageInfo.stageId).foreach(add(_, 1, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      Seq(1L, m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled)
        .zipWithIndex.foreach { case (v, i) => add(g, i + 2, v) }
      taskMs.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += m.executorRunTime
    }

  /** The group's counters in [[Layers.Sums]] order, then the max and the
    * (lower) median task run ms; all 0 for a group that ran no job.
    */
  def of(group: String): Seq[(String, Long)] = {
    val ms = taskMs.get(group).map(_.sorted).getOrElse(Nil)
    Layers.Sums.zip(sums.getOrElse(group, new Array[Long](Layers.Sums.size))) ++ Seq(
      "task_max_ms" -> ms.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (ms.isEmpty) 0L else ms((ms.size - 1) / 2)))
  }
}

object Layers {
  /** Summed per group: jobs, stage attempts run, tasks, executor run /
    * CPU / GC ms, shuffle bytes read / written, spill bytes.
    */
  val Sums: Seq[String] = Seq("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_mem_bytes", "spill_disk_bytes")
}

/** Fixed-work CPU probes for cross-round normalization (see the calib
  * comment in [[Bench.main]]). Branch-free xorshift64 so the work is
  * constant regardless of data or JIT profile; the min over passes of
  * `st` is the machine's single-core speed that day.
  */
object Calib {
  private def loop(iters: Long): Long = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private var sink = 0L

  def singleThread(iters: Long = 300000000L): Double = {
    val t0 = System.nanoTime()
    sink ^= loop(iters)
    (System.nanoTime() - t0) / 1e9
  }

  /** Wall time for `n` threads each doing the single-thread work — under
    * zero steal and free cores this ≈ the single-thread time; contention
    * shows up as the ratio mt/st. Each thread writes its own slot and
    * the xor-fold happens after the joins, so the DCE guard is
    * deterministic (a racy read-modify-write on the shared sink left the
    * accumulated value nondeterministic, which a JVM could in principle
    * optimize differently across runs).
    */
  def multiThread(n: Int, iters: Long = 300000000L): Double = {
    val slots = new Array[Long](n)
    val t0 = System.nanoTime()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => { slots(i) = loop(iters) })
      t.start(); t
    }
    threads.foreach(_.join())
    sink ^= slots.reduce(_ ^ _)
    (System.nanoTime() - t0) / 1e9
  }
}
