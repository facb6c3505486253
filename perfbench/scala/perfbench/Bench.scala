package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** JVM side of the benchmark: runs one workload against the engine's
  * public entry points and writes raw records (operations, passes,
  * listener counters, spans) as JSON. `perfbench/run.py` generates the
  * inputs, launches this, checks outputs and computes every metric.
  *
  * Usage: perfbench.Bench --workload catalog|stream --data DIR
  *   --out FILE --spans FILE --seconds S --trace 0|1 --seed N --cores C
  *   [workload options]
  */
object Bench {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a("scratch"))
      .config("spark.sql.warehouse.dir", a("scratch") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.tune(spark)
    val r = new Run(spark, a)
    try {
      a("workload") match {
        case "catalog" => Catalog.run(r)
        case "stream" => Stream.run(r)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.finish()
    } finally spark.stop()
  }
}

/** Runs one operation. An operation that throws yields a record with
  * `ok = false` and its error, and no timing sample: `body` returns the
  * timing fields only when it completes.
  */
object Loop {
  def attempt(name: String)(body: => Map[String, Any]): Map[String, Any] =
    try Map[String, Any]("name" -> name, "ok" -> true) ++ body
    catch {
      case NonFatal(e) =>
        Map("name" -> name, "ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
    }
}

/** State of one benchmark run: arguments, tracing, and the records that
  * end up in the result file.
  */
final class Run(val spark: SparkSession, a: Map[String, String]) {
  val sc = spark.sparkContext
  val data: String = a("data")
  val seconds: Double = a("seconds").toDouble
  val seed: Long = a("seed").toLong
  val cores: Int = a("cores").toInt
  val trace: Boolean = a("trace") == "1"
  val spans = new Spans(trace)
  val layers = new LayerListener
  val catalyst = new CatalystListener
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val setupFailures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val out = mutable.LinkedHashMap.empty[String, Any]
  private var opSeq = 0
  private var setupEndMs = 0L
  private var tracedUnits = 0

  out("engine_ready_ms") = System.currentTimeMillis()
  if (trace) {
    sc.addSparkListener(layers)
    spark.listenerManager.register(catalyst)
  }

  def arg(k: String): String = a(k)
  def nextOp(): Int = { opSeq += 1; opSeq }
  def nowS: Double = System.nanoTime() / 1e9

  /** Switch layer counting on or off between operations. Draining the
    * listener bus first attributes every event to the operation that
    * caused it.
    */
  def counting(on: Boolean): Unit = if (trace) {
    PerfbenchBus.drain(sc)
    layers.on = on
    catalyst.on = on
  }

  def countUnit(): Unit = tracedUnits += 1

  /** Contention probe: the same fixed CPU loop on one thread and on
    * `cores` threads; a ratio well above 1 means the host is contended.
    */
  def calibrate(): Unit = {
    val iters = 100000000L
    val st = graft.Calib.singleThread(iters)
    val mt = graft.Calib.multiThread(cores, iters)
    out("calib") = Map("threads" -> cores, "st_s" -> st, "mt_s" -> mt)
  }

  def setupDone(): Unit = {
    setupEndMs = System.currentTimeMillis()
    ticks0 = cpuTicks()
  }

  private var ticks0 = (0L, 0L)

  /** (all, steal) CPU ticks of the host from /proc/stat; zeros where the
    * file is absent. Steal is time the hypervisor ran someone else.
    */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (v.sum, if (v.length > 7) v(7) else 0L)
      } finally f.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Runs `body` on `n` threads at once and returns the wall seconds
    * until all have ended; a thread's failure is a set-up failure.
    */
  def concurrently(n: Int, name: String)(body: => Unit): Double = {
    val t0 = nowS
    val threads = (1 to n).map { _ =>
      val t = new Thread(() => {
        val rec = Loop.attempt(name) { body; Map.empty }
        if (rec("ok") == false) setupFailures.synchronized(setupFailures += rec)
      }, "perfbench-warm")
      t.start()
      t
    }
    threads.foreach(_.join())
    nowS - t0
  }

  def persistedBlocks(): Int = sc.getRDDStorageInfo.map(_.numCachedPartitions).sum

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private var timingEndMs = 0L
  private var ticks1 = (0L, 0L)

  /** Ends the timed part; checks that follow are not timed. */
  def stopTiming(): Unit = if (timingEndMs == 0L) {
    timingEndMs = System.currentTimeMillis()
    ticks1 = cpuTicks()
  }

  def finish(): Unit = {
    stopTiming()
    out("steal_frac") =
      if (ticks1._1 > ticks0._1) (ticks1._2 - ticks0._2).toDouble / (ticks1._1 - ticks0._1) else 0.0
    counting(false)
    spark.catalog.clearCache()
    // Spark's ContextCleaner frees broadcast and cached blocks only after
    // a GC has shown their handles unreachable, on its own thread; the
    // pauses let it run before the next collection
    val mem = ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    out("setup_end_ms") = setupEndMs
    out("timing_end_ms") = timingEndMs
    out("cores") = cores
    out("heap_mb") = heapMb
    out("ops") = ops
    out("setup_failures") = setupFailures
    if (trace) {
      out("layers") = layers.c.toMap ++ Map(
        "exec.task_skew" -> layers.meanSkew,
        "catalyst.analysis_s" -> catalyst.analysisMs / 1e3,
        "catalyst.optimization_s" -> catalyst.optimizationMs / 1e3,
        "catalyst.planning_s" -> catalyst.planningMs / 1e3)
      out("traced_units") = tracedUnits
      out("jobs_by_query") = layers.jobsByQuery.toMap
      out("build_jobs_by_query") = layers.buildJobsByQuery.toMap
      write(arg("spans"), Json.render(spans.rows))
    }
    write(arg("out"), Json.render(out))
  }

  private def write(path: String, s: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(s) finally w.close()
  }
}

/** `catalog`: one client, closed loop. Each pass runs the catalog
  * queries named in `--queries`, each forced with a noop write, and one
  * corpus pipeline run (`Corpus.op`), in an order shuffled per pass from
  * the seed.
  */
object Catalog {
  private val WarmPasses = 2
  private val CorpusRounds = 2

  def run(r: Run): Unit = {
    val spark = r.spark
    val queries = r.arg("queries").split(',').toSeq
    val names = queries :+ Corpus.Name
    val fns = queries.map(n => n -> graft.queries.Catalog.queries(n)).toMap
    r.out("oracle_sql") = queries.map(n => n -> graft.queries.Catalog.oracleSql(n)).toMap
    r.calibrate()
    // untimed verification step, which is also the cold first pass: each
    // query result is written for the runner's oracle comparison, and the
    // corpus run carries the first of the two corpus output checks
    val cold0 = r.nowS
    for (n <- queries) {
      val rec = Loop.attempt(n) {
        fns(n)(spark, r.data).write.mode("overwrite").parquet(s"${r.arg("verify_dir")}/$n")
        Map.empty
      }
      if (rec("ok") == false) r.setupFailures += rec
      spark.catalog.clearCache()
    }
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    Corpus.checkRun(r, checks)
    r.out("cold_s") = r.nowS - cold0
    // warm up at the timed scale; fixed counts make every run time the
    // same phase of JIT warm-up. The corpus pipeline's many small jobs
    // keep a single client on the driver thread, so its extra warm-up
    // rounds run `cores - 1` pipelines at once.
    val warm = (1 to CorpusRounds).map(_ => r.concurrently(r.cores - 1, Corpus.Name)(Corpus.warmOp(r))) ++
      (0 until WarmPasses).map(p => runPass(r, names, fns, p, timed = false))
    r.out("warm_passes") = warm
    var pass = WarmPasses
    r.setupDone()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = r.nowS + r.seconds
    var timed = 0
    // traced runs alternate untraced and traced passes, which gives the
    // tracing overhead and the per-query span accounting in one run
    while (r.nowS < deadline || (r.trace && timed < 2)) {
      val traced = r.trace && timed % 2 == 1
      r.counting(traced)
      val before = r.ops.size
      val wall = runPass(r, names, fns, pass, timed = true, traced = traced)
      r.counting(false)
      if (traced) r.countUnit()
      val failed = r.ops.drop(before).count(_("ok") == false)
      passes += Map("pass" -> pass, "wall_s" -> wall, "traced" -> traced, "failed" -> failed)
      pass += 1
      timed += 1
    }
    r.out("passes") = passes.toSeq
    r.stopTiming()
    // the second corpus output check, untimed, after the timed loop
    Corpus.checkRun(r, checks)
    r.out("verify") = Map("runs" -> checks.toSeq, "input_docs" -> Corpus.docs(r),
      "max_chunk_tokens" -> Corpus.MaxChunkTokens, "overlap" -> Corpus.Overlap)
  }

  private def runPass(r: Run, names: Seq[String], fns: Map[String, (SparkSession, String) => DataFrame],
                      pass: Int, timed: Boolean, traced: Boolean = false): Double = {
    val order = new Random(r.seed * 1000003L + pass).shuffle(names)
    val t0 = r.nowS
    for (n <- order) {
      val op = r.nextOp()
      val rec = if (n == Corpus.Name) Corpus.op(r, op, check = false) else query(r, n, fns(n), op)
      if (timed) r.ops += rec ++ Map("op" -> op, "pass" -> pass, "traced" -> traced)
      else if (rec("ok") == false) r.setupFailures += rec
    }
    r.nowS - t0
  }

  private def query(r: Run, n: String, fn: (SparkSession, String) => DataFrame, op: Int): Map[String, Any] = {
    val rec = r.spans("query", 0, op) { root =>
      Loop.attempt(n) {
        r.sc.setJobGroup(s"$op|$n|build", n, interruptOnCancel = false)
        val q0 = r.nowS
        val df = r.spans("queries.build", root, op)(_ => fn(r.spark, r.data))
        val q1 = r.nowS
        r.sc.setJobGroup(s"$op|$n|run", n, interruptOnCancel = false)
        r.spans("queries.run", root, op)(_ => r.noop(df))
        val q2 = r.nowS
        Map("lat_s" -> (q2 - q0), "build_s" -> (q1 - q0), "run_s" -> (q2 - q1))
      }
    }
    r.sc.clearJobGroup()
    val left = r.persistedBlocks()
    r.spark.catalog.clearCache()
    rec + ("blocks_left" -> left)
  }
}

/** The corpus pipeline operation of the `catalog` loop:
  * `CorpusPipeline.cleanWithRelease` over the generated corpus, the
  * cleaned frame persisted and forced, then `chunkAndPack` forced.
  */
object Corpus {
  val Name = "clean+pack"
  val MaxChunkTokens = 32
  val Overlap = 8
  private val PackBudget = 2048L

  /** An untimed pipeline run whose output check joins `checks`. */
  def checkRun(r: Run, checks: mutable.ArrayBuffer[Map[String, Any]]): Unit = {
    val rec = op(r, r.nextOp(), check = true)
    if (rec("ok") == false) r.setupFailures += rec
    else checks += rec("check").asInstanceOf[Map[String, Any]]
  }

  /** A pipeline run of the warm-up: the timed run's work without its
    * timing, spans or cache clearing, so several can run at once.
    */
  def warmOp(r: Run): Unit = {
    val (cleaned, release) = pipeline(r)
    cleaned.persist(StorageLevel.MEMORY_AND_DISK)
    r.noop(cleaned)
    r.noop(pack(cleaned))
    cleaned.unpersist(blocking = true)
    release()
  }

  def docs(r: Run): Long = r.spark.read.parquet(s"${r.data}/corpus.parquet").count()

  private def pipeline(r: Run): (DataFrame, () => Unit) = {
    val corpus = r.spark.read.parquet(s"${r.data}/corpus.parquet")
    val bench = r.spark.read.parquet(s"${r.data}/benchmark.parquet")
    graft.text.CorpusPipeline.cleanWithRelease(corpus, "doc_id", "text", bench, "text")
  }

  private def pack(cleaned: DataFrame): DataFrame =
    graft.text.CorpusPipeline.chunkAndPack(cleaned, "doc_id", "text", MaxChunkTokens, Overlap, PackBudget)

  /** One pipeline run: build the cleaning plan, force it into a persisted
    * frame, then chunk and pack from that frame. With `check`, the
    * output check follows the timed part, before anything is released.
    */
  def op(r: Run, op: Int, check: Boolean): Map[String, Any] = {
    val rec = r.spans("pipeline", 0, op) { root =>
      Loop.attempt(Name) {
        r.sc.setJobGroup(s"$op|$Name|build", Name, interruptOnCancel = false)
        val t0 = r.nowS
        val (cleaned, release) = r.spans("text.clean_build", root, op)(_ => pipeline(r))
        val t1 = r.nowS
        r.sc.setJobGroup(s"$op|$Name|run", Name, interruptOnCancel = false)
        r.spans("text.clean_run", root, op) { _ =>
          cleaned.persist(StorageLevel.MEMORY_AND_DISK)
          r.noop(cleaned)
        }
        val t2 = r.nowS
        r.spans("text.pack", root, op)(_ => r.noop(pack(cleaned)))
        val t3 = r.nowS
        val checked: Map[String, Any] = if (check) Map("check" -> digests(cleaned)) else Map.empty
        cleaned.unpersist(blocking = true)
        release()
        checked ++ Map("lat_s" -> (t3 - t0), "build_s" -> (t1 - t0), "clean_run_s" -> (t2 - t1),
          "pack_s" -> (t3 - t2))
      }
    }
    r.sc.clearJobGroup()
    val left = r.persistedBlocks()
    r.spark.catalog.clearCache()
    rec + ("blocks_left" -> left)
  }

  /** Order-insensitive digests of the survivors and the packs, the
    * survivor ids and pack totals the runner checks against the
    * generator's record, and structural checks.
    */
  private def digests(cleaned: DataFrame): Map[String, Any] = {
    val packed = pack(cleaned).persist(StorageLevel.MEMORY_AND_DISK)
    def digest(df: DataFrame, cols: Seq[String]) = {
      val row = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(20,0)")))
        .head()
      s"${row.getLong(0)}:${Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
    }
    val totals = packed.agg(count(lit(1)), sum("ntok")).head()
    val d = Map[String, Any](
      "survivors" -> cleaned.count(),
      "survivor_ids" -> cleaned.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      "packed_rows" -> totals.getLong(0),
      "packed_ntok" -> Option(totals.get(1)).map(_.toString.toLong).getOrElse(0L),
      "survivor_digest" -> digest(cleaned, Seq("doc_id", "text")),
      "pack_digest" -> digest(packed, Seq("doc_id", "chunk_id", "text", "ntok", "pack")),
      "orphan_chunks" -> packed.join(cleaned.select("doc_id"), Seq("doc_id"), "left_anti").count(),
      "over_budget_packs" -> packed.groupBy("pack").agg(sum("ntok").as("t"), count(lit(1)).as("n"))
        .where(col("t") > PackBudget && col("n") > 1).count())
    packed.unpersist(blocking = true)
    d
  }
}
