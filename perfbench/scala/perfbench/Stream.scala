package perfbench

import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{EventStreams, KeyedValue}

/** One scheduled event: `dueUs` is its send time relative to the start of
  * its part (0 = warm-up, 2 = warm-up burst, 1 = timed), `step` its rate
  * step.
  */
final case class Due(part: Int, step: Int, dueUs: Long, etype: String, user: String,
                     tsUs: Long, value: Double)

/** The open-loop generator: appends each scheduled event to both memory
  * streams at its due time, whatever the engine is doing. Rows due
  * within `spacingNs` of each other go in one append.
  */
final class Generator(byType: MemoryStream[KeyedValue], byUser: MemoryStream[KeyedValue]) {
  private val spacingNs = 50000000L
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  val appends = mutable.ArrayBuffer.empty[Map[String, Any]]
  val sentByType = mutable.ArrayBuffer.empty[KeyedValue]
  val sentByUser = mutable.ArrayBuffer.empty[KeyedValue]

  def epochUs(ns: Long): Long = epochUs0 + (ns - nano0) / 1000L

  /** Plays `rows` (sorted by due time) starting at `t0Ns`; returns when
    * all are sent.
    */
  def play(rows: Array[Due], t0Ns: Long): Unit = {
    var i = 0
    var earliest = t0Ns
    while (i < rows.length) {
      val wake = math.max(t0Ns + rows(i).dueUs * 1000L, earliest)
      // parkNanos may return early; park again until the wake time
      var now = System.nanoTime()
      while (now < wake) {
        LockSupport.parkNanos(wake - now)
        now = System.nanoTime()
      }
      var j = i
      while (j < rows.length && t0Ns + rows(j).dueUs * 1000L <= now) j += 1
      earliest = append(rows.slice(i, j), t0Ns) + spacingNs
      i = j
    }
  }

  /** Appends `rows` in `n` slices, each once `settle` has returned after
    * the one before: a fixed number of micro-batches however long each
    * takes. Each slice is due when it is sent.
    */
  def feed(rows: Array[Due], n: Int, settle: () => Unit): Unit =
    for (slice <- rows.grouped(math.max((rows.length + n - 1) / n, 1))) {
      append(slice, System.nanoTime() - slice.last.dueUs * 1000L)
      settle()
    }

  /** Appends `chunk` to both streams and records it; returns the send time. */
  private def append(chunk: Array[Due], t0Ns: Long): Long = {
    val a = chunk.map(d => KeyedValue(d.etype, new java.sql.Timestamp(d.tsUs / 1000L), d.value))
    val b = chunk.map(d => KeyedValue(d.user, new java.sql.Timestamp(d.tsUs / 1000L), d.value))
    val offset = byType.addData(a.toSeq).json().toLong
    byUser.addData(b.toSeq)
    val sentNs = System.nanoTime()
    sentByType ++= a
    sentByUser ++= b
    appends += Map(
      "offset" -> offset, "part" -> chunk.last.part, "step" -> chunk.last.step,
      "rows" -> chunk.length,
      "sent_us" -> epochUs(sentNs),
      "max_due_us" -> epochUs(t0Ns + chunk.last.dueUs * 1000L),
      "lag_us_sum" -> chunk.map(d => (sentNs - t0Ns) / 1000L - d.dueUs).sum)
    sentNs
  }
}

/** `stream`: an open loop. One generator thread replays the generated
  * events on a fixed schedule into two memory streams feeding
  * `EventStreams.tumblingAggStream` (keyed by event type) and
  * `EventStreams.runningDrawdown` (keyed by user), each with a
  * local-disk checkpoint.
  */
object Stream {
  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sched = spark.read.parquet(s"${r.data}/schedule.parquet").as[Due].collect()
    val Seq(warmRows, timedRows, warmBurst) = (0 to 2).map(p => sched.filter(_.part == p))
    val byType = MemoryStream[KeyedValue]
    val byUser = MemoryStream[KeyedValue]
    val probe = new StreamProbe
    spark.streams.addListener(probe)
    val ck = r.arg("scratch") + "/checkpoints"
    val width = r.arg("window")
    val tumbling = EventStreams.tumblingAggStream(byType.toDF(), "key", "ts", "value", width,
        r.arg("lateness"))
      .writeStream.format("memory").queryName("tumbling").outputMode("append")
      .option("checkpointLocation", s"$ck/tumbling").start()
    val drawdown = EventStreams.runningDrawdown(byUser.toDS())
      .writeStream.format("memory").queryName("drawdown").outputMode("append")
      .option("checkpointLocation", s"$ck/drawdown").start()
    val queries = Seq(tumbling, drawdown)
    val gen = new Generator(byType, byUser)
    r.calibrate()

    // warm-up: the schedule's warm-up rows in a fixed number of
    // micro-batches, each sent once both queries have committed the one
    // before, so every run times the same phase of JIT warm-up
    gen.feed(warmRows, r.arg("warm_batches").toInt, () => queries.foreach(_.processAllAvailable()))
    // one burst before timing, so the timed burst meets warm code
    thread(gen.play(warmBurst, System.nanoTime())).join()
    queries.foreach(_.processAllAvailable())
    r.out("warm_batches") = probe.batches.size
    r.setupDone()

    // timed part: the rate steps, back to back
    val t0 = System.nanoTime() + 20000000L
    val timed = thread(gen.play(timedRows, t0))
    val traceOnUs = gen.epochUs(t0) + (r.arg("trace_on_s").toDouble * 1e6).toLong
    if (r.trace) {
      val wait = (traceOnUs - gen.epochUs(System.nanoTime())) / 1000L
      if (wait > 0) Thread.sleep(wait)
      r.layers.on = true
      r.catalyst.on = true
    }
    timed.join()
    queries.foreach(_.processAllAvailable())
    idle(queries)
    r.counting(false)
    r.stopTiming()
    queries.foreach(_.stop())
    PerfbenchBus.drain(r.sc)
    val watermark = Option(tumbling.lastProgress).map(_.eventTime.get("watermark")).orNull
    r.out("trace_on_us") = traceOnUs
    r.out("appends") = gen.appends.toSeq
    r.out("batches") = probe.batches
    r.out("verify") = verify(spark, gen, width, watermark)
    // release what the benchmark itself holds, so the retained heap is
    // what the engine keeps
    Seq("tumbling", "drawdown").foreach(spark.catalog.dropTempView)
    gen.sentByType.clear()
    gen.sentByUser.clear()
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body, "perfbench-generator")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Waits until no trigger is active and no batch has run for 0.5 s, so
    * the watermark-only batch that closes the last windows has finished.
    */
  private def idle(qs: Seq[StreamingQuery]): Unit = {
    def ids = qs.map(q => Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
    var last = ids
    var stableSince = System.nanoTime()
    while (System.nanoTime() - stableSince < 500000000L) {
      Thread.sleep(50)
      val now = ids
      if (now != last || qs.exists(_.status.isTriggerActive)) {
        last = now
        stableSince = System.nanoTime()
      }
    }
  }

  /** Untimed check: each streamed result equals its batch twin over the
    * events the generator actually sent. Windows are compared up to the
    * final watermark, the last point at which append mode has emitted.
    */
  private def verify(spark: SparkSession, gen: Generator, width: String,
                     watermark: String): Map[String, Any] = {
    import spark.implicits._
    // distinct rows whose count differs between the two sides, in one pass
    def diff(a: DataFrame, b: DataFrame) =
      a.withColumn("_side", lit(1)).unionByName(b.withColumn("_side", lit(-1)))
        .groupBy(a.columns.map(col): _*).agg(sum("_side").as("_n")).where(col("_n") =!= 0).count()
    def rounded(df: DataFrame) = df.withColumn("sum_value", round(col("sum_value"), 6))
    // a distributed copy: a local relation of this size is slow to plan
    def sent(rows: scala.collection.Seq[KeyedValue]) =
      spark.createDataset(spark.sparkContext.parallelize(rows.toSeq, spark.sparkContext.defaultParallelism))
    val wm = java.sql.Timestamp.from(java.time.Instant.parse(watermark))
    val streamedAgg = rounded(spark.table("tumbling"))
    val batchAgg = rounded(EventStreams.tumblingAgg(sent(gen.sentByType).toDF(), "key", "ts", "value", width))
      .where(col("w_end") <= lit(wm))
    val streamedDd = spark.table("drawdown")
    val batchDd = EventStreams.runningDrawdown(sent(gen.sentByUser)).toDF()
    Map(
      "watermark" -> watermark,
      "sent_rows" -> gen.sentByType.size,
      "tumbling_rows" -> streamedAgg.count(),
      "tumbling_mismatch" -> diff(streamedAgg, batchAgg),
      "drawdown_rows" -> streamedDd.count(),
      "drawdown_mismatch" -> diff(streamedDd, batchDd))
  }
}
