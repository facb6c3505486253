package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` groups the spans of one
  * operation (a query, a pipeline run, a micro-batch); `parent` is the
  * span that caused this one (0 for an operation's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written once, when the run ends. Recording
  * is off in untraced runs; the body still runs and its id is still
  * handed down so callers need not branch.
  */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def apply[T](name: String, parent: Int, op: Int)(body: Int => T): T = {
    val id = synchronized { next += 1; next }
    val t0 = System.nanoTime()
    try body(id)
    finally if (enabled) {
      val s = Span(id, parent, op, name, t0, System.nanoTime())
      synchronized { done += s }
    }
  }

  def rows: Seq[Seq[Any]] = synchronized {
    done.toSeq.map(s => Seq(s.id, s.parent, s.op, s.name, s.startNs, s.endNs))
  }
}

/** Scheduler, executor, shuffle, spill and I/O counters from Spark's
  * public listener events. Counting is switched on only around traced
  * operations; the job group `opId|query|phase` that the workloads set
  * attributes jobs to the query and phase that launched them.
  */
final class LayerListener extends SparkListener {
  @volatile var on = false
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val jobsByQuery: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  val buildJobsByQuery: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val submitted = mutable.Map.empty[(Int, Int), Long]
  private val firstLaunch = mutable.Map.empty[(Int, Int), Long]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val skews = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    c("sched.jobs") += 1
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.map(_.split('|')) match {
      case Some(Array(_, q, phase)) =>
        jobsByQuery(q) += 1
        if (phase == "build") buildJobsByQuery(q) += 1
      case _ =>
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    val i = e.stageInfo
    c("sched.stages") += 1
    submitted((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (on) {
    val k = (e.stageId, e.stageAttemptId)
    if (!firstLaunch.contains(k)) firstLaunch(k) = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    c("sched.tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("exec.task_run_s") += m.executorRunTime / 1e3
      c("exec.task_cpu_s") += m.executorCpuTime / 1e9
      c("exec.gc_s") += m.jvmGCTime / 1e3
      c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("spill.mem_bytes") += m.memoryBytesSpilled
      c("spill.disk_bytes") += m.diskBytesSpilled
      c("io.input_bytes") += m.inputMetrics.bytesRead
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val k = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (s <- submitted.remove(k); f <- firstLaunch.remove(k))
      c("sched.launch_wait_s") += math.max(0L, f - s) / 1e3
    taskTimes.remove(k).filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2)
      if (median > 0) skews += sorted.last.toDouble / median
    }
  }

  /** Mean over stages of (max ÷ median task run time), stages with ≥ 2 tasks. */
  def meanSkew: Double = if (skews.isEmpty) 0.0 else skews.sum / skews.size
}

/** Catalyst phase times from each executed query's planning tracker. */
final class CatalystListener extends QueryExecutionListener {
  @volatile var on = false
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)

  private def add(qe: QueryExecution): Unit = if (on) {
    val p = qe.tracker.phases
    def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
}

/** Micro-batch progress of every streaming query. Always on in the
  * `stream` workload: batch latency is computed from these records.
  */
final class StreamProbe extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val st = p.stateOperators
    val row = Map[String, Any](
      "query" -> p.name,
      "batch" -> p.batchId,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "trigger_ms" -> d("triggerExecution"),
      "add_batch_ms" -> d("addBatch"),
      "planning_ms" -> d("queryPlanning"),
      "log_commit_ms" -> (d("walCommit") + d("commitOffsets")),
      "rows" -> p.numInputRows,
      "end_offset" -> p.sources.headOption.flatMap(s => Option(s.endOffset)).getOrElse(""),
      "watermark" -> Option(p.eventTime.get("watermark")).getOrElse(""),
      "state_rows_total" -> st.map(_.numRowsTotal).sum,
      "state_rows_updated" -> st.map(_.numRowsUpdated).sum,
      "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "state_dropped" -> st.map(_.numRowsDroppedByWatermark).sum)
    synchronized { rows += row }
  }

  def batches: Seq[Map[String, Any]] = synchronized { rows.toSeq }
}
