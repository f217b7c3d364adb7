package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed op: its window in epoch ms (the key that attributes listener
  * events to it) and what the benchmark measured around it.
  */
final case class OpRec(name: String, pass: Int, startMs: Long, endMs: Long,
                       wallS: Double, ok: Boolean, error: String,
                       codegen: Long, leaked: Int, counters: Map[String, Double])

/** A span the benchmark recorded around one call it made into a layer. */
final case class SpanRec(key: String, startMs: Long, endMs: Long, seconds: Double)

final case class JobRec(startMs: Long, endMs: Long)
final case class StageRec(submitMs: Long, failed: Boolean)
final case class TaskRec(launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, delayMs: Long, shuffleRead: Long,
                         fetchWaitMs: Long, shuffleWrite: Long, spill: Long,
                         rowsIn: Long, rowsOut: Long, failed: Boolean)
final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                       planningMs: Long, exchanges: Int, smj: Int, shj: Int,
                       bhj: Int, cachedScans: Int, leafScans: Int,
                       filesWritten: Long, bytesWritten: Long)
final case class BatchRec(atMs: Long, inputRows: Long, triggerMs: Long,
                          addBatchMs: Long, walCommitMs: Long, stateRows: Long,
                          stateMemory: Long)

/** Spans and Spark listener events of a traced run, kept in memory.
  *
  * Ops run one at a time, so each job, task, query execution or streaming
  * batch belongs to the op whose window contains its start time. The
  * untraced run uses [[Tracer.Off]], which records nothing.
  */
class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val spans = new ConcurrentLinkedQueue[SpanRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def on: Boolean = true

  def span[T](key: String)(body: => T): T = {
    val s = System.currentTimeMillis(); val n = System.nanoTime()
    try body finally spans.add(SpanRec(key, s, System.currentTimeMillis(),
      (System.nanoTime() - n) / 1e9))
  }

  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d("triggerExecution"), d("addBatch"), d("walCommit"),
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add(JobRec(s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.submissionTime.getOrElse(0L), i.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    val run = g(_.executorRunTime)
    val delay = math.max(0L, i.duration - run - g(_.executorDeserializeTime) -
      g(_.resultSerializationTime) - i.gettingResultTime)
    tasks.add(TaskRec(i.launchTime, i.finishTime, run, g(_.executorCpuTime),
      g(_.jvmGCTime), delay,
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(_.shuffleReadMetrics.fetchWaitTime), g(_.shuffleWriteMetrics.bytesWritten),
      g(_.diskBytesSpilled),
      g(t => t.inputMetrics.recordsRead + t.shuffleReadMetrics.recordsRead),
      g(t => t.shuffleWriteMetrics.recordsWritten + t.outputMetrics.recordsWritten),
      i.failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val at = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val plan: SparkPlan = qe.executedPlan
    def n(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(plan) { case p if pf.isDefinedAt(p) => p }.size
    val cached = n { case _: InMemoryTableScanExec => }
    val leaves = cached + n {
      case _: FileSourceScanExec => case _: BatchScanExec => case _: RDDScanExec =>
    }
    // file sinks report what they wrote in their write command's metrics
    val writes = plan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def wrote(k: String): Long = writes.map(_.get(k).map(_.value).getOrElse(0L)).sum
    qes.add(QeRec(at, ms("analysis"), ms("optimization"), ms("planning"),
      n { case _: ShuffleExchangeExec => }, n { case _: SortMergeJoinExec => },
      n { case _: ShuffledHashJoinExec => }, n { case _: BroadcastHashJoinExec => },
      cached, leaves, wrote("numFiles"), wrote("numOutputBytes")))
  }
}

object Tracer {
  /** Tracing off: spans run their body and record nothing. */
  class Off(spark: SparkSession) extends Tracer(spark) {
    override def on: Boolean = false
    override def span[T](key: String)(body: => T): T = body
    override def codegenCompiles: Long = 0L
    override def start(): Unit = ()
    override def stop(): Unit = ()
  }

  /** Length of the union of intervals, clipped to [lo, hi], in ms. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s0, e0) <- iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
         .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) { if (curE > curS) total += curE - curS; curS = s0; curE = e0 }
      else curE = math.max(curE, e0)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics over the warm ops: additive ones per warm pass. */
  def layers(t: Tracer, warm: Seq[OpRec], passes: Int, cpus: Int): Map[String, Double] = {
    val windows = warm.map(o => (o.startMs, o.endMs)).sortBy(_._1).toArray
    def inOps(at: Long): Boolean = {
      var lo = 0; var hi = windows.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (windows(mid)._2 < at) lo = mid + 1
        else if (windows(mid)._1 > at) hi = mid - 1
        else return true
      }
      false
    }
    val jobs = t.jobs.asScala.toSeq.filter(j => inOps(j.startMs))
    val tasks = t.tasks.asScala.toSeq.filter(k => inOps(k.launchMs))
    val stages = t.stages.asScala.toSeq.filter(s => inOps(s.submitMs))
    val qes = t.qes.asScala.toSeq.filter(q => inOps(q.atMs))
    val batches = t.batches.asScala.toSeq.filter(b => inOps(b.atMs))
    val spans = t.spans.asScala.toSeq.filter(s => inOps(s.startMs))
    val jobIv = jobs.map(j => (j.startMs, j.endMs))
    val taskIv = tasks.map(k => (k.launchMs, k.finishMs))
    val p = math.max(passes, 1).toDouble
    def per[N](x: N)(implicit num: Numeric[N]): Double = num.toDouble(x) / p
    def spanS(pred: String => Boolean) = spans.filter(s => pred(s.key)).map(_.seconds).sum
    val wallMs = warm.map(o => o.endMs - o.startMs).sum.toDouble
    val outsideJobsMs = warm.map(o => (o.endMs - o.startMs) -
      covered(jobIv, o.startMs, o.endMs)).sum.toDouble
    val taskBusyMs = warm.map(o => covered(taskIv, o.startMs, o.endMs)).sum.toDouble
    val sourceSpans = spans.filter(s => s.key.startsWith("sources."))
    val commitMs = sourceSpans.map(s => (s.endMs - s.startMs) -
      covered(jobIv, s.startMs, s.endMs)).sum.toDouble
    val cpuS = tasks.map(_.cpuNs).sum / 1e9
    val rowsOut = tasks.map(_.rowsOut).sum
    def counter(k: String): Double = warm.map(_.counters.getOrElse(k, 0.0)).sum
    Map(
      "engine.leaked_blocks" -> per(warm.map(_.leaked).sum),
      "queries.build_s" -> per(spanS(_ == "queries.build")),
      "queries.build_jobs" -> per(spans.filter(_.key == "queries.build")
        .map(s => jobs.count(j => j.startMs >= s.startMs && j.startMs <= s.endMs)).sum),
      "driver.analysis_s" ->
        per((qes.map(_.analysisMs).sum + counter("driver.analysis_ms")) / 1e3),
      "driver.optimization_s" -> per(qes.map(_.optimizationMs).sum / 1e3),
      "driver.planning_s" -> per(qes.map(_.planningMs).sum / 1e3),
      "driver.outside_jobs_s" -> per(outsideJobsMs / 1e3),
      "plan.exchanges" -> per(qes.map(_.exchanges).sum),
      "plan.smj" -> per(qes.map(_.smj).sum),
      "plan.shj" -> per(qes.map(_.shj).sum),
      "plan.bhj" -> per(qes.map(_.bhj).sum),
      "plan.cached_scans" -> per(qes.map(_.cachedScans).sum),
      "plan.cache_hit_ratio" -> ratio(qes.map(_.cachedScans).sum, qes.map(_.leafScans).sum),
      "scheduler.jobs" -> per(jobs.size),
      "scheduler.stages" -> per(stages.size),
      "scheduler.tasks" -> per(tasks.size),
      "scheduler.task_delay_s" -> per(tasks.map(_.delayMs).sum / 1e3),
      "scheduler.task_failures" -> per(tasks.count(_.failed) + stages.count(_.failed)),
      "executor.run_s" -> per(tasks.map(_.runMs).sum / 1e3),
      "executor.cpu_s" -> per(cpuS),
      "executor.gc_s" -> per(tasks.map(_.gcMs).sum / 1e3),
      "executor.cpu_util" -> ratio(cpuS, wallMs / 1e3 * cpus),
      "executor.shuffle_read_bytes" -> per(tasks.map(_.shuffleRead).sum),
      "executor.shuffle_write_bytes" -> per(tasks.map(_.shuffleWrite).sum),
      "executor.shuffle_fetch_wait_s" -> per(tasks.map(_.fetchWaitMs).sum / 1e3),
      "executor.spill_disk_bytes" -> per(tasks.map(_.spill).sum),
      "executor.rows_read_per_row_out" -> ratio(tasks.map(_.rowsIn).sum, rowsOut),
      "streaming.batches" -> per(batches.size),
      "streaming.empty_batches" -> per(batches.count(_.inputRows == 0)),
      "streaming.trigger_s" -> per(batches.map(_.triggerMs).sum / 1e3),
      "streaming.add_batch_s" -> per(batches.map(_.addBatchMs).sum / 1e3),
      "streaming.wal_commit_s" -> per(batches.map(_.walCommitMs).sum / 1e3),
      "streaming.state_rows" -> per(batches.map(_.stateRows).sum),
      "streaming.state_memory_bytes" -> per(batches.map(_.stateMemory).sum),
      "sources.write_s" -> per(sourceSpans.map(_.seconds).sum),
      "sources.commit_s" -> per(commitMs / 1e3),
      "sources.bytes_written" -> per(qes.map(_.bytesWritten).sum),
      "sources.files_written" -> per(qes.map(_.filesWritten).sum),
      "pipeline.run_s" -> per(spanS(_ == "pipeline.run")),
      "pipeline.write_s" -> per(spanS(_ == "pipeline.write")),
      // per Pipeline.run call; pipeline.rows_in is added after the check
      "pipeline.rows_out" -> ratio(counter("pipeline.rows_out"),
        warm.count(_.counters.contains("pipeline.rows_out")).toDouble),
      "sources.input_bytes" -> per(counter("sources.input_bytes")),
      // where op wall time goes: outside any job (driver), inside a job with
      // no task running (scheduler), and with at least one task running
      "split.driver_sched_frac" -> ratio(wallMs - taskBusyMs, wallMs),
      "split.executor_frac" -> ratio(taskBusyMs, wallMs))
  }

  /** Per op name, averaged over its warm runs: what placed it in a workload. */
  def perOp(t: Tracer, warm: Seq[OpRec]): String = {
    val jobs = t.jobs.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val stages = t.stages.asScala.toSeq
    val byName = warm.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, rs) =>
      val n = rs.size.toDouble
      def in(at: Long) = rs.exists(o => at >= o.startMs && at <= o.endMs)
      val wallMs = rs.map(o => o.endMs - o.startMs).sum.toDouble
      val busyMs = rs.map(o => covered(tasks.map(k => (k.launchMs, k.finishMs)), o.startMs, o.endMs)).sum
      val j = new Json
      j.num("wall_s", rs.map(_.wallS).sum / n).num("jobs", jobs.count(x => in(x.startMs)) / n)
        .num("stages", stages.count(x => in(x.submitMs)) / n)
        .num("tasks", tasks.count(x => in(x.launchMs)) / n)
        .num("executor_frac", ratio(busyMs.toDouble, wallMs))
      Json.q(name) + ":" + j.result
    }
    byName.mkString("{", ",", "}")
  }

  def ratio[N](a: N, b: N)(implicit num: Numeric[N]): Double =
    if (num.toDouble(b) > 0) num.toDouble(a) / num.toDouble(b) else 0.0
}
