package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one layer, as seen from the benchmark: `kind` is
  * `query`, `build` or `execute`; times are epoch milliseconds. */
final case class Span(kind: String, name: String, startMs: Long, endMs: Long,
                      parent: Int)

/** Listener-side records, kept in memory and written when the run ends.
  *
  * Jobs and stages are attributed to the benchmark's spans by time: the
  * queries run one after another, so every job that starts inside a
  * `build` or `execute` span belongs to it. Stages belong to the job that
  * submitted them. */
final class Trace(spark: SparkSession) {
  final case class Job(id: Int, timeMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long, tasks: Int,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteB: Long, shuffleReadB: Long,
                         fetchWaitMs: Long, spillB: Long,
                         inputB: Long, inputRows: Long, peakMemB: Long,
                         longestTaskMs: Long)
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long)
  final case class Trigger(batchId: Long, timestamp: String,
                           rows: Long, durations: Map[String, Long],
                           stateRows: Long, stateMemB: Long,
                           stateCommitMs: Long)

  val spans = new java.util.ArrayList[Span]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val longestTask = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  def span[A](kind: String, name: String, parent: Int = -1)(body: => A): (A, Int) = {
    val idx = spans.size
    spans.add(Span(kind, name, System.currentTimeMillis(), -1L, parent))
    try (body, idx)
    finally spans.set(idx, spans.get(idx).copy(endMs = System.currentTimeMillis()))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null)
        longestTask.merge(e.stageId, e.taskInfo.duration, (a: Long, b: Long) => math.max(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages.add(Stage(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.peakExecutionMemory, longestTask.getOrDefault(i.stageId, 0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
      plans.add(Plan(System.currentTimeMillis(), ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      triggers.add(Trigger(p.batchId, p.timestamp,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs (with their stages) that started inside span `s`. */
  def jobsIn(s: Span): Seq[Job] =
    jobs.asScala.filter(j => j.timeMs >= s.startMs && j.timeMs <= s.endMs).toSeq.sortBy(_.id)

  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.filter(s => ids.contains(s.id)).toSeq
  }

  def plansIn(s: Span): Seq[Plan] =
    plans.asScala.filter(p => p.endMs >= s.startMs && p.endMs <= s.endMs).toSeq

  /** Layer totals over the stages of `js`. */
  def stageTotals(st: Seq[Stage]): Map[String, Double] = Map(
    "scheduler.stages" -> st.size.toDouble,
    "scheduler.tasks" -> st.map(_.tasks).sum.toDouble,
    "scheduler.delay_ms" -> st.map(s => math.max(0L, s.endMs - s.submitMs - s.longestTaskMs)).sum.toDouble,
    "executor.run_ms" -> st.map(_.runMs).sum.toDouble,
    "executor.cpu_ms" -> st.map(_.cpuNs).sum / 1e6,
    "executor.gc_ms" -> st.map(_.gcMs).sum.toDouble,
    "executor.peak_mem_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakMemB).max / 1e6),
    "shuffle.write_mb" -> st.map(_.shuffleWriteB).sum / 1e6,
    "shuffle.read_mb" -> st.map(_.shuffleReadB).sum / 1e6,
    "shuffle.fetch_wait_ms" -> st.map(_.fetchWaitMs).sum.toDouble,
    "shuffle.spill_mb" -> st.map(_.spillB).sum / 1e6,
    "tables.read_mb" -> st.map(_.inputB).sum / 1e6,
    "tables.read_rows" -> st.map(_.inputRows).sum.toDouble)

  def planTotals(ps: Seq[Plan]): Map[String, Double] = Map(
    "plans.analysis_ms" -> ps.map(_.analysisMs).sum.toDouble,
    "plans.optimization_ms" -> ps.map(_.optimizationMs).sum.toDouble,
    "plans.planning_ms" -> ps.map(_.planningMs).sum.toDouble)
}
