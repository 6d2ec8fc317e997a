package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.PlanNodes

/** Everything the traced pass hears from Spark, from the benchmark's side
  * of the API: scheduler events, SQL execution events with their plan
  * metrics, query-execution callbacks and streaming progress. Events are
  * kept in memory and read once the pass is over and the bus is drained. */
final class Collector extends SparkListener {
  import Collector._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  /** accumulator id -> (plan node name, metric name, metric type) */
  val metricMeta = mutable.Map.empty[Long, (String, String, String)]
  val taskAccums = mutable.Map.empty[Long, Long].withDefaultValue(0L)
  val driverAccums = mutable.Map.empty[(Long, Long), Long]
  val plans = mutable.ArrayBuffer.empty[PlanStats]
  val progress = mutable.ArrayBuffer.empty[Progress]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, prop("spark.jobGroup.id"),
      prop("spark.sql.execution.id").map(_.toLong), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages((i.stageId, i.attemptNumber())) = Stage(i.stageId, i.attemptNumber(), s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks += Task(e.stageId, e.stageAttemptId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, math.max(0L, sched),
        m.peakExecutionMemory,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
    i.accumulables.foreach { a =>
      if (!a.name.exists(_.startsWith("internal."))) a.update.foreach {
        case v: Long => taskAccums(a.id) += v
        case v: java.lang.Long => taskAccums(a.id) += v.longValue
        case _ => ()
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = Sql(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.jobGroupId, s.time, s.time)
        register(s.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd => sqls.get(s.executionId).foreach(_.end = s.time)
      case s: SparkListenerSQLAdaptiveExecutionUpdate => register(s.sparkPlanInfo)
      // Metrics computed outside tasks (files read, broadcast build time)
      // are posted as current values, not increments.
      case s: SparkListenerDriverAccumUpdates =>
        s.accumUpdates.foreach { case (id, v) => driverAccums((s.executionId, id)) = v }
      case _ => ()
    }
  }

  private def register(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => metricMeta(m.accumulatorId) = (p.nodeName, m.name, m.metricType))
    p.children.foreach(register)
  }

  /** Summed plan-metric values, converted to seconds / bytes / counts. */
  def metricSum(node: String => Boolean, metric: String): Double = synchronized {
    val ids = metricMeta.collect { case (id, (n, m, _)) if node(n) && m == metric => id }.toSet
    val raw = ids.iterator.map(taskAccums(_)).sum +
      driverAccums.iterator.collect { case ((_, id), v) if ids.contains(id) => v }.sum
    val kind = ids.headOption.map(metricMeta(_)._3).getOrElse("sum")
    kind match {
      case "timing" => raw / 1e3
      case "nsTiming" => raw / 1e9
      case _ => raw.toDouble
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes =
      try PlanNodes.serveNodes(SparkInternals.frameOf(qe))
      catch { case _: Exception => Nil }
    val fallbacks = nodes.iterator.flatMap(_.expressions)
      .map(_.collect { case f: CodegenFallback => f }.size).sum
    synchronized {
      plans += PlanStats(ms("analysis"), ms("optimization"), ms("planning"),
        PlanNodes.hashExchanges(nodes), PlanNodes.count(nodes, "SortMergeJoin"),
        PlanNodes.count(nodes, "BroadcastHashJoin"),
        PlanNodes.count(nodes, "BroadcastNestedLoopJoin"), fallbacks)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Collector.this.synchronized {
        progress += Progress(p.runId.toString, ms("triggerExecution"),
          ms("walCommit") + ms("commitOffsets"), p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }
}

object Collector {
  final case class Job(id: Int, start: Long, var end: Long, group: Option[String],
      execId: Option[Long], stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitted: Long, completed: Long)
  final case class Task(stageId: Int, attempt: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long, peakMem: Long,
      shWriteBytes: Long, shWriteRecs: Long, shReadBytes: Long, shReadRecs: Long,
      fetchWaitMs: Long, spillDisk: Long, outBytes: Long, outRecs: Long)
  final case class Sql(id: Long, root: Long, group: Option[String], start: Long, var end: Long)
  final case class PlanStats(analysisMs: Long, optimizationMs: Long, planningMs: Long,
      hashExchanges: Int, smj: Int, bhj: Int, nlj: Int, codegenFallback: Int)
  final case class Progress(runId: String, batchMs: Long, commitMs: Long, stateRows: Long)
}
