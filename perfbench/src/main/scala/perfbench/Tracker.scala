package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.{V2ExistingTableWriteExec, V2TableWriteExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one traced query, filled by [[Tracker]]'s listeners. */
final class QueryCounters {
  val jobStartMs = ArrayBuffer.empty[Long]
  var stages, singleTaskStages, tasks = 0L
  var taskMs, cpuNs, gcMs, scanRows, scanBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  // data source v2 writes: task time per stage, and the rows that flowed
  // into v2 table writes
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, Long]
  var v2RowsWritten = 0L
  // files the query added under the v2 source's roots: (count, bytes)
  var v2FilesAdded, v2BytesAdded = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val batchMs = ArrayBuffer.empty[(Boolean, Long)] // (first batch of its run, ms)
  var commitMs, stateRows = 0L
  private val seenRuns = scala.collection.mutable.Set.empty[java.util.UUID]
  private val lastStateRows = scala.collection.mutable.Map.empty[java.util.UUID, Long]

  def addProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    batchMs += (seenRuns.add(p.runId) -> ms("triggerExecution"))
    commitMs += ms("walCommit") + ms("commitOffsets")
    lastStateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
    stateRows = lastStateRows.values.sum
  }
}

/** Listener set registered only for the traced run: a SparkListener for
  * scheduler and task counters, a QueryExecutionListener for the Catalyst
  * phase times of `qe.tracker` and the rows into v2 table writes, and a
  * StreamingQueryListener for
  * micro-batch progress. Events go to `current`; the harness swaps it
  * between queries after draining the listener bus.
  */
final class Tracker extends SparkListener with QueryExecutionListener {
  @volatile var current: QueryCounters = new QueryCounters
  // stage id -> SQL execution id of the job that ran it
  private val stageExecution = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  // SQL executions whose physical plan writes a v2 table
  private val v2WriteExecutions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val v2WriteNodes = Set("AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "ReplaceData", "WriteDelta", "WriteToDataSourceV2",
    "CreateTableAsSelect", "AtomicCreateTableAsSelect", "ReplaceTableAsSelect",
    "AtomicReplaceTableAsSelect")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    // the harness's own noop sink is a v2 write too; its call site is here
    case s: SparkListenerSQLExecutionStart if !s.description.contains("Harness.scala") =>
      def writes(p: SparkPlanInfo): Boolean =
        v2WriteNodes(p.nodeName) || p.children.exists(writes)
      if (writes(s.sparkPlanInfo)) v2WriteExecutions.add(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExecution.put(_, id.toLong)))
    val c = current
    c.synchronized(c.jobStartMs += e.time)
  }

  /** Run time of the tasks of SQL executions that were v2 table writes. */
  def v2WriteTaskMs(c: QueryCounters): Long = c.synchronized {
    c.stageTaskMs.collect {
      case (stage, ms) if Option(stageExecution.get(stage)).exists(v2WriteExecutions.contains) => ms
    }.sum
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = current
    c.synchronized {
      c.stages += 1
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = current
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.scanRows += m.inputMetrics.recordsRead
        c.scanBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.stageTaskMs(e.stageId) = c.stageTaskMs.getOrElse(e.stageId, 0L) + m.executorRunTime
      }
    }
  }

  /** Rows out of the first operator under `p` that counts them. */
  private def rowsInto(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsInto(a.executedPlan)
    case q: QueryStageExec => rowsInto(q.plan)
    case _ => p.metrics.get("numOutputRows").map(_.value)
      .getOrElse(p.children.headOption.map(rowsInto).getOrElse(0L))
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    val writes = scala.util.Try(qe.executedPlan.collect {
      case w: V2ExistingTableWriteExec if w.write.getClass.getName.contains(".noop.") => None
      case w: V2TableWriteExec => Some(w)
    }.flatten).getOrElse(Nil)
    val c = current
    c.synchronized {
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.v2RowsWritten += writes.map(w => rowsInto(w.query)).sum
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = current
      c.synchronized(c.addProgress(e.progress))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
