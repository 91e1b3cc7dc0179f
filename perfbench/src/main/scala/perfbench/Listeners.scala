package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One micro-batch as its progress event reports it. */
final case class BatchProgress(runId: String, batchId: Long, rows: Long,
    startMs: Long, durations: Map[String, Long], stateRows: Long,
    stateBytes: Long) {
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

/** Collects every progress event of the streaming queries it watches. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[BatchProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.headOption
    q.add(BatchProgress(p.runId.toString, p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L)))
  }
  def of(runId: String): Seq[BatchProgress] =
    q.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

final case class StageRec(stageId: Int, scope: String, submitMs: Long,
    endMs: Long, tasks: Int, taskMs: Long, shuffleRead: Long,
    shuffleWrite: Long, input: Long)
final case class JobRec(jobId: Int, scope: String, startMs: Long, endMs: Long)

/** Job, stage and task events, attributed to a scope (a query name, or
  * "stream") through the `perfbench.scope` job property the driver thread
  * sets before each query.
  */
final class SparkEvents extends SparkListener {
  private val lock = new Object
  private val jobScope = mutable.Map.empty[Int, (String, Long)]
  private val stageScope = mutable.Map.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    events += 1
    val scope = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkEvents.ScopeProp))).getOrElse("stream")
    jobScope(e.jobId) = (scope, e.time)
    e.stageIds.foreach(s => stageScope(s) = scope)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    events += 1
    jobScope.remove(e.jobId).foreach { case (scope, t0) =>
      jobs += JobRec(e.jobId, scope, t0, e.time)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    events += 1
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      events += 1
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += StageRec(si.stageId, stageScope.getOrElse(si.stageId, "stream"),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks, if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.inputMetrics.bytesRead)
    }

  /** Wait until no event has arrived for `quietMs` (the listener bus is
    * asynchronous), at most `maxMs`.
    */
  def drain(quietMs: Long = 200, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(quietMs)
    }
  }

  def snapshot: (Seq[JobRec], Seq[StageRec], Map[Int, Seq[Long]]) =
    lock.synchronized((jobs.toList, stages.toList,
      taskMs.map { case (k, v) => k -> v.toList }.toMap))
}

object SparkEvents {
  val ScopeProp = "perfbench.scope"
}

/** Plan phases (analysis, optimization, planning) of every executed
  * action, from `QueryExecution.tracker`, with their wall-clock spans.
  */
final case class PhaseRec(funcName: String, phases: Map[String, (Long, Long)]) {
  def startMs: Long = if (phases.isEmpty) 0L else phases.values.map(_._1).min
}

final class QePhases extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[PhaseRec]()
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = q.add(QePhases.of(funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = q.add(QePhases.of(funcName, qe))
  def all: Seq[PhaseRec] = q.asScala.toSeq
}

object QePhases {
  def of(funcName: String, qe: QueryExecution): PhaseRec =
    PhaseRec(funcName, qe.tracker.phases.map { case (k, s) =>
      k -> (s.startTimeMs, s.endTimeMs)
    })
}
