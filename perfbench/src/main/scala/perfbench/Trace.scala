package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark's listeners saw while one op ran. Times are
  * epoch milliseconds, as Spark reports them.
  */
object OpEvents {
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long, tasks: Int, piped: Boolean)
  final case class Task(stageId: Int, launch: Long, finish: Long, runMs: Long, records: Long)
  final case class Batch(triggerMs: Long, commitMs: Long, planningMs: Long, stateRows: Long)
}

final class OpEvents {
  import OpEvents._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val batches = ArrayBuffer.empty[Batch]
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakExecMem = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var catalystMs = 0.0

  /** Tasks of stages that run an external command (a PipedRDD in their
    * lineage): (tasks, task run ms, records read).
    */
  def piped: (Long, Long, Long) = {
    val ids = stages.filter(_.piped).map(_.id).toSet
    val ts = tasks.filter(t => ids(t.stageId))
    (ts.size.toLong, ts.map(_.runMs).sum, ts.map(_.records).sum)
  }
}

/** Light listener registered in every session: rows written by file
  * sinks, which the counting sink does not see.
  */
final class WriteCounter extends SparkListener {
  @volatile var rows = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) rows += e.taskMetrics.outputMetrics.recordsWritten
  }
  def reset(): Unit = synchronized { rows = 0L }
}

/** The traced run's listeners. Events are appended to the current op's
  * [[OpEvents]]; the runner drains the listener bus before it swaps in the
  * next op, so attribution is exact for a closed loop.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  @volatile private var cur = new OpEvents

  /** Hand back the events gathered so far and start a new bucket. */
  def swap(): OpEvents = synchronized { val c = cur; cur = new OpEvents; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += OpEvents.Job(e.jobId, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val piped = si.rddInfos.exists(_.name.contains("PipedRDD"))
    cur.stages += OpEvents.Stage(si.stageId, si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks, piped)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cur
    val m = e.taskMetrics
    c.tasks += OpEvents.Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      cur.catalystMs += qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Streaming progress of the replays some catalog queries run. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        cur.batches += OpEvents.Batch(d("triggerExecution"), d("walCommit") + d("commitOffsets"),
          d("queryPlanning"), p.stateOperators.map(_.numRowsTotal).sum)
      }
  }
}
