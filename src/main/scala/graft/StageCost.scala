package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Executor cost summed over every completed stage of a session: CPU time
  * and shuffle write volume. Wall time on a shared host swings 2× between
  * identical runs; these two are the contention-robust cost of a plan.
  *
  * Stage metrics arrive on the listener bus asynchronously, so
  * [[sample]] drains the bus first: the difference of two samples covers
  * every stage that completed between them.
  */
final class StageCost(spark: SparkSession) {
  private val cpuNs = new AtomicLong
  private val shuffleBytes = new AtomicLong
  private val shuffleRecords = new AtomicLong

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  })

  /** Totals so far, after every queued listener event is delivered. */
  def sample(): StageCost.Sample = {
    Bridge.drainListenerBus(spark.sparkContext)
    StageCost.Sample(cpuNs.get, shuffleBytes.get, shuffleRecords.get)
  }
}

object StageCost {
  final case class Sample(cpuNs: Long, shuffleBytes: Long, shuffleRecords: Long) {
    def -(o: Sample): Sample =
      Sample(cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes, shuffleRecords - o.shuffleRecords)
    def cpuS: Double = cpuNs / 1e9
    def shuffleMb: Double = shuffleBytes / 1e6
  }
}
