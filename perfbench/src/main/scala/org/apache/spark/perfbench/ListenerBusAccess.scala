package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark drains it between
  * ops so every job, stage, task and streaming event of an op has been
  * delivered to the benchmark's listeners before the next op starts.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
