package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark reads complete listener records at the end of a run. */
object PerfbenchListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
