package org.apache.spark

/** Access to the listener bus's drain, which is `private[spark]`: the traced
  * run waits for every queued event to reach its listener before it reads
  * the per-job sums of an operation. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
