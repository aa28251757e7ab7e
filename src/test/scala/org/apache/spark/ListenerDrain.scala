package org.apache.spark

/** The listener bus's drain, which is `private[spark]`: a spec that counts
  * jobs with a listener waits for every queued event before it reads. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
