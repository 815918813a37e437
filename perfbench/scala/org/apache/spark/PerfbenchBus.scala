package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters are complete when an action returns. Lives in
  * `org.apache.spark` because `SparkContext.listenerBus` is
  * `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
