package org.apache.spark

/** Test-scope `private[spark]` bridge: waits until the live listener bus
  * has delivered every event posted so far, so a listener's view of the
  * work already run is complete. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
