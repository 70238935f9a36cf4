package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's counts read after an action include that action's jobs. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
