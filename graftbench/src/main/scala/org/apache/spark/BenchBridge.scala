package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so counts read after an
  * action include that action's jobs, stages and tasks. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
