package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener bus has delivered every queued event, so the counters read
  * after an action hold all of that action's tasks.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
