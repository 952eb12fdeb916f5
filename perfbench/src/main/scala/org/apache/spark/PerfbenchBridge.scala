package org.apache.spark

/** Access to the one package-private hook the traced run needs: draining
  * the listener bus, so every job, stage, task and query-execution event
  * of an operation has been delivered before its span is closed.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
