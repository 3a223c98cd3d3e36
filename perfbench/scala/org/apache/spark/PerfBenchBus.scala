package org.apache.spark

/** Waits for every listener queue to deliver its pending events. The
  * benchmark calls it only outside timed windows, so that a traced pass's
  * events are all recorded before the listeners are removed. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
