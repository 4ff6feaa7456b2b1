package org.apache.spark

/** The listener bus delivers events asynchronously; counters read at the
  * end of a run must wait until every posted event has been handled. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
