package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads
  * its listener only after every posted event has been handled.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
