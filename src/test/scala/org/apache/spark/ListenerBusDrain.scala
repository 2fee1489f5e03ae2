package org.apache.spark

/** Test access to the listener bus, which is private to Spark: block
  * until every event posted so far has reached its listeners, so a spec
  * can assert on what a listener saw right after an action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
