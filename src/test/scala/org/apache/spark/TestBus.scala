package org.apache.spark

/** Test access to the listener bus, which is private to Spark: `drain`
  * returns once every event posted so far has reached every listener. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
