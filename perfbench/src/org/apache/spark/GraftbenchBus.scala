package org.apache.spark

/** The listener bus's drain is private to Spark; the benchmark needs it so
  * that a traced pass sees exactly its own events: none queued before it
  * attaches, all of its own before it detaches. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
