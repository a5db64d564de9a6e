package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus: blocks until every event posted so
  * far has reached the registered listeners, so a job count read after
  * an action is complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
