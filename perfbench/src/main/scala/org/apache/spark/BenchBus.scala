package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run waits
  * for it to empty before reading the job counters. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
