package org.apache.spark

/** The listener bus is package-private to Spark; a traced run waits on it
  * so every task and query event of the timed passes is counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
