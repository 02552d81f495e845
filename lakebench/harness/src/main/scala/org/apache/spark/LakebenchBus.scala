package org.apache.spark

/** The listener bus is private to Spark; the benchmark's trace must wait
  * for it to deliver every event before it reads its totals. */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
