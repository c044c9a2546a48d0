package org.apache.spark

/** Drains the listener bus so every task and job event posted so far has
  * reached the benchmark's listener before its totals are read.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
