package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so task
  * counters read right after an action include all of that action's tasks.
  * The bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
