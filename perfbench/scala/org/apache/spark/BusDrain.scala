package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all jobs, tasks and executions of the
  * calls that already returned. The bus is package-private to Spark. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
