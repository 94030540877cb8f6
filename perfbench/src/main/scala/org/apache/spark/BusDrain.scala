package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listeners have seen all jobs, tasks and stream progress of
  * the work that just returned. The bus is private to Spark, hence the
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
