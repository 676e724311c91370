package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's scheduler listener has seen all jobs of a run before its
  * counts are read. The bus is private to Spark, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
