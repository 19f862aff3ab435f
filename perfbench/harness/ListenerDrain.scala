package org.apache.spark

/** The listener bus is asynchronous; per-span numbers are read only after
  * it has delivered every event posted so far. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
