package org.apache.spark

/** The listener bus is asynchronous: a spec that counts jobs or plans
  * through a `SparkListener` reads its tallies only after every event
  * posted so far has been delivered. `waitUntilEmpty` is package-private
  * to Spark, hence this file's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
