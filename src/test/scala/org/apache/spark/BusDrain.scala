package org.apache.spark

/** Test-only: wait until the listener bus has delivered every posted
  * event, so a listener's counters are final. `waitUntilEmpty` is
  * package-private to Spark, hence this bridge. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
