package org.apache.spark

import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Test-only views of the listener bus, which is package-private to
  * Spark, hence this bridge. */
object BusDrain {

  /** Wait until the listener bus has delivered every posted event, so a
    * listener's counters are final. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Streaming query listener buses registered on the shared bus: one per
    * session whose streaming query manager exists. */
  def streamingBuses(sc: SparkContext): Int =
    sc.listenerBus.findListenersByClass[StreamingQueryListenerBus]().size
}
