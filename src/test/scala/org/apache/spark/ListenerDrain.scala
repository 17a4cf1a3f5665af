package org.apache.spark

/** The listener bus drain is package-private in Spark. Specs that read
  * counters from a SparkListener or a QueryExecutionListener call this
  * after their action, so every queued event has been delivered first:
  * no sleeping, no polling. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
