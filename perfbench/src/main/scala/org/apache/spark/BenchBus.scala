package org.apache.spark

/** The listener bus drain is package-private in Spark. The benchmark reads
  * its listener counters only after every queued event has been delivered,
  * so counts such as jobs and stages repeat exactly without sleeping or
  * polling. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
