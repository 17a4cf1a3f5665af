package org.apache.spark

/** The listener bus drain is package-private in Spark. Code that reads
  * counters from a SparkListener or a QueryExecutionListener (specs,
  * `RunPipeline --near-dup-report`) calls this after its action, so every
  * queued event has been delivered first: no sleeping, no polling. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
