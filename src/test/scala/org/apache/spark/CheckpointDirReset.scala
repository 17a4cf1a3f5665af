package org.apache.spark

/** A SparkContext has no way to unset its checkpoint dir, and the field
  * is package-private in Spark. A spec that sets a checkpoint dir calls
  * this in its `finally`, so later suites in the same JVM keep the
  * session's default (local checkpoints). */
object CheckpointDirReset {
  def apply(sc: SparkContext): Unit = sc.checkpointDir = None
}
