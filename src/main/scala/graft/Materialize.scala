package graft

import org.apache.spark.sql.DataFrame

/** The engine's one materialization policy: every operator that runs an
  * intermediate eagerly and cuts its lineage goes through here. */
private[graft] object Materialize {

  /** Eagerly materializes `df` and truncates its lineage: a reliable
    * checkpoint when the session has a checkpoint dir
    * (`SparkContext.setCheckpointDir` or `spark.checkpoint.dir`), which
    * survives executor loss, else a local one in executor block storage,
    * which does not (re-running the operator is the recovery path). */
  def snapshot(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Snapshots an operator's small `result` (an id or pair list), then
    * unpersists the operator's own `cached` inputs, also on failure. */
  def snapshotReleasing(cached: DataFrame*)(result: => DataFrame): DataFrame =
    try snapshot(result) finally cached.foreach(_.unpersist(blocking = false))
}
