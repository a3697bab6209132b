package org.apache.spark

/** Test-only reset of the context's checkpoint dir: Spark lets a caller
  * set one (`setCheckpointDir`) but never clear it, and the field is
  * `private[spark]`. A suite that turns reliable lineage cuts on turns
  * them off again here, so later suites stay on `localCheckpoint`. */
object CheckpointDirs {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}
