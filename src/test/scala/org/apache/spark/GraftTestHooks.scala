package org.apache.spark

/** Test-only access to SparkContext internals that have no public API. */
object GraftTestHooks {
  /** SparkContext can set a checkpoint dir but not unset one. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
