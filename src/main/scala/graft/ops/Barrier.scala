package graft.ops

import org.apache.spark.sql.Dataset

/** The ONE lineage-truncation policy for operator stage barriers; `pin` is
  * eager either way. With a session checkpoint dir
  * (`sparkContext.setCheckpointDir`) it is a RELIABLE checkpoint written
  * there, so losing an executor costs a re-read. Without one it is LOCAL:
  * blocks in executor storage, so losing an executor fails the job that
  * reads them instead of recomputing (the barrier cut that lineage). */
object Barrier {
  private val lazyScope = new scala.util.DynamicVariable(false)

  def pin[T](ds: Dataset[T]): Dataset[T] =
    if (lazyScope.value) ds
    else if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** Inside `body`, `pin` is the identity: the lazy form for plan-shape
    * inspection, and for plan-keyed persists a fresh RDD leaf would defeat. */
  def lazily[A](body: => A): A = lazyScope.withValue(true)(body)
}
