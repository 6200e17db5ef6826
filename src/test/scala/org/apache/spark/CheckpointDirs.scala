package org.apache.spark

/** Spec access to `SparkContext.checkpointDir`: `setCheckpointDir` can
  * set it, but only `private[spark]` code can put an earlier value,
  * unset included, back. */
object CheckpointDirs {
  def restore(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
