package org.apache.spark

/** Test access to the context checkpoint dir, which Spark lets a caller
  * set once but never unset: a spec that needs a context with no dir
  * clears it and restores it afterwards. */
object CheckpointDirAccess {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
