package org.apache.spark

/** Runs a block with a SparkContext checkpoint directory set, then puts the
  * context's previous directory (usually none) back. `setCheckpointDir` has
  * no unset, and the directory is what turns every lineage cut reliable, so
  * without the restore one spec would leave every later suite in the shared
  * session on reliable checkpoints. */
object TestCheckpointDir {
  def within[T](sc: SparkContext, dir: String)(f: => T): T = {
    val saved = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try f finally sc.checkpointDir = saved
  }
}
