package org.apache.spark

/** Runs a block with the shared test context's checkpoint directory set,
  * which turns every `graft.operators.Pinned` pin reliable, and restores
  * the previous value afterwards. `SparkContext` has no public way to
  * unset the directory (the field is package-private), and without the
  * restore reliable mode would leak into every later suite. */
object TestCheckpointDir {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
