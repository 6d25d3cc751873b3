package org.apache.spark

/** Test access to the context's checkpoint dir, which `SparkContext` can
  * set but not clear: runs `body` with `dir` set, then restores the
  * previous setting so later suites keep their checkpoint behaviour. */
object CheckpointDirs {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    val prev = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = prev
  }
}
