package org.apache.spark

/** Runs a block with a context's checkpoint dir set, then puts the
  * previous value back (usually none). The dir switches every staged
  * frame to a reliable `checkpoint()`, so a dir left on the context the
  * suites share would silently change the posture of every later suite.
  * Lives in this package because `SparkContext.checkpointDir` can be
  * unset only from here.
  */
object CheckpointDirScope {
  def apply[T](sc: SparkContext, dir: String)(body: => T): T = {
    val before = sc.checkpointDir
    sc.setCheckpointDir(dir)
    try body
    finally sc.checkpointDir = before
  }
}
