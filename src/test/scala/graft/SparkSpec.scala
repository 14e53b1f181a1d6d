package graft

import org.apache.spark.CheckpointDirScope
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def resource(name: String): String =
    getClass.getResource(s"/reference/$name").getPath
}

abstract class SparkSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark

  /** `body` run inside a fresh checkpoint dir, where every staged frame
    * is a reliable `checkpoint()` ([[graft.ops.Staging]]). `body` gets
    * the dir, which is deleted afterwards; asserts that the shared
    * context's dir is back to its previous value.
    */
  protected def checkpointedIn[T](body: java.nio.file.Path => T): T = {
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      val out = CheckpointDirScope(sc, dir.toString)(body(dir))
      assert(sc.getCheckpointDir == before, "the checkpoint dir leaked out of its scope")
      out
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** [[checkpointedIn]] for a body that does not look at the dir. */
  protected def checkpointed[T](body: => T): T = checkpointedIn(_ => body)

  /** `body`'s result and the number of `Staging.stage` calls it made. */
  protected def stagedRounds[T](body: => T): (T, Long) = {
    val before = graft.ops.Staging.stageCalls.get()
    val out = body
    (out, graft.ops.Staging.stageCalls.get() - before)
  }

  /** `body` with its staged rounds ([[stagedRounds]]) outside a
    * checkpoint dir, then inside one ([[checkpointed]]). `body` must
    * collect what it returns.
    */
  protected def bothPostures[T](body: => T): ((T, Long), (T, Long)) =
    (stagedRounds(body), checkpointed(stagedRounds(body)))
}
