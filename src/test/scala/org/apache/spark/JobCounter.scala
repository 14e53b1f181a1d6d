package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts, from its own thread or from threads
  * it creates (they inherit the local property that tags the jobs), so jobs
  * of other suites' background queries are not counted. Lives in this
  * package to drain the listener bus (`private[spark]`) before reading the
  * count.
  */
object JobCounter {
  private val Key = "graft.test.jobCounter"

  def apply(sc: SparkContext)(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val before = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      sc.setLocalProperty(Key, before)
      sc.listenerBus.waitUntilEmpty(60000L)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
