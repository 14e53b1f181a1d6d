package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call the benchmark made into a layer. Spans of
  * one op share `op`; `parent` is 0 for an op's root span.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span store, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def all: Vector[Span] = buf.toVector

  /** The span recorded last; right after [[span]] returns, that span. */
  def last: Span = buf.last

  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long): Span = {
    val s = Span(nextId, name, op, parent, startNs, endNs)
    nextId += 1
    buf += s
    s
  }

  /** Runs `body` inside a span; `body` receives the span id so it can
    * parent child spans. The span is recorded even when `body` throws.
    */
  def span[T](name: String, op: Int, parent: Int)(body: Int => T): T = {
    val id = nextId
    nextId += 1
    val t0 = System.nanoTime()
    try body(id)
    finally buf += Span(id, name, op, parent, t0, System.nanoTime())
  }

  /** Self time per span name: the span's duration minus the part of it
    * its children cover. Returns name -> (count, total ms, self ms).
    */
  def selfTimes: Seq[(String, (Int, Double, Double))] = {
    val children = buf.groupBy(_.parent)
    val rows = buf.toVector.map { s =>
      val covered = children.getOrElse(s.id, Nil).toVector
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      (s.name, s.ms, (s.endNs - s.startNs - covered) / 1e6)
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, rs) =>
      name -> ((rs.size, rs.map(_._2).sum, rs.map(_._3).sum))
    }
  }
}

/** Scheduler and executor counters for one phase of one op. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, outputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** The benchmark's one SparkListener and one QueryExecutionListener.
  *
  * Jobs are attributed to the phase named by the `perfbench.phase` local
  * property of the thread that started them; stages and tasks inherit
  * their job's phase. Planning time is read from each finished query's
  * `QueryExecution.tracker`. Counting happens only between [[begin]] and
  * [[end]]; the caller drains the listener bus before [[end]].
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener.PhaseKey

  private var current: mutable.LinkedHashMap[String, Counters] = null
  private var planMs = 0.0
  private val stagePhase = mutable.HashMap.empty[Int, String]

  private def bucket(phase: String): Option[Counters] =
    Option(current).map(_.getOrElseUpdate(phase, new Counters))

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")

  def begin(): Unit = synchronized {
    current = mutable.LinkedHashMap.empty
    planMs = 0.0
    stagePhase.clear()
  }

  /** Counters per phase and planning ms since [[begin]]. */
  def end(): (Map[String, Counters], Double) = synchronized {
    val out = (current.toMap, planMs)
    current = null
    out
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = phaseOf(e.properties)
    e.stageIds.foreach(stagePhase(_) = phase)
    bucket(phase).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val phase = stagePhase.getOrElse(e.stageInfo.stageId, phaseOf(e.properties))
    bucket(phase).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    bucket(stagePhase.getOrElse(e.stageId, "other")).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    if (current != null) planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object LayerListener {
  val PhaseKey = "perfbench.phase"

  def setPhase(sc: SparkContext, phase: String): Unit = sc.setLocalProperty(PhaseKey, phase)
}
