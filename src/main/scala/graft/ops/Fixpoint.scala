package graft.ops

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The staged fixpoint loop of the graph operators, written once.
  *
  * One instance serves one run of the operator `op`. Every round is
  * staged through [[Staging.stage]], so the loop's plan stays flat on
  * both postures. Two loop shapes are written here:
  *  - [[relax]]: semi-naive min-merge (BFS depths, earliest arrivals,
  *    shortest distances). Each round expands only last round's
  *    improved rows; an empty frontier is the fixpoint.
  *  - [[peel]]: a whole-state update (k-core, k-truss, h-index rounds,
  *    star contraction) measured by a value that stops changing at the
  *    fixpoint.
  * Loops of any other shape (SCC phases, matching rounds, pointer
  * jumping, walks, fixed-count iterations, driver-elected picks) run
  * their rounds through [[loop]] and stage them through [[stage]].
  *
  * Convergence is read off the job that stages the round: the value a
  * loop decides on (improved-row count, peel value, frontier or
  * remaining-row count) is a `Dataset.observe` metric of the frame
  * being staged, so a round runs no probe job of its own. Both staging
  * postures are eager, so the observation arrives with the staging job
  * either way. Each [[relax]] and [[peel]] round logs its operator,
  * number and measured value at DEBUG; a round of any other [[loop]]
  * logs whether it changed the state.
  *
  * The round cap says what reaching it means ([[Fixpoint.OnCap]]): a
  * BFS depth bound truncates by definition, while every other loop
  * throws rather than return a state short of its fixpoint.
  *
  * Plan shape: plain staging only. Declared 32-way layouts
  * ([[Staging.stageHash]]) and `shuffle_hash` hints on these loops'
  * frontier-sized frames measured 0.52–0.80× (q308, q310, q311, q313;
  * interleaved 2×2 A/B at sf0.1): the pinned layout fragments the small
  * per-round frames that AQE coalesces correctly.
  */
private[graft] final class Fixpoint(op: String) extends Logging {
  import Fixpoint._

  /** Stages `df`. With `keys`, the frame is a loop invariant staged with
    * that declared hash layout ([[Staging.stageHash]]); never declare one
    * on a frontier-sized frame (see the class doc).
    */
  def stage(df: DataFrame, keys: Seq[String] = Nil): DataFrame =
    if (keys.isEmpty) Staging.stage(df) else Staging.stageHash(df, keys)

  /** [[stage]] that also returns the BIGINT aggregate `m` over the
    * staged rows, read off the staging job ([[measured]]).
    */
  def stage(df: DataFrame, m: Column): (DataFrame, Long) = {
    val (s, v) = stageMeasured(df, m.cast("long"))
    (s, v.asInstanceOf[java.lang.Long].longValue) // a null aggregate throws, never reads as 0
  }

  /** [[stage]] of `df` with the declared layout `keys` (none when
    * empty) that also returns the aggregate `m` over the staged rows —
    * a BIGINT as a `java.lang.Long`, a struct as a `Row` — read off the
    * staging job ([[measured]]).
    */
  def stageMeasured(df: DataFrame, m: Column, keys: Seq[String] = Nil): (DataFrame, Any) = {
    val (s, Seq(v)) = measured(m, keys)(_ => df)
    (s, v)
  }

  /** Stages the frame `build` returns (with the declared layout `keys`,
    * none when empty) and gives the aggregate `m` (a BIGINT, or a struct
    * when one number is not enough) over the rows of every frame `build`
    * passes through its argument, in call order, then over the staged
    * frame. A frame passed through must be one the staged
    * plan computes exactly once.
    *
    * Each value is a `Dataset.observe` metric of the staging job, read
    * with a bounded wait; one that never arrives throws
    * `IllegalStateException` (a missing value is never taken for
    * convergence).
    */
  private def measured(m: Column, keys: Seq[String] = Nil)(
      build: (DataFrame => DataFrame) => DataFrame): (DataFrame, Seq[Any]) = {
    val obs = scala.collection.mutable.ArrayBuffer.empty[Observation]
    def observe(df: DataFrame): DataFrame = {
      val o = Observation(); obs += o; df.observe(o, m.as("v"))
    }
    val s = stage(observe(build(observe)), keys)
    (s, obs.map { o =>
      try Await.result(o.future, observationWait).get(0)
      catch {
        case _: TimeoutException => throw new IllegalStateException(
          s"$op: the staging job's observation did not arrive within $observationWait")
      }
    }.toSeq)
  }

  /** Semi-naive min-merge from `seed` (columns `keys`, the BIGINT
    * `value`, and any payload columns). Each round stages ONE
    * aggregation: `expand(frontier)` gives raw candidate rows (the
    * seed's columns) reached from last round's improved rows; they union
    * the state, whose rows carry their own value again as `old`. Per
    * key, `min(value)` is the merged value and `min(old)` the prior one
    * (null iff newly reached), so `old is null or value < old` is this
    * round's improved set and next round's frontier; its size is
    * observed on the staging job. `payload` aggregates the other columns
    * and may read `old`. Rounds stop at an empty frontier or at
    * `maxRounds`. Returns the state and the number of rounds that
    * improved a row.
    */
  def relax(seed: DataFrame, keys: Seq[String], value: String, maxRounds: Long,
      onCap: OnCap, payload: Seq[Column] = Nil)(
      expand: DataFrame => DataFrame): (DataFrame, Int) = {
    val cols = seed.columns.toSeq.map(col)
    val improved = col("old").isNull || col(value) < col("old")
    val start = stage(seed)
    val ((state, _), improving) = iterate((start, start), maxRounds, onCap) {
      case ((state, frontier), round) =>
        val (merged, n) = stage(state.withColumn("old", col(value))
          .unionByName(expand(frontier).withColumn("old", lit(null).cast("long")))
          .groupBy(keys.map(col): _*)
          .agg(min(col(value)).as(value), payload :+ min(col("old")).as("old"): _*),
          count(when(improved, true)))
        logDebug(s"$op round $round: frontier $n")
        ((merged.select(cols: _*), merged.where(improved).select(cols: _*)), n > 0L)
    }
    (state, improving)
  }

  /** Synchronous peel: stages `seed`, then per round `batch` chained
    * `step` updates as one staged frame, until the aggregate `size`
    * stops changing or reaches zero. `size` is measured on every update
    * of the batch inside the staging job, and the loop stops at the
    * first update that left it unchanged. An unchanged `size` must mean
    * the state before that update was the fixpoint: a count or sum that
    * is monotone over updates, or (with `batch` 1) a signature of the
    * whole state. Reaching `maxRounds` rounds while still changing throws
    * the error of `cap`.
    */
  def peel(seed: DataFrame, maxRounds: Long, cap: Fail, size: Column, batch: Int = 1)(
      step: DataFrame => DataFrame): DataFrame = {
    val (start, Seq(n0)) = measured(size)(_ => seed)
    if (n0 == 0L) start
    else iterate((start, n0), maxRounds, cap) { case ((cur, n), round) =>
      val (next, sizes) = measured(size) { through =>
        step((1 until batch).foldLeft(cur)((s, _) => through(step(s))))
      }
      logDebug(s"$op round $round: size ${sizes.mkString(", ")}")
      val m = sizes.last
      ((next, m), m != 0L && (n +: sizes).sliding(2).forall { case Seq(a, b) => a != b })
    }._1._1
  }

  /** Runs `round(state, r)` for r = 1, 2, … until it reports no change
    * or `maxRounds` rounds ran; returns the last state and the number of
    * rounds that changed it. A round that reports no change is counted
    * against `maxRounds` too, so a loop that charges only changing rounds
    * passes its budget + 1. Each round logs at DEBUG whether it changed
    * the state.
    */
  def loop[S](init: S, maxRounds: Long, onCap: OnCap)(
      round: (S, Int) => (S, Boolean)): (S, Int) =
    iterate(init, maxRounds, onCap) { (s, r) =>
      val next = round(s, r)
      logDebug(s"$op round $r: ${if (next._2) "changed" else "fixpoint"}")
      next
    }

  /** [[loop]] without its log line, for [[relax]] and [[peel]], which
    * log their measured values instead.
    */
  private def iterate[S](init: S, maxRounds: Long, onCap: OnCap)(
      round: (S, Int) => (S, Boolean)): (S, Int) = {
    var state = init
    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      rounds += 1
      val (next, c) = round(state, rounds)
      state = next
      changed = c
    }
    onCap match {
      case Fail(bound, why) if changed => throw new IllegalStateException(
        s"$op did not reach its fixpoint within $bound; $why")
      case _ => (state, if (changed) rounds else rounds - 1)
    }
  }
}

private[graft] object Fixpoint {

  /** What a loop does when `maxRounds` rounds ran and the last still
    * changed the state.
    */
  sealed trait OnCap

  /** Return the state: the cap is part of the result's definition. */
  case object Truncate extends OnCap

  /** Throw: a state short of the fixpoint is a wrong answer. The error
    * names the `bound` and says `why` it ran out.
    */
  final case class Fail(bound: String,
      why: String = "raise the bound (a state short of the fixpoint is not the result)")
    extends OnCap

  /** How long a round waits for its staging job's observation. Observed
    * metrics arrive through the listener bus right after the job; the
    * bound only turns a lost event into an error instead of a hang.
    */
  private val observationWait = 60.seconds
}
