package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The staged fixpoint loop of the graph operators, written once.
  *
  * One instance serves one operator run. Every round is staged through
  * [[Staging.stage]] with the run's `reliable` flag, so the loop's plan
  * stays flat on both postures. Two loop shapes:
  *  - [[relax]]: semi-naive min-merge (BFS depths, earliest arrivals,
  *    shortest distances). Each round expands only last round's
  *    improved rows; an empty frontier is the fixpoint.
  *  - [[peel]]: a whole-state update (k-core, k-truss, h-index rounds)
  *    probed by a scalar that stops changing at the fixpoint.
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
private[graft] final class Fixpoint(reliable: Boolean) {
  import Fixpoint._

  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Stages `df` as one of this run's frames, released by [[finish]]. */
  def stage(df: DataFrame): DataFrame = {
    val s = Staging.stage(df, reliable); frames += s; s
  }

  /** Semi-naive min-merge from `seed` (columns `keys`, the BIGINT
    * `value`, and any payload columns). Round r stages ONE aggregation:
    * `expand(frontier, r)` gives raw candidate rows (the seed's columns)
    * reached from last round's improved rows; they union the state, whose
    * rows carry their own value again as `old`. Per key, `min(value)` is
    * the merged value and `min(old)` the prior one (null iff newly
    * reached), so `old is null or value < old` is this round's improved
    * set and next round's frontier. `payload` aggregates the other
    * columns and may read `old`. Rounds stop at an empty frontier or at
    * `maxRounds`. Returns the state and the number of rounds that
    * improved a row.
    */
  def relax(seed: DataFrame, keys: Seq[String], value: String, maxRounds: Long,
      onCap: OnCap, payload: Seq[Column] = Nil)(
      expand: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    val cols = seed.columns.toSeq.map(col)
    val start = stage(seed)
    val ((state, _), improving) = loop((start, start), maxRounds, onCap) {
      case ((state, frontier), round) =>
        val merged = stage(state.withColumn("old", col(value))
          .unionByName(expand(frontier, round).withColumn("old", lit(null).cast("long")))
          .groupBy(keys.map(col): _*)
          .agg(min(col(value)).as(value), payload :+ min(col("old")).as("old"): _*))
        val next = merged.where(col("old").isNull || col(value) < col("old")).select(cols: _*)
        ((merged.select(cols: _*), next), !next.isEmpty)
    }
    (state, improving)
  }

  /** Synchronous peel: stages `seed`, then `step` per round until `size`
    * (a count or sum over the staged state) stops changing or reaches
    * zero. `size` reads every row, so each round releases the previous
    * state on the reliable posture; the returned state stays staged.
    * Reaching `maxRounds` while still changing throws, naming the
    * operator and bound given in `cap`.
    */
  def peel(seed: DataFrame, maxRounds: Long, cap: Fail)(size: DataFrame => Long)(
      step: DataFrame => DataFrame): DataFrame = {
    val start = Staging.stage(seed, reliable)
    val n0 = size(start)
    if (n0 == 0L) start
    else loop((start, n0), maxRounds, cap) { case ((cur, n), _) =>
      val next = Staging.stage(step(cur), reliable)
      val m = size(next)
      if (reliable) cur.unpersist()
      ((next, m), m != n && m != 0L)
    }._1._1
  }

  /** The operator's result. On the reliable posture `out` is staged and
    * materialized, then every frame of the run is released (a reliable
    * persist is lazy: a frame can go only once what reads it is on
    * disk). Otherwise `out` is staged only when `eager`.
    */
  def finish(out: DataFrame, eager: Boolean = false): DataFrame =
    if (!reliable && !eager) out
    else {
      val pinned = Staging.stage(out, reliable)
      if (reliable) {
        pinned.count()
        frames.foreach(_.unpersist())
      }
      pinned
    }
}

private[graft] object Fixpoint {

  /** What a loop does when `maxRounds` rounds ran and the last still
    * changed the state.
    */
  sealed trait OnCap

  /** Return the state: the cap is part of the result's definition. */
  case object Truncate extends OnCap

  /** Throw: a state short of the fixpoint is a wrong answer. */
  final case class Fail(op: String, bound: String) extends OnCap

  /** Runs `round(state, r)` for r = 1, 2, … until it reports no change;
    * returns the last state and the number of rounds that changed it.
    */
  private def loop[S](init: S, maxRounds: Long, onCap: OnCap)(
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
      case Fail(op, bound) if changed => throw new IllegalStateException(
        s"$op did not reach its fixpoint within $bound; raise the bound " +
          "(a state short of the fixpoint is not the result)")
      case _ => (state, if (changed) rounds else rounds - 1)
    }
  }
}
