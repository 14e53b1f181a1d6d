package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.SessionEvent

/** Sessionization: page-view start/end pairing → summed duration per key
  * (SURVEY §2.5 A2).
  *
  * Reference semantics (`src/batch_tlb.py:46-62`): per client, events sorted
  * by timestamp; a scan keeps one pending start. `page_view_start` sets it
  * (a later start overwrites an unmatched earlier one); `page_view_end`
  * with a pending start emits `(end - start)` seconds and resets; an end
  * without a pending start and a trailing unmatched start emit nothing.
  * Pairing ignores `page`.
  *
  * Two equivalent implementations:
  *
  *  1. [[pairedDurations]] — pure window functions. Key fact making this
  *     expressible declaratively: after *any* end event the pending start is
  *     null (matched → reset; unmatched → was already null), so at an end
  *     event the pending start is exactly the latest start since the
  *     previous end event. Hence per end row:
  *     `duration = ts - lastStart  iff  lastStart > coalesce(lastEndBefore, -∞)`.
  *     One shuffle (partition by key) + in-partition sort, fully
  *     whole-stage-codegen, no per-group materialization — the 100 TB path.
  *
  *  2. [[pageViewTimeTyped]] — `groupByKey(...).flatMapGroups` literal
  *     replay of the reference scan, used to cross-check (1) in tests.
  */
object Sessionize {

  /** The A2 scan as a typed [[org.apache.spark.sql.expressions.Aggregator]]
    * so sessionization is callable from SQL (SURVEY §2.8's optional item):
    *
    * {{{
    * spark.udf.register("graft_session_seconds",
    *   org.apache.spark.sql.functions.udaf(Sessionize.SessionSecondsAgg))
    * spark.sql("SELECT clientId, graft_session_seconds(ts_millis, eventType) FROM e GROUP BY clientId")
    * }}}
    *
    * The buffer keeps ALL (t, isStart) pairs and `finish` replays the
    * reference scan over the sorted sequence — required for exactness
    * because merge order of partial buffers is nondeterministic and the
    * scan is order-sensitive. Buffer size is the group's event count:
    * same memory class as the exact-percentile aggregate; the window
    * formulation ([[pairedDurations]]) remains the unbounded-scale path.
    */
  object SessionSecondsAgg
      extends org.apache.spark.sql.expressions.Aggregator[(Long, String), SessionBuffer, Double] {
    override def zero: SessionBuffer = SessionBuffer(Seq.empty)
    // O(1) prepend (order is restored by the sort in finish; ':+' on the
    // default Seq would make buffer construction quadratic per group)
    override def reduce(b: SessionBuffer, a: (Long, String)): SessionBuffer =
      a._2 match {
        case "page_view_start" => SessionBuffer(((a._1, true)) +: b.events)
        case "page_view_end"   => SessionBuffer(((a._1, false)) +: b.events)
        case _                 => b
      }
    override def merge(x: SessionBuffer, y: SessionBuffer): SessionBuffer =
      SessionBuffer(x.events ++ y.events)
    override def finish(b: SessionBuffer): Double = {
      var pending: Option[Long] = None
      var total = 0.0
      // Total order (t, isStart) — ends sort before starts at equal t —
      // because partial-merge order is arbitrary: sorting by t alone would
      // leave equal-timestamp resolution nondeterministic. (The reference
      // resolves such ties by file order, which a SQL aggregate cannot
      // see; callers needing that exact tie semantics should use
      // pairedDurations with an explicit tiebreak column.)
      b.events.sortBy(e => (e._1, e._2)).foreach {
        case (t, true) => pending = Some(t)
        case (t, false) =>
          pending.foreach { s => total += (t - s) / 1000.0; pending = None }
      }
      total
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[SessionBuffer] =
      org.apache.spark.sql.Encoders.product[SessionBuffer]
    override def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** Buffer for [[SessionSecondsAgg]]: every (t, isStart) pair in the
    * group — order restored in `finish` because partial-merge order is
    * nondeterministic and the scan is order-sensitive.
    */
  final case class SessionBuffer(events: Seq[(Long, Boolean)])

  /** Per-event paired durations via window functions. `tVal` is the numeric
    * time value to pair on (e.g. `col(ts).cast("double")` seconds, or
    * `unix_millis(col(ts))` for exact integer arithmetic); durations come
    * back in its units. Returns (`key`, `duration`) — one row per matched
    * pair.
    */
  def pairedDurations(
      df: DataFrame,
      key: String,
      tVal: org.apache.spark.sql.Column,
      orderBy: Seq[org.apache.spark.sql.Column],
      eventType: String,
      startType: String,
      endType: String): DataFrame =
    pairEnds(df, key, tVal, orderBy, col(eventType) === startType, col(eventType) === endType)
      .where(col("__paired"))
      .select(col(key), col("duration"))

  /** The pairing window behind [[pairedDurations]], on every row of `df`:
    * adds `__paired`, true on an end event that closes a pending start,
    * and `duration` (`tVal` minus that start's `tVal`, null on the other
    * rows). `isStart`/`isEnd` are the event-kind predicates, so a caller
    * can compute them before its exchange and ship two booleans instead of
    * the event-type string. Helper columns `__t`, `__last_start` and
    * `__last_end` stay on the result.
    */
  def pairEnds(
      df: DataFrame,
      key: String,
      tVal: org.apache.spark.sql.Column,
      orderBy: Seq[org.apache.spark.sql.Column],
      isStart: org.apache.spark.sql.Column,
      isEnd: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__t", tVal)
      .withColumn("__last_start", max(when(isStart, col("__t"))).over(w))
      .withColumn("__last_end", max(when(isEnd, col("__t"))).over(w))
      .withColumn("__paired", isEnd && col("__last_start").isNotNull &&
        (col("__last_end").isNull || col("__last_start") > col("__last_end")))
      .withColumn("duration", when(col("__paired"), col("__t") - col("__last_start")))
  }

  /** Gap-based session aggregation via Spark's native `session_window`:
    * events of one key belong to the same session while consecutive
    * timestamps are ≤ `gap` apart (an event landing EXACTLY on the
    * session close merges — inclusive semantics, pinned in
    * `TemporalOpsSpec`); the window closes at `last_ts + gap`.
    * This is the batch twin of `StreamingOps`' stateful sessionization —
    * same operator family Catalyst uses for streaming session windows,
    * here planned as a plain (merging) aggregation: one shuffle on the
    * key, sessions merged within each sorted group, no state store.
    *
    * Returns (`key`, session_start, session_end, n_events) — session_end
    * is `max(ts) + gap` (the window's exclusive close), matching the
    * engine's session-window semantics exactly.
    */
  def sessionWindows(df: DataFrame, key: String, tsCol: String, gap: String): DataFrame =
    df.groupBy(col(key), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col(key),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Total page-view seconds per key (window-function path, reference
    * column names).
    */
  def pageViewTime(df: DataFrame, key: String = "clientId"): DataFrame =
    pairedDurations(
      df, key, col("timestamp").cast("double"),
      Seq(col("timestamp"), col("eventId")),
      "eventType", "page_view_start", "page_view_end")
      .groupBy(col(key))
      .agg(sum(col("duration")).as("page_view_time"))

  /** Typed literal replay of the reference scan (`src/batch_tlb.py:46-62`).
    * Scales per-key: each client's events are materialized and sorted inside
    * its group — bounded by the largest single key, not the dataset.
    */
  def pageViewTimeTyped(ds: Dataset[SessionEvent])(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    ds.groupByKey(_.clientId)
      .flatMapGroups { (clientId, it) =>
        val events = it.toArray.sortBy(_.timestamp.getTime)
        var pending: Option[Long] = None
        var total = 0.0
        events.foreach { e =>
          e.eventType match {
            case "page_view_start" => pending = Some(e.timestamp.getTime)
            case "page_view_end" =>
              pending.foreach { s => total += (e.timestamp.getTime - s) / 1000.0; pending = None }
            case _ =>
          }
        }
        Iterator.single((clientId, total))
      }
      .toDF("clientId", "page_view_time")
  }
}
