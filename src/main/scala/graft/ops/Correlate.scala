package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Three-way correlation join events ⋈ traces ⋈ logs (SURVEY §2.4 J2–J4).
  *
  * Reference semantics (`src/batch_tlb.py:27-35`, `:64-77`): index traces by
  * traceId (dict — duplicate traceIds dedup last-wins, A6), flatten spans,
  * index logs by spanId, then for each event walk traceId → spanIds → logs.
  * Misses contribute nothing, i.e. inner-join semantics.
  *
  * Spark mapping: `dropDuplicates`-by-seq on traces, `explode(spans)`, two
  * equi joins. Catalyst/AQE picks broadcast vs sort-merge; at 100 TB the
  * event and log sides shuffle on their join keys once each and everything
  * else pipelines in whole-stage codegen.
  */
object Correlate {

  /** Flatten traces to (traceId, spanId), deduping duplicate traceIds with
    * last-write-wins in input order (reference dict comprehension
    * `src/batch_tlb.py:27-30`). Only the span ids cross the dedup
    * exchange, not the whole span structs.
    */
  def traceSpans(traces: DataFrame): DataFrame =
    traces
      .withColumn("__seq", monotonically_increasing_id())
      .groupBy(col("traceId"))
      .agg(max_by(col("spans").getField("spanId"), col("__seq")).as("spanIds"))
      .select(col("traceId"), explode(col("spanIds")).as("spanId"))

  /** events ⋈ traceSpans ⋈ logs, keeping the event + log columns needed for
    * downstream conditional counts. Inner joins reproduce the reference's
    * silent-miss behavior (`src/batch_tlb.py:67,70`).
    */
  def apply(events: DataFrame, traces: DataFrame, logs: DataFrame): DataFrame = {
    val spans = traceSpans(traces)
    events
      .select(col("clientId"), col("traceId"))
      .where(col("traceId").isNotNull && col("traceId") =!= "")
      .join(spans, "traceId")
      .join(logs.select(col("spanId"), col("eventType").as("logEventType")), "spanId")
  }

  /** [[apply]] with the events⋈spans stage salted ([[SkewJoin.salted]]) —
    * the posture for the classic production skew: one pathological client
    * hammering a single traceId puts every matching event row on one
    * reducer in the plain plan (AQE's skew split only rescues sort-merge
    * joins, post-hoc, and not the reused exchange). Here each event row
    * gets a per-row salt, the span side replicates `nSalts`×, and the hot
    * trace spreads over `nSalts` reducers up front.
    *
    * The salt comes from `monotonically_increasing_id` — identical event
    * rows must still spread (the hot-key group often IS identical rows),
    * and the salt affects only physical placement, never the result set:
    * output equals [[apply]] exactly, duplicate-preserving. The second
    * join (spanId) stays unsalted: span fan-out of a hot trace is already
    * spread by the first stage, and the log side joins at span
    * granularity (salt it too, via the same pattern, only if one single
    * span dominates the LOG side).
    */
  def skewSafe(
      events: DataFrame,
      traces: DataFrame,
      logs: DataFrame,
      nSalts: Int = 8): DataFrame = {
    val spans = traceSpans(traces).withColumnRenamed("traceId", "__tid")
    val ev = events
      .select(col("clientId"), col("traceId"))
      .where(col("traceId").isNotNull && col("traceId") =!= "")
      .withColumn("__row", monotonically_increasing_id())
    SkewJoin.salted(ev, spans, "traceId", "__tid", nSalts, saltCols = Seq("__row"))
      .drop("__tid", "__row")
      .join(logs.select(col("spanId"), col("eventType").as("logEventType")), "spanId")
      // column ORDER is part of the "equals [[apply]] exactly" contract —
      // positional consumers (union, typed as[...]) must not silently
      // swap traceId/clientId
      .select(col("spanId"), col("traceId"), col("clientId"), col("logEventType"))
  }
}
