package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge for building a [[Column]] from a Catalyst [[Expression]] — the
  * constructor is `private[sql]` in Spark 4, so Spark-native extension
  * libraries expose it through a one-liner in this package (the same
  * pattern used by spatial/ML extension toolkits). This is the only file
  * outside the `graft` namespace.
  */
object GraftColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** A checkpointed frame's `LogicalRDD` LEAF with capped statistics —
  * the staging boundary used by `graft.ops.Staging`.
  *
  * Why not `localCheckpoint()` alone: Spark's checkpoint APIs
  * deliberately PRESERVE the origin dataset's estimated statistics on
  * the new `LogicalRDD` leaf (`LogicalRDD.fromDataset`). Inside an
  * iterative operator that is exactly wrong: a round's plan joins k
  * staged frames, size estimates MULTIPLY through joins
  * (`SizeInBytesOnlyStatsPlanVisitor`), and the product is then carried
  * INTO the next round's leaves — sizeInBytes grows by a factor of ~k
  * in BIT LENGTH per round, i.e. doubly exponentially in value. By
  * round 3 of Borůvka at sf0.1 the estimate was a 45-million-bit
  * BigInt, and the driver spent 6+ seconds per join-selection pass in
  * `BigInteger.divide` (thread dumps: `canBroadcastBySize` →
  * `MutableBigInteger.divideKnuth`) while the actual data was 136 rows.
  * Every iterative loop paid a milder version of the same tax.
  *
  * Why not `createDataFrame(df.rdd, schema)`: that resets stats but
  * detours every downstream read through an `InternalRow` → `Row` →
  * `InternalRow` conversion. Re-statting the checkpoint's own
  * `LogicalRDD` keeps rows in Tungsten format end to end.
  *
  * The leaf keeps the origin's estimated size/row-count but CAPS both
  * at 2^50 (a petabyte: far above every broadcast/strategy threshold,
  * so a capped value still reads as "huge" to the planner). Small
  * staged frames therefore keep their TRUE estimates — static
  * broadcast of a node-sized rank/label table into an edge-sized join
  * is the difference between shuffling the edges every iteration and
  * never (dropping stats outright measured q69_pagerank 2.7 → 4.6 s)
  * — while the cap makes the per-leaf bit length a constant, so the
  * multiply-per-join growth resets at every staging boundary instead
  * of compounding across rounds. Output PARTITIONING and ORDERING are
  * kept too (via `LogicalRDD.fromDataset`'s attribute rewrite — the
  * checkpoint metadata that saves re-shuffles when a staged frame
  * rejoins on the key it was shuffled by); per-column stats and
  * constraints are dropped.
  */
object GraftStagedLeaf {
  private val StatCap = BigInt(1L) << 50

  private def cap(origin: Statistics): Statistics = Statistics(
    sizeInBytes = origin.sizeInBytes.min(StatCap),
    rowCount = origin.rowCount.map(_.min(StatCap)))

  /** Rebuild an already-checkpointed frame's own `LogicalRDD` leaf with
    * `origin`'s stats capped — NO extra scan layer (wrapping the
    * checkpoint's `toRdd` in a second leaf re-projects every row on
    * every read; measured +60% on PageRank, whose loop re-reads the
    * staged edge list each iteration). `ckpt` must be the result of
    * `localCheckpoint()`/`checkpoint()` on a plan equivalent to
    * `origin` — its analyzed plan IS the leaf we re-stat.
    *
    * With a `layout` = (keys, numPartitions), the leaf DECLARES that
    * hash partitioning (r18). Under AQE, `LogicalRDD.fromDataset` cannot
    * rewrite the executed plan's output partitioning (the physical plan
    * is an `AdaptiveSparkPlanExec`, whose partitioning reads as Unknown
    * at leaf-build time), so every checkpoint/cache boundary DROPS the
    * layout and every downstream consumer re-exchanges — measured on
    * q69_pagerank: the staged-and-cached edge list re-shuffled once per
    * iteration, nodes four times per run. The declaration lets the
    * staging layer re-attach the layout it just PAID FOR.
    *
    * Layout contract (caller-guaranteed, [[graft.ops.Staging
    * .stageHash]] is the one caller): the staged plan's TOPMOST exchange
    * is `repartition(numPartitions, keys)` with no partition-disturbing
    * operator above it. Then partition i holds exactly the rows with
    * `pmod(murmur3(keys), n) = i` — the declared `HashPartitioning` is
    * physically true, and co-partitioned joins/aggregations on `keys`
    * may (correctly) skip their exchange. An explicit-count repartition
    * is exempt from AQE coalescing and sits above any join AQE might
    * rewrite, so no AQE local-read / coalesce optimization can disturb
    * the layout underneath it.
    */
  def cappedCheckpoint(
      ckpt: DataFrame, origin: DataFrame,
      layout: Option[(Seq[String], Int)] = None): DataFrame = {
    val ds = ckpt.asInstanceOf[classic.Dataset[Row]]
    val capped = cap(origin.asInstanceOf[classic.Dataset[Row]].queryExecution.optimizedPlan.stats)
    ds.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        classic.Dataset.ofRows(ds.sparkSession, LogicalRDD(
          lr.output, lr.rdd, partitioning(lr.output, lr.outputPartitioning, layout),
          lr.outputOrdering, lr.isStreaming, None)(ds.sparkSession, Some(capped), None))
      case other =>
        throw new IllegalArgumentException(
          s"cappedCheckpoint expects a checkpointed frame (LogicalRDD leaf), got: ${other.nodeName}")
    }
  }

  /** `found`, or the declared hash partitioning of `layout`. */
  private def partitioning(
      output: Seq[catalyst.expressions.Attribute],
      found: catalyst.plans.physical.Partitioning,
      layout: Option[(Seq[String], Int)]): catalyst.plans.physical.Partitioning =
    layout.fold(found) { case (keys, numPartitions) =>
      catalyst.plans.physical.HashPartitioning(
        keys.map(k => output.find(_.name == k).getOrElse(throw new IllegalArgumentException(
          s"declared hash key '$k' not among output columns ${output.map(_.name).mkString(", ")}"))),
        numPartitions)
    }
}
