package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Group-wise feature normalization — the scaling step between raw
  * metrics and anything rank-, threshold- or model-shaped downstream.
  * Exact-integer outputs (ppm of the group range) keep results
  * order-independent and engine-portable, unlike float mean/std scaling.
  */
object Normalize {

  /** Min-max scale `valueCol` (integer) within each `groupCols` group to
    * parts-per-million of the group's range:
    * `scaled_ppm = ⌊1e6·(x − min) / (max − min)⌋` (0 for a constant
    * group). Adds `scaled_ppm` beside the input columns.
    *
    * Scale shape: the group extrema come from a window over one hash
    * shuffle on the group key — no join, no second pass over the data;
    * every row carries its group min/max out of the same exchange a
    * per-group aggregate would use. Magnitude guard: |value| ≤ ~9·10⁹
    * keeps 1e6·(x−min) inside Long.
    */
  def minMaxPpm(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols.map(col): _*)
    val v = col(valueCol).cast("long")
    df
      .withColumn("__min", min(v).over(w))
      .withColumn("__max", max(v).over(w))
      .withColumn("scaled_ppm",
        when(col("__max") === col("__min"), lit(0L))
          .otherwise(floor(lit(1000000L) * (v - col("__min")) /
            (col("__max") - col("__min")))))
      .drop("__min", "__max")
  }

  /** Dictionary-encode a categorical column: dense integer codes 1..n in
    * the value's sort order — label encoding for feature pipelines, and
    * the id-assignment step of building any dimension table. Sort-order
    * codes (not first-seen order) are what make the assignment
    * deterministic and reproducible across runs and engines.
    *
    * Scale shape: codes are assigned on the DISTINCT values via
    * [[denseIds]] — range-partitioned two-phase ranking, so even a huge
    * code domain (user-ids, URLs) is ranked across the cluster with no
    * single-partition sort — then broadcast-joined back; the fact table
    * is never shuffled. This is the distinct→rank→broadcast pattern,
    * NOT a window over the fact table.
    *
    * Contract: the distinct-value dictionary must be BROADCAST-sized
    * (categorical cardinality, not key cardinality) — encoding a
    * near-unique column would OOM the driver; use a join against a
    * persisted dimension table for that shape. NULL is a legal category:
    * the join is null-safe (`<=>`), so NULL values receive the first code
    * (NULLS FIRST sort order) instead of being silently dropped.
    */
  /** Percent-rank normalize `valueCol` within each group, in exact
    * integer parts-per-million: `pr_ppm = ⌊1e6·(rank−1) / (n−1)⌋` (0 for
    * a 1-row group). Uses `rank()` (ties share a rank), so the result is
    * a pure function of the multiset of values — deterministic across
    * engines and partitionings, unlike float `percent_rank`, whose last
    * ulp depends on the division order.
    *
    * Scale shape: one hash shuffle on the group key feeds both the rank
    * window and the group-count window (same partition spec, one sort).
    * Parallelism is group-bounded, like any exact per-group ranking —
    * pre-bucket groups upstream if one group dominates.
    */
  def percentRankPpm(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(groupCols.map(col): _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(groupCols.map(col): _*)
    df
      .withColumn("__rk", rank().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("pr_ppm",
        when(col("__n") === 1, 0L)
          // `div`, not `/`: Spark's `/` on longs is DOUBLE division, and a
          // correctly-rounded float quotient can land on the wrong side of
          // an integer boundary before the floor. `div` stays in Long.
          .otherwise(expr("(1000000L * (__rk - 1)) div (__n - 1)")))
      .drop("__rk", "__n")
  }

  def dictEncode(df: DataFrame, valueCol: String, codeCol: String = "code"): DataFrame = {
    // Two-phase ranking on the distinct values ([[denseIds]]): same
    // 1-based sort-order codes the old global row_number window assigned
    // (asc, NULLS FIRST — both the range partitioner and the per-partition
    // window use Spark's asc-nulls-first default), with the ranking
    // range-balanced instead of single-partition. The value itself is the
    // tiebreak (unique after distinct).
    val distinctVals = df.select(col(valueCol).as("__dict_value")).distinct()
    val dict = denseIds(distinctVals, "__dict_value", "__dict_value", codeCol)
      .withColumn(codeCol, col(codeCol) + 1L)
    df.join(broadcast(dict), col(valueCol) <=> col("__dict_value")).drop("__dict_value")
  }

  /** Winsorize an integer column within each group: clamp values below
    * the `pLow` quantile up to it and above the `pHigh` quantile down to
    * it — the standard outlier-robust scaling step before averaging or
    * model features (unlike dropping outliers, row count is preserved).
    *
    * The boundary is the exact DISCRETE quantile — the group's value at
    * 1-based rank `ceil(p·n)` in ascending order (rank 1 for p=0) — a
    * pure integer-rank definition with no interpolation, so any engine
    * replays it bit-identically.
    *
    * Scale shape: one sort-window shuffle on the group key assigns ranks
    * (ties in value are rank-order-independent: the value AT a rank is
    * unique even when row numbering among equal values is not), the two
    * boundary rows per group collapse to a group-sized bounds table that
    * joins back — broadcast-sized whenever the group count is. Like all
    * per-group sort windows, a single group's rows sort within one
    * partition's spill budget — groups themselves need not fit in memory.
    */
  def winsorize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      pLow: Double,
      pHigh: Double,
      outCol: String = "winsorized"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(0.0 <= pLow && pLow < pHigh && pHigh <= 1.0,
      s"need 0 <= pLow < pHigh <= 1: ($pLow, $pHigh)")
    import org.apache.spark.sql.expressions.Window
    val keys = groupCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col(valueCol))
    val wn = Window.partitionBy(keys: _*)
    val ranked = df
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wn))
    val loRank = greatest(ceil(lit(pLow) * col("__n")), lit(1L))
    val hiRank = greatest(ceil(lit(pHigh) * col("__n")), lit(1L))
    val bounds = ranked
      .where(col("__rn") === loRank || col("__rn") === hiRank)
      .groupBy(keys: _*)
      .agg(min(when(col("__rn") === loRank, col(valueCol))).as("__lo"),
        max(when(col("__rn") === hiRank, col(valueCol))).as("__hi"))
    ranked.drop("__rn", "__n")
      .join(bounds, groupCols)
      .withColumn(outCol, greatest(least(col(valueCol), col("__hi")), col("__lo")))
      .drop("__lo", "__hi")
  }

  /** Leave-one-out target encoding: each row's category is replaced by
    * the mean target of the OTHER rows in its category —
    * `⌊(Σ_cat target − target_i) / (n_cat − 1)⌋` — the standard
    * high-cardinality categorical feature for tree/linear models, with
    * the self-exclusion that stops the encoding from leaking each row's
    * own label. Singleton categories (n = 1) encode NULL: there is no
    * "others" mean, and imputing one (global mean, prior blend) is a
    * modeling decision the caller owns. Integer targets in, integer
    * (floor-division, exact) codes out — no float summation anywhere.
    *
    * Scale shape: one map-side-combined (sum, count) aggregation at
    * category cardinality, joined back by broadcast-or-shuffle on the
    * category key; the encode itself is map-only arithmetic. Rows never
    * shuffle unless the category table outgrows broadcast.
    */
  /** Distributed dense-id assignment: every row gets the contiguous id
    * `0..n−1` of its position in the total order `(orderCol, tieCol)` —
    * the re-keying step before packing rows into embedding tables, graph
    * adjacency arrays, or file offsets. This is the scale-correct
    * zipWithIndex: a range repartition on the order key puts ordered
    * blocks on separate partitions, a PARTITION-COUNT-sized offset table
    * (one count row per partition, prefix-summed on the driver-side tiny
    * window and broadcast back) anchors each block, and a per-partition
    * sort ranks within — no global single-partition window anywhere.
    *
    * Output ids are a pure function of the input even though range
    * boundaries are sampled (nondeterministic): whatever the split, a
    * row's `offset + local rank` IS its global rank, because the order
    * is total. `tieCol` must be unique (enforce upstream) — with
    * duplicate full keys, rows straddling a sampled boundary could swap.
    */
  /** [[denseIds]] generalized to an ordered SCAN: every row gets both its
    * global 1-based rank in the total order `orderBy` and the running sum
    * of `valueCol` up to and including itself — i.e. exactly
    * `row_number()` + `sum() ROWS UNBOUNDED PRECEDING` over a global
    * window, but built scale-correct: range repartition on the order,
    * a partition-count-sized (count, sum) offset table prefix-summed on
    * a tiny window and broadcast back, per-partition window within. The
    * ranking/accumulation shuffle is range-balanced across the cluster —
    * no single-partition global WindowExec anywhere.
    *
    * `orderBy` must be a TOTAL order (unique composite; direction
    * columns like `col.desc` are honored by both the range partitioner
    * and the within-partition window, so they agree).
    */
  def rankedPrefixSum(
      df: DataFrame,
      orderBy: Seq[Column],
      valueCol: String,
      rankOut: String,
      cumOut: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Eager pin for the same reason as denseIds: offsets and ranked rows
    // must see one physical split of the sampled range boundaries
    // ([[Staging.pin]]; a checkpoint dir makes it a reliable checkpoint()).
    val ranged = Staging.pin(df.repartitionByRange(p, orderBy: _*)
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy("__pid")
      .agg(count(lit(1)).as("__c"), sum(col(valueCol)).as("__s"))
      .withColumn("__coff", coalesce(sum(col("__c")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__soff", coalesce(sum(col("__s")).over(
        Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__c", "__s")
    val w = Window.partitionBy("__pid").orderBy(orderBy: _*)
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankOut, col("__coff") + row_number().over(w).cast("long"))
      .withColumn(cumOut, col("__soff") + sum(col(valueCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__pid", "__coff", "__soff")
  }

  /** Natural-breaks (largest-gap) segmentation: the `k` classes whose
    * boundaries sit at the k−1 WIDEST gaps between consecutive distinct
    * values — the 1-D clustering behind choropleth-style banding that
    * equal-width bins botch on skewed data. Returns the boundary table
    * `(boundary_rank, lower_value, upper_value, gap)`: a class is
    * "values in (lower_i, upper_{i+1}]"; ties on gap width break toward
    * the smaller value (deterministic).
    *
    * Scale shape: distinct values ranked by the range-partitioned
    * [[denseIds]] (no global window), consecutive pairs via a rank
    * equi-join (rank → rank+1 — an exchange on the rank, not a window),
    * then a global top-(k−1) via TakeOrdered on gap width — the only
    * driver-sized step, bounded at k rows.
    */
  def naturalBreaks(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"need at least 2 classes: $k")
    val vals = df.select(valueCol.cast("long").as("__v")).where(col("__v").isNotNull)
      .distinct()
    val ranked = denseIds(vals, "__v", "__v", "__rk")
    val gaps = ranked.alias("a")
      .join(ranked.alias("b"), col("b.__rk") === col("a.__rk") + 1L)
      .select(col("a.__v").as("lower_value"), col("b.__v").as("upper_value"),
        (col("b.__v") - col("a.__v")).as("gap"))
    gaps.orderBy(col("gap").desc, col("lower_value")).limit(k - 1)
      .orderBy(col("lower_value"))
      .withColumn("boundary_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("lower_value"))).cast("long"))
      // the boundary-rank window runs over the k−1 row LIMIT output —
      // bounded by construction (the keySkew post-limit contract)
      .select(col("boundary_rank"), col("lower_value"), col("upper_value"), col("gap"))
  }

  def denseIds(
      df: DataFrame,
      orderCol: String,
      tieCol: String,
      outCol: String = "dense_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Materialized EAGERLY ([[Staging.pin]]): the offset table and the
    // ranked rows must see the SAME physical partitioning, and range
    // boundaries are sampled per execution — two independent evaluations
    // of the repartition could split rows differently and desynchronize
    // pids from offsets. With a checkpoint dir the pin is a reliable
    // checkpoint(), so the pinned split survives executor loss.
    val ranged = Staging.pin(df.repartitionByRange(p, col(orderCol), col(tieCol))
      .withColumn("__pid", spark_partition_id()))
    val offsets = ranged.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__n")
    val w = Window.partitionBy("__pid").orderBy(col(orderCol), col(tieCol))
    ranged.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, col("__off") + row_number().over(w).cast("long") - 1L)
      .drop("__pid", "__off")
  }

  /** Quantile-normalize `valueCol` against the GLOBAL distribution:
    * each row's within-group percent-rank (exact ppm, rank() ties — see
    * [[percentRankPpm]]) is mapped to the global value at that quantile,
    * using lower (floor-index) interpolation over the globally sorted
    * column: `mapped = sorted_global[⌊pr_ppm·(N−1) / 1e6⌋]`. After this,
    * every group's values follow the same marginal distribution — the
    * batch-effect-removal step before cross-source features are compared
    * or pooled, with ALL arithmetic in integers so engines agree exactly.
    *
    * Scale shape: the per-group ranking is one window shuffle on the
    * group key; the global sorted index comes from [[denseIds]] (range
    * partition + offset table — no single-partition global window); the
    * final mapping is an equi-join on the computed index — hash shuffle
    * on a dense integer key, trivially balanced. The value at a given
    * global index is well-defined under ties (equal values are
    * interchangeable in sort order), so the sampled range boundaries
    * inside denseIds cannot change the result.
    *
    * `tieCol` must be a unique row key (denseIds' contract).
    */
  def quantileNormalize(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      tieCol: String): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val globalIdx = denseIds(
      df.select(col(valueCol).as("__gv"), col(tieCol).as("__gt")), "__gv", "__gt", "__gidx")
      .select(col("__gidx"), col("__gv"))
    // Broadcast one-row N, not an eager count: keeps the op a lazy plan.
    val nRow = df.groupBy().agg(count(lit(1)).as("__n"))
    percentRankPpm(df, groupCols, valueCol)
      .crossJoin(broadcast(nRow))
      .withColumn("__gidx", expr("(pr_ppm * (__n - 1L)) div 1000000L"))
      .drop("__n")
      .join(globalIdx, Seq("__gidx"))
      .withColumnRenamed("__gv", "q_norm")
      .drop("__gidx")
  }

  def targetEncode(
      df: DataFrame,
      categoryCols: Seq[String],
      targetCol: String,
      outCol: String = "loo_code"): DataFrame = {
    require(categoryCols.nonEmpty, "categoryCols must be non-empty")
    val keys = categoryCols.map(col)
    val stats = df.groupBy(keys: _*)
      .agg(sum(col(targetCol).cast("long")).as("__sum"), count(col(targetCol)).as("__n"))
    df.join(stats, categoryCols)
      .withColumn(outCol,
        when(col("__n") > 1,
          floor((col("__sum") - col(targetCol).cast("long")) / (col("__n") - 1)).cast("long")))
      .drop("__sum", "__n")
  }
}
