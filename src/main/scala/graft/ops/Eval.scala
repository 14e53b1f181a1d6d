package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model- and label-quality evaluation metrics, integer-exact so the
  * numbers are portable across engines: ROC AUC (tie-aware
  * Mann–Whitney), Cohen's kappa, chi-square contingency drift, and
  * mean reciprocal rank. A training-data pipeline runs these
  * constantly — auditing a quality classifier against held-out labels
  * (AUC), measuring annotator agreement before trusting a label column
  * (kappa), alarming on categorical mix drift between snapshots
  * (chi-square), and scoring a retrieval stage (MRR) — and every one of
  * them is usually computed with floats that don't reproduce across
  * engines. Here each metric is derived from integer sufficient
  * statistics and emitted in exact parts-per-million, so the same
  * number falls out of any engine that can sum and divide integers.
  */
object Eval {

  /** Exact ROC AUC per group, in parts-per-million, via the rank-free
    * Mann–Whitney formulation. AUC = P(score⁺ > score⁻) + ½·P(tie),
    * computed from per-distinct-score (pos, neg) counts: with `p_s` /
    * `q_s` the positive/negative counts at score `s` and `Q_<s` the
    * negatives strictly below,
    * `U2 = Σ_s p_s·(2·Q_<s + q_s)` (twice the tie-corrected U) and
    * `auc_ppm = ⌊10⁶·U2 / (2·n_pos·n_neg)⌋` — integer division
    * throughout, no doubles anywhere. Groups with an empty class emit
    * NULL (AUC undefined).
    *
    * Scale shape: rows collapse FIRST to one row per (group, distinct
    * score) — a map-side-combinable aggregation — and only that
    * distinct-score table is window-scanned per group. The window cost
    * is |distinct scores|, not |rows|; score cardinality is what you
    * pay for, exactly like a merged-domain ECDF ([[Metrics.ksStatistic]]).
    * Magnitude guard: 10⁶·U2 must fit a Long — U2 ≤ 2·n_pos·n_neg, so
    * n_pos·n_neg ≤ ~4.6e12 per group (e.g. 2M×2M); beyond that,
    * pre-bin scores (AUC over bins = AUC with ties at bin granularity).
    */
  def rocAuc(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      isPositive: org.apache.spark.sql.Column): DataFrame = {
    val perScore = df
      .groupBy(col(groupCol), col(scoreCol).as("__s"))
      .agg(
        count_if(isPositive).as("__p"),
        count_if(!isPositive).as("__q"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perScore
      .withColumn("__qlt", coalesce(sum(col("__q")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__q")).as("n_neg"),
        sum(col("__p") * (lit(2L) * col("__qlt") + col("__q"))).as("__u2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          expr("(1000000 * __u2) div (2 * n_pos * n_neg)")).as("auc_ppm"))
  }

  /** Cohen's kappa per group between two categorical label columns, in
    * exact ppm. With `N` items, `A` agreements, and marginal counts
    * `a_c` / `b_c` per class: `p_o = A/N`, `p_e = Σ_c a_c·b_c / N²`, and
    * `kappa = (p_o − p_e)/(1 − p_e) = (N·A − Σa_c·b_c)/(N² − Σa_c·b_c)`
    * — a ratio of integers. Emitted as `kappa_ppm` truncated TOWARD
    * ZERO (`sign·(10⁶·|num| div den)`): kappa can be negative
    * (worse-than-chance agreement) and floor-vs-truncate differs across
    * engines on negatives, so the truncation convention is part of the
    * contract. Rows where either rater is NULL are excluded (kappa is
    * defined over co-rated items). A group where `p_e = 1` (both raters
    * constant) emits NULL.
    *
    * Scale shape: three narrow aggregations — agreement counts per
    * group, marginals per (group, class) for each rater — joined on
    * (group, class), all post-aggregation (class-cardinality-sized, not
    * row-sized). Magnitude guard: 10⁶·|N·A − Σa·b| needs N ≤ ~3e6 per
    * group for Long; beyond that pre-scale the marginals.
    */
  def cohensKappa(
      df: DataFrame,
      groupCol: String,
      raterACol: String,
      raterBCol: String): DataFrame = {
    val rated = df
      .where(col(raterACol).isNotNull && col(raterBCol).isNotNull)
      .select(col(groupCol), col(raterACol).as("__a"), col(raterBCol).as("__b"))
    val base = rated.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), count_if(col("__a") === col("__b")).as("n_agree"))
    val margA = rated.groupBy(col(groupCol), col("__a").as("__lbl"))
      .agg(count(lit(1)).as("__na"))
    val margB = rated.groupBy(col(groupCol), col("__b").as("__lbl"))
      .agg(count(lit(1)).as("__nb"))
    val pe = margA.join(margB, Seq(groupCol, "__lbl"))
      .groupBy(col(groupCol))
      .agg(sum(col("__na") * col("__nb")).as("__peNum"))
    base.join(pe, Seq(groupCol))
      .select(col(groupCol), col("n"), col("n_agree"),
        when(col("n") * col("n") - col("__peNum") =!= 0L,
          expr("""CASE WHEN n * n_agree >= __peNum
                 | THEN (1000000 * (n * n_agree - __peNum)) div (n * n - __peNum)
                 | ELSE -((1000000 * (__peNum - n * n_agree)) div (n * n - __peNum))
                 | END""".stripMargin)).as("kappa_ppm"))
  }

  /** Chi-square contingency table between two categorical columns — the
    * per-cell decomposition a mix-drift monitor wants (WHICH cell moved,
    * not just that the total is large). Per cell: observed `o`, expected
    * in exact ppm `e_ppm = (10⁶·r·c) div N`, and the cell's chi-square
    * contribution in micro-units. The contribution `(o−E)²/E` with
    * `E = r·c/N` is algebraically `d²/(N·r·c)` for the INTEGER residual
    * `d = o·N − r·c`, so the only floating step is one fixed-shape
    * double expression over exact integers —
    * `⌊10⁶·d·d / (N·r·c)⌋` evaluated left-to-right in IEEE doubles,
    * which reproduces bit-identically on any IEEE engine evaluating the
    * same shape. Zero-margin cells cannot occur (cells come from
    * observed rows), so the denominator is never 0.
    *
    * Scale shape: one (row, col) count aggregation — map-side
    * combinable — then marginals derived from it by re-aggregation and
    * two broadcast-sized joins back. Everything after the first
    * aggregation is contingency-table-sized. Total chi-square = SUM of
    * `chi2_micro` over cells (left to the caller / a trivial re-agg).
    */
  def chiSquareCells(
      df: DataFrame,
      rowCol: String,
      colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol), col(colCol)).agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col(rowCol)).agg(sum(col("o")).as("__r"))
    val colTot = cells.groupBy(col(colCol)).agg(sum(col("o")).as("__c"))
    val n = cells.agg(sum(col("o")).as("__n"))
    cells
      .join(broadcast(rowTot), Seq(rowCol))
      .join(broadcast(colTot), Seq(colCol))
      .crossJoin(broadcast(n))
      .select(col(rowCol), col(colCol), col("o"),
        expr("(1000000 * __r * __c) div __n").as("e_ppm"),
        floor(
          lit(1000000.0)
            * (col("o") * col("__n") - col("__r") * col("__c")).cast("double")
            * (col("o") * col("__n") - col("__r") * col("__c")).cast("double")
            / (col("__n") * col("__r") * col("__c")).cast("double")).as("chi2_micro"))
  }

  /** Mean reciprocal rank per cohort: each actor's stream is ordered by
    * (`orderCol`, `tieCol`) and the 1-based position of the FIRST hit
    * row becomes `rr_ppm = 10⁶ div rank` (0 for actors with no hit).
    * The cohort row reports actors, hitting actors, and
    * `mrr_ppm = Σ rr_ppm div n_actors` — mean over ALL actors, misses
    * contributing 0, reciprocal and mean both integer-truncated (the
    * documented convention; "over hitters only" is `Σrr div n_hit`,
    * recoverable from the emitted columns). The retrieval-stage score
    * a search/dedup pipeline tracks per segment.
    *
    * Scale shape: one `row_number` window per actor (per-key sort,
    * spill-safe), hits filtered BEFORE the min-rank aggregation, then a
    * cohort-sized re-aggregation; the cohort join is on the actor
    * universe aggregated per cohort, so nothing row-sized crosses a
    * second shuffle.
    */
  def meanReciprocalRank(
      df: DataFrame,
      cohortCol: String,
      actorCol: String,
      orderCol: String,
      tieCol: String,
      isHit: org.apache.spark.sql.Column): DataFrame = {
    val w = Window.partitionBy(col(cohortCol), col(actorCol))
      .orderBy(col(orderCol), col(tieCol))
    val firstHit = df
      .select(col(cohortCol), col(actorCol), col(orderCol), col(tieCol), isHit.as("__hit"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__hit"))
      .groupBy(col(cohortCol), col(actorCol))
      .agg(min(col("__rn")).as("__rank"))
    val actors = df.groupBy(col(cohortCol))
      .agg(countDistinct(col(actorCol)).as("n_actors"))
    val hits = firstHit.groupBy(col(cohortCol))
      .agg(count(lit(1)).as("n_hit"),
        sum(expr("1000000 div __rank")).as("__rrSum"))
    actors.join(hits, Seq(cohortCol), "left")
      .select(col(cohortCol), col("n_actors"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(__rrSum, 0) div n_actors").as("mrr_ppm"))
  }

  /** Average Precision @ k per query — the order-sensitive retrieval
    * metric [[meanReciprocalRank]] is the first-hit shadow of: over the
    * top `k` ranked candidates, AP = (Σ_{i relevant} P@i) / min(R, k)
    * with P@i = (#relevant in top i)/i and R the query's relevant count
    * among its ranked candidates. Integer determinism is BY SPEC: each
    * P@i truncates once to ppm (`(10⁶·relcnt) div i`) and the final mean
    * truncates once more — engine-identical (Spark `div` ≡ DuckDB `//`)
    * at any k, with no lcm(1..k) blowup. Queries with no relevant
    * candidate emit NULL.
    *
    * Scale shape: one per-query ordered window (running relevant count —
    * never global) over at most the candidate lists, then a per-query
    * agg. The shuffle carries (query, candidate) rows once; output is
    * one row per query.
    */
  def averagePrecision(
      df: DataFrame,
      queryCols: Seq[String],
      orderCols: Seq[Column],
      isRelevant: org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(queryCols.nonEmpty, "queryCols must be non-empty")
    val g = queryCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(orderCols: _*)
    df
      .withColumn("__rel", isRelevant.cast("long"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .where(col("__rn") <= k)
      .withColumn("__relcnt",
        sum(col("__rel")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_ranked"), sum(col("__rel")).as("n_rel"),
        sum(when(col("__rel") === 1L, expr("(1000000 * __relcnt) div __rn"))
          .otherwise(0L)).as("__apSum"))
      .withColumn("ap_ppm", when(col("n_rel") === 0, lit(null).cast("long"))
        .otherwise(expr(s"__apSum div least(n_rel, ${k}L)")))
      .drop("__apSum")
  }

  /** Gains / lift table per group: rows ranked by score (descending,
    * `tieCol` breaking ties for a total order — REQUIRED, ntile over a
    * partial order is partitioning-dependent) and cut into `buckets`
    * equal-count bins; per bin the positive counts, cumulative
    * counts down the ranking, and the exact cumulative lift
    * `lift_ppm = (10⁶·cum_pos·n_total) div (cum_n·total_pos)` —
    * "top decile captures 3.1× its share of positives" is the
    * targeting-quality readout this table exists for, and the natural
    * companion to [[rocAuc]] (AUC summarizes; the table says WHERE the
    * model earns it). Groups with zero positives emit NULL lift.
    *
    * Scale shape: one ntile + running-sum window pass per group (sort
    * is per-group, spill-safe) feeding a bucket-count aggregation —
    * the output is groups×buckets rows, the shuffle after the window
    * carries bucket aggregates only.
    */
  def gainsTable(
      df: DataFrame,
      groupCol: String,
      scoreCol: String,
      tieCol: String,
      isPositive: org.apache.spark.sql.Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(tieCol))
    val binned = df
      .select(col(groupCol), col(scoreCol), col(tieCol),
        when(isPositive, 1L).otherwise(0L).as("__pos"))
      .withColumn("__bk", ntile(buckets).over(w).cast("long"))
      .groupBy(col(groupCol), col("__bk").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"))
    val wc = Window.partitionBy(col(groupCol)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col(groupCol))
    binned
      .withColumn("cum_n", sum(col("n")).over(wc))
      .withColumn("cum_pos", sum(col("n_pos")).over(wc))
      .withColumn("__tn", sum(col("n")).over(wt))
      .withColumn("__tp", sum(col("n_pos")).over(wt))
      .select(col(groupCol), col("bucket"), col("n"), col("n_pos"),
        col("cum_n"), col("cum_pos"),
        when(col("__tp") > 0,
          expr("(1000000 * cum_pos * __tn) div (cum_n * __tp)")).as("lift_ppm"))
  }

  /** Per-class precision / recall / F1 between a gold and a predicted
    * label column, integer-exact: per class `c`, `tp` (gold = pred = c),
    * `n_gold = tp + fn`, `n_pred = tp + fp`, and the ppm ratios —
    * F1 via the fraction-free identity `2·tp / (n_pred + n_gold)`, so
    * no intermediate float ever appears. Classes that are only ever
    * predicted (precision defined, recall 0) or only ever gold
    * (recall defined, precision NULL on zero predictions) both emit —
    * the per-class breakdown is exactly where one-sided classes
    * matter. Rows with a NULL on either side are excluded (un-scored).
    *
    * Scale shape: three map-side-combinable class-count aggregations
    * (tp, gold marginal, pred marginal) outer-joined on the class key —
    * everything after the first pass is class-cardinality-sized.
    */
  def classPrf(
      df: DataFrame,
      goldCol: String,
      predCol: String): DataFrame = {
    val rated = df.where(col(goldCol).isNotNull && col(predCol).isNotNull)
      .select(col(goldCol).as("__g"), col(predCol).as("__p"))
    val tp = rated.where(col("__g") === col("__p"))
      .groupBy(col("__g").as("label")).agg(count(lit(1)).as("tp"))
    val gold = rated.groupBy(col("__g").as("label")).agg(count(lit(1)).as("n_gold"))
    val pred = rated.groupBy(col("__p").as("label")).agg(count(lit(1)).as("n_pred"))
    gold
      .join(pred, Seq("label"), "full_outer")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_gold"), lit(0L)).as("n_gold"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_ppm",
        when(col("n_pred") > 0, expr("(1000000 * tp) div n_pred")))
      .withColumn("recall_ppm",
        when(col("n_gold") > 0, expr("(1000000 * tp) div n_gold")))
      .withColumn("f1_ppm", expr("(2000000 * tp) div (n_pred + n_gold)"))
  }

  /** Sample-ratio-mismatch (SRM) check — the first gate every A/B
    * readout must pass: with a 50/50 intended split, the one-degree
    * chi-square statistic `(n_t − n_c)² / (n_t + n_c)` published in
    * exact milli units (≥ 3841 ≈ p < 0.05 → the assignment itself is
    * broken and every downstream metric is garbage). Units are counted
    * DISTINCT (an SRM test over exposure events double-counts heavy
    * users and false-alarms).
    *
    * Scale shape: one distinct-unit aggregation (map-side combined on
    * the unit key) + a two-count finale. Nothing else moves.
    */
  def srmCheck(
      df: DataFrame,
      unitCol: String,
      treatedCol: Column): DataFrame = {
    df.select(col(unitCol).as("__u"), treatedCol.as("__t"))
      .distinct()
      .agg(count_if(col("__t")).as("n_t"), count_if(!col("__t")).as("n_c"))
      .withColumn("chisq_milli",
        expr("(1000L * (n_t - n_c) * (n_t - n_c)) div (n_t + n_c)"))
      .withColumn("srm_suspect", col("chisq_milli") >= 3841L)
  }

  /** CUPED variance-reduced treatment effect over per-unit
    * (arm, pre-metric X, post-metric Y) rows — the experimentation
    * workhorse: the pre-period covariate soaks up between-unit variance,
    * `Ŷ = Y − θ·(X − X̄)` with `θ = cov(X,Y)/var(X)` from the POOLED
    * sample, and the adjusted effect is
    * `(Ȳ_t − Ȳ_c) − θ·(X̄_t − X̄_c)`. All sufficient statistics are
    * exact integer aggregates ([[Trend.linear]]'s overflow posture:
    * n²·max|x|·max|y| < 2⁶³ — metrics in cents, not micro-units, at
    * large n); the two final divisions run in doubles with the operation
    * order spelled once, so any IEEE engine reproduces the identical
    * floor-micro values. One row out: (n_t, n_c, theta_micro,
    * effect_raw_micro, effect_cuped_micro).
    *
    * Scale shape: ONE map-side-combinable aggregation over the unit
    * table — the cheapest wide shape there is; nothing else shuffles.
    */
  def cuped(
      units: DataFrame,
      treatedCol: Column,
      xCol: Column,
      yCol: Column): DataFrame = {
    val x = xCol.cast("long")
    val y = yCol.cast("long")
    units
      .agg(
        count(lit(1)).as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"),
        count_if(treatedCol).as("n_t"),
        sum(when(treatedCol, x).otherwise(0L)).as("__sxt"),
        sum(when(treatedCol, y).otherwise(0L)).as("__syt"))
      .withColumn("n_c", col("__n") - col("n_t"))
      .withColumn("__sxc", col("__sx") - col("__sxt"))
      .withColumn("__syc", col("__sy") - col("__syt"))
      // doubles from here down, one pinned operation order:
      // theta = (n·Σxy − Σx·Σy) / (n·Σxx − Σx·Σx)
      // effect = (Ȳt − Ȳc) − theta·(X̄t − X̄c)
      .withColumn("__theta",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
      .withColumn("__dy", col("__syt") / col("n_t") - col("__syc") / col("n_c"))
      .withColumn("__dx", col("__sxt") / col("n_t") - col("__sxc") / col("n_c"))
      .select(col("n_t"), col("n_c"),
        floor(lit(1000000.0) * col("__theta")).cast("long").as("theta_micro"),
        floor(lit(1000000.0) * col("__dy")).cast("long").as("effect_raw_micro"),
        floor(lit(1000000.0) * (col("__dy") - col("__theta") * col("__dx")))
          .cast("long").as("effect_cuped_micro"))
  }

  /** Kruskal–Wallis H test per group — the k-sample generalization of
    * the rank tests ([[rocAuc]] IS the two-sample Mann–Whitney in
    * disguise): "does this metric's distribution differ ACROSS the k
    * slices" without assuming normality — the screen a pipeline runs
    * before trusting that a per-slice mean shift is real. Ranks are
    * tie-aware midranks kept integer by the ×2 trick
    * (`2·midrank = 2·rank + ties − 1`, all integer), so every rank
    * statistic is exact; H and its tie-corrected form take the one
    * documented double step at the end in a pinned operation order:
    * `H = 3·Σ_j(R2_j²/n_j)/(n(n+1)) − 3(n+1)` (the 12/(4·…)
    * simplification of the classic formula under ×2 ranks) and
    * `H_adj = H / (1 − Σ(t³−t)/(n³−n))`, both published floor-milli.
    * Slices with n < 2 total points or a single sample emit NULL H.
    *
    * Scale shape: two per-GROUP rank windows (key-partitioned, never
    * global), one (group, sample) aggregate, one (group, value)
    * tie aggregate, then group-sized arithmetic. The corpus shuffles
    * once into the rank partitioning; everything downstream is
    * slices-sized.
    */
  def kruskalWallis(
      df: DataFrame,
      groupCols: Seq[String],
      sampleCol: Column,
      valueCol: Column): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val g = groupCols.map(col)
    val base = df.select(
      (g :+ sampleCol.cast("string").as("__s") :+ valueCol.cast("long").as("__v")): _*)
    val wRank = Window.partitionBy(g: _*).orderBy(col("__v"))
    val wTie = Window.partitionBy((g :+ col("__v")): _*)
    val ranked = base
      .withColumn("__rk", rank().over(wRank).cast("long"))
      .withColumn("__ct", count(lit(1)).over(wTie))
      .withColumn("__r2", lit(2L) * col("__rk") + col("__ct") - lit(1L))
    val perSample = ranked
      .groupBy((g :+ col("__s")): _*)
      .agg(count(lit(1)).as("__nj"), sum(col("__r2")).as("__r2j"))
    val perGroup = perSample
      .groupBy(g: _*)
      .agg(count(lit(1)).as("k"), sum(col("__nj")).as("n"),
        // Σ R2_j²/n_j in doubles, one pinned order (R2_j² can pass 2⁶³
        // at ~10⁹ rows per group; the double keeps 53 bits which is the
        // same last-mile precision class as the final division anyway)
        sum(col("__r2j").cast("double") * col("__r2j") / col("__nj")).as("__sr"))
    val ties = base
      .groupBy((g :+ col("__v")): _*)
      .agg(count(lit(1)).as("__t"))
      .groupBy(g: _*)
      .agg(sum(col("__t") * col("__t") * col("__t") - col("__t")).as("__tie3"))
    perGroup.join(ties, groupCols)
      .withColumn("__h",
        lit(3.0) * col("__sr") / (col("n") * (col("n") + 1)) - lit(3.0) * (col("n") + 1))
      .withColumn("__c",
        lit(1.0) - col("__tie3") / (col("n").cast("double") * col("n") * col("n") - col("n")))
      .select((g :+ col("k") :+ col("n") :+
        when(col("n") < 2 || col("k") < 2, lit(null).cast("long"))
          .otherwise(floor(lit(1000.0) * col("__h")).cast("long")).as("h_milli") :+
        when(col("n") < 2 || col("k") < 2 || col("__c") <= 0.0, lit(null).cast("long"))
          .otherwise(floor(lit(1000.0) * col("__h") / col("__c")).cast("long"))
          .as("h_adj_milli")): _*)
  }

  /** Bradley–Terry preference strengths from pairwise duels — the model
    * behind preference-data curation (which responses, annotators or
    * sources actually win head-to-heads), fit by the classic MM
    * iteration (Hunter 2004):
    * `s'_i = W_i / Σ_{j : n_ij > 0} n_ij / (s_i + s_j)`
    * with `W_i` = i's total wins and `n_ij` = games between i and j —
    * each update provably increases the BT likelihood.
    *
    * Integer contract (cross-engine replayable): strengths live in
    * scaled units (`scale` = 10⁶), every division is truncating, each
    * denominator term `(n_ij · scale²) div (s_i + s_j)` is computed in
    * DECIMAL(38,0) (n · 10¹² overflows Long at ~9M games per pair), and
    * each round ends with [[hits]]-style max-normalization (the max is
    * read off the round's staging job as one Long) so magnitudes stay put — the
    * MM update is scale-equivariant, so normalizing is a relabeling,
    * not a different trajectory. Strengths are floored at 1 after each
    * update (the standard ε-regularization: a winless item otherwise
    * hits 0 and zeroes the denominators of everyone it played).
    *
    * Returns `(id, strength_e6, wins, games)` for every id that played;
    * `iterations` is a fixed count, not a convergence probe — BT
    * strengths move little after a few MM rounds and a fixed count
    * keeps the oracle replayable by unrolling.
    *
    * Scale shape per round: one equi-join of the symmetric pair-count
    * table with the item-strength table (both keyed by item), one
    * map-side-combinable sum. PageRank's cost model.
    */
  def bradleyTerry(
      duels: DataFrame,
      winnerCol: String = "winner",
      loserCol: String = "loser",
      iterations: Int = 3,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 2, s"scale must be >= 2: $scale")
    val d = duels.select(col(winnerCol).cast("long").as("w"),
      col(loserCol).cast("long").as("l"))
      .where(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
    val directed = d.groupBy(col("w"), col("l")).agg(count(lit(1)).as("c"))
    val fx = new Fixpoint("bradleyTerry")
    // symmetric opponent table: (i, j, n_ij) both ways — the denominator
    // scans each item's opponent list once per round
    val sym = fx.stage(directed
      .select(col("w").as("i"), col("l").as("j"), col("c"))
      .unionByName(directed.select(col("l").as("i"), col("w").as("j"), col("c")))
      .groupBy(col("i"), col("j")).agg(sum(col("c")).as("n")))
    val stats = fx.stage(sym.groupBy(col("i"))
      .agg(sum(col("n")).as("games"))
      .join(directed.groupBy(col("w").as("i")).agg(sum(col("c")).as("wins")),
        Seq("i"), "left")
      .select(col("i"), coalesce(col("wins"), lit(0L)).as("wins"), col("games")))
    val (s, _) = fx.loop(fx.stage(stats.select(col("i"), lit(scale).as("s"))), iterations,
        Fixpoint.Truncate) { (s, _) =>
      val denom = sym
        .join(s.select(col("i"), col("s").as("si")), Seq("i"))
        .join(s.select(col("i").as("j"), col("s").as("sj")), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(expr(s"(cast(n as decimal(38,0)) * ${scale}L * ${scale}L) div (si + sj)"))
          .cast("long").as("d"))
      // an empty input has no max: any positive literal keeps the plan valid
      val (raw, mx) = fx.stage(stats.join(denom, Seq("i"))
        .select(col("i"), greatest(lit(1L),
          expr(s"(cast(wins as decimal(38,0)) * ${scale}L * ${scale}L) div d")
            .cast("long")).as("s")),
        coalesce(max(col("s")), lit(scale)))
      (fx.stage(raw.select(col("i"),
        greatest(lit(1L), expr(s"(cast(s as decimal(38,0)) * ${scale}L) div ${mx}L")
          .cast("long")).as("s"))), true)
    }
    fx.stage(s.join(stats, Seq("i"))
      .select(col("i").as("id"), col("s").as("strength_e6"), col("wins"), col("games")))
  }
}
