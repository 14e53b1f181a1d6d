package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-addressed sampling for training-data pipelines.
  *
  * `df.stat.sampleBy` draws per-row randoms, so the selected set changes
  * with seed handling, partitioning, and Spark version — useless for
  * reproducible ablations. Here membership is a pure function of the row
  * id: bucket = first byte of md5(id) ∈ [0, 256), keep iff bucket < ⌈f·256⌉
  * for the row's stratum. Rerunning on the same corpus — at any
  * parallelism, any cluster — selects byte-identical rows, and the same
  * rule is expressible in any SQL engine (the DuckDB oracle runs it
  * verbatim). Map-only: no shuffle, no RNG state, prunes to (id, stratum).
  */
object Sampling {

  /** First byte of md5(id) as a long in [0, 256) — the shared
    * deterministic bucketing primitive (also drives
    * [[graft.jobs.CorpusPrep.hashSplit]]'s train/val/test assignment).
    */
  def idBucket(id: Column): Column =
    graft.functions.TextFunctions.md5Prefix(id.cast("string"), 2)

  /** Per-stratum threshold out of 256 for a sampling fraction. */
  def threshold(fraction: Double): Int = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    math.ceil(fraction * 256).toInt
  }

  /** Keep each row of `df` with its stratum's fraction (default for
    * strata not listed). Deterministic in `idCol`; approximately exact
    * rates (md5 is uniform; granularity 1/256).
    */
  def stratified(
      df: DataFrame,
      stratumCol: String,
      idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val thresh = fractions.foldLeft(lit(threshold(defaultFraction))) {
      case (acc, (stratum, f)) => when(col(stratumCol) === stratum, lit(threshold(f))).otherwise(acc)
    }
    df.where(idBucket(col(idCol)) < thresh)
  }

  /** Deterministic weighted Bernoulli sampling: keep each row with
    * probability `weightCol` (clamped to [0,1], granularity 1/256), where
    * the coin flip is the row's md5 bucket — content-addressed like
    * [[stratified]], so reruns keep byte-identical rows and any engine
    * replays the selection. The standard corpus-reweighting move: sample
    * documents proportional to a quality/importance score instead of a
    * hard threshold. Map-only, no shuffle.
    *
    * Quantization is biased UP: the keep condition `bucket < ceil(w·256)`
    * rounds every weight to the next multiple of 1/256, so any w in
    * (0, 1/256] is sampled at exactly 1/256 — up to 256× oversampling of
    * near-zero weights (w=0 keeps nothing). This is deliberate: ceil
    * guarantees every positively-weighted row retains a nonzero,
    * engine-replayable chance. If sub-1/256 fidelity matters for your
    * reweighting, rescale weights so the mass of interest sits well above
    * 1/256 (or derive a finer coin from more digest bytes).
    */
  def weighted(df: DataFrame, idCol: String, weightCol: Column): DataFrame = {
    val clamped = least(greatest(weightCol, lit(0.0)), lit(1.0))
    df.where(idBucket(col(idCol)) < ceil(clamped * 256))
  }

  /** EXACTLY `n` rows per stratum (fewer if the stratum is smaller) —
    * quota sampling for corpus composition (cap per domain/language/
    * source). Selection order is md5(id): deterministic, content-blind,
    * and reproducible in any engine, unlike `rand()`-ranked sampling.
    * Ties cannot occur (ids are distinct ⇒ digests distinct modulo md5
    * collisions), so the result set is unique.
    *
    * Two-phase selection so a hot stratum never sorts on one reducer: a
    * salted pre-pass takes the top `n` per (stratum, salt) — spreading
    * each stratum over `saltBuckets` reducers — and the final window sees
    * at most `saltBuckets·n` survivors per stratum. Exactness is
    * preserved because every global top-`n` row is necessarily in its
    * salt bucket's top `n`. Results are independent of `saltBuckets`;
    * size it so `saltBuckets·n` rows fit one reducer comfortably.
    */
  /** Deterministic weighted corpus-mixing schedule: assign every row a
    * `mix_pos` such that reading rows in `mix_pos` order interleaves the
    * sources with frequency inversely proportional to their stride — the
    * "data mixing" stage of LLM training-corpus assembly (40% web, 30%
    * code, 30% books, shuffled together rather than concatenated). For
    * target weights w, pass `stride = LCM(w) / w` (stride 1 appears 2×
    * as often as stride 2 at every prefix of the position axis).
    *
    * Position is content-addressed, not sequenced: with u = first 40
    * bits of md5(id) (uniform on [0, 2⁴⁰)), `mix_pos = u · stride` —
    * pure Long multiplication, exactly replayable in any engine (no
    * division whose float rounding could differ). A per-source
    * `row_number` round-robin would serialize each source through one
    * reducer at 100 TB; a hash of the id is map-only. Consumers
    * range-partition + sort by (`mix_pos`, id) to materialize the
    * schedule — Spark's distributed sort, no single reducer.
    *
    * Deterministic and stable under corpus edits: adding or removing
    * documents never moves another document's position. Rows whose
    * source has no stride are dropped (an explicit mix lists every
    * source it wants).
    */
  def mixSchedule(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      strides: Map[String, Long]): DataFrame = {
    require(strides.nonEmpty, "strides must be non-empty")
    require(strides.values.forall(s => s > 0 && s <= 1000000L),
      "strides must be in (0, 1e6]")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = strides.toSeq.toDF(sourceCol, "__stride")
    val u40 = graft.functions.TextFunctions.md5Prefix(col(idCol).cast("string"), 10)
    df.join(broadcast(wdf), Seq(sourceCol))
      .withColumn("mix_pos", u40 * col("__stride"))
      .drop("__stride")
  }

  /** Dedup-aware (group-wise) train/val/test split: every row belonging
    * to the same group — e.g. a near-duplicate family from
    * [[Components.connectedComponents]] — lands in the SAME split,
    * because the bucket is computed from the group id, not the row id.
    * Splitting near-dups independently leaks train content into test
    * verbatim, which silently inflates every eval; the group-wise rule is
    * the standard countermeasure. Rows absent from `groups` form
    * singleton groups keyed by their own id (`coalesce`), so the split
    * remains total and deterministic. Thresholds are bucket bounds out of
    * 256 (`[0, trainUpTo)` → train, `[trainUpTo, valUpTo)` → val, rest
    * test), the same 1/256 granularity as [[stratified]].
    *
    * Scale shape: one equi-join on the row id against the (much smaller)
    * group membership table — broadcast when it fits — then map-only
    * md5 bucketing; nothing else shuffles.
    */
  def groupSplit(
      df: DataFrame,
      groups: DataFrame,
      idCol: String = "doc_id",
      groupIdCol: String = "id",
      groupCol: String = "component",
      trainUpTo: Int = 204,
      valUpTo: Int = 230): DataFrame = {
    require(trainUpTo >= 0 && trainUpTo <= valUpTo && valUpTo <= 256,
      s"need 0 <= trainUpTo <= valUpTo <= 256: $trainUpTo, $valUpTo")
    val g = groups.select(col(groupIdCol).cast("long").as(idCol), col(groupCol).as("__g"))
    val key = coalesce(col("__g"), col(idCol)).as("group_id")
    val bucket = idBucket(coalesce(col("__g"), col(idCol)))
    df.join(g, Seq(idCol), "left")
      .withColumn("group_id", key)
      .withColumn("split",
        when(bucket < trainUpTo, lit("train"))
          .when(bucket < valUpTo, lit("val"))
          .otherwise(lit("test")))
      .drop("__g")
  }

  /** Temporal train/test split with an embargo gap, reported per entity:
    * rows strictly before `splitTs − embargoSeconds` are train, rows at or
    * after `splitTs` are test, and the gap between them is embargoed
    * (dropped from both) so that near-boundary temporal correlation —
    * sessions straddling the cut, labels computed from forward windows —
    * cannot leak across. Emits one row per entity:
    * `(entity, n_train, n_test, n_embargo, cross_presence)`, where
    * `cross_presence` marks entities with data on BOTH sides — the list a
    * user-level task must additionally drop or group-split
    * ([[groupSplit]]) to stay leak-free.
    *
    * Scale shape: map-only bucket assignment + one map-side-combined
    * aggregation at entity cardinality; nothing else shuffles.
    */
  def temporalEmbargoSplit(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      splitTs: String,
      embargoSeconds: Long): DataFrame = {
    require(embargoSeconds >= 0, s"embargoSeconds must be >= 0: $embargoSeconds")
    val cut = to_timestamp(lit(splitTs))
    val trainEnd = cut - expr(s"INTERVAL $embargoSeconds SECOND")
    df.groupBy(col(entityCol))
      .agg(
        count_if(col(tsCol) < trainEnd).as("n_train"),
        count_if(col(tsCol) >= cut).as("n_test"),
        count_if(col(tsCol) >= trainEnd && col(tsCol) < cut).as("n_embargo"))
      .withColumn("cross_presence", col("n_train") > 0 && col("n_test") > 0)
  }

  /** Stratified interleave schedule: orders rows so that consecutive
    * positions cycle through the strata — consuming by ascending
    * `interleave_pos` exposes every stratum throughout training instead of
    * exhausting one source before the next (the standard fix for
    * source-ordered corpora, where a model sees all of web before any
    * code). Within each stratum rows are md5-permuted; position
    * `= within_rank · B + stratum_code` for B strata, so positions are
    * unique and stratum-round-robin while strata last (smaller strata
    * exhaust and leave gaps — an ORDERING key, not a dense index).
    *
    * Scale shape: one global [[graft.ops.Normalize.denseIds]] ranking in
    * stratum-major order (range partition + offset table — no per-stratum
    * single-task window), then a broadcast join against the
    * stratum-cardinality size/offset/code table. Stratum values must not
    * contain `':'` (the order-key separator).
    */
  def stratifiedInterleave(
      df: DataFrame,
      idCol: String,
      stratumCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .select(col(stratumCol), col(idCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .withColumn("__ord", concat(col(stratumCol).cast("string"), lit(":"), col("__h")))
      .withColumn("__tie", concat(col(stratumCol).cast("string"), lit(":"), col(idCol).cast("string")))
    val ranked = graft.ops.Normalize.denseIds(keyed, "__ord", "__tie", "__grank")
    // Stratum-cardinality side table: size, exclusive prefix offset (in
    // the SAME stratum-major order as __ord), dense code, stratum count.
    // The offset prefix-sum MUST follow the same order the global ranking
    // used — which is lexicographic on `stratum ∥ ':'`, NOT on the bare
    // stratum (when one stratum is a prefix of another, "a" vs "a0", the
    // appended ':' sorts between digits and letters and flips them).
    // Codes stay in bare-stratum order: they only label, never offset.
    val sizes = ranked.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__code",
        row_number().over(Window.orderBy(col(stratumCol).cast("string"))).cast("long"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          Window.orderBy(concat(col(stratumCol).cast("string"), lit(":")))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__b", max(col("__code")).over(Window.partitionBy()))
    ranked.join(broadcast(sizes), Seq(stratumCol))
      .select(col(idCol), col(stratumCol),
        ((col("__grank") - col("__off")) * col("__b") + col("__code") - 1L)
          .as("interleave_pos"))
  }

  /** Largest-remainder (Hamilton) apportionment of an integer budget
    * across categories, proportional to `weightCol`: every category gets
    * `⌊B·w/T⌋`, and the `B − Σ⌊·⌋` leftover units go one each to the
    * largest remainders (ties to the smaller key — fully deterministic).
    * The standard way to turn target mix proportions into an EXACT
    * token-budget split (Σ alloc = B always; proportional rounding that
    * floats can't guarantee).
    *
    * Scale shape: runs on a category-cardinality table (the caller
    * aggregates rows → weights first); the rank/deficit windows are
    * category-sized — exactly where a driver-sized window belongs.
    * Magnitude guard: B·w must stay inside Long.
    */
  def apportion(
      counts: DataFrame,
      keyCol: String,
      weightCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    import org.apache.spark.sql.expressions.Window
    val w = col(weightCol).cast("long")
    val tot = counts.agg(sum(w).as("__tot"))
    val base = counts.select(col(keyCol), w.as("__w"))
      .crossJoin(broadcast(tot))
      .withColumn("__floor", expr(s"($budget * __w) div __tot"))
      .withColumn("__rem", expr(s"($budget * __w) % __tot"))
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("__rem").desc, col(keyCol))
    base
      .withColumn("__deficit", lit(budget) - sum(col("__floor")).over(wAll))
      .withColumn("__rk", row_number().over(wRank))
      .select(col(keyCol), col("__w").as(weightCol),
        (col("__floor") + when(col("__rk") <= col("__deficit"), 1L).otherwise(0L))
          .as("alloc"))
  }

  /** Temperature-½ apportionment: [[apportion]] over √-damped weights —
    * the standard "temperature sampling" rebalance (UNIMAX-style) that
    * lifts low-resource sources without letting the head dominate, at
    * the one temperature (τ = 1/2) whose damping is EXACTLY computable
    * in integers: `⌊√w⌋` via IEEE-correctly-rounded sqrt, exact for
    * w < 2⁵⁰ (beyond that the double rounding of √ can cross an integer
    * boundary — guarded). Output: (key, weight, sqrt_weight, alloc),
    * Σ alloc = budget exactly.
    *
    * Scale shape: identical to [[apportion]] — category-sized windows
    * over a pre-aggregated weight table.
    */
  /** Deterministic popularity-ranked negative sampling for recommender /
    * contrastive training: for every observed (user, item) positive, `k`
    * pseudo-random negatives drawn uniformly from the item catalog by
    * rank — `neg_j = rank 1 + (md5(user‖item‖j) mod n_items)` — then
    * user-history negatives are anti-joined away (a drawn item the user
    * actually interacted with is NOT a negative; such draws are dropped,
    * so a pair can emit < k rows — auditable via `draw`). Pure function
    * of the data and k: resumable, engine-replayable, no RNG state.
    *
    * Scale shape: the item-rank table is catalog-sized (one count agg +
    * one catalog-sized window) and joins by dense rank — a hash join on
    * integers; the draw explode is k rows per positive (bounded fan-out,
    * map-side); the history anti-join is keyed on (user, item). Nothing
    * quadratic, no driver state.
    */
  def popularityNegatives(
      interactions: DataFrame,
      userCol: String,
      itemCol: String,
      k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val pos = interactions.select(col(userCol), col(itemCol)).distinct()
    // Catalog ranking by (popularity desc, item asc) via the two-phase
    // range-partitioned [[Normalize.denseIds]] (asc on −pop ≡ desc on
    // pop; item is the unique tiebreak after the groupBy) — item catalogs
    // run 1e8–1e9 in recsys corpora, so the rank assignment must not be a
    // single-partition global window.
    val itemRank = Normalize.denseIds(
      pos.groupBy(col(itemCol)).agg(count(lit(1)).as("__pop"))
        .withColumn("__negpop", -col("__pop")),
      "__negpop", itemCol, "__rank")
      .withColumn("__rank", col("__rank") + 1L)
      .drop("__negpop", "__pop")
    val nItems = itemRank.groupBy().agg(count(lit(1)).as("__n"))
    val draws = pos
      .crossJoin(broadcast(nItems))
      .select(col(userCol), col(itemCol), col("__n"),
        explode(sequence(lit(1), lit(k))).as("draw"))
      .withColumn("__hash",
        expr(s"conv(substring(md5(concat_ws('|', $userCol, $itemCol, draw)), 1, 8), 16, 10)")
          .cast("long"))
      .withColumn("__rank", lit(1L) + col("__hash") % col("__n"))
      .drop("__n", "__hash")
    draws
      .join(itemRank.select(col("__rank"), col(itemCol).as("neg_item")), Seq("__rank"))
      .drop("__rank")
      .join(pos.select(col(userCol), col(itemCol).as("neg_item"))
        .withColumn("__hit", lit(true)), Seq(userCol, "neg_item"), "left")
      .where(col("__hit").isNull)
      .select(col(userCol), col(itemCol), col("draw").cast("long").as("draw"),
        col("neg_item"))
  }

  /** Stratified k-fold assignment for cross-validation: within each
    * stratum, rows take folds round-robin in `md5(id)` order —
    * `fold = (rank − 1) mod k` — so every stratum's fold sizes differ by
    * at most one (exact balance, which hash-mod-k alone cannot promise)
    * and the assignment is a pure function of (id, stratum, k): stable
    * across runs, engines, and partitionings. The id must be unique.
    *
    * Scale shape: one window shuffle on the strata key (rank within
    * stratum), nothing else; parallelism is stratum-bounded like any
    * per-group ranking.
    */
  def stratifiedFolds(
      df: DataFrame,
      strataCols: Seq[String],
      idCol: String,
      k: Int): DataFrame = {
    require(strataCols.nonEmpty, "strataCols must be non-empty")
    require(k >= 2, s"k must be >= 2: $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("fold", (row_number().over(w) - 1).cast("long") % k)
  }

  def temperatureHalfApportion(
      counts: DataFrame,
      keyCol: String,
      weightCol: String,
      budget: Long): DataFrame = {
    val damped = counts.select(col(keyCol), col(weightCol).cast("long").as(weightCol))
      .withColumn("__sw", floor(sqrt(col(weightCol).cast("double"))).cast("long"))
    apportion(damped, keyCol, "__sw", budget)
      .withColumnRenamed("__sw", "sqrt_weight")
      .join(damped.select(col(keyCol), col(weightCol)), Seq(keyCol))
      .select(col(keyCol), col(weightCol), col("sqrt_weight"), col("alloc"))
  }

  /** Quality-ranked selection under a per-group budget: within each group,
    * rows are taken in `(orderCol DESC, md5(id))` order until the running
    * `weightCol` total passes the group's budget — the "fill the mix"
    * step that consumes [[apportion]]'s allocations. The first row to
    * cross the budget is INCLUDED (so every group with any rows and a
    * positive budget selects at least one — whole-row granularity;
    * callers wanting exact token counts truncate the boundary row
    * downstream). Emits kept rows with their running total.
    *
    * Scale shape: one hash shuffle on the group key feeds the running-sum
    * window; parallelism is group-bounded like any per-group ordered
    * scan. The budgets table is group-cardinality — broadcast.
    */
  def budgetFill(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      orderCol: String,
      weightCol: String,
      budgets: DataFrame,
      budgetKeyCol: String,
      budgetCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).desc, md5(col(idCol).cast("string")), col(idCol))
    val b = budgets.select(col(budgetKeyCol).as(groupCol), col(budgetCol).as("__budget"))
    df.join(broadcast(b), Seq(groupCol))
      .withColumn("__cum", sum(col(weightCol).cast("long")).over(w))
      .where(col("__cum") - col(weightCol).cast("long") < col("__budget"))
      .select(col(groupCol), col(idCol), col(orderCol), col(weightCol),
        col("__cum").as("cum_weight"))
  }

  def exactPerGroup(df: DataFrame, stratumCol: String, idCol: String, n: Int, saltBuckets: Int = 64): DataFrame = {
    require(n > 0, "n must be positive")
    require(saltBuckets > 0, "saltBuckets must be positive")
    import org.apache.spark.sql.expressions.Window
    val order = md5(col(idCol).cast("string"))
    val pre = Window
      .partitionBy(col(stratumCol), pmod(xxhash64(col(idCol)), lit(saltBuckets)))
      .orderBy(order)
    val fin = Window.partitionBy(col(stratumCol)).orderBy(order)
    df.withColumn("__prk", row_number().over(pre))
      .where(col("__prk") <= n)
      .withColumn("__rk", row_number().over(fin))
      .where(col("__rk") <= n)
      .drop("__prk", "__rk")
  }

  /** Duffield–Lund–Thorup PRIORITY SAMPLING: a weight-proportional
    * sample of `k` rows WITHOUT replacement that carries an unbiased
    * subset-sum estimator — the principled way to subsample a corpus
    * by token count (or bytes, or quality mass) and still estimate any
    * weight total from the sample alone. Each row gets priority
    * `q = (w · 2³²) div u` with `u` its md5-derived uniform on
    * [1, 2³²]; the top-k by priority are selected, and with `τ` the
    * (k+1)-th priority, `est_weight = max(w, τ)` satisfies
    * `E[Σ_selected est_weight] = Σ_population w` (Duffield et al.,
    * JACM 2007 — within the integer granularity of the scaled
    * uniforms). The "randomness" is the [[idBucket]] md5 contract, so
    * the sample is a pure function of the corpus: reruns, retries and
    * the DuckDB oracle all pick byte-identical rows.
    *
    * Weights must be in [1, 2³¹): the priority product is computed in
    * Long and `w < 2³¹` keeps `w · 2³²` under 2⁶³ (checked, fails
    * loudly with the culprit). Heavier "weights" (byte counts of huge
    * blobs) should be pre-scaled by the caller — the estimator is
    * scale-equivariant.
    *
    * `idCol` MUST be unique (the same contract [[SequencePack]]
    * documents): each row's uniform is md5(id), so duplicate ids get
    * perfectly correlated draws, breaking the estimator's
    * independence assumption and the without-replacement semantics.
    * A full-pass uniqueness assert would cost a groupBy shuffle of
    * every distinct id — as expensive as the sampling itself — so the
    * check here is the bounded one that catches the case where the
    * correlation actually bites: duplicate ids inside the selected
    * top-(k+1) fail loudly (k+1 rows, one agg row to the driver,
    * piggybacked on the threshold fetch).
    *
    * Scale shape: priority is map-only arithmetic; selection is ONE
    * global top-(k+1) (`TakeOrderedAndProject` — per-partition heaps of
    * k+1, merged once, never a full sort); the threshold crosses to the
    * driver as one row with a written justification. `k` is assumed
    * sample-sized (heaps hold k+1 rows); for k in the hundreds of
    * millions use [[quotaSample]]-style stratified passes instead.
    */
  /** Cumulative Poisson(1) CDF × 2³² (k = 0..7; the residual tail caps
    * draws at 8) — the shared contract between [[poissonBootstrap]] and
    * its oracle: a 32-bit md5 uniform u draws k = #{j : u ≥ cum(j)}.
    */
  val PoissonCum: Seq[Long] = Seq(1580030168L, 3160060337L, 3950075421L,
    4213413783L, 4279248373L, 4292415291L, 4294609777L, 4294923276L)

  /** POISSON BOOTSTRAP (the scalable bootstrap: each row enters
    * replicate r a Poisson(1) number of times instead of multinomial
    * resampling, so replicates build in ONE distributed pass with no
    * global coordination — Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): per (row, replicate) the
    * md5-derived 32-bit uniform draws k from [[PoissonCum]] (capped at
    * 8, cumulative-tail < 1e-5), and each replicate reports its
    * resampled row count and value sum — enough to bootstrap a CI for
    * any mean/total downstream. The uniform is the [[idBucket]] md5
    * contract keyed on (id, replicate): every rerun, retry and the
    * DuckDB oracle draw identical counts.
    *
    * `idCol` MUST be unique (the [[prioritySample]] contract): duplicate
    * ids draw identical Poisson counts in every replicate, correlating
    * rows the bootstrap assumes independent.
    *
    * Scale shape: a ×B map-only fan-out (the standard Poisson-bootstrap
    * cost) into a B-row map-side-combined aggregation — the shuffle
    * carries B rows per task regardless of input size. B is a
    * replicate count (32-ish), not data-sized.
    */
  def poissonBootstrap(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      replicates: Int = 32): DataFrame = {
    require(replicates >= 1, s"replicates must be >= 1: $replicates")
    // the ×B fan-out is CPU-bound map work (string build + md5 per
    // draw): spread the narrow input across the full parallelism first
    // (Spread is a no-op when the scan already has enough partitions)
    val drawn = graft.io.Spread.toDefaultParallelism(
      df.select(col(idCol).cast("string").as("__id"), col(valueCol).cast("long").as("__v")))
      .select(col("__id"), col("__v"),
        explode(sequence(lit(0L), lit(replicates.toLong - 1L))).as("replicate"))
      .withColumn("__u",
        graft.functions.TextFunctions.md5Prefix(
          concat_ws(":", col("__id"), col("replicate").cast("string")), 8))
      .withColumn("__k",
        // ascending fold leaves the LARGEST threshold outermost, so the
        // chain reads "k = highest j with u >= cum(j-1)"
        PoissonCum.zipWithIndex.foldLeft(lit(0L)) { case (acc, (t, i)) =>
          when(col("__u") >= t, lit(i + 1L)).otherwise(acc)
        })
    drawn.groupBy(col("replicate"))
      .agg(sum(col("__k")).as("n_rows"),
        sum(col("__k") * col("__v")).as("sum_value"))
  }

  def prioritySample(
      df: DataFrame,
      k: Int,
      weightCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(weightCol).cast("long").as("weight"))
      .where(col("weight") > 0)
    // bounded driver fetch (≤ 1 row): the Long-headroom contract above
    val over = base.where(col("weight") >= (1L << 31)).limit(1).collect()
    require(over.isEmpty,
      s"row ${over.headOption.map(_.getLong(0)).getOrElse(-1L)} has weight " +
        s"${over.headOption.map(_.getLong(1)).getOrElse(-1L)} >= 2^31 — pre-scale weights")
    val pri = base
      .withColumn("__u",
        graft.functions.TextFunctions.md5Prefix(col("id").cast("string"), 8) + 1L)
      .withColumn("priority", expr("(weight * 4294967296L) div __u"))
      .drop("__u")
    // top-(k+1) stays a DataFrame (distributed heap-merge); staged so
    // the threshold agg and the final selection execute it once
    val top = Staging.stage(
      pri.orderBy(col("priority").desc, col("id").asc).limit(k + 1))
    // ONE row to the driver: the (k+1)-th priority IS the estimator's
    // threshold — population ≤ k rows → τ = 0 → est_weight = weight
    // exactly (the sample is the population, estimator degenerate-exact).
    // countDistinct(id) rides the same row as the bounded duplicate
    // probe (see the idCol-uniqueness contract in the scaladoc).
    val r = top.agg(count(lit(1)), min(col("priority")),
      countDistinct(col("id"))).head()
    require(r.getLong(0) == r.getLong(2),
      s"prioritySample: duplicate $idCol values in the selected top-" +
        s"${k + 1} (${r.getLong(0)} rows, ${r.getLong(2)} distinct ids) — " +
        "idCol must be unique; duplicate ids draw correlated uniforms " +
        "and break the Duffield estimator")
    val tau = if (r.getLong(0) == k + 1L) r.getLong(1) else 0L
    top.orderBy(col("priority").desc, col("id").asc).limit(k)
      .withColumn("est_weight", greatest(col("weight"), lit(tau)))
  }

  /** Per-GROUP Duffield priority sampling: [[prioritySample]]'s
    * weight-proportional without-replacement draw and max(w, τ)
    * estimator, run independently inside every group — the
    * domain-balanced corpus subsample (k docs per source/language,
    * each group still carrying an unbiased weight-total estimator).
    * Same md5 uniform, same Long-headroom weight check, same GLOBAL
    * `idCol`-uniqueness contract (duplicate ids correlate draws across
    * and within groups alike).
    *
    * Scale shape: priorities are map-only; selection is one window
    * rank per group key — groups partition the shuffle, no global
    * sort. τ is the (k+1)-th priority WITHIN the group (0 when the
    * group is smaller: the sample is the group, estimator
    * degenerate-exact), carried by a max-over-group window instead of
    * any driver fetch.
    */
  def prioritySamplePerGroup(
      df: DataFrame,
      k: Int,
      weightCol: String,
      groupCol: String,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("group"),
      col(idCol).cast("long").as("id"),
      col(weightCol).cast("long").as("weight"))
      .where(col("weight") > 0)
    val over = base.where(col("weight") >= (1L << 31)).limit(1).collect()
    require(over.isEmpty,
      s"row ${over.headOption.map(_.getLong(1)).getOrElse(-1L)} has weight " +
        s"${over.headOption.map(_.getLong(2)).getOrElse(-1L)} >= 2^31 — pre-scale weights")
    val rankW = Window.partitionBy(col("group"))
      .orderBy(col("priority").desc, col("id").asc)
    val tauW = Window.partitionBy(col("group"))
    base
      .withColumn("__u",
        graft.functions.TextFunctions.md5Prefix(col("id").cast("string"), 8) + 1L)
      .withColumn("priority", expr("(weight * 4294967296L) div __u"))
      .withColumn("__rk", row_number().over(rankW))
      .where(col("__rk") <= k + 1)
      .withColumn("__tau",
        max(when(col("__rk") === k + 1, col("priority")).otherwise(lit(0L))).over(tauW))
      .where(col("__rk") <= k)
      .select(col("group"), col("id"), col("weight"), col("priority"),
        greatest(col("weight"), col("__tau")).as("est_weight"))
  }
}
