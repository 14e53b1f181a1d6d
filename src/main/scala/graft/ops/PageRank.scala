package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-point integer PageRank — graph centrality over an edge list,
  * companion to [[Components]] in the graph-resolution toolkit (e.g.
  * weighting near-duplicate clusters, ranking domains in a link graph
  * before corpus sampling).
  *
  * All arithmetic is INTEGER (ranks scaled by `scale`, per-edge
  * contributions floored): integer sums are associative-commutative
  * regardless of partitioning or merge order, so the result is exactly
  * reproducible across engines, partition counts and retries — float
  * PageRank differs in the last ulps between runs, which poisons
  * hash-based regression gates. The cost is a deterministic rounding-down
  * of ≤ 1/scale per edge per iteration; with scale = 10⁶ that is noise
  * for any ranking use.
  *
  * Scale shape per iteration: one equi-join of the (static) out-degree
  * edge list with the current ranks on the source id + one aggregation on
  * the destination id — both shuffle on node ids, exactly like any wide
  * join; ranks are staged every few rounds ([[Staging.stage]], caller-
  * selectable fault tolerance via `reliable`) so the plan stays flat
  * instead of growing a deep lineage. No driver-side state; edge
  * degrees are computed once and reused.
  *
  * Simplification (documented contract): dangling-node mass is NOT
  * redistributed — a node with no out-edges simply absorbs rank. Callers
  * wanting classic PageRank normalization should add reverse edges or a
  * sink node. Iteration count is a parameter (fixed-horizon, not
  * convergence-tested) so the output is a pure function of the input.
  */
object PageRank {

  /** (id, rank) after `iterations` rounds of
    * `rank = (1-d)·scale + Σ_incoming ⌊d · rank_src / outdeg_src⌋`,
    * with d = dampingNum/100, rank₀ = scale.
    */
  def ranksFixedPoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000L,
      dampingNum: Long = 85L,
      reliable: Boolean = false): DataFrame = {
    checkArgs(iterations, scale, dampingNum)
    val fx = new Fixpoint("ranksFixedPoint", reliable)
    // Materialize the (possibly expensive) upstream edge computation
    // once — nodes, degrees and the degree-joined edge list all derive
    // from it, and without this each derivation re-runs the caller's
    // whole edge-building plan. Posture is caller-selectable
    // ([[Staging.stage]]): `reliable = true` keeps lineage so a lost
    // executor recomputes instead of failing — the preemptible-cluster
    // posture; the loop below is integer-exact, so recompute reproduces
    // every partition bit-identically.
    val e = fx.stage(
      edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d")))
    iterate(fx, fx.stage(nodeIds(e), Seq("id")), e, count(lit(1)).as("outdeg"),
      byOutDegree(dampingNum), lit(_), scale, dampingNum, iterations)
  }

  /** Personalized (topic-sensitive) PageRank: identical fixed-point loop,
    * but the teleport term lands ONLY on the `seeds` — so rank mass
    * concentrates around the seed neighborhood and the output reads as
    * "proximity to the seeds", the seed-expansion primitive behind
    * crawl-frontier prioritization and "more like these" corpus sampling.
    * Convention (documented, part of the contract): each seed receives
    * the FULL per-node teleport `⌊scale·(100−d)/100⌋` rather than a
    * 1/|seeds| share — keeping the arithmetic integer-exact; ranks are
    * comparable within a run, as any PPR use wants. Non-seed rank₀ = 0,
    * seed rank₀ = scale.
    *
    * Scale shape: exactly [[ranksFixedPoint]] — cached edge layout, per
    * round one narrow rank join + one contribution aggregation; the seed
    * flag is a broadcast join onto the (cached) node list, applied once.
    */
  def personalizedFixedPoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int,
      scale: Long = 1000000L,
      dampingNum: Long = 85L,
      reliable: Boolean = false): DataFrame = {
    checkArgs(iterations, scale, dampingNum)
    val fx = new Fixpoint("personalizedFixedPoint", reliable)
    val e = fx.stage(
      edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d")))
    val seedFlag = seeds.select(col(seedCol).cast("long").as("id"))
      .distinct().withColumn("__seed", lit(true))
    val nodes = fx.stage(nodeIds(e)
      .join(broadcast(seedFlag), Seq("id"), "left")
      .withColumn("__seed", coalesce(col("__seed"), lit(false))), Seq("id"))
    iterate(fx, nodes, e, count(lit(1)).as("outdeg"), byOutDegree(dampingNum),
      v => when(col("__seed"), lit(v)).otherwise(lit(0L)), scale, dampingNum, iterations)
  }

  /** One iteration's incoming-contribution aggregation — split out so the
    * plan-shape suite can assert the cached edge layout is joined with NO
    * edge-side exchange (the scale contract of the whole loop). Build
    * side = ranks (one narrow row per node); the hint pins the
    * shuffled-hash strategy where checkpointed stats can't guide it.
    */
  private[graft] def contributions(
      withDeg: DataFrame,
      ranks: DataFrame,
      dampingNum: Long): DataFrame =
    contributions(withDeg, ranks, byOutDegree(dampingNum))

  private def byOutDegree(dampingNum: Long): String = s"(rank * $dampingNum) div (100 * outdeg)"

  private def contributions(edges: DataFrame, ranks: DataFrame, contrib: String): DataFrame =
    edges.join(ranks.hint("shuffle_hash"), col("s") === col("id"))
      .select(col("d").as("id"), expr(contrib).as("c"))
      .groupBy("id").agg(sum("c").as("c"))

  /** WEIGHTED PageRank: [[ranksFixedPoint]]'s loop with integer edge
    * weights — a node's rank splits proportionally over its out-weights,
    * `contribution = ⌊d · rank · w / (100 · wsum_src)⌋`. The link-graph
    * ranking when edges carry multiplicities (co-order counts, citation
    * counts, dedup-cluster sizes) instead of presence bits. Duplicate
    * (src, dst) rows fold by SUMMING weights upfront, so a multigraph
    * input ranks identically to its weighted-simple-graph collapse;
    * weights must be ≥ 1 (probed with a bounded limit-1 fetch, the
    * [[Paths.weightedSssp]] contract). The per-edge product
    * rank·d·w needs more than 64 bits once rank mass meets large
    * weights, so it is computed in decimal(38,0) with integral div —
    * same overflow posture as [[Ngrams.skipGramLift]]. Dangling
    * contract, staging cadence and scale shape are [[ranksFixedPoint]]'s
    * (the weight fold rides the one degree aggregation).
    */
  def weightedRanksFixedPoint(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int,
      scale: Long = 1000000L,
      dampingNum: Long = 85L,
      reliable: Boolean = false): DataFrame = {
    checkArgs(iterations, scale, dampingNum)
    val fx = new Fixpoint("weightedRanksFixedPoint", reliable)
    val raw = edges.select(col(srcCol).cast("long").as("s"),
      col(dstCol).cast("long").as("d"), col(weightCol).cast("long").as("w"))
    // The weight-quality probe RIDES the weight-fold aggregation (min
    // weight + null census per folded edge) instead of scanning the raw
    // edge plan separately — a standalone limit-1 probe would execute
    // the caller's whole upstream join once just to check signs, then
    // staging would execute it again.
    val eAll = fx.stage(
      raw.groupBy(col("s"), col("d")).agg(sum(col("w")).as("w"),
        min(col("w")).as("__mn"),
        (count(lit(1)) - count(col("w"))).as("__nn")))
    // ONE tiny global-stats aggregation on the staged leaf (r18) carries
    // the weight-quality verdict AND the max weight the precision probe
    // below needs — previously a limit-1 filter job plus a separate
    // max(w) job. The culprit row is fetched only on the failure path.
    val st = eAll.agg(
      coalesce(min(col("__mn")), lit(1L)).as("mn"),
      coalesce(sum(col("__nn")), lit(0L)).as("nn"),
      coalesce(max(col("w")), lit(1L)).as("mw")).head()
    if (st.getLong(0) <= 0L || st.getLong(1) > 0L) {
      val bad = eAll.where(col("__mn") <= 0L || col("__nn") > 0L).limit(1).collect()
      require(bad.isEmpty,
        s"weightedRanksFixedPoint: non-positive or null weight on edge ${bad.headOption.map(r => (r.get(0), r.get(1))).getOrElse("")} — weights must be >= 1")
    }
    val e = eAll.select(col("s"), col("d"), col("w"))
    val nodes = fx.stage(nodeIds(e), Seq("id"))
    // Adaptive precision: total rank mass is invariant-bounded by
    // n·scale (teleport injects n·(1−d)·scale per round, damping keeps
    // ≤ d of the rest), so the per-edge product rank·d·w is bounded by
    // n·scale·d·maxW. n comes from one bounded count on the staged node
    // leaf; maxW rode the weight-stats aggregation above (r18 — no
    // separate max(w) job). Take the codegen'd Long path when the bound
    // clears 2^62 — decimal(38,0) otherwise (the correctness floor; same
    // overflow posture as skipGramLift). Identical values either way:
    // exact integer floor division on both paths.
    val longSafe =
      BigInt(nodes.count()) * scale * dampingNum.max(1L) * st.getLong(2) < BigInt(1L << 62)
    iterate(fx, nodes, e, sum(col("w")).as("wsum"),
      if (longSafe) s"(rank * $dampingNum * w) div (100 * wsum)"
      else s"cast((cast(rank as decimal(38,0)) * $dampingNum * w) div (100 * cast(wsum as decimal(38,0))) as bigint)",
      lit(_), scale, dampingNum, iterations)
  }

  private def checkArgs(iterations: Int, scale: Long, dampingNum: Long): Unit = {
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    require(scale % 100 == 0, s"scale must be a multiple of 100 for an exact teleport term: $scale")
    require(dampingNum >= 0 && dampingNum <= 100, s"dampingNum must be in [0,100]: $dampingNum")
  }

  /** Every endpoint of the staged edge list `e`, once. */
  private def nodeIds(e: DataFrame): DataFrame =
    e.select(col("s").as("id")).union(e.select(col("d").as("id"))).distinct()

  /** The loop all three variants run: `iterations` rounds of
    * `rank = at(teleport) + Σ_incoming contrib` from `rank₀ = at(scale)`,
    * over the staged node table `nodes` (`id`, plus whatever `at` reads)
    * and the staged edge list `e` (`s`, `d`, …). `contrib` reads the
    * source's `rank` and its aggregate `norm` over its out-edges; `at(v)`
    * is what a node receives of a per-node amount `v`.
    */
  private def iterate(fx: Fixpoint, nodes: DataFrame, e: DataFrame, norm: Column,
      contrib: String, at: Long => Column, scale: Long, dampingNum: Long,
      iterations: Int): DataFrame = {
    val teleport = at(scale * (100 - dampingNum) / 100)
    // Partition the loop-invariant sides ONCE and stage them with a
    // DECLARED layout ([[Staging.stageHash]], r18). The r17 shape
    // (`repartition(p, key).cache()`) intended exactly this, but under
    // AQE both cache and checkpoint boundaries REPORT UnknownPartitioning
    // at planning time (the cached plan is an AdaptiveSparkPlanExec), so
    // every consumer re-exchanged anyway — the before-plan
    // (plans/r18/q69_pagerank_before_stages) shows the full edge list
    // re-shuffled once PER ITERATION (Exchange over InMemoryTableScan ×3)
    // and nodes ×4. stageHash pins hash(key, defaultParallelism)
    // physically (AQE-exempt explicit repartition) and re-attaches the
    // partitioning to the staged leaf, so each iteration exchanges only
    // the contribution aggregation — the irreducible PageRank shuffle.
    // ONE explicit exchange also feeds the normalizer aggregation AND
    // its join (guide §2.4 "share one exchange"): the previous shape
    // shuffled the edge list for the join, the partial-agged degrees for
    // `deg`, and the joined frame again for the layout pin.
    val eP = e.repartition(e.sparkSession.sparkContext.defaultParallelism, col("s"))
    val withNorm = fx.stage(eP.join(eP.groupBy("s").agg(norm), "s"), Seq("s"))
    val (ranks, _) = fx.loop(nodes.select(col("id"), at(scale).as("rank")), iterations,
        Fixpoint.Truncate) { (ranks, i) =>
      val next = nodes.join(contributions(withNorm, ranks, contrib).hint("shuffle_hash"),
        Seq("id"), "left")
        .select(col("id"), (teleport + coalesce(col("c"), lit(0L))).as("rank"))
      // Rank lineage grows LINEARLY (each iteration references the prior
      // ranks exactly once), so staging every iteration buys nothing
      // structurally while costing one materialization each round. Stage
      // every 4th round and always on the last. Plan depth per posture:
      // localCheckpoint and the reliablePin checkpoint() truncate to a
      // leaf; the lineage-keeping reliable persist leaves the analyzed
      // tree linear in rounds (execution stays flat — cache substitution
      // plans each persisted subtree as a leaf; see [[Staging]]).
      (if (i == iterations || i % 4 == 0) fx.stage(next) else next, true)
    }
    fx.finish(ranks)
  }
}
