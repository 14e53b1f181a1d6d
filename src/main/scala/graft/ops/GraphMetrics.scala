package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected pair list — the graph-density
  * metric that complements [[Components]] (who is connected) and
  * [[PageRank]] (who is central): how CLUSTERED the neighborhood is.
  * On a near-duplicate candidate graph, triangle-rich nodes are template
  * families (every member pairs with every other); on an entity
  * co-occurrence graph, triangles expose tightly-coupled groups.
  *
  * Algorithm: degree-ordered orientation (the "compact-forward" /
  * node-iterator++ refinement). Each undirected edge is oriented from its
  * lower-(degree, id) endpoint to its higher one; wedges are built only
  * around each triangle's LOWEST-rank corner (e₁(a→b) ⋈ e₂(a→c) with
  * rank(b) < rank(c)) and closed by the oriented edge b→c. Each triangle
  * materializes exactly once, and — the point of the ordering — the wedge
  * intermediate is Σ_v C(deg⁺(v), 2) where out-degrees under the degree
  * orientation are O(√m), giving the classic O(m^{3/2}) total bound even
  * on power-law graphs (a raw-id orientation leaves hub out-degrees
  * unbounded and blows up at Σ deg(hub)²). Three hash joins on node ids,
  * no driver state.
  */
object GraphMetrics {

  /** Canonical undirected edge set (u < v, long ids): direction,
    * duplicates, self-loops and nulls cleaned — the shared front door of
    * every graph op here (and of [[Components]], which carries its own
    * copy to stay self-contained).
    */
  private def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .distinct()

  /** Both directions of a canonical (u < v) edge list as (src, dst), by
    * EXPLODING each row instead of a union-of-swap (r18): the union's two
    * branches each recompute the full upstream subtree — for
    * [[canonicalEdges]] input that is the caller's pair-build plus a
    * distinct, run twice inside whatever staging job consumes the result
    * (no exchange reuse fires across union branches). The explode emits
    * the identical row multiset from ONE computation; u ≠ v and (u, v)
    * distinct make the result duplicate-free by construction.
    */
  private def symmetrize(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))

  /** Per-node triangle participation: (id, n_triangles) for every node in
    * at least one triangle. Input direction/self-loops/duplicates are
    * cleaned here; ids must be numeric.
    */
  def nodeTriangles(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id"): DataFrame =
    triangles(canonicalEdges(pairs, aCol, bCol))._1
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))

  /** Each triangle of the canonical edge set exactly once, as (a, b, c)
    * in low→high (deg, id) orientation order — the shared enumeration
    * kernel of [[nodeTriangles]], [[localClustering]]'s counts and
    * [[kTruss]]'s per-round support.
    *
    * Undirected degree joins back onto both endpoints (two shuffles on
    * node id), which buys the O(√m)-bounded oriented out-degree: every
    * edge points low-(deg,id) → high-(deg,id), so the wedge self-join's
    * fan-out per node is its oriented out-degree, never a hub's full
    * degree. `oriented` feeds three join sides; persist (lazy,
    * fault-tolerant — recomputed from lineage on executor loss) rather
    * than an eager localCheckpoint. The persisted handle is RETURNED so
    * per-round callers ([[kTruss]]) can unpersist it once the round's
    * output is materialized — the CacheManager holds a strong reference
    * otherwise, so "wait for GC" would accumulate one cached edge list
    * per round. One-shot callers ([[nodeTriangles]]) leave it cached:
    * the returned plan still references it.
    */
  private def triangles(e: DataFrame): (DataFrame, DataFrame) = {
    // explode, not union-of-selects: one pass over e (and one compute of
    // its upstream plan) instead of two (r18)
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = withDeg.select(
      when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
        struct(col("u").as("s"), col("v").as("d"), col("dv").as("dd")))
        .otherwise(struct(col("v").as("s"), col("u").as("d"), col("du").as("dd"))).as("o"))
      .select(col("o.s").as("src"), col("o.d").as("dst"), col("o.dd").as("dstDeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = oriented.alias("e1")
      .join(oriented.alias("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.dstDeg"), col("e1.dst")) < struct(col("e2.dstDeg"), col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    (tri, oriented)
  }

  /** Synchronous mode-based label propagation — the lightweight community
    * detector: after `rounds` rounds, densely connected neighborhoods
    * converge onto shared labels, without the full contraction machinery
    * of [[Components]] (LPA labels ≠ connected components: a bridge node
    * adopts whichever side dominates its neighborhood).
    *
    * Round semantics (fully deterministic, partitioning-independent):
    * every node simultaneously adopts the most frequent label among its
    * NEIGHBORS, ties broken toward the smallest label; labels start as
    * the node's own id. Integer counts + a total tie order make the
    * result a pure function of the edge set — no RNG, no update-order
    * dependence (the classic async formulation is update-order-sensitive,
    * which would poison cross-engine checks).
    *
    * Scale shape per round: one join of the (cached, layout-pinned)
    * symmetrized edge list with the narrow labels table + two
    * aggregations on node ids — the same per-round cost model as
    * [[PageRank]], with the edge list never re-shuffling after setup.
    */
  def labelPropagation(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      rounds: Int = 2): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    // Declared-layout staging (r18): the previous `repartition(p,
    // dst).cache()` intended a loop-invariant dst-hashed layout, but
    // under AQE a cache boundary reports UnknownPartitioning at planning
    // time (the q69 finding, [[Staging.stageHash]]), so every round
    // re-exchanged the full edge list anyway. stageHash pins the layout
    // physically AND declares it on the staged leaf; the explode
    // symmetrize builds the canonical edge set once, not once per union
    // branch.
    val fx = new Fixpoint("labelPropagation")
    val sym = fx.stage(symmetrize(canonicalEdges(pairs, aCol, bCol)), Seq("dst"))
    val labels0 = fx.stage(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    val (labels, _) = fx.loop(labels0, rounds, Fixpoint.Truncate) { (labels, i) =>
      // Neighbor-label tally: join on the label-carrier side (dst), so
      // the cached dst-hashed edge layout is reused every round and only
      // the narrow labels table moves.
      val tally = sym.join(labels.hint("shuffle_hash"), col("dst") === col("id"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
      // argmax by (count desc, label asc) via struct max: among equal
      // counts, the largest negated label is the smallest label.
      val next = tally
        .groupBy(col("src"))
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("id"), (-col("m.nl")).as("label"))
      // Label lineage is linear (one reference per round) — same
      // checkpoint cadence rationale as [[PageRank.ranksFixedPoint]]:
      // truncate every 4th round and on the last, skip the eager job
      // otherwise.
      (if (i == rounds || i % 4 == 0) fx.stage(next) else next, true)
    }
    labels
  }

  /** Exact 2-hop neighborhood size per node: (id, n_1hop, n_2hop) where
    * n_2hop counts DISTINCT nodes reachable in ≤2 hops (self excluded) —
    * the local-reach metric behind influence scoring and crawl frontier
    * sizing, and the exact quantity the degeneracy of a near-dup graph
    * shows up in first (template families have 2-hop ≈ 1-hop ≈ family
    * size).
    *
    * Scale shape: one self-join of the symmetrized edge list on the
    * middle node builds 2-hop paths; a distinct + count on (src, dst)
    * collapses them. Unbounded, the wedge intermediate is Σ_v deg(v)² —
    * the classic power-law blow-up — so `maxDegree` caps the SECOND-hop
    * fan-out per middle node: each middle node expands to at most its
    * `maxDegree` smallest neighbor ids (a deterministic truncation, so
    * results are engine-reproducible), bounding the wedge count at
    * 2·m·maxDegree. n_1hop is always exact; n_2hop is exact iff no node
    * on a counted path has degree > maxDegree, else a documented
    * undercount through hubs. `Int.MaxValue` disables the cap.
    */
  def neighborhoodSize(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = Int.MaxValue): DataFrame = {
    require(maxDegree >= 1, s"maxDegree must be >= 1: $maxDegree")
    // Materialize the adjacency once: it feeds BOTH sides of the wedge
    // join, the union and the 1-hop count — without this the caller's
    // (possibly expensive) pair-building plan re-runs four times.
    //
    // r18 refinements over the r17 explicit-repartition fix (which pinned
    // core-count parallelism because AQE byte-coalesced the wedge join to
    // 1-2 CPU-starved partitions — profiled 3.7-3.8 s 2-task stages in
    // q89/q266): (a) the staged leaf now DECLARES hash(src, p)
    // ([[Staging.stageHash]]), so the hub-truncation window, the wedge
    // join's mid side and the n_1hop aggregation all reuse one exchange
    // instead of three; (b) the symmetrize explodes instead of
    // union-of-swap (one canonicalEdges pass, not two); (c) the old
    // `sym.distinct()` is dropped — canonical (u < v, distinct) edges
    // symmetrize to a duplicate-free set by construction, so the distinct
    // was a pure edge-scale exchange + agg.
    val oneHop = Staging.stageHash(
      symmetrize(canonicalEdges(pairs, aCol, bCol)), Seq("src"))
    val part = pairs.sparkSession.sparkContext.defaultParallelism
    val mid =
      if (maxDegree == Int.MaxValue) oneHop
      else {
        // Deterministic hub truncation: keep each src's maxDegree smallest
        // dst ids. The window reuses the staged hash(src) layout — no
        // extra shuffle — the price of turning an unbounded Σdeg² join
        // into a bounded one is one per-partition sort.
        val w = org.apache.spark.sql.expressions.Window.partitionBy("src").orderBy("dst")
        oneHop.withColumn("rn", row_number().over(w))
          .where(col("rn") <= maxDegree).drop("rn")
      }
    val twoHop = oneHop.repartition(part, col("dst")).alias("p")
      .join(mid.alias("q"), col("p.dst") === col("q.src"))
      .select(col("p.src").as("src"), col("q.dst").as("dst"))
      .where(col("src") =!= col("dst"))
      .union(oneHop)
      .distinct()
    oneHop.groupBy("src").agg(count(lit(1)).as("n_1hop"))
      .join(twoHop.groupBy("src").agg(count(lit(1)).as("n_2hop")), Seq("src"))
      .withColumnRenamed("src", "id")
  }

  /** Bipartite projection with a degree cap: from (left, right)
    * engagement facts, the right-right co-engagement graph —
    * (a, b, weight = #lefts engaging both) for a < b — the item-item /
    * doc-doc graph builder behind co-occurrence recommenders and
    * content-graph clustering. The wedge blow-up lives on the LEFT
    * degree (a left touching k rights emits C(k,2) pairs: Σ deg²), so
    * hub lefts are deterministically truncated to their `maxDegree`
    * smallest rights BEFORE pairing — the [[neighborhoodSize]] hub
    * lesson, made mandatory here because bipartite hubs (a crawler
    * account, a catalog-wide bot) are the rule, not the edge case.
    * Truncation is part of the operator's contract: results are a pure
    * function of (facts, maxDegree).
    *
    * Scale shape: distinct (left, right) → per-left cap (one window
    * shuffle) → self-join on left with a < b — the intermediate is
    * ≤ Σ min(deg, maxDegree)² — → map-side-combined count per pair.
    */
  def bipartiteProject(
      facts: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    import org.apache.spark.sql.expressions.Window
    // left is only ever a join key — any type works; right ids are the
    // output node ids and normalize to long
    val lr = facts
      .select(col(leftCol).as("l"), col(rightCol).cast("long").as("r"))
      .where(col("l").isNotNull && col("r").isNotNull)
      .distinct()
    val w = Window.partitionBy("l").orderBy("r")
    val capped = lr.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxDegree).drop("__rn")
    capped.alias("a").hint("shuffle_hash")
      .join(capped.alias("b").hint("shuffle_hash"),
        col("a.l") === col("b.l") && col("a.r") < col("b.r"))
      .groupBy(col("a.r").as("a_id"), col("b.r").as("b_id"))
      .agg(count(lit(1)).as("weight"))
  }

  /** k-core: the maximal subgraph where every node keeps degree ≥ k —
    * the standard "dense kernel" extractor (a near-duplicate candidate
    * graph's k-core is its template families; the periphery is noise
    * pairs). Computed by the classic peel: repeatedly delete nodes of
    * degree < k until none remain. Output: (id, core_degree) for core
    * members — degree WITHIN the core, ≥ k by construction.
    *
    * The peel order never affects the result (the k-core is unique), so
    * synchronous whole-rounds — delete ALL under-degree nodes each pass —
    * are safe and give the fewest rounds. Per round: one degree
    * aggregation (map-side combined; shuffle is node-sized) and one
    * semi-join of edges against surviving nodes (hash join on node id).
    * Nothing driver-side except the per-round convergence scalar — edge
    * count, a single Long observed on the staging job — and rounds are
    * capped: real graphs peel in few rounds (degeneracy ordering depth),
    * while a path peels one layer per round. A peel cut short by `maxRounds` is not the k-core (it
    * keeps nodes a later round would delete), so exhausting the bound
    * throws `IllegalStateException`; raise it for deep cascades. Each
    * round is staged ([[Fixpoint.peel]]): the loop's plan would
    * otherwise double per round.
    */
  def kCore(
      pairs: DataFrame,
      k: Int,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val core = new Fixpoint("kCore").peel(symmetrize(canonicalEdges(pairs, aCol, bCol)),
      maxRounds, Fixpoint.Fail(s"maxRounds=$maxRounds"), count(lit(1))) { sym =>
      val keep = sym.groupBy("src").agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select(col("src").as("__keep"))
      sym.join(keep, col("src") === col("__keep"), "left_semi")
        .join(keep, col("dst") === col("__keep"), "left_semi")
    }
    core.groupBy("src").agg(count(lit(1)).as("core_degree"))
      .where(col("core_degree") >= k)
      .withColumnRenamed("src", "id")
  }

  /** Local clustering coefficient per node, in exact ppm:
    * `clustering_ppm = ⌊10⁶ · 2·triangles(v) / (deg(v)·(deg(v)−1))⌋` —
    * how close each node's neighborhood is to a clique. The community-
    * cohesion signal that separates a hub wired into one dense topic
    * (high) from a hub bridging unrelated ones (low); degree-1 nodes
    * emit 0 (no pair of neighbors to close). Emits every node of the
    * cleaned graph: (id, deg, n_triangles, clustering_ppm).
    *
    * Scale shape: [[nodeTriangles]]' degree-ordered wedge bound does the
    * heavy lifting; this adds one degree aggregation and a node-keyed
    * left join of the (sparse) triangle counts onto it — both shuffles
    * carry (id, count) pairs only.
    */
  def localClustering(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val e = canonicalEdges(pairs, aCol, bCol)
    // explode, not union-of-selects: one canonicalEdges pass, not two (r18)
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg
      .join(nodeTriangles(pairs, aCol, bCol), Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("(1000000 * 2 * coalesce(n_triangles, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("clustering_ppm"))
  }

  /** Degree assortativity of the undirected graph — ONE number for "do
    * hubs attach to hubs" (r > 0, social-network-like) or "hubs attach
    * to leaves" (r < 0, hub-and-spoke / star-dedup-cluster-like): the
    * Pearson correlation of the two endpoint degrees over the edge
    * list. The symmetrized form avoids any square root — with each
    * undirected edge contributing its degree pair once, both marginals
    * share the same first and second moments, so
    * `r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)` is a plain
    * integer ratio, emitted with its exact numerator/denominator plus
    * truncated-ppm. One row out: (m, r_num, r_den, r_ppm; r_ppm NULL
    * when all degrees are equal, den = 0).
    *
    * Scale shape: degree aggregation + two hash joins of the edge list
    * against the node-sized degree table, then a single global
    * suff-stat aggregate (map-side combined, one row). Overflow:
    * |num| ≤ 4·M²·d_max² — fine in 64-bit through M·d_max < 1.5×10⁹
    * (e.g. 10⁸ edges with hubs to 15); beyond that pre-cap hubs or
    * bucket degrees first.
    */
  def degreeAssortativity(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id"): DataFrame = {
    val e = canonicalEdges(pairs, aCol, bCol)
    // explode, not union-of-selects: one canonicalEdges pass, not two (r18)
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    e.join(deg.select(col("id").as("u"), col("d").as("__ju")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("d").as("__kv")), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(col("__ju") * col("__kv")).as("__sjk"),
        sum(col("__ju") + col("__kv")).as("__sj"),
        sum(col("__ju") * col("__ju") + col("__kv") * col("__kv")).as("__sq"))
      .select(col("m"),
        (lit(4L) * col("m") * col("__sjk") - col("__sj") * col("__sj")).as("r_num"),
        (lit(2L) * col("m") * col("__sq") - col("__sj") * col("__sj")).as("r_den"))
      .withColumn("r_ppm",
        when(col("r_den") === 0, lit(null).cast("long"))
          .otherwise(expr("(1000000 * r_num) div r_den").cast("long")))
  }

  /** Common-neighbor Jaccard link scoring: for every node pair sharing at
    * least one neighbor, `|N(u)∩N(v)| / |N(u)∪N(v)|` in exact ppm plus
    * whether the pair is already an edge — the classic link-prediction /
    * missing-edge candidate ranking (score high + not an edge = predict),
    * which doubles as a same-cluster affinity score in near-dup graphs.
    *
    * Scale shape: candidates come from a wedge join through the middle
    * node — never an all-pairs cross — so the intermediate is Σ_w deg(w)²
    * bounded by the same deterministic `maxDegree` smallest-ids hub
    * truncation as [[neighborhoodSize]] (results are a pure function of
    * (graph, maxDegree); common counts through super-hubs undercount, by
    * contract). Degrees in the denominator are always EXACT — the cap
    * bounds candidate generation, not the union size. Two node-sized
    * degree joins and one edge-set anti-ish left join finish the job.
    */
  /** Rich-club coefficient φ(k) for a ladder of degree thresholds: among
    * nodes of degree > k, the share of possible edges actually present —
    * "do the hubs form their own clique" (φ rising with k = elite
    * wiring; the fraud-ring / botnet-mesh shape next to
    * [[degreeAssortativity]]'s single number). Exact ppm per threshold;
    * thresholds with fewer than two qualifying nodes emit NULL.
    *
    * Scale shape: one degree agg, then per threshold an edge-list
    * semi-filter through two node-sized degree joins and a count — the
    * threshold ladder multiplies the EDGE scan, not any pairwise
    * product; possible-pair counts are arithmetic on the node count.
    */
  def richClub(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      thresholds: Seq[Long] = Seq(1L, 2L, 4L, 8L, 16L)): DataFrame = {
    require(thresholds.nonEmpty && thresholds.distinct == thresholds,
      s"thresholds must be distinct: $thresholds")
    val sess = pairs.sparkSession
    import sess.implicits._
    val e = canonicalEdges(pairs, aCol, bCol)
    // explode, not union-of-selects: one canonicalEdges pass, not two (r18)
    val deg = e.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val th = thresholds.toDF("k")
    val nodes = deg.crossJoin(broadcast(th))
      .where(col("__d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_rich"))
    val edges = e
      .join(deg.select(col("id").as("u"), col("__d").as("__du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("__d").as("__dv")), Seq("v"))
      .crossJoin(broadcast(th))
      .where(col("__du") > col("k") && col("__dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_edges"))
    nodes.join(edges, Seq("k"), "left")
      .select(col("k"), col("n_rich"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_ppm",
        when(col("n_rich") < 2, lit(null).cast("long"))
          .otherwise(expr("(1000000L * 2L * n_edges) div (n_rich * (n_rich - 1))")))
  }

  /** Harmonic centrality truncated at radius 2, in exact ppm:
    * `Σ_{v≠u, d(u,v)≤2} 1/d(u,v) = n_1hop + (n_2hop − n_1hop)/2` — the
    * reach-weighted influence score that, unlike closeness, is defined
    * on disconnected graphs. Exactly [[neighborhoodSize]]'s counts
    * (including its `maxDegree` hub-truncation contract on the 2-hop
    * leg) finished with integer arithmetic — 10⁶·n1 + 5·10⁵·(n2−n1).
    */
  def harmonicCentrality2(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = Int.MaxValue): DataFrame =
    neighborhoodSize(pairs, aCol, bCol, maxDegree)
      .select(col("id"), col("n_1hop"), col("n_2hop"),
        (lit(1000000L) * col("n_1hop")
          + lit(500000L) * (col("n_2hop") - col("n_1hop"))).as("harmonic2_ppm"))

  /** Exact BFS closeness centrality from a bounded SOURCE set:
    * per source, the number of nodes reached within `maxDepth` hops, the
    * sum of their shortest-path distances, and integer closeness
    * `((n_reached − 1)·10⁶) div sum_dist` — the other standard
    * centrality axis next to [[PageRank]] (influence flow) and
    * [[harmonicCentrality2]] (2-hop approximation over ALL nodes): here
    * the DISTANCES are exact and the source set is sampled instead.
    * That trade is the scalable one — all-pairs BFS is O(n·m) and off
    * the table at any scale, while k sources cost k parallel BFS
    * frontiers sharing each round's single edge join.
    *
    * State is the visited table (source, node, dist) — bounded by
    * |sources| × reach, which is why `sources` is an explicit DataFrame:
    * the caller picks a deterministic bounded set (md5 top-k, modular
    * slice), keeping state linear in the graph for fixed k. Per round:
    * one equi-join of the frontier with the (staged) symmetric edge
    * list + one min-merge aggregation with visited ([[Fixpoint.relax]])
    * — frontier BFS, O(diameter) rounds, nothing collects. Unreachable
    * pairs are simply absent (closeness is over the reached set, the
    * standard disconnected-graph convention — Wasserman-Faust variants
    * can be derived from the returned counts).
    */
  def multiSourceCloseness(
      pairs: DataFrame,
      sources: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      sourceCol: String = "id",
      maxDepth: Int = 10): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val fx = new Fixpoint("multiSourceCloseness")
    val sym = fx.stage(symmetrize(canonicalEdges(pairs, aCol, bCol)))
    // min(dist) keeps the first-reach depth: round r's frontier sits at
    // depth r − 1, so its candidates arrive at depth r, beyond every dist
    // already in the table
    val (visited, _) = fx.relax(sources
        .select(col(sourceCol).cast("long").as("source")).distinct()
        .select(col("source"), col("source").as("node"), lit(0L).as("dist")),
      Seq("source", "node"), "dist", maxDepth, Fixpoint.Truncate) { frontier =>
      frontier.join(sym, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), (col("dist") + 1L).as("dist"))
    }
    visited.groupBy("source")
      .agg((count(lit(1)) - 1L).as("n_reached"), sum(col("dist")).as("sum_dist"))
      .select(col("source"), col("n_reached"), col("sum_dist"),
        when(col("sum_dist") > 0L,
          expr("(n_reached * 1000000L) div sum_dist")).otherwise(lit(0L))
          .as("closeness_ppm"))
  }

  /** TIME-RESPECTING reachability (temporal BFS): from each source, the
    * earliest arrival time at every node reachable through a path whose
    * edge times never decrease — `(u →t v)` is usable only when
    * `t ≥ arrival(u)`. The influence/contact-chain primitive a static
    * reachability gets WRONG on event data: an edge that fired before
    * you arrived cannot carry you ("A met B in March, B met C in
    * January" is not a transmission path to C).
    *
    * Earliest-arrival DP is exact for this semantics: arriving earlier
    * never closes an edge (the usable set `t ≥ arr` only grows as arr
    * shrinks), so keeping the MIN arrival per (source, node) dominates
    * every alternative — the classic temporal-path result. The loop is
    * delta-BFS over that DP: each round extends only last round's
    * improved rows, merges by min, and stops when nothing improves;
    * round r has computed the min over all ≤ r-hop time-respecting
    * paths, so `maxHops` bounds BOTH the work and (for the oracle) the
    * replayed recursion identically.
    *
    * Scale shape per round: one equi-join of the improved frontier with
    * the (staged) temporal edge list + a non-equi `t ≥ arr` FILTER on
    * the join output (not a join condition — the plan stays a hash
    * join), one min-merge aggregation with the arrivals table. State
    * is (source, node, arrival) — |sources| × reach, the same explicit
    * bounded-source contract as [[multiSourceCloseness]]. Returns
    * (source, node, arrival) with arrival the source's own start row
    * `(s, s, Long.MinValue → reported as the given floor)` excluded —
    * callers aggregate reach/arrival profiles from it.
    */
  def temporalReachability(
      edges: DataFrame,
      sources: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      timeCol: String = "t",
      sourceCol: String = "id",
      maxHops: Int = 10): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    val fx = new Fixpoint("temporalReachability")
    val e = fx.stage(edges.select(
      col(srcCol).cast("long").as("e_src"), col(dstCol).cast("long").as("e_dst"),
      col(timeCol).cast("long").as("e_t"))
      .where(col("e_src").isNotNull && col("e_dst").isNotNull && col("e_t").isNotNull))
    // sources start "before all time": any first edge out is usable
    val (arrivals, _) = fx.relax(sources
        .select(col(sourceCol).cast("long").as("source")).distinct()
        .select(col("source"), col("source").as("node"), lit(Long.MinValue).as("arr")),
      Seq("source", "node"), "arr", maxHops, Fixpoint.Truncate) { frontier =>
      frontier.join(e, col("node") === col("e_src"))
        .where(col("e_t") >= col("arr"))
        .select(col("source"), col("e_dst").as("node"), col("e_t").as("arr"))
    }
    arrivals.where(col("arr") =!= Long.MinValue)
  }

  def linkJaccard(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = 64): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    import org.apache.spark.sql.expressions.Window
    // One staged, hash(src)-declared adjacency (r18): previously the
    // unstaged union-of-swap recomputed canonicalEdges once per reference
    // (deg, the cap window, and the is_edge join — three full passes),
    // and the r17 explicit repartition pinned parallelism the AQE
    // byte-coalescing had collapsed (1.4 s / 2 tasks profiled at sf0.1).
    // stageHash keeps that core-count parallelism AND declares the
    // layout, so the degree agg, the cap window and both wedge-join
    // sides reuse the staging exchange; the old `.distinct()` was a
    // no-op on symmetrized canonical edges (pure exchange + agg). The
    // canonical edge list is read back off the staged leaf (src < dst
    // rows) instead of recomputed.
    val sym = Staging.stageHash(
      symmetrize(canonicalEdges(pairs, aCol, bCol)), Seq("src"))
    val e = sym.where(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val w = Window.partitionBy("src").orderBy("dst")
    val capped = sym
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxDegree).drop("__rn")
    val common = capped.alias("a").hint("shuffle_hash")
      .join(capped.alias("b").hint("shuffle_hash"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("u"), col("b.dst").as("v"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(deg.select(col("src").as("u"), col("__d").as("deg_a")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("__d").as("deg_b")), Seq("v"))
      .join(e.select(col("u"), col("v"), lit(true).as("__e")), Seq("u", "v"), "left")
      .select(col("u").as("a_id"), col("v").as("b_id"), col("n_common"),
        col("deg_a"), col("deg_b"),
        coalesce(col("__e"), lit(false)).as("is_edge"),
        expr("(1000000L * n_common) div (deg_a + deg_b - n_common)").as("jaccard_ppm"))
  }

  /** Per-canonical-edge triangle support — each triangle (enumerated
    * once via the degree-ordered orientation, [[nodeTriangles]]'s
    * wedge-bounding trick) explodes to its three canonical edges; a
    * count per (u, v) follows. Support counting is the per-round kernel
    * of [[kTruss]].
    */
  private def edgeSupport(e: DataFrame): (DataFrame, DataFrame) = {
    val (tri, oriented) = triangles(e)
    val sup = tri.select(explode(array(
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v")))).as("t"))
      .groupBy(col("t.u").as("u"), col("t.v").as("v"))
      .agg(count(lit(1)).as("support"))
    (sup, oriented)
  }

  /** k-truss: the maximal subgraph in which EVERY edge closes at least
    * k−2 triangles within the subgraph — the edge-level cohesion
    * extractor one notch stronger than [[kCore]] (a k-core keeps hubs
    * with many weak ties; a k-truss keeps only edges embedded in dense
    * mutual-neighbor structure — template families and copy rings in a
    * near-dup graph, tight communities in a link graph). Returns the
    * surviving canonical edges with their within-truss support.
    *
    * Peel: compute per-edge support, delete edges below k−2, repeat
    * until the edge set is stable. Deletion order never affects the
    * result (the k-truss is unique), so synchronous whole-rounds are
    * safe, as in [[kCore]]. Per round: one degree-ordered triangle
    * enumeration (wedge cost Σ min-deg per edge — the O(m^1.5) bound)
    * + one hash join to filter; per-round state is the (shrinking)
    * staged edge list (support carried through, so the CONVERGED
    * round's support table IS the result — no extra enumeration), its
    * edge count observed on the staging job as the convergence scalar,
    * the round's triangle cache released once its output is
    * materialized. As in [[kCore]], an unconverged
    * peel is NOT a k-truss — removal cascades can legitimately run one
    * layer per round — so exhausting `maxRounds` throws rather than
    * returning a silently wrong edge set; raise the bound for deep
    * cascades.
    */
  def kTruss(
      pairs: DataFrame,
      k: Int,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"k must be >= 3: $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    var oriented: Option[DataFrame] = None
    val truss = try new Fixpoint("kTruss").peel(
      canonicalEdges(pairs, aCol, bCol).withColumn("support", lit(0L)),
      maxRounds, Fixpoint.Fail(s"maxRounds=$maxRounds"), count(lit(1))) { cur =>
      oriented.foreach(_.unpersist())
      val e = cur.select(col("u"), col("v"))
      val (sup, o) = edgeSupport(e)
      oriented = Some(o)
      e.join(sup, Seq("u", "v"), "left")
        .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
        .where(col("support") >= k - 2)
    } finally oriented.foreach(_.unpersist())
    truss.select(col("u").as("a_id"), col("v").as("b_id"), col("support"))
  }

  /** [[kTruss]] reduced to its support histogram: (support, n_edges).
    * The peel itself must materialize per-edge state every round no
    * matter what (each round stages it and counts its edges), so this
    * costs nothing extra — what it buys is the operator-boundary
    * guarantee that only the aggregate ever crosses to the consumer: at
    * 100 TB a caller wanting just the cohesion profile never ships,
    * collects or stores the (potentially edge-scale) surviving set.
    */
  def kTrussSupportHistogram(
      pairs: DataFrame,
      k: Int,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 50): DataFrame =
    kTruss(pairs, k, aCol, bCol, maxRounds)
      .groupBy("support").agg(count(lit(1)).as("n_edges"))

  /** Per-node CORENESS (k-core number): the largest k such that the node
    * survives in the k-core — the full decomposition [[kCore]] gives one
    * slice of, and the standard "how embedded is this node" signal
    * (crawl-frontier prioritization, spam-farm detection, community-core
    * extraction) without picking k up front.
    *
    * Algorithm: the H-INDEX FIXPOINT (Lü et al., "The H-index of a
    * network node and its relation to degree and coreness", 2016):
    * `h₀(v) = deg(v)`; `h_{t+1}(v) = H({h_t(u) : u ∈ N(v)})` where H is
    * the largest h with at least h neighbors at value ≥ h. The sequence
    * is pointwise non-increasing and its fixpoint is exactly coreness —
    * so SUM(h) is a strictly decreasing convergence scalar (one
    * aggregate observed per update, no frame diff). Unlike the
    * sequential min-degree peel (inherently serial) this is a per-node
    * local update, the distributed formulation of choice.
    *
    * Scale shape per round: one equi-join of the (staged) symmetric edge
    * list with the node-sized h table + one NODE-KEYED window
    * (`row_number` over neighbors sorted by value desc — max(min(rank,
    * value)) IS the H-index) + one agg. No global window, nothing
    * collects; per-round state staged ([[Fixpoint.peel]]). Rounds: on
    * real (core-dense) graphs a handful; pathological chains cascade one
    * layer per round like every peel does — `maxRounds` fails loudly
    * rather than returning a non-fixpoint (wrong) decomposition.
    *
    * Determinism: H is order-insensitive among tied neighbor values
    * (min(rank, value) over a descending sort gives the same max for any
    * permutation of equal values), so the output is a pure function of
    * the input. Returns (id, coreness) for every node with ≥1 edge.
    */
  def coreDecomposition(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxRounds: Int = 100): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    val fx = new Fixpoint("coreDecomposition")
    val sym = fx.stage(symmetrize(canonicalEdges(pairs, aCol, bCol)))
    // H-index from the VALUE HISTOGRAM, not per-neighbor ranks: with
    // c_v = #neighbors at value ≥ v, H = max over present values v of
    // min(v, c_v) (between present values c is constant, so the max over
    // all h is attained there — [5,5] gives min(5,2) = 2, the H-index,
    // with 2 never present). The tally groupBy(src, nh) is map-side
    // combinable — the shuffle carries one row per (node, distinct
    // neighbor value), not per edge — and the running-count window then
    // sorts only those collapsed rows (node-keyed, the approved shape).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("nh").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def update(cur: DataFrame): DataFrame = sym
      .join(cur.select(col("src").as("dst"), col("h").as("nh")), Seq("dst"))
      .groupBy(col("src"), col("nh")).agg(count(lit(1)).as("cnt"))
      .select(col("src"), col("nh"), sum(col("cnt")).over(w).as("cum"))
      .groupBy("src").agg(max(least(col("nh"), col("cum"))).as("h"))
    // Updates are BATCHED three per staged round: each h-update
    // references the previous h exactly ONCE (no self-join), so the
    // un-staged chain grows linearly (3 join+window+agg segments) and
    // one staging job amortizes over three updates. SUM(h) is observed
    // after every update inside that job ([[Fixpoint.peel]]); h is
    // pointwise non-increasing, so the first update whose sum did not
    // change proves the state before it was the fixpoint, and the loop
    // stops there without a confirming round.
    // Measured shape (sf0.1 part graph, 150k symmetric edges): 16
    // updates to fixpoint at ~0.5 s each — COMPUTE-bound, not
    // job-overhead-bound. A delta/frontier variant (recompute only
    // neighbors of last round's changed set, the Flink/Pregel loop
    // primitive) measured SLOWER here: on a dense graph the frontier's
    // neighborhood is most of the graph for the head rounds, and the
    // extra semi-join/merge stages outweigh the tail savings. It wins
    // only on sparse chain-y graphs where rounds are many and frontiers
    // tiny — revisit if such inputs become the workload.
    val batch = 3
    val h = fx.peel(
      sym.groupBy("src").agg(count(lit(1)).as("h")), (maxRounds + batch - 1) / batch,
      Fixpoint.Fail(s"maxRounds=$maxRounds"), coalesce(sum(col("h")), lit(0L)), batch)(update)
    h.select(col("src").as("id"), col("h").as("coreness"))
  }

  /** Newman MODULARITY decomposition of a node partition: per community,
    * the internal-edge count and total degree mass, plus the community's
    * exact integer modularity contribution — the standard "is this
    * partition better than chance" score for whatever labeling the
    * pipeline produced ([[labelPropagation]], [[Components]], an
    * external clustering). `Q = Σ_c [ in_c/m − (d_c/2m)² ]`, emitted per
    * community in ppm as `q_ppm = (1e6·(4·m·in_c − d_c²)) div (4·m²)`,
    * computed in DECIMAL(38,0) — `d_c²` and `4m²` overflow Long at
    * ~3e9 edges, squarely inside 100 TB territory. Σ q_ppm over the
    * output (± one ppm per community from truncation) is the graph's
    * modularity; unlabeled nodes are treated as singleton communities
    * (their in_c = 0 rows still appear, keyed by their own id).
    *
    * Scale shape: the labeled edge set is STAGED (it feeds the degree
    * union and the internal-edge agg — unstaged, the caller's whole
    * edge-building plan would execute twice), then one degree agg + one
    * community-keyed agg; m is counted on the staging job and enters the
    * final projection as a driver literal. Deterministic and integer-exact
    * throughout — every multiply involving m or degree_sum runs in
    * DECIMAL(38,0) (both 4·m·in_c and d_c² overflow Long at ~3e9
    * edges); the one division is the final truncating div.
    */
  def modularity(
      pairs: DataFrame,
      labels: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      idCol: String = "id",
      communityCol: String = "community"): DataFrame = {
    val e = canonicalEdges(pairs, aCol, bCol)
    // distinct: a duplicated (id, community) row in an externally
    // produced labeling would multiply edge rows through the joins and
    // inflate m, degree_sum and n_internal all at once
    val lab = labels.select(col(idCol).cast("long").as("__id"),
      col(communityCol).cast("long").as("__c")).distinct()
    val fx = new Fixpoint("modularity")
    // unlabeled nodes become singleton communities keyed by own id; m is
    // counted on the staging job
    val (labeled, m) = fx.stage(e
      .join(lab.select(col("__id").as("u"), col("__c").as("cu")), Seq("u"), "left")
      .join(lab.select(col("__id").as("v"), col("__c").as("cv")), Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("cu"), coalesce(col("cv"), col("v")).as("cv")),
      count(lit(1)))
    // explode, not union-of-selects: one pass over the staged leaf (r18)
    val degrees = labeled
      .select(explode(array(col("cu"), col("cv"))).as("c"))
      .groupBy("c").agg(count(lit(1)).as("degree_sum"))
    val internal = labeled.where(col("cu") === col("cv"))
      .groupBy(col("cu").as("c")).agg(count(lit(1)).as("n_internal"))
    val out = degrees.join(internal, Seq("c"), "left")
      .select(col("c").as("community"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        col("degree_sum"))
      // separate projection: the expr below must see the COALESCED
      // n_internal, not the nullable join column of the same name
      .withColumn("q_ppm",
        expr(s"""cast(
            (1000000L * (4L * cast(${m}L as decimal(38,0)) * n_internal
                         - cast(degree_sum as decimal(38,0)) * degree_sum))
            div (4L * cast(${m}L as decimal(38,0)) * ${m}L) as bigint)"""))
    out
  }

  /** Integer HITS (Kleinberg hubs & authorities) on a DIRECTED edge
    * list — the link-analysis complement to [[PageRank]]: a good HUB
    * points at good authorities, a good AUTHORITY is pointed at by good
    * hubs. On a crawl/link graph this separates index pages from
    * content pages, which PageRank's single score conflates.
    *
    * Update per round (mutual recursion, synchronous):
    * `auth(v) = Σ_{u→v} hub(u)`, then max-normalize authorities back to
    * `scale`; `hub(u) = Σ_{u→v} auth(v)`, then max-normalize hubs —
    * all integer (sums exact; normalization is `(x·scale) div max`,
    * truncating — deterministic, so the output is a pure function of
    * the input, the cross-engine-checkable form of the usual L2 float
    * normalization; ranking order within a round is IDENTICAL since
    * x ↦ x·scale div max is monotone). Nodes with no in-edges keep
    * auth 0; no out-edges, hub 0.
    *
    * Scale shape per round: two equi-joins of the (staged) edge list
    * with a node-sized score table + two aggregations — exactly
    * [[PageRank.ranksFixedPoint]]'s cost model. Each half-round's raw
    * sums are staged, and their max is read off the staging job as ONE
    * Long ([[Fixpoint.stage]]) and re-enters the plan as a literal:
    * broadcasting it back via crossJoin instead would reference each
    * score table twice (max side + normalize side) and add a
    * per-half-round broadcast exchange; with the literal, the score
    * chain is referenced once per round and the plan stays one join
    * shallower. (Staged frames are leaves, so double references would
    * not compound across rounds either — the literal is a per-round
    * simplification, not a blow-up guard.)
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(scale >= 1, s"scale must be >= 1: $scale")
    // One plain staged edge copy (r18 note): a dual declared-layout
    // variant (hash(s) and hash(d) copies, nodes hash(id)) was tried to
    // make both half-rounds exchange-free and measured 0.64x in an
    // interleaved 2x2 A/B at sf0.1 — the extra materialization plus the
    // pinned 32-way layouts cost more than the tiny per-iteration
    // exchanges they replaced (the same class as the BFS-loop reverts).
    val fx = new Fixpoint("hits")
    val e = fx.stage(
      edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d")).distinct())
    val nodes = fx.stage(e.select(explode(array(col("s"), col("d"))).as("id")).distinct())
    // max-normalize to `scale` against the max of the staged raw sums
    def normalized(scores: DataFrame, c: String): DataFrame = {
      val (s, mx) = fx.stage(scores, coalesce(max(col(c)), lit(0L)))
      if (mx <= 0L) s.select(col("id"), lit(0L).as(c))
      // The multiply runs in DECIMAL(38,0): raw sums reach
      // maxInDegree·scale, so a Long `x·scale` silently wraps past
      // in-degree ~9.2e18/scale² — plausible hub territory at 100 TB.
      // Both factors are < 2^63, so the ≤126-bit product always fits
      // decimal(38,0) exactly; `div` (integral divide) brings the
      // result back to a Long ≤ scale, keeping the truncating contract.
      else s.select(col("id"),
        expr(s"(cast($c as decimal(38,0)) * ${scale}L) div ${mx}L").as(c))
    }
    val ((auths, hubs), _) = fx.loop((nodes.select(col("id"), lit(0L).as("auth")),
        nodes.select(col("id"), lit(scale).as("hub"))), iterations, Fixpoint.Truncate) {
      case ((_, hubs), _) =>
        val auths = normalized(nodes.join(
          e.join(hubs.hint("shuffle_hash"), col("s") === col("id"))
            .groupBy(col("d")).agg(sum(col("hub")).as("auth"))
            .select(col("d").as("id"), col("auth")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("auth"), lit(0L)).as("auth")), "auth")
        val next = normalized(nodes.join(
          e.join(auths.hint("shuffle_hash"), col("d") === col("id"))
            .groupBy(col("s")).agg(sum(col("auth")).as("hub"))
            .select(col("s").as("id"), col("hub")),
          Seq("id"), "left")
          .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub")), "hub")
        ((auths, next), true)
    }
    auths.join(hubs, Seq("id"))
  }

  /** Deterministic hash-seeded random walks — the DeepWalk/node2vec
    * corpus-generation primitive: from each start node, `steps` hops
    * where the walker on walk `w` at step `i` standing on node `x`
    * moves to the neighbor `y` minimizing
    * `(md5(w || ':' || i || ':' || y), y)`. md5 is uniform, so the
    * choice is distributionally a uniform neighbor pick, yet the walk
    * set is a PURE FUNCTION of the graph — re-runs, retries and the
    * cross-engine oracle all reproduce it bit-for-bit (the same
    * content-addressed-coin-flip contract as [[Sampling.idBucket]]).
    * Seeding enters through the walk id, which is ALSO the start node
    * by default (`walkCol` empty → one walk per start row, walk_id =
    * node id). Callers wanting k walks per node pass a separate
    * `walkCol`: walk ids must be globally unique (they key the corpus
    * and the hash stream — e.g. `id·k + r`), `startCol` holds the
    * start node, and each walk id draws an independent hash stream
    * from the same start.
    *
    * Returns the walk corpus `(walk_id, step, node)` including step 0
    * (the start). Walkers that reach an isolated dead end simply stop —
    * their walks are shorter; on the symmetric closure used here that
    * only happens for isolated start nodes.
    *
    * Scale shape per step: ONE equi-join of the position table (one row
    * per live walk) with the staged symmetric adjacency list + one
    * map-side-combinable min-agg per walk. The join fan-out is
    * Σ_walks deg(position) — a walker on a hub scans the hub's
    * adjacency once; `maxDegree` caps that deterministically
    * (row_number by neighbor id, the same documented truncation as
    * [[linkJaccard]]) when hub degrees would dominate. Nothing
    * collects; per-step state is staged.
    */
  def randomWalks(
      pairs: DataFrame,
      starts: DataFrame,
      steps: Int,
      startCol: String = "id",
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = Int.MaxValue,
      walkCol: String = ""): DataFrame =
    walk("randomWalks", pairs, starts, steps, startCol, aCol, bCol, maxDegree,
        walkCol)(identity) { (pos, sym, step) =>
      // the choice hash binds (walk, step, candidate): independent
      // draws per walk and per step, replayable as a SQL expression
      pos
        .join(sym, col("node") === col("src"))
        .select(col("walk_id"),
          struct(
            md5(concat_ws(":",
              col("walk_id").cast("string"), lit(step.toString),
              col("dst").cast("string"))).as("h"),
            col("dst").as("nxt")).as("pick"))
        .groupBy("walk_id").agg(min(col("pick")).as("m"))
        .select(col("walk_id"), col("m.nxt").as("node"))
    }

  /** The step loop both walkers share: stages the symmetric adjacency
    * (capped at `maxDegree` neighbors per node by neighbor id) and the
    * start positions `seed((walk_id, node))`, then `hop(pos, sym, step)`
    * per step until `steps` or until no walker moved; returns the corpus
    * `(walk_id, step, node)` including step 0, staged.
    */
  private def walk(op: String, pairs: DataFrame, starts: DataFrame, steps: Int,
      startCol: String, aCol: String, bCol: String, maxDegree: Int, walkCol: String)(seed: DataFrame => DataFrame)(
      hop: (DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    require(maxDegree >= 1, s"maxDegree must be >= 1: $maxDegree")
    import org.apache.spark.sql.expressions.Window
    val fx = new Fixpoint(op)
    // explode symmetrize: one canonicalEdges pass, not two (r18)
    val symAll = symmetrize(canonicalEdges(pairs, aCol, bCol))
    val sym = fx.stage(
      if (maxDegree == Int.MaxValue) symAll
      else symAll
        .withColumn("__rn", row_number().over(Window.partitionBy("src").orderBy("dst")))
        .where(col("__rn") <= maxDegree).drop("__rn"))
    val startRows =
      if (walkCol.isEmpty)
        starts.select(col(startCol).cast("long").as("walk_id")).distinct()
          .select(col("walk_id"), col("walk_id").as("node"))
      else
        starts.select(col(walkCol).cast("long").as("walk_id"),
          col(startCol).cast("long").as("node")).distinct()
    val (pos, walkers) = fx.stage(seed(startRows), count(lit(1)))
    val start = pos.select(col("walk_id"), lit(0L).as("step"), col("node"))
    fx.stage(if (walkers == 0L) start else fx.loop((pos, start), steps, Fixpoint.Truncate) {
      case ((pos, corpus), step) =>
        val (nxt, moved) = fx.stage(hop(pos, sym, step), count(lit(1)))
        ((nxt, corpus.unionByName(
          nxt.select(col("walk_id"), lit(step.toLong).as("step"), col("node")))), moved > 0L)
    }._1._2)
  }

  /** node2vec-BIASED deterministic walks (Grover & Leskovec, "node2vec:
    * Scalable Feature Learning for Networks", KDD 2016): like
    * [[randomWalks]], but the hop out of node x on a walk that arrived
    * from t is biased by the node2vec search parameters — candidates y
    * fall into three classes by distance from t (y = t: the RETURN
    * move, node2vec weight 1/p; y adjacent to t: weight 1; else the
    * OUTWARD move, weight 1/q) — expressed here as caller-supplied
    * integer class weights `(returnWeight, nearWeight, farWeight)`
    * (node2vec p = 2, q = 1/2 ⇒ weights (1, 2, 4)).
    *
    * The uniform md5 argmin becomes a WEIGHTED RACE: y* minimizes
    * `(md5₃₂(walk:step:y) div w_class(y), y)` — integer division of the
    * 32-bit hash by the class weight, so higher-weight classes win
    * proportionally more races. The pick is monotone in the weights and
    * remains a pure function of the graph (bit-replayable in any SQL
    * engine — the [[Sampling.idBucket]] md5-coin contract); it is the
    * deterministic integer analogue of the exponential race, traded for
    * cross-engine exactness over exact node2vec proportions. The first
    * hop seeds prev = start, making every step-1 candidate "near" — the
    * uniform first hop node2vec prescribes.
    *
    * Scale shape per step: the [[randomWalks]] equi-join + min-agg,
    * plus ONE extra edge-keyed equi-join ((prev, dst) against the same
    * staged adjacency) to classify candidates — never corpus-quadratic;
    * `maxDegree` caps hub fan-out identically (and the distance
    * classification reads the SAME capped list, keeping the walk a pure
    * function of the capped graph).
    */
  def node2vecWalks(
      pairs: DataFrame,
      starts: DataFrame,
      steps: Int,
      returnWeight: Long = 1L,
      nearWeight: Long = 2L,
      farWeight: Long = 4L,
      startCol: String = "id",
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = Int.MaxValue,
      walkCol: String = ""): DataFrame = {
    require(returnWeight >= 1L && nearWeight >= 1L && farWeight >= 1L,
      s"class weights must be >= 1: ($returnWeight, $nearWeight, $farWeight)")
    walk("node2vecWalks", pairs, starts, steps, startCol, aCol, bCol, maxDegree,
        walkCol)(_.select(col("walk_id"), col("node").as("prev"), col("node"))) {
      (pos, sym, step) =>
        pos
          .join(sym, col("node") === col("src"))
          .select(col("walk_id"), col("prev"), col("node"), col("dst"))
          // distance-from-prev class: the (prev, dst) probe against the
          // SAME capped adjacency — null means no edge, i.e. the outward
          // class. dst = prev is checked first (the return move).
          .join(sym.select(col("src").as("prev"), col("dst"), lit(1L).as("__near")),
            Seq("prev", "dst"), "left")
          .withColumn("__w",
            when(col("dst") === col("prev"), lit(returnWeight))
              .when(col("__near") === 1L, lit(nearWeight))
              .otherwise(lit(farWeight)))
          .withColumn("__u", graft.functions.TextFunctions.md5Prefix(
            concat_ws(":", col("walk_id").cast("string"), lit(step.toString),
              col("dst").cast("string")), 8))
          .select(col("walk_id"), col("node"),
            struct(expr("__u div __w").as("race"), col("dst").as("nxt")).as("pick"))
          .groupBy("walk_id")
          .agg(min(col("pick")).as("m"), min(col("node")).as("prev"))
          .select(col("walk_id"), col("prev"), col("m.nxt").as("node"))
    }
  }

  /** Double-sweep eccentricity: BFS from `startId`, hop to the farthest
    * reached node (max dist, ties to the smallest id), BFS again from
    * there. The second sweep's eccentricity is the classic DIAMETER
    * LOWER BOUND — on trees it is exact, and on real graphs the
    * two-sweep bound is empirically within a hop or two of the true
    * diameter at the cost of 2 BFS instead of the O(n·m) all-pairs
    * sweep no scale survives. Returns ONE row
    * `(start_id, ecc_start, n_reached, peripheral_id, diameter_lb)`
    * for `startId`'s component (the standard per-component semantics —
    * other components are separate double-sweep calls).
    *
    * Scale shape: two frontier BFS loops over the staged symmetric
    * edge list (one equi-join + one min-merge aggregation per hop,
    * [[multiSourceCloseness]]'s kernel at |sources| = 1). The only
    * driver traffic is ONE (node, dist) row between the sweeps — the
    * pivot must seed the second BFS's plan, the same bounded fetch the
    * HITS normalizer makes — plus the single output row's inputs.
    */
  def doubleSweep(
      pairs: DataFrame,
      startId: Long,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDepth: Int = 32): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be >= 1: $maxDepth")
    val fx = new Fixpoint("doubleSweep")
    val sym = fx.stage(symmetrize(canonicalEdges(pairs, aCol, bCol)))
    val spark = sym.sparkSession
    def bfs(source: Long): DataFrame = fx.relax(
        spark.range(1).select(lit(source).as("node"), lit(0L).as("dist")),
        Seq("node"), "dist", maxDepth, Fixpoint.Truncate) { frontier =>
      frontier.join(sym, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
    }._1
    val first = bfs(startId)
    // the pivot row: farthest node of sweep 1, ties to the smallest id —
    // ONE row to the driver, it parameterizes the second sweep's plan
    val pivot = first.orderBy(col("dist").desc, col("node").asc).head()
    val (farNode, eccStart) = (pivot.getLong(0), pivot.getLong(1))
    val nReached = first.count()
    val second = bfs(farNode)
    fx.stage(second.agg(max(col("dist")).as("diameter_lb"))
      .select(lit(startId).as("start_id"), lit(eccStart).as("ecc_start"),
        lit(nReached).as("n_reached"), lit(farNode).as("peripheral_id"),
        col("diameter_lb")))
  }

  /** Resource-allocation link prediction — [[linkJaccard]]'s weighted
    * sibling: candidate pair (u, v) scores
    * `Σ_{w ∈ Γ(u) ∩ Γ(v)} (10⁹ div deg(w))`, so a shared OBSCURE
    * neighbor (two documents linked only through a rare entity) counts
    * for more than a shared hub everyone touches — the RA index, the
    * strongest of the classic local link predictors (Zhou-Lü-Zhang),
    * and unlike Adamic-Adar its weights are RATIONAL, so the scaled
    * integer sum is exact and cross-engine replayable (no log).
    *
    * Same wedge kernel and same honesty about scale as [[linkJaccard]]:
    * adjacency capped at `maxDegree` per node (deterministic
    * row_number-by-id truncation) bounds the self-join at
    * Σ C(min(deg, cap), 2); degrees in the weights are TRUE degrees,
    * computed before the cap. `is_edge` marks pairs already connected
    * (prediction wants them excluded, missing-edge ranking keeps
    * both); pairs below `minCommon` shared neighbors are dropped
    * before the degree joins.
    */
  def linkResourceAllocation(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxDegree: Int = 64,
      minCommon: Long = 1L): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    import org.apache.spark.sql.expressions.Window
    // One staged, hash(src)-declared adjacency (r18, the [[linkJaccard]]
    // rationale): canonicalEdges computed once instead of once per
    // reference; the degree agg, cap window and wedge-join sides reuse
    // the staging exchange; the old `.distinct()` was a no-op on
    // symmetrized canonical edges; the is_edge join reads the canonical
    // list back off the staged leaf.
    val sym = Staging.stageHash(
      symmetrize(canonicalEdges(pairs, aCol, bCol)), Seq("src"))
    val e = sym.where(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("__d"))
    val w = Window.partitionBy("src").orderBy("dst")
    // true degree rides along on the shared-neighbor side of the wedge
    val capped = sym.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= maxDegree).drop("__rn")
      .join(deg, Seq("src"))
      .withColumn("__w", expr("1000000000L div __d")).drop("__d")
    val scored = capped.alias("a").hint("shuffle_hash")
      .join(capped.alias("b").hint("shuffle_hash"),
        col("a.src") === col("b.src") && col("a.dst") < col("b.dst"))
      .groupBy(col("a.dst").as("u"), col("b.dst").as("v"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("a.__w")).as("ra_score_e9"))
      .where(col("n_common") >= minCommon)
    scored
      .join(e.select(col("u"), col("v"), lit(true).as("__e")), Seq("u", "v"), "left")
      .select(col("u").as("a_id"), col("v").as("b_id"), col("n_common"),
        col("ra_score_e9"), coalesce(col("__e"), lit(false)).as("is_edge"))
  }

  /** Time-respecting relay (temporal 2-path) census: for each middle
    * node v, the number of event pairs `u →t₁ v →t₂ w` with
    * `t₁ < t₂ ≤ t₁ + delta` and `u ≠ w` — the basic TEMPORAL MOTIF,
    * and the quantity a static 2-path count gets wrong on event data
    * (an outgoing edge that fired before the incoming one cannot relay
    * it; see [[temporalReachability]] for the path-level version of
    * the same correction). Returns `(node, n_relays, n_sources)` with
    * `n_sources` the distinct upstream endpoints relayed.
    *
    * Scale shape: ONE equi-join of the event list with itself on the
    * middle node — the time-window and u ≠ w conditions are FILTERS on
    * the hash-join output, not join conditions, so the plan stays a
    * shuffled hash join keyed on the node id. Fan-out per middle node
    * is in(v) · out(v) restricted to the delta window; `maxEvents`
    * caps both event lists per node deterministically (earliest-first,
    * ties by peer id — the [[neighborhoodSize]] hub-truncation trade)
    * so a hub's quadratic blow-up is bounded at maxEvents² with the
    * truncation visible in the signature instead of an OOM at 100 TB.
    */
  /** k-bounded Brandes betweenness from a sampled source set: how much
    * of the shortest-path traffic (length ≤ `maxDepth`, originating at
    * the sources) flows THROUGH each node — the broker/bottleneck
    * centrality [[PageRank]] (influence) and closeness (reach) both
    * miss. Sampling sources and bounding the radius are the two
    * standard concessions that make Brandes feasible at scale: exact
    * betweenness is O(n·m) (one BFS per NODE) and off the table at any
    * real size, while k sources × depth-L balls cost k parallel
    * truncated BFS sharing each level's single edge join — the same
    * explicit bounded-source contract as [[multiSourceCloseness]].
    *
    * Contract (all integer, cross-engine replayable):
    *  - Forward: per source, BFS levels to `maxDepth` carrying
    *    σ(s, v) = the number of shortest s→v paths (the per-level
    *    predecessor-σ sum — exact within the ball, since BFS level =
    *    true distance there).
    *  - DAG: edge (v → w) iff both are in the ball and
    *    dist(w) = dist(v) + 1.
    *  - Backward, level L−1 … 1: the classic Brandes dependency in
    *    scaled truncating arithmetic,
    *    `δ(v) = Σ_{w ∈ succ(v)} (σ_v · (10⁹ + δ(w))) div σ_w`,
    *    each product in DECIMAL(38,0) (σ·δ exceeds Long on dense
    *    balls — the [[hits]] overflow rule). Headroom bound, explicit:
    *    the product fits DECIMAL(38,0) while σ·(10⁹ + δ) < 10³⁸, i.e.
    *    per-ball shortest-path counts below ~10¹⁴ — astronomically
    *    beyond real graphs at these depths, but a caller probing
    *    path-count-explosive graphs should lower `maxDepth` rather
    *    than trust silent non-ANSI decimal NULLs. Truncation makes δ a
    *    pure integer function of the graph — the oracle replays it
    *    exactly, where the float recurrence would hash-diverge.
    *  - Betweenness(v) = Σ_s δ_s(v) over v ≠ s, reported as
    *    `bc_e9` (10⁹ ≈ one full path through v from one source).
    *    Nodes carrying no traffic are absent.
    *
    * Scale shape: `maxDepth` forward rounds (frontier ⋈ staged
    * symmetric edges + one min/σ-merge aggregation with the ball,
    * [[Fixpoint.relax]]), ONE 3-way equi-join building the DAG,
    * `maxDepth − 1` backward rounds (DAG level ⋈ deeper deltas + agg),
    * one final agg. Nothing collects.
    */
  def betweennessSampled(
      pairs: DataFrame,
      sources: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      sourceCol: String = "id",
      maxDepth: Int = 4): DataFrame = {
    require(maxDepth >= 2, s"maxDepth must be >= 2: $maxDepth")
    val fx = new Fixpoint("betweennessSampled")
    val sym = fx.stage(symmetrize(canonicalEdges(pairs, aCol, bCol)))
    // forward: ball membership (source, node, dist, sigma). A node
    // already in the ball keeps its recorded σ (min over its one old
    // row); a new node sums σ over its distance-(d−1) predecessors (a
    // predecessor seen twice is two distinct shortest paths). `deepest`
    // is the last level that received nodes: the backward pass starts
    // there, so shallow balls skip the empty deeper levels.
    val (visited, deepest) = fx.relax(sources
        .select(col(sourceCol).cast("long").as("source")).distinct()
        .select(col("source"), col("source").as("node"), lit(0L).as("dist"),
          lit(1L).as("sigma")),
      Seq("source", "node"), "dist", maxDepth, Fixpoint.Truncate,
      Seq(coalesce(min(when(col("old").isNotNull, col("sigma"))),
        sum(when(col("old").isNull, col("sigma")))).as("sigma"))) { frontier =>
      frontier.join(sym, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), (col("dist") + 1L).as("dist"),
          col("sigma"))
    }
    // shortest-path DAG within each ball: (v → w) iff dist(w) = dist(v)+1
    val dag = fx.stage(visited.select(
        col("source"), col("node").as("v"), col("dist").as("dv"), col("sigma").as("sv"))
      .join(sym, col("v") === col("src"))
      .join(visited.select(
          col("source"), col("node").as("w"), col("dist").as("dw"), col("sigma").as("sw")),
        Seq("source"))
      .where(col("w") === col("dst") && col("dw") === col("dv") + 1)
      .select(col("source"), col("v"), col("w"), col("dv"), col("sv"), col("sw")))
    // backward: Brandes dependencies level by level, deepest first.
    // deltas holds the FINAL δ of every node strictly deeper than the
    // level being processed (nodes at the deepest level have no
    // successors in the ball → δ = 0, represented by absence). dag edges
    // run dv → dv+1 ≤ deepest, so the deepest edge level is deepest-1.
    val spark = visited.sparkSession
    val noDeltas = fx.stage(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "source BIGINT, node BIGINT, delta BIGINT")))
    val deltas = (deepest - 1 to 1 by -1).foldLeft(noDeltas) { (deltas, level) =>
      // lv is referenced exactly once (by the union below), so it rides
      // the level's staging lazily
      val lv = dag.where(col("dv") === level.toLong)
        .join(deltas.select(col("source"), col("node").as("w"), col("delta")),
          Seq("source", "w"), "left")
        .groupBy(col("source"), col("v").as("node"))
        .agg(sum(expr(
          "(cast(sv as decimal(38,0)) * (1000000000L + coalesce(delta, 0L))) div sw"))
          .cast("long").as("delta"))
      fx.stage(deltas.unionByName(lv))
    }
    fx.stage(deltas
      .where(col("node") =!= col("source"))
      .groupBy("node")
      .agg(sum(col("delta")).as("bc_e9"), count(lit(1)).as("n_sources"))
      .where(col("bc_e9") > 0L))
  }

  def temporalRelayCount(
      edges: DataFrame,
      delta: Long,
      srcCol: String = "src",
      dstCol: String = "dst",
      timeCol: String = "t",
      maxEvents: Int = Int.MaxValue): DataFrame = {
    require(delta >= 1, s"delta must be >= 1: $delta")
    require(maxEvents >= 1, s"maxEvents must be >= 1: $maxEvents")
    import org.apache.spark.sql.expressions.Window
    val ev = edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"),
      col(timeCol).cast("long").as("t"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("t").isNotNull)
    def cap(df: DataFrame, key: String, peer: String): DataFrame =
      if (maxEvents == Int.MaxValue) df
      else df.withColumn("__rn",
          row_number().over(Window.partitionBy(key).orderBy(col("t"), col(peer))))
        .where(col("__rn") <= maxEvents).drop("__rn")
    val in = cap(ev, "dst", "src")
      .select(col("dst").as("node"), col("src").as("u"), col("t").as("t1"))
    val out = cap(ev, "src", "dst")
      .select(col("src").as("node"), col("dst").as("w"), col("t").as("t2"))
    in.hint("shuffle_hash").join(out.hint("shuffle_hash"), Seq("node"))
      .where(col("t2") > col("t1") && col("t2") <= col("t1") + delta
        && col("u") =!= col("w"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_relays"),
        countDistinct(col("u")).as("n_sources"))
  }
}
