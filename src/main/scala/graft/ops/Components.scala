package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed connected components over a pair list — the resolution step
  * that turns near-duplicate CANDIDATE PAIRS (minhash/simhash/embedding
  * LSH output) into keep/drop DECISIONS: every document in a component
  * keeps exactly one representative (the minimum id).
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
  * round is two shuffles on the node id; the edge set contracts toward
  * per-component stars in O(log n) rounds REGARDLESS of graph diameter —
  * naive min-label propagation needs O(diameter) rounds, which a single
  * 100M-node duplicate chain turns into thousands of jobs. Nothing is
  * ever collected to the driver; per-round state is the (shrinking) edge
  * list, staged each round ([[Staging.stage]]) to keep the plan flat.
  */
object Components {

  /** (id, component) for every node appearing in `pairs`, where
    * `component` is the minimum node id reachable from `id`.
    *
    * @param pairs   candidate pairs; self-pairs ignored, direction ignored
    * @param maxIter safety bound on contraction rounds — the algorithm
    *                needs O(log n) (≈30 covers any feasible graph), so
    *                hitting this indicates a bug, and we fail loudly
    *                rather than return a partial clustering
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIter: Int = 50): DataFrame = {
    // Canonical (u < v) long edges, self-loops dropped; each round is
    // staged ([[Staging.stage]]), so with a checkpoint dir a lost executor
    // re-reads the round instead of failing the whole O(log n)-round job.
    val canonical = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .where(col("x") =!= col("y") && col("x").isNotNull && col("y").isNotNull)
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .distinct()

    // large-star: every node hooks its larger neighbors onto its minimum
    // neighborhood member; small-star does the same for smaller neighbors.
    // The per-node neighborhood minimum is a window aggregate (one shuffle
    // on the grouping node), not a groupBy + self-join (two shuffles) — at
    // O(log n) rounds the per-round shuffle count is the whole cost model.
    def largeStar(e: DataFrame): DataFrame = {
      // explode, not union-of-swap: one scan of the staged per-round edge
      // leaf instead of two (r18) — identical row multiset
      val sym = e.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
      val m = least(col("u"), min(col("v")).over(Window.partitionBy(col("u"))))
      sym.withColumn("m", m)
        .where(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // already canonical u < v: group by the larger endpoint v
      e.withColumn("m", min(col("u")).over(Window.partitionBy(col("v"))))
        .select(explode(array(
          struct(least(col("u"), col("m")).as("u"), greatest(col("u"), col("m")).as("v")),
          struct(col("m").as("u"), col("v").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // Fixpoint detector: (count, order-independent hash-sum) of the
    // canonical edge set, observed on each round's staging job. A false
    // "converged" needs a 64-bit hash-sum collision between consecutive
    // rounds — negligible. The hash-sum accumulates in decimal: a long
    // sum overflows under ANSI.
    val signature = struct(count(lit(1)),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(28,0)")), lit(BigDecimal(0))))
    val fx = new Fixpoint("connectedComponents")
    val edges = fx.peel(canonical, maxIter,
      Fixpoint.Fail(s"maxIter=$maxIter", "the contraction did not converge — O(log n) rounds " +
        "suffice for any input, so this is a bug, not a big graph"),
      signature)(e => smallStar(largeStar(e)))

    // Fixpoint edges form stars (root = component minimum): u is the root
    // on canonical edges. Roots map to themselves.
    // explode, not union-of-selects: one scan of the fixpoint leaf (r18).
    edges.select(explode(array(col("v"), col("u"))).as("id"), col("u").as("component"))
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  /** Canonical-member election per cluster: given a membership table
    * (id → component) and a ranking table (id → rank), every member row
    * comes back annotated with its cluster's winner — argmax by
    * (rank desc, id asc), a total order, so the choice is deterministic
    * for any partitioning. This is the step after near-dup resolution:
    * [[connectedComponents]] says WHICH documents are one family;
    * `representatives` says which single document the corpus KEEPS for
    * it (highest quality score, ties to the smallest id), and gives the
    * id-level rewrite map (id → rep_id) a dedup materialization applies.
    *
    * Members missing from `ranks` participate with rank
    * `Long.MinValue` (they can still win a cluster where nobody is
    * ranked — smallest id among the unranked).
    *
    * Scale shape: one equi-join on id (narrow rows: id, component,
    * rank), one max-of-struct aggregation on component (map-side
    * combined — one candidate row per component per partition crosses
    * the wire), and one component-keyed join to annotate members. No
    * windows, no per-cluster materialized member lists.
    */
  def representatives(
      membership: DataFrame,
      ranks: DataFrame,
      idCol: String = "id",
      componentCol: String = "component",
      rankCol: String = "rank"): DataFrame = {
    val m = membership.select(col(idCol).cast("long").as("id"),
      col(componentCol).cast("long").as("component"))
    val r = ranks.select(col(idCol).cast("long").as("id"),
      col(rankCol).cast("long").as("__rank"))
    val ranked = m.join(r, Seq("id"), "left")
      .withColumn("__rank", coalesce(col("__rank"), lit(Long.MinValue)))
    val winners = ranked
      .groupBy("component")
      .agg(max(struct(col("__rank"), (-col("id")).as("nid"))).as("__w"))
      .select(col("component"), (-col("__w.nid")).as("rep_id"))
    ranked.join(winners, Seq("component"))
      .select(col("id").as(idCol), col("component").as(componentCol), col("rep_id"),
        (col("id") === col("rep_id")).as("is_rep"))
  }

  /** Incremental connected components — fold a batch of NEW edges into an
    * existing clustering without touching the old edge list: the daily
    * crawl increment, where yesterday's near-dup graph has billions of
    * edges but today only adds millions. Each old component enters as a
    * STAR around its label (one edge per member, |V| not |E|), new edges
    * are unioned in, and the standard contraction runs on that — old
    * components are already depth-1 stars, so rounds are spent only on
    * the NEW connectivity.
    *
    * EXACTNESS hinges on [[connectedComponents]]'s label invariant:
    * `component` is the MINIMUM reachable id, so the star edge set is
    * connectivity-equivalent to the old graph and the merged labels are
    * again global minimums — output is bit-identical to recomputing
    * `connectedComponents(oldEdges ∪ newPairs)` from scratch. Labels
    * from any other scheme (hash buckets, arbitrary representatives)
    * would break the minimum invariant and must be re-derived first.
    *
    * Output covers every id in `prevLabels` or `newPairs`. Note
    * `prevLabels` is referenced TWICE (star build + untouched-singleton
    * restore): hand it a materialized table — a parquet scan or an
    * already-staged frame, which is what yesterday's labels are in the
    * increment scenario — not an expensive unstaged plan.
    */
  def mergeIncrement(
      prevLabels: DataFrame,
      newPairs: DataFrame,
      idCol: String = "id",
      componentCol: String = "component",
      aCol: String = "a_id",
      bCol: String = "b_id",
      maxIter: Int = 50): DataFrame = {
    val stars = prevLabels.select(col(idCol).cast("long").as("a_id"),
      col(componentCol).cast("long").as("b_id"))
      .where(col("a_id") =!= col("b_id"))
    // singleton components (id = label) emit no star edge at all — the
    // a_id =!= b_id filter drops them here; they re-enter only through
    // the trailing left_anti union below, which restores every prior id
    // untouched by the merged label set with its old label
    val fresh = newPairs.select(col(aCol).cast("long").as("a_id"),
      col(bCol).cast("long").as("b_id"))
    val merged = connectedComponents(stars.unionByName(fresh),
      maxIter = maxIter)
    // ids present before but untouched by any edge (old singletons, or
    // members whose whole component had no new edge AND was a singleton
    // star) keep their old label; merged labels win elsewhere
    val keep = prevLabels.select(col(idCol).cast("long").as("id"),
      col(componentCol).cast("long").as("component"))
      .join(merged.select(col("id")), Seq("id"), "left_anti")
    merged.unionByName(keep)
  }
}
