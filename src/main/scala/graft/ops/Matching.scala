package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy weighted matching over an undirected edge table — the
  * record-linkage ASSIGNMENT step: after a fuzzy join scores candidate
  * pairs ([[FuzzyJoin]], [[Dedup.prefixFilterPairs]]), each entity may
  * be paired with at most ONE counterpart, cheapest edges first. The
  * exact greedy matching (scan edges by ascending (w, u, v); take an
  * edge iff both endpoints are still free) is the standard 2-approx of
  * minimum-weight maximal matching — but a sequential scan is a
  * non-starter at corpus scale.
  */
object Matching {

  /** Distributed greedy matching by LOCALLY-MINIMAL edge rounds
    * (Israeli–Itai style, deterministic version): each round, every
    * vertex nominates its minimum incident edge under the TOTAL order
    * (w, u, v); an edge joins the matching iff BOTH endpoints nominate
    * it; matched vertices and their edges leave the graph. This
    * produces EXACTLY the sequential greedy matching: the globally
    * minimal remaining edge is always locally minimal for both ends
    * (so it is taken, as greedy takes it), and an edge taken by the
    * parallel rule has no smaller remaining edge at either end (so
    * greedy, reaching it, also takes it) — `MatchingSpec` replays that
    * equivalence against an in-memory sequential greedy on random
    * graphs. Parallel edges collapse to their minimum weight; self
    * loops drop (unmatched with themselves).
    *
    * Rounds: O(log) on weight-diverse graphs; adversarial
    * monotone-weight paths degrade to O(n) — the documented behavior
    * of the family ([[Scc.stronglyConnected]]'s chain caveat), bounded
    * by `maxIter` with a THROW, never a partial matching silently
    * returned.
    *
    * Scale shape per round: one vertex-keyed min-agg over the (u ∪ v)
    * incidence stream, two equi-joins to test "minimal at both ends",
    * two semi-join shrinks — all node/edge keyed. Returns `(u, v, w)`
    * with u < v.
    */
  def greedyMatching(
      edges: DataFrame,
      aCol: String = "a_id",
      bCol: String = "b_id",
      weightCol: String = "w",
      maxIter: Int = 60): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val spark = edges.sparkSession
    val fx = new Fixpoint("greedyMatching")
    val a = col(aCol).cast("long"); val b = col(bCol).cast("long")
    val (e0, n0) = fx.stage(edges
      .select(least(a, b).as("u"), greatest(a, b).as("v"),
        col(weightCol).cast("long").as("w"))
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")), count(lit(1)))
    val none = fx.stage(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL("u BIGINT, v BIGINT, w BIGINT")))
    // a round is charged while edges remain, so maxIter rounds may end
    // with none left
    val matched = if (n0 == 0L) none else fx.loop((e0, none), maxIter, Fixpoint.Fail(
        s"maxIter=$maxIter", "the matching is not maximal yet — the edge order forms a long " +
          "dependency chain (raise maxIter)")) { case ((e, matched), _) =>
      // each vertex's minimal incident edge under the (w, u, v) order
      val key = struct(col("w"), col("u"), col("v"))
      // explode, not union-of-selects: one scan of the staged edge leaf
      // per round instead of two (r18)
      val nominations = e
        .select(explode(array(col("u"), col("v"))).as("node"), key.as("k"))
        .groupBy(col("node")).agg(min(col("k")).as("mk"))
      val taken = fx.stage(e
        .join(nominations.select(col("node").as("u"), col("mk").as("ku")), Seq("u"))
        .join(nominations.select(col("node").as("v"), col("mk").as("kv")), Seq("v"))
        .where(key === col("ku") && key === col("kv"))
        .select(col("u"), col("v"), col("w")))
      // explode, not union-of-selects: one scan of the staged taken leaf
      val gone = taken.select(explode(array(col("u"), col("v"))).as("node"))
      val (rest, left) = fx.stage(e
        .join(gone.select(col("node").as("u")), Seq("u"), "left_anti")
        .join(gone.select(col("node").as("v")), Seq("v"), "left_anti"), count(lit(1)))
      // lazy union of staged per-round leaves (O(rounds) plan width,
      // O(1) depth) — staging the accumulator would only buy a job
      ((rest, matched.unionByName(taken)), left > 0L)
    }._1._2
    fx.stage(matched)
  }
}
