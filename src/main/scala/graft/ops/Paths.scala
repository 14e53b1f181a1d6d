package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted path primitives over edge tables. */
object Paths {

  /** Multi-source WEIGHTED shortest paths by distributed Bellman–Ford:
    * per round, every tentative distance relaxes across every out-edge
    * (`new(v) = min(dist(v), min_u dist(u) + w(u,v))`) until no
    * distance improves — rounds = the hop count of the deepest
    * shortest path, NOT the node count (the classic distributed SSSP
    * on nonnegative integer weights; Dijkstra's priority queue is
    * inherently sequential and has no place here). Parallel edges
    * collapse to their minimum weight (the only weight a shortest path
    * can use). Returns `(source, node, dist)` for every reached node;
    * exact Long arithmetic end to end.
    *
    * Scale shape per round: ONE node-keyed equi-join (last round's
    * improved distances × staged edge list) + a map-side-combined
    * min-merge with the distance table ([[Fixpoint.relax]]); the
    * improved-row count is observed on the job that stages the merge,
    * so change detection runs no job of its own. The distance table is
    * sources × reachable nodes — callers bound the source set, exactly
    * as [[GraphMetrics.betweennessSampled]] documents for its balls.
    * `maxIter` caps the rounds that improve a distance and THROWS on
    * exhaustion (negative weights are rejected upfront; with them
    * Bellman–Ford's fixpoint is not a shortest path).
    */
  def weightedSssp(
      edges: DataFrame,
      sources: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "w",
      sourceCol: String = "id",
      maxIter: Int = 60,
      reliable: Boolean = false): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1: $maxIter")
    val fx = new Fixpoint("weightedSssp", reliable)
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(weightCol).cast("long").as("w"))
    // The weight-sign census is observed on the job that stages the
    // multi-edge fold, so the caller's upstream edge plan runs once.
    // min-of-mins over the fold sees every negative weight (the fold
    // keeps self-loops so none escape; they drop from e only below); the
    // culprit row is fetched only on the failure path.
    val (eAll, mn) = fx.stage(raw.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")),
      coalesce(min(col("w")), lit(0L)))
    if (mn < 0L) {
      val neg = raw.where(col("w") < 0L).limit(1).collect()
      require(neg.isEmpty,
        s"weightedSssp: negative weight ${neg.headOption.map(_.getLong(2)).getOrElse(0L)} " +
          s"on edge ${neg.headOption.map(r => s"${r.getLong(0)}->${r.getLong(1)}").getOrElse("")}")
    }
    val e = eAll.where(col("src") =!= col("dst"))
    // maxIter improving rounds, plus the one that confirms the fixpoint
    val (dist, _) = fx.relax(sources
        .select(col(sourceCol).cast("long").as("source")).distinct()
        .select(col("source"), col("source").as("node"), lit(0L).as("dist")),
      Seq("source", "node"), "dist", maxIter + 1L,
      Fixpoint.Fail(s"maxIter=$maxIter")) { frontier =>
      frontier.join(e, col("node") === col("src"))
        .select(col("source"), col("dst").as("node"), (col("dist") + col("w")).as("dist"))
    }
    fx.finish(dist, eager = true)
  }

}
