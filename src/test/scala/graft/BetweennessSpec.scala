package graft

import graft.ops.GraphMetrics

/** Sampled Brandes betweenness: hand-computed path/diamond cases plus an
  * in-memory BigInt reference replaying the exact scaled truncating
  * recurrence `δ(v) = Σ (σ_v · (10⁹ + δ(w))) div σ_w`, so agreement on
  * random graphs is exact, not approximate. The reference also mirrors
  * the absence-vs-zero contract: a node gets a δ row only when it has an
  * outgoing shortest-path-DAG edge, which is what `n_sources` counts.
  */
class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  /** (node → (bc_e9, n_sources)) computed by a sequential Brandes with
    * the operator's integer arithmetic, BigInt throughout (the product
    * σ·(10⁹+δ) is what DECIMAL(38,0) holds on the Spark side).
    */
  private def reference(
      edges: Seq[(Long, Long)], sources: Seq[Long], maxDepth: Int): Map[Long, (Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, BigInt)]
    sources.distinct.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> BigInt(1))
      var frontier = Seq(s)
      for (d <- 1 to maxDepth if frontier.nonEmpty) {
        val next = scala.collection.mutable.Map.empty[Long, BigInt]
        frontier.foreach { v =>
          adj.getOrElse(v, Set.empty).foreach { w =>
            if (!dist.contains(w)) next(w) = next.getOrElse(w, BigInt(0)) + sigma(v)
          }
        }
        next.foreach { case (w, sg) => dist(w) = d; sigma(w) = sg }
        frontier = next.keys.toSeq
      }
      // backward, deepest predecessors first; δ-row only where a DAG
      // successor exists (the absence-vs-zero contract)
      val delta = scala.collection.mutable.Map.empty[Long, BigInt]
      for (level <- (maxDepth - 1) to 1 by -1) {
        dist.filter(_._2 == level).keys.foreach { v =>
          val succs = adj.getOrElse(v, Set.empty)
            .filter(w => dist.get(w).contains(level + 1)).toSeq
          if (succs.nonEmpty) {
            val dl = succs.map { w =>
              (sigma(v) * (BigInt(1000000000L) + delta.getOrElse(w, BigInt(0)))) / sigma(w)
            }.sum
            delta(v) = dl
            rows += ((s, v, dl))
          }
        }
      }
    }
    rows.filter(r => r._2 != r._1)
      .groupBy(_._2)
      .map { case (n, rs) => n -> ((rs.map(_._3).sum.toLong, rs.size.toLong)) }
      .filter(_._2._1 > 0L)
  }

  private def run(
      edges: Seq[(Long, Long)], sources: Seq[Long], maxDepth: Int): Map[Long, (Long, Long)] =
    GraphMetrics.betweennessSampled(
      edges.toDF("a_id", "b_id"), sources.toDF("id"), maxDepth = maxDepth)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("path graph: the middle node carries all the traffic") {
    // 1—2—3 from source 1: δ(2) = (1·10⁹) div 1 = 10⁹ (one full path
    // through it); 3 is an endpoint — no DAG successor, no row.
    val got = run(Seq((1L, 2L), (2L, 3L)), Seq(1L), maxDepth = 4)
    assert(got == Map(2L -> ((1000000000L, 1L))))
  }

  test("diamond: traffic splits across the two equal shortest paths") {
    // 1—2—4, 1—3—4: σ(4) = 2, so each middle node relays half:
    // δ = (1 · 10⁹) div 2 = 5·10⁸.
    val got = run(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)), Seq(1L), maxDepth = 4)
    assert(got == Map(2L -> ((500000000L, 1L)), 3L -> ((500000000L, 1L))))
  }

  test("two sources accumulate and n_sources counts contributing balls") {
    // path 1—2—3—4 from both ends: node 2 relays for source 1 (δ =
    // 10⁹+δ(3)... ) and for source 4; exact values from the reference.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val sources = Seq(1L, 4L)
    val got = run(edges, sources, maxDepth = 3)
    assert(got == reference(edges, sources, 3))
    assert(got(2L)._2 == 2L && got(3L)._2 == 2L)
  }

  test("agrees exactly with the in-memory BigInt reference on random graphs") {
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 3) {
      val n = 14
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val sources = (0L until n.toLong).filter(_ => rnd.nextBoolean())
      val depth = 2 + trial
      val got = run(edges, sources, maxDepth = depth)
      assert(got == reference(edges, sources, depth),
        s"trial $trial (depth=$depth, sources=${sources.mkString(",")}) diverged")
    }
  }

  test("depth truncation: a deeper ball strictly extends the shallow one's DAG") {
    // on a long path only nodes within the ball relay; the reference
    // carries the same truncation, so both depths agree exactly
    val edges = (1L to 8L).sliding(2).map(w => (w.head, w.last)).toSeq
    for (depth <- Seq(2, 3)) {
      val got = run(edges, Seq(1L), maxDepth = depth)
      assert(got == reference(edges, Seq(1L), depth), s"depth $depth diverged")
    }
  }

  test("reliable=true matches the default posture") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (2L, 5L))
    val (cheap, rel) = bothPostures(run(edges, Seq(1L, 5L), maxDepth = 3))
    assert(cheap == rel)
  }
}
