package graft

import graft.ops.GraphMetrics

/** Time-respecting reachability: hand-built chains where edge ORDER
  * matters + a driver-side earliest-arrival DP replay on random
  * temporal graphs.
  */
class TemporalReachSpec extends SparkSpec {
  import spark.implicits._

  private def reference(
      edges: Seq[(Long, Long, Long)], sources: Seq[Long], maxHops: Int): Map[(Long, Long), Long] = {
    val out = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for (s <- sources.distinct) {
      var arr = Map[Long, Long](s -> Long.MinValue)
      for (_ <- 1 to maxHops) {
        val cand = edges.filter(e => arr.get(e._1).exists(a => e._3 >= a))
          .groupBy(_._2).map { case (n, es) => n -> es.map(_._3).min }
        arr = (arr.keySet ++ cand.keySet).map { n =>
          n -> math.min(arr.getOrElse(n, Long.MaxValue), cand.getOrElse(n, Long.MaxValue))
        }.toMap
      }
      arr.foreach { case (n, a) => if (a != Long.MinValue) out((s, n)) = a }
    }
    out.toMap
  }

  test("an edge that fired before arrival does not carry the path") {
    // A -(t=5)-> B -(t=3)-> C : C unreachable (3 < 5); B -(t=7)-> D fine
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 3L), (2L, 4L, 7L))
    val got = GraphMetrics.temporalReachability(
      edges.toDF("src", "dst", "t"), Seq(1L).toDF("id"), maxHops = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 5L, (1L, 4L) -> 7L))
  }

  test("earliest arrival wins even when a later path has fewer hops") {
    // direct 1->3 at t=10; via 2: arrive 3 at t=4 — earlier despite 2 hops
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 4L))
    val got = GraphMetrics.temporalReachability(
      edges.toDF("src", "dst", "t"), Seq(1L).toDF("id"), maxHops = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 3L)) == 4L)
  }

  test("matches the driver-side DP on random temporal graphs") {
    val rnd = new scala.util.Random(59)
    for (trial <- 0 until 3) {
      val n = 12 + trial * 4
      val edges = Seq.fill(n * 4)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
        (rnd.nextInt(20) + 1).toLong)).filter(e => e._1 != e._2)
      val sources = (0L until n.toLong by 4).toSeq
      val got = GraphMetrics.temporalReachability(
        edges.toDF("src", "dst", "t"), sources.toDF("id"), maxHops = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == reference(edges, sources, 3), s"trial $trial diverged from the DP")
    }
  }

  test("reliable=true matches the localCheckpoint path") {
    val rnd = new scala.util.Random(61)
    val edges = Seq.fill(40)((rnd.nextInt(10).toLong, rnd.nextInt(10).toLong,
      (rnd.nextInt(9) + 1).toLong)).filter(e => e._1 != e._2)
    val (local, reliable) = bothPostures(
      GraphMetrics.temporalReachability(edges.toDF("src", "dst", "t"),
        Seq(0L, 3L).toDF("id"), maxHops = 4)
        .collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }
}
