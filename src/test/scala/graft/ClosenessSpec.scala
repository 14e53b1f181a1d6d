package graft

import graft.ops.GraphMetrics

/** Multi-source BFS closeness: hand-computed path + a driver-side BFS
  * replay on random graphs (same depth bound, same reached-set
  * closeness convention).
  */
class ClosenessSpec extends SparkSpec {
  import spark.implicits._

  private def reference(
      edges: Seq[(Long, Long)], sources: Seq[Long], maxDepth: Int): Map[Long, (Long, Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    sources.distinct.map { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = Set(s)
      var d = 0L
      while (frontier.nonEmpty && d < maxDepth) {
        d += 1
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      val reached = dist.size.toLong - 1
      val sumD = dist.values.sum
      s -> ((reached, sumD, if (sumD > 0) reached * 1000000L / sumD else 0L))
    }.toMap
  }

  test("hand-computed path graph: center beats endpoint") {
    // path 1-2-3-4-5; from 3: dists 1+1+2+2=6; from 1: 1+2+3+4=10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = GraphMetrics.multiSourceCloseness(
      edges.toDF("a_id", "b_id"), Seq(1L, 3L).toDF("id"), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(3L) == ((4L, 6L, 666666L)))
    assert(got(1L) == ((4L, 10L, 400000L)))
  }

  test("depth bound truncates the reach on both sides identically") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = GraphMetrics.multiSourceCloseness(
      edges.toDF("a_id", "b_id"), Seq(1L).toDF("id"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 3L))) // nodes 2 (d1) + 3 (d2); 4,5 beyond the bound
  }

  test("matches a driver-side BFS on random graphs, incl. isolated sources") {
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 3) {
      val n = 15 + trial * 5
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val sources = (0L until n.toLong by 3) :+ (n + 50L) // n+50 has no edges
      val got = GraphMetrics.multiSourceCloseness(
        edges.toDF("a_id", "b_id"), sources.toDF("id"), maxDepth = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == reference(edges, sources, 4), s"trial $trial diverged from BFS")
    }
  }

  test("reliable=true matches the localCheckpoint path") {
    val rnd = new scala.util.Random(47)
    val edges = Seq.fill(50)(
      (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong)).filter(e => e._1 != e._2)
    val (local, reliable) = bothPostures(
      GraphMetrics.multiSourceCloseness(
        edges.toDF("a_id", "b_id"), Seq(0L, 5L, 10L).toDF("id"), maxDepth = 5)
        .collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }
}
