package graft

import graft.ops.GraphMetrics

/** Core decomposition: hand-computed structures + a sequential
  * min-degree-peel reference replay on random graphs — the peel
  * implements the coreness DEFINITION, the Spark side the h-index
  * fixpoint; the decomposition is unique, so agreement is exact.
  */
class CorenessSpec extends SparkSpec {
  import spark.implicits._

  private def peel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.filter(e => e._1 != e._2).foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var kmax = 0L
    while (adj.nonEmpty) {
      val (u, ns) = adj.minBy { case (n, s) => (s.size.toLong, n) }
      kmax = math.max(kmax, ns.size.toLong)
      core(u) = kmax
      ns.foreach { v => adj(v) -= u; }
      adj.remove(u)
    }
    core.toMap
  }

  test("clique + pendant chain: clique coreness k-1, chain coreness 1") {
    // 4-clique (1..4) with a path 4-5-6 hanging off it
    val clique = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = clique ++ Seq((4L, 5L), (5L, 6L))
    val got = GraphMetrics.coreDecomposition(edges.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("matches the sequential min-degree peel on random graphs") {
    val rnd = new scala.util.Random(29)
    for (trial <- 0 until 3) {
      val n = 14 + trial * 6
      val edges = Seq.fill(n * 3)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2).distinct
      val got = GraphMetrics.coreDecomposition(edges.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == peel(edges), s"trial $trial diverged from the peel reference")
    }
  }

  test("reliable=true matches the localCheckpoint path") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(60)(
      (rnd.nextInt(18).toLong, rnd.nextInt(18).toLong)).filter(e => e._1 != e._2)
    val (local, reliable) = bothPostures(
      GraphMetrics.coreDecomposition(edges.toDF("a_id", "b_id")).collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }
}
