package graft

import graft.ops.GraphMetrics

/** k-truss peeling cross-checked against a driver-side reference peeler
  * (the reference cannot be wrong: direct definition, no orientation
  * tricks), plus hand-built structure cases.
  */
class KTrussSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: repeatedly delete canonical edges with < k−2 common
    * neighbors until stable; returns surviving edges with final support.
    */
  private def reference(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter(e => e._1 != e._2).distinct.toSet
    def support(s: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = s.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
      s.map { case (u, v) => (u, v) -> (adj(u) & adj(v)).size.toLong }.toMap
    }
    var stable = false
    while (!stable && es.nonEmpty) {
      val sup = support(es)
      val next = es.filter(e => sup(e) >= k - 2)
      stable = next == es
      es = next
    }
    if (es.isEmpty) Map.empty else support(es)
  }

  test("two 4-cliques joined by a bridge: 4-truss keeps the cliques, drops the bridge") {
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L))
    val got = GraphMetrics.kTruss(edges.toDF("a_id", "b_id"), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every surviving edge sits in a 4-clique (support 2); the bridge and
    // nothing else is gone
    assert(got.size == 12 && got.values.forall(_ == 2L))
    assert(!got.contains((4L, 10L)))
  }

  test("triangle-free graph: any k-truss is empty") {
    val path = (0L until 20L).map(i => (i, i + 1))
    assert(GraphMetrics.kTruss(path.toDF("a_id", "b_id"), k = 3).count() == 0L)
  }

  test("random graphs match the reference peeler exactly (k=3 and k=4)") {
    val rnd = new scala.util.Random(31)
    for (trial <- 0 until 3; k <- Seq(3, 4)) {
      val edges = Seq.fill(70)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong))
        .filter(e => e._1 != e._2)
      val got = GraphMetrics.kTruss(edges.toDF("a_id", "b_id"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == reference(edges, k), s"trial $trial k=$k diverged")
    }
  }

  test("reliable=true matches the localCheckpoint path") {
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L, 5L)) :+ ((5L, 6L))).toDF("a_id", "b_id")
    val (local, reliable) =
      bothPostures(GraphMetrics.kTruss(edges, k = 4).collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }

  test("reliable path releases every peel round's staged frame (result-only residue)") {
    // A clique chain peels over multiple rounds (each deletion cascades).
    // Inside a checkpoint dir the staged rounds are checkpoint files, and
    // each round's triangle cache is unpersisted once the round is
    // staged, so the run leaves no persisted RDD.
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(4L, 5L, 6L, 7L)) ++
      clique(Seq(7L, 8L, 9L, 10L)) :+ ((10L, 1L))).toDF("a_id", "b_id")
    val leaked = checkpointed {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(GraphMetrics.kTruss(edges, k = 4).count() > 0L)
      spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("support histogram variant agrees with the per-edge output") {
    def clique(ids: Seq[Long]) = for { a <- ids; b <- ids if a < b } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L, 14L)) :+ ((4L, 10L)))
      .toDF("a_id", "b_id")
    val perEdge = GraphMetrics.kTruss(edges, k = 4)
      .collect().map(_.getLong(2)).groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val hist = GraphMetrics.kTrussSupportHistogram(edges, k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == perEdge)
  }
}
