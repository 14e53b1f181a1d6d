package graft

import graft.ops.{Components, SpanningForest}

/** Borůvka MSF cross-checked against a driver-side Kruskal (union-find)
  * on random weighted graphs. With distinct weights the MSF is unique,
  * so edge sets must match exactly; with ties, every MSF shares the same
  * per-component edge count and weight multiset — the invariant checks.
  */
class SpanningForestSpec extends SparkSpec {
  import spark.implicits._

  private def kruskal(edges: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] = {
    val canon = edges.filter(e => e._1 != e._2)
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(e => (e._1, e._2)).map { case ((u, v), es) => (u, v, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    canon.flatMap { case (u, v, w) =>
      if (find(u) == find(v)) None else { parent(find(u)) = find(v); Some((u, v, w)) }
    }
  }

  test("distinct weights: exact agreement with Kruskal (unique MSF)") {
    val rnd = new scala.util.Random(17)
    for (trial <- 0 until 3) {
      val raw = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2).distinct
      // distinct weights by construction
      val edges = raw.zipWithIndex.map { case ((a, b), i) => (a, b, 1000L + i * 7L) }
      val got = SpanningForest.boruvka(edges.toDF("a_id", "b_id", "weight"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == kruskal(edges).toSet, s"trial $trial diverged from Kruskal")
    }
  }

  test("tied weights: forest is valid and weight-invariant-equal to Kruskal's") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(80)((rnd.nextInt(18).toLong, rnd.nextInt(18).toLong, (1L + rnd.nextInt(4)).toLong))
      .filter(e => e._1 != e._2)
    val df = edges.toDF("a_id", "b_id", "weight")
    val got = SpanningForest.boruvka(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ref = kruskal(edges)
    // same edge count, same weight multiset (every MSF shares both)
    assert(got.size == ref.size)
    assert(got.map(_._3).sorted == ref.map(_._3).sorted)
    // the forest is acyclic and spanning: its components equal the graph's
    val graphComps = Components.connectedComponents(df.select($"a_id", $"b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val forestComps = Components.connectedComponents(
        got.map(e => (e._1, e._2)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(forestComps == graphComps, "forest does not span the graph's components")
    val nNodes = graphComps.size
    val nComps = graphComps.values.toSet.size
    assert(got.size == nNodes - nComps, "forest edge count is not n - c (has a cycle or a gap)")
  }

  test("multi-edges collapse to min weight; isolated components each get a tree") {
    val edges = Seq(
      (1L, 2L, 9L), (1L, 2L, 3L), (2L, 3L, 5L), (1L, 3L, 7L), // triangle, parallel edge
      (10L, 11L, 1L))                                          // separate component
    val got = SpanningForest.boruvka(edges.toDF("a_id", "b_id", "weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 3L), (2L, 3L, 5L), (10L, 11L, 1L)))
  }

  test("reliable=true matches the localCheckpoint path") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (3L, 4L, 2L), (4L, 1L, 4L), (1L, 3L, 3L))
      .toDF("a_id", "b_id", "weight")
    val (local, reliable) =
      bothPostures(SpanningForest.boruvka(edges).collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }

  test("reliable path releases every per-round frame (result-only residue)") {
    // A long path forces multiple Borůvka rounds (components halve).
    // Inside a checkpoint dir every per-round frame (elected edges,
    // labels, parent-pointer jumps, edge labeling) and the forest are
    // checkpoint files, so the run leaves no persisted RDD.
    val rnd = new scala.util.Random(41)
    val edges = (0L until 24L).map(i => (i, i + 1, 100L + rnd.nextInt(50)))
      .toDF("a_id", "b_id", "weight")
    val leaked = checkpointed {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      assert(SpanningForest.boruvka(edges).count() == 24L)
      spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("singleLinkage matches a driver-side union-find at every threshold") {
    val rnd = new scala.util.Random(53)
    val edges = Seq.fill(60)(
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong, (1L + rnd.nextInt(8)).toLong))
      .filter(e => e._1 != e._2)
    def reference(t: Long): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.foreach(find)
      edges.filter(_._3 <= t).foreach { case (a, b, _) => parent(find(a)) = find(b) }
      val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      nodes.map(n => n -> minOf(find(n))).toMap
    }
    val df = edges.toDF("a_id", "b_id", "weight")
    for (t <- Seq(0L, 2L, 4L, 9L)) {
      val got = SpanningForest.singleLinkage(df, threshold = t)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == reference(t), s"threshold $t diverged from union-find")
    }
  }
}
