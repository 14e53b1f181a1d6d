package graft

import graft.ops.GraphMetrics

/** Integer HITS: hand-computed small case + an in-memory reference
  * replay on random directed graphs (the reference implements the same
  * integer update/normalize contract, so agreement is exact).
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  test("hand-computed hubs/authorities after one round") {
    // 1→3, 2→3, 2→4: node 3 is the stronger authority, node 2 the
    // stronger hub (it points at both authorities).
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("s", "d")
    val got = GraphMetrics.hits(edges, "s", "d", iterations = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // auth: 3 → 2e6, 4 → 1e6, max-normalized → 1e6 / 5e5
    // hub:  1 → 1e6(auth3)=1e6, 2 → 1.5e6, normalized → 666666 / 1e6
    assert(got(3L) == ((1000000L, 0L)))
    assert(got(4L) == ((500000L, 0L)))
    assert(got(1L) == ((0L, 666666L)))
    assert(got(2L) == ((0L, 1000000L)))
  }

  test("agrees exactly with an in-memory integer reference on random digraphs") {
    val scale = 1000000L
    def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
      val es = edges.distinct
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      var hub = nodes.map(_ -> scale).toMap
      var auth = nodes.map(_ -> 0L).toMap
      def norm(m: Map[Long, Long]): Map[Long, Long] = {
        val mx = if (m.isEmpty) 0L else m.values.max
        if (mx <= 0L) m.map { case (k, _) => k -> 0L }
        else m.map { case (k, v) => k -> (v * scale / mx) }
      }
      for (_ <- 1 to iters) {
        auth = norm(nodes.map(v => v -> es.filter(_._2 == v).map(e => hub(e._1)).sum).toMap)
        hub = norm(nodes.map(u => u -> es.filter(_._1 == u).map(e => auth(e._2)).sum).toMap)
      }
      nodes.map(v => v -> ((auth(v), hub(v)))).toMap
    }
    val rnd = new scala.util.Random(13)
    for (trial <- 0 until 3) {
      val edges = Seq.fill(60)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 != e._2)
      val iters = 1 + trial
      val got = GraphMetrics.hits(edges.toDF("a", "b"), "a", "b", iterations = iters)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == reference(edges, iters), s"trial $trial (iters=$iters) diverged")
    }
  }

  test("reliable=true matches the localCheckpoint path") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("s", "d")
    val (local, reliable) = bothPostures(
      GraphMetrics.hits(edges, "s", "d", iterations = 5).collect().map(_.toString).toSeq.sorted)
    assert(reliable == local)
  }
}
