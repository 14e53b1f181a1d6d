package graft

import graft.ops.Scc

/** Strongly connected components: hand-built digraphs plus exact
  * agreement with an in-memory Tarjan reference on random digraphs
  * (same cross-implementation pattern as HitsSpec / SpanningForestSpec).
  */
class SccSpec extends SparkSpec {
  import spark.implicits._

  /** Iterative Tarjan (explicit stack, no recursion) returning
    * id → min id of its SCC.
    */
  private def tarjan(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2).groupBy(_._1).map { case (k, v) => (k, v.map(_._2).distinct) }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    for (root <- nodes.sorted if !index.contains(root)) {
      // work item: (node, iterator over remaining neighbors)
      val work = scala.collection.mutable.ArrayBuffer[(Long, Iterator[Long])](
        (root, adj.getOrElse(root, Seq.empty).iterator))
      index(root) = counter; low(root) = counter; counter += 1
      stack += root; onStack += root
      while (work.nonEmpty) {
        val (v, it) = work.last
        var recursed = false
        while (it.hasNext && !recursed) {
          val wN = it.next()
          if (!index.contains(wN)) {
            index(wN) = counter; low(wN) = counter; counter += 1
            stack += wN; onStack += wN
            work += ((wN, adj.getOrElse(wN, Seq.empty).iterator))
            recursed = true
          } else if (onStack.contains(wN)) {
            low(v) = math.min(low(v), index(wN))
          }
        }
        if (!recursed) {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val p = work.last._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            val members = scala.collection.mutable.ArrayBuffer.empty[Long]
            var u = -1L
            do {
              u = stack.remove(stack.length - 1); onStack -= u; members += u
            } while (u != v)
            val m = members.min
            members.foreach(comp(_) = m)
          }
        }
      }
    }
    comp.toMap
  }

  private def run(edges: Seq[(Long, Long)], maxIter: Int = 60): Map[Long, Long] =
    Scc.stronglyConnected(edges.toDF("src", "dst"), maxIter = maxIter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("two cycles joined by a one-way bridge stay separate SCCs") {
    // cycle {1,2,3} → bridge 3→10 → cycle {10,11}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L), (11L, 10L))
    assert(run(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a DAG is all singletons (pure trim path)") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    assert(run(edges) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
  }

  test("self-loops and duplicate edges are inert") {
    val edges = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L))
    // node 3 appears only via its self-loop → singleton in the universe
    assert(run(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }

  test("chain of SCCs (adversarial for coloring) still resolves") {
    // {1,2} → {3,4} → {5,6}: three 2-cycles in a directed chain
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 5L),
      (2L, 3L), (4L, 5L))
    assert(run(edges) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("agrees exactly with the Tarjan reference on random digraphs") {
    val rnd = new scala.util.Random(47)
    for (trial <- 0 until 4) {
      val n = 14
      val edges = Seq.fill(30 + trial * 8)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(run(edges) == tarjan(nodes, edges), s"trial $trial: $edges")
    }
  }

  test("reliable posture matches the default and leaves no cached frames") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2)
    val a = run(edges)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rel = Scc.stronglyConnected(edges.toDF("src", "dst"), reliable = true)
    val b = rel.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    // only the returned labels' own frame may stay persisted
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persisted RDDs beyond the returned labels: $leaked")
    spark.catalog.clearCache()
  }

  test("condensation edges form the SCC DAG with exact crossing counts") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), // SCC {1,2,3}
      (3L, 10L), (2L, 10L), // two crossings into {10,11}
      (10L, 11L), (11L, 10L),
      (11L, 20L)) // one crossing into singleton {20}
    val got = Scc.condensationEdges(edges.toDF("src", "dst"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 10L) -> 2L, (10L, 20L) -> 1L))
  }

  test("non-convergence throws instead of returning a wrong labeling") {
    // maxIter=1 buys one trim round = two peels; a 6-chain needs three
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val e = intercept[IllegalStateException] {
      run(edges, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("double-stepped loops keep staged rounds under the pinned budget") {
    // a single 17-cycle: one SCC whose color flood AND backward reach
    // are both 16 deep — the fixture where per-round scheduling cost is
    // everything. Pins the two-steps-per-staged-round discipline by
    // counting Staging.stage calls (one eager job each — the
    // scheduling-latency unit these loops pay per round); raw Spark job
    // counts measure engine internals instead (AQE: one job per
    // exchange; non-AQE: limit scale-up waves). One-step-per-round
    // measured 43 stagings here; double-stepped: 27.
    val n = 17
    val edges = (0 until n).map(i => (i.toLong + 1L, ((i + 1) % n).toLong + 1L))
    val before = graft.ops.Staging.stageCalls.get()
    run(edges)
    val rounds = graft.ops.Staging.stageCalls.get() - before
    info(s"staged rounds on the 17-cycle: $rounds")
    assert(rounds > 0, "stage-call counter did not move — the pin is not measuring")
    assert(rounds <= 30, s"SCC staged $rounds rounds on the 17-cycle — double-stepping regressed")
  }

  // ---- dagLayers ---------------------------------------------------------

  private def layers(edges: Seq[(Long, Long)], maxIter: Int = 60): Map[Long, Long] =
    Scc.dagLayers(edges.toDF("src", "dst"), maxIter = maxIter)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  test("dagLayers: diamond with a long arm takes the LONGEST path") {
    // 1→2→3→5 and 1→5: layer(5) = 3, not 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 5L))
    assert(layers(edges) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 3L))
  }

  test("dagLayers agrees with an in-memory longest-path reference on random DAGs") {
    val rnd = new scala.util.Random(83)
    for (trial <- 0 until 3) {
      // edges only low→high id: acyclic by construction
      val edges = Seq.fill(40)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(e => e._1 < e._2)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = scala.collection.mutable.Map(nodes.map(_ -> 0L): _*)
      for (v <- nodes; (a, b) <- edges if b == v) // ascending order = topological
        want(v) = math.max(want(v), want(a) + 1)
      assert(layers(edges) == want.toMap, s"trial $trial: $edges")
    }
  }

  test("dagLayers refuses cycles: self-loop named upfront, longer cycle via maxIter") {
    val e1 = intercept[IllegalArgumentException] {
      layers(Seq((1L, 2L), (7L, 7L)))
    }
    assert(e1.getMessage.contains("self-loop") && e1.getMessage.contains("7"))
    val e2 = intercept[IllegalStateException] {
      layers(Seq((1L, 2L), (2L, 3L), (3L, 1L)), maxIter = 10)
    }
    assert(e2.getMessage.contains("cycle"))
  }

  test("dagLayers layers the condensation of a cyclic graph") {
    // {1,2} → {3,4} → {5,6} condensed: 1 → 3 → 5
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 5L),
      (2L, 3L), (4L, 5L))
    val cond = Scc.condensationEdges(edges.toDF("src", "dst"))
      .select("src_scc", "dst_scc")
    val got = Scc.dagLayers(cond, "src_scc", "dst_scc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 3L -> 1L, 5L -> 2L))
  }
}
