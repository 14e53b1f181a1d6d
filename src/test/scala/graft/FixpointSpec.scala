package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{expr, lit}
import graft.ops.{Components, Coverage, Eval, GeoGrid, GraphMetrics, KMeans, Matching, Ngrams,
  PageRank, Paths, Scc, SequencePack, SpanningForest, Staging}

/** The staged operators ([[graft.ops.Fixpoint]]).
  *
  * Budgets: on fixed small inputs shaped like their catalogue queries
  * (q172, q304, q308, q310, q311, q313, q316, q340; q324, q325, q328,
  * q54, q319, q305, q341, q318, q312, q347; q69, q192, q352, q80, q303,
  * q309, q320, q78, q345, q135, q330), the `Staging.stage`
  * calls per run (one eager job per staged round) and the Spark jobs
  * started by building the result and writing it to the `noop` sink, the
  * way the benchmark consumes it. Each bound is the count measured once
  * every round's convergence value was read off its staging job (no
  * probe job per round): a change to the loop may lower a number, never
  * raise it.
  *
  * coreDecomposition batches three updates per staged round and stops at
  * the first update that leaves sum(h) unchanged, so a graph already at
  * its fixpoint stages no confirming round.
  *
  * Round caps: each operator that throws at its cap runs at exactly the
  * `maxIter`/`maxRounds` a fixed input needs and throws one below it.
  * `stronglyConnected` and `dagLayers` charge only rounds that change
  * their state, never the confirming round.
  *
  * Degenerate inputs: an empty source set, an edgeless graph and an
  * isolated start node return the operator's normal schema with empty or
  * seed-only rows; so do empty, all-null and self-loop-only edge lists on
  * both staging postures (`dagLayers` refuses a self-loop by name,
  * `nextFitWindows` a null document id). A null endpoint is not a node;
  * the other endpoint of its row is.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** The catalogue's doc-chain graph over anchors 0, 20, …, 380. */
  private val chain = {
    val a = (0L until 400L by 20L)
    (a.map(x => (x, x + 1)) ++ a.map(x => (x + 1, x + 2)) ++ a.map(x => (x, x + 5)) ++
      a.filter(_ % 40 == 0).map(x => (x + 5, x + 22))).toDF("a_id", "b_id")
  }

  private val anchors = (0L until 400L by 20L).toDF("id")

  private def budget(run: => DataFrame): (Long, Int) = {
    val before = Staging.stageCalls.get()
    val jobs = JobCounter(spark.sparkContext) {
      run.write.format("noop").mode("overwrite").save()
    }
    (Staging.stageCalls.get() - before, jobs)
  }

  private def check(name: String, staged: Long, jobs: Int)(run: => DataFrame): Unit =
    test(s"$name stays within its staged-round and job budget") {
      val (s, j) = budget(run)
      info(s"$name: $s staged rounds, $j jobs")
      assert(s > 0L, "stage-call counter did not move; the pin is not measuring")
      assert(s <= staged, s"$name staged $s rounds (budget $staged)")
      assert(j <= jobs, s"$name ran $j jobs (budget $jobs)")
    }

  check("kCore (q172 shape)", 4, 13) {
    val ids = 1L to 60L
    val e = (ids.map(i => (i, i * 2)) ++ ids.map(i => (i, i * 3))).filter(_._2 <= 60L)
    GraphMetrics.kCore(e.toDF("a_id", "b_id"), k = 2)
  }

  check("kTruss (q304 shape)", 6, 66) {
    // peels in five rounds at k = 4 (removals cascade)
    val e = (0 until 70).map(i => ((i % 13).toLong, ((i * 11 + 3) % 17).toLong))
    GraphMetrics.kTruss(e.toDF("a_id", "b_id"), k = 4)
  }

  check("coreDecomposition (q308 shape)", 6, 38) {
    val dense = (1 to 160).map(i => ((i % 23).toLong, ((i * 7) % 29).toLong))
    val tail = (30L until 40L).map(i => (i, i + 1)) :+ ((0L, 30L))
    GraphMetrics.coreDecomposition((dense ++ tail).toDF("a_id", "b_id"))
  }

  check("multiSourceCloseness (q310 shape)", 9, 27) {
    GraphMetrics.multiSourceCloseness(chain, anchors.where($"id" % 100 === 0), maxDepth = 8)
  }

  check("temporalReachability (q311 shape)", 5, 13) {
    val fwd = (0 until 60).map(i => ((i % 12).toLong * 2, (i % 7).toLong * 2 + 1, (i % 9).toLong))
    val e = fwd ++ fwd.map { case (s, d, t) => (d, s, t + 1) }
    GraphMetrics.temporalReachability(e.toDF("src", "dst", "t"), Seq(0L, 6L).toDF("id"),
      maxHops = 3)
  }

  check("doubleSweep (q313 shape)", 19, 55) {
    GraphMetrics.doubleSweep(chain, startId = 20L, maxDepth = 16)
  }

  check("betweennessSampled (q316 shape)", 12, 37) {
    val a = (0L until 400L by 20L)
    val runged = (a.map(x => (x, x + 1)) ++ a.map(x => (x + 1, x + 2)) ++
      a.map(x => (x, x + 5)) ++ a.map(x => (x + 2, x + 5)) ++
      a.filter(_ % 40 == 0).map(x => (x + 5, x + 22))).toDF("a_id", "b_id")
    GraphMetrics.betweennessSampled(runged, anchors, maxDepth = 4)
  }

  check("weightedSssp (q340 shape)", 9, 23) {
    val e = (0 until 400).map(i => ((i % 37).toLong, ((i * 11) % 41).toLong, (i % 7 + 1).toLong))
    Paths.weightedSssp(e.toDF("src", "dst", "w"), spark.range(4).toDF("id"))
  }

  /** The SCC queries' directed graph over anchors 0, 10, …, 390: a
    * 3-cycle per anchor, downward bridges and two-edge DAG tails.
    */
  private val sccGraph = {
    val n = 0L until 400L by 10L
    (n.flatMap(x => Seq((x, x + 1), (x + 1, x + 2), (x + 2, x))) ++
      n.filter(x => x % 20 == 0 && x > 0).map(x => (x, x / 2)) ++
      n.filter(_ % 30 == 0).flatMap(x => Seq((x + 2, x + 5), (x + 5, x + 7)))).toDF("src", "dst")
  }

  check("stronglyConnected (q324 shape)", 15, 54) {
    Scc.stronglyConnected(sccGraph)
  }

  check("condensationEdges (q325 shape)", 15, 59) {
    Scc.condensationEdges(sccGraph)
  }

  check("dagLayers (q328 shape)", 8, 34) {
    val n = 10L until 800L by 10L
    Scc.dagLayers((n.map(x => (x, x / 2)) ++ n.filter(_ % 40 == 0).map(x => (x, x - 30)))
      .toDF("src", "dst"))
  }

  check("connectedComponents (q54 shape)", 4, 19) {
    Components.connectedComponents(chain)
  }

  check("mergeIncrement (q319 shape)", 8, 40) {
    val fresh = (0L until 400L by 60L).map(a => (a + 2, a + 20)).toDF("a_id", "b_id")
    Components.mergeIncrement(Components.connectedComponents(chain), fresh)
  }

  // jobs read 91–95 across runs of the same code: the bound is the highest
  check("boruvka (q305 shape)", 17, 95) {
    // co-occurrence weights: heavy ties
    val e = (0 until 300).map(i =>
      ((i % 31).toLong, ((i * 7 + 3) % 43).toLong + 31L, 1000000L / (1 + i % 6)))
    SpanningForest.boruvka(e.toDF("a_id", "b_id", "weight"))
  }

  check("greedyMatching (q341 shape)", 15, 34) {
    val rnd = new scala.util.Random(5)
    val e = Seq.fill(600)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong, 1L + rnd.nextInt(97)))
    Matching.greedyMatching(e.toDF("a_id", "b_id", "w"))
  }

  // jobs read 70–72 across runs of the same code: the bound is the highest
  check("nextFitWindows (q318 shape)", 14, 72) {
    val docs = (0L until 300L).map(i => (i, (i * 37) % 200 + 1)).toDF("doc_id", "n_tokens")
    SequencePack.nextFitWindows(docs, capacity = 1024)
  }

  check("randomWalks (q312 shape)", 7, 18) {
    GraphMetrics.randomWalks(chain, anchors.where($"id" % 100 === 0), steps = 4)
  }

  check("node2vecWalks (q347 shape)", 7, 22) {
    GraphMetrics.node2vecWalks(chain, anchors.where($"id" % 100 === 0), steps = 4)
  }

  // ---- fixed-count and driver-elected loops, single-pass operators -----

  /** The PageRank queries' graph: customers (even ids) and suppliers (odd
    * ids) linked by co-orders, both directions.
    */
  private val coOrders = {
    val e = (0 until 240).map(i => ((i % 40).toLong * 2, ((i * 7) % 23).toLong * 2 + 1))
    (e ++ e.map(_.swap)).toDF("s", "d")
  }

  check("ranksFixedPoint (q69 shape)", 4, 13) {
    PageRank.ranksFixedPoint(coOrders.distinct(), "s", "d", iterations = 3)
  }

  check("personalizedFixedPoint (q192 shape)", 4, 15) {
    PageRank.personalizedFixedPoint(coOrders.distinct(), "s", "d",
      (0L until 80L by 10L).toDF("seed"), "seed", iterations = 3)
  }

  check("weightedRanksFixedPoint (q352 shape)", 4, 17) {
    PageRank.weightedRanksFixedPoint(coOrders.withColumn("w", lit(1L)), "s", "d", "w",
      iterations = 3)
  }

  check("labelPropagation (q80 shape)", 3, 12) {
    val parts = (0 until 200).map(i => ((i % 31).toLong * 4, ((i * 13) % 37).toLong * 4 + 124L))
    GraphMetrics.labelPropagation(parts.toDF("a_id", "b_id"), rounds = 2)
  }

  check("hits (q303 shape)", 6, 31) {
    GraphMetrics.hits(chain, "a_id", "b_id", iterations = 2)
  }

  check("modularity (q309 shape)", 1, 8) {
    val nodes = chain.select($"a_id".as("id")).union(chain.select($"b_id".as("id"))).distinct()
    GraphMetrics.modularity(chain, nodes.withColumn("community", expr("id div 64")))
  }

  check("bradleyTerry (q320 shape)", 8, 25) {
    val duels = (0 until 300).map { i =>
      val (a, b) = ((i * 17 % 100).toLong, (i * 29 % 97).toLong)
      if ((i * 7) % 5 < 3) (a, b) else (b, a)
    }
    Eval.bradleyTerry(duels.toDF("winner", "loser"), iterations = 2)
  }

  check("KMeans.clusterStats (q78 shape)", 4, 22) {
    val pts = (0 until 120).map(i =>
      (i.toLong, Array.tabulate(8)(d => ((i * (d + 3)) % 17 - 8).toFloat)))
    KMeans.clusterStats(pts.toDF("vec_id", "embedding"), "vec_id", "embedding",
      k = 8, iterations = 2)
  }

  check("greedyMaxCoverage (q345 shape)", 11, 42) {
    val pairs = (0 until 600).map(i => ((i % 50).toLong, s"t${(i * 31) % 173}"))
    Coverage.greedyMaxCoverage(pairs.toDF("doc_id", "token"), k = 10)
  }

  check("bpeMerges (q135 shape)", 4, 24) {
    val words = Seq("low", "lower", "lowest", "newer", "newest", "wide", "wider", "widest",
      "tall", "taller", "tallest", "new")
    val docs = (0 until 40).map(i => (0 until 12).map(j => words((i * 5 + j * 7) % 12))
      .mkString(" "))
    Ngrams.bpeMerges(docs.toDF("text"), rounds = 16, batch = 8)
  }

  check("dbscan (q330 shape)", 13, 58) {
    val pts = (0L until 300L).map(k =>
      (k, (k * k * 7919L + k * 104729L) % 10003L, (k * k * 6983L + k * 92821L) % 9991L))
    GeoGrid.dbscan(pts.toDF("id", "x", "y"), "id", $"x", $"y", eps = 900L, minPts = 4)
  }

  // ---- round caps -------------------------------------------------------

  /** `run(need)` returns the full result; `run(need - 1)` throws an
    * `IllegalStateException` whose message holds every fragment.
    */
  private def boundary(name: String, need: Int, fragments: String*)(run: Int => DataFrame): Unit =
    test(s"$name runs at exactly the round budget it needs and throws one below") {
      run(need).collect()
      val e = intercept[IllegalStateException](run(need - 1).collect())
      fragments.foreach(f => assert(e.getMessage.contains(f), s"'$f' missing from: ${e.getMessage}"))
    }

  private def directed(e: Seq[(Long, Long)]) = e.toDF("src", "dst")

  boundary("stronglyConnected on a chain of SCCs with tails", 15,
      "did not converge", "maxIter=14") { m =>
    Scc.stronglyConnected(directed(Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (5L, 6L), (6L, 5L),
      (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L), (8L, 9L), (10L, 11L), (11L, 12L), (12L, 13L),
      (13L, 14L), (14L, 10L), (0L, 1L))), maxIter = m)
  }

  boundary("stronglyConnected trimming a 6-chain", 2, "did not converge", "maxIter=1") { m =>
    Scc.stronglyConnected(directed((1L to 5L).map(i => (i, i + 1))), maxIter = m)
  }

  boundary("stronglyConnected on a 17-cycle", 17, "did not converge", "maxIter=16") { m =>
    Scc.stronglyConnected(directed((0L until 17L).map(i => (i + 1L, (i + 1L) % 17L + 1L))),
      maxIter = m)
  }

  boundary("dagLayers on a 10-node path", 5, "cycle", "maxIter=4") { m =>
    Scc.dagLayers(directed((1L to 9L).map(i => (i, i + 1))), maxIter = m)
  }

  boundary("connectedComponents on a 40-edge path", 7,
      "connectedComponents", "did not converge") { m =>
    Components.connectedComponents((0L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id"),
      maxIter = m)
  }

  boundary("boruvka on a 24-edge path", 3, "boruvka", "did not converge") { m =>
    val rnd = new scala.util.Random(41)
    SpanningForest.boruvka((0L until 24L).map(i => (i, i + 1, 100L + rnd.nextInt(50)))
      .toDF("a_id", "b_id", "weight"), maxRounds = m)
  }

  boundary("greedyMatching on a monotone path", 6, "greedyMatching", "maxIter=5") { m =>
    val path = (1L to 12L).sliding(2).map(p => (p(0), p(1), p(0))).toSeq
    Matching.greedyMatching(path.toDF("a_id", "b_id", "w"), maxIter = m)
  }

  // ---- coreDecomposition's batched rounds ------------------------------

  test("coreDecomposition stops at the first update that changes nothing") {
    // K5 starts at its fixpoint (every degree is its coreness 4). The
    // tailed triangle 1-2-3, 3-4-5 reaches it at the first update, so the
    // second leaves sum(h) unchanged inside the same batch: no
    // confirming batch follows.
    val k5 = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val tailed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    for ((g, want) <- Seq(
        k5 -> (1 to 5).map(i => s"[$i,4]"),
        tailed -> Seq("[1,2]", "[2,2]", "[3,2]", "[4,1]", "[5,1]"))) {
      val before = Staging.stageCalls.get()
      val got = rows(GraphMetrics.coreDecomposition(g.toDF("a_id", "b_id")))
      assert(Staging.stageCalls.get() - before == 3L, "expected sym + seed + one batch")
      assert(got == want)
    }
  }

  test("coreDecomposition still fails when maxRounds ends the cascade") {
    // a 40-node path peels one layer from each end per update
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      GraphMetrics.coreDecomposition(path, maxRounds = 6)
    }
    assert(e.getMessage.contains("coreDecomposition did not reach its fixpoint within maxRounds=6"))
    assert(rows(GraphMetrics.coreDecomposition(path)).toSet == (1 to 40).map(i => s"[$i,1]").toSet)
  }

  // ---- per-round progress -----------------------------------------------

  test("each round logs operator, round and observed value at DEBUG only") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = LogManager.getLogger("graft.ops.Fixpoint").asInstanceOf[Logger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("fixpoint-rounds", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val level = logger.getLevel
    def run(): Unit =
      GraphMetrics.multiSourceCloseness(chain, Seq(0L).toDF("id"), maxDepth = 3).collect()
    capture.start()
    logger.addAppender(capture)
    try {
      run()
      assert(lines.isEmpty, "round progress logged while DEBUG is off")
      logger.setLevel(Level.DEBUG)
      run()
    } finally {
      logger.setLevel(level)
      logger.removeAppender(capture)
      capture.stop()
    }
    // from node 0: {1, 5} at depth 1, {2, 22} at 2, {21} at 3
    assert(lines.toArray.toSeq == Seq(
      "multiSourceCloseness round 1: frontier 2",
      "multiSourceCloseness round 2: frontier 2",
      "multiSourceCloseness round 3: frontier 1"))
  }

  // ---- degenerate inputs ------------------------------------------------

  private val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
  private val noSources = Seq.empty[Long].toDF("id")
  private val twoSources = Seq(1L, 2L).toDF("id")

  private def sameSchema(got: DataFrame, normal: DataFrame): Unit =
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      normal.schema.map(f => (f.name, f.dataType)))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("multiSourceCloseness: empty sources and an edgeless graph") {
    def run(p: DataFrame, s: DataFrame) = GraphMetrics.multiSourceCloseness(p, s, maxDepth = 4)
    val normal = run(chain, anchors)
    val none = run(chain, noSources)
    sameSchema(none, normal)
    assert(none.count() == 0L)
    val isolated = run(noPairs, twoSources)
    sameSchema(isolated, normal)
    assert(rows(isolated) == Seq("[1,0,0,0]", "[2,0,0,0]"))
  }

  test("temporalReachability: empty sources and an edgeless graph") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 6L)).toDF("src", "dst", "t")
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "t")
    val normal = GraphMetrics.temporalReachability(edges, twoSources)
    assert(normal.count() == 3L)
    for ((e, s) <- Seq((edges, noSources), (noEdges, twoSources))) {
      val got = GraphMetrics.temporalReachability(e, s)
      sameSchema(got, normal)
      assert(got.count() == 0L)
    }
  }

  test("betweennessSampled: empty sources and an edgeless graph") {
    val normal = GraphMetrics.betweennessSampled(chain, anchors)
    assert(normal.count() > 0L)
    for ((p, s) <- Seq((chain, noSources), (noPairs, twoSources))) {
      val got = GraphMetrics.betweennessSampled(p, s)
      sameSchema(got, normal)
      assert(got.count() == 0L)
    }
  }

  test("weightedSssp: empty sources and an edgeless graph") {
    val edges = Seq((1L, 2L, 3L)).toDF("src", "dst", "w")
    val noEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val normal = Paths.weightedSssp(edges, twoSources)
    val none = Paths.weightedSssp(edges, noSources)
    sameSchema(none, normal)
    assert(none.count() == 0L)
    val isolated = Paths.weightedSssp(noEdges, twoSources)
    sameSchema(isolated, normal)
    assert(rows(isolated) == Seq("[1,1,0]", "[2,2,0]"))
  }

  test("doubleSweep from a node without edges reports itself") {
    val normal = GraphMetrics.doubleSweep(chain, startId = 20L)
    for (p <- Seq(chain, noPairs)) {
      val got = GraphMetrics.doubleSweep(p, startId = 7L)
      sameSchema(got, normal)
      assert(rows(got) == Seq("[7,0,1,7,0]"))
    }
  }

  test("kTruss of an edgeless graph is empty with the normal schema") {
    val triangle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a_id", "b_id")
    val got = GraphMetrics.kTruss(noPairs, k = 3)
    sameSchema(got, GraphMetrics.kTruss(triangle, k = 3))
    assert(got.count() == 0L)
  }

  // ---- degenerate edge lists, both postures -----------------------------

  private val emptyEdges = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
  private val nullEdges = Seq[(java.lang.Long, java.lang.Long)](
    (null, null), (null, 3L), (4L, null)).toDF("a_id", "b_id")
  private val loopEdges = Seq((1L, 1L), (2L, 2L)).toDF("a_id", "b_id")

  /** `run` on the empty, all-null and self-loop-only edge lists (columns
    * `a_id`, `b_id`) returns `normal`'s schema and the rows in `want`, in
    * that order, on both postures.
    */
  private def degenerate(name: String, want: Seq[Seq[String]])(normal: => DataFrame)(
      run: (DataFrame, Boolean) => DataFrame): Unit =
    test(s"$name: empty, all-null and self-loop-only inputs on both postures") {
      val n = normal
      for (reliable <- Seq(false, true);
           (input, rowsWanted) <- Seq(emptyEdges, nullEdges, loopEdges).zip(want)) {
        val got = run(input, reliable)
        sameSchema(got, n)
        assert(rows(got) == rowsWanted, s"reliable = $reliable")
      }
      spark.catalog.clearCache()
    }

  private val none = Seq.empty[String]
  private val startRows = Seq("[1,0,1]", "[2,0,2]")
  private def weighted(e: DataFrame, w: String) = e.withColumn(w, org.apache.spark.sql.functions.lit(3L))

  degenerate("stronglyConnected", Seq(none, Seq("[3,3]", "[4,4]"), Seq("[1,1]", "[2,2]")))(
    Scc.stronglyConnected(sccGraph)) { (e, r) =>
    Scc.stronglyConnected(e, "a_id", "b_id", reliable = r)
  }

  degenerate("condensationEdges", Seq(none, none, none))(Scc.condensationEdges(sccGraph)) { (e, r) =>
    Scc.condensationEdges(e, "a_id", "b_id", reliable = r)
  }

  test("dagLayers: empty and all-null inputs on both postures; self-loops refused") {
    val normal = Scc.dagLayers(directed(Seq((1L, 2L))))
    for (reliable <- Seq(false, true)) {
      for ((input, want) <- Seq(emptyEdges -> none, nullEdges -> Seq("[3,0]", "[4,0]"))) {
        val got = Scc.dagLayers(input, "a_id", "b_id", reliable = reliable)
        sameSchema(got, normal)
        assert(rows(got) == want)
      }
      val e = intercept[IllegalArgumentException](
        Scc.dagLayers(loopEdges, "a_id", "b_id", reliable = reliable))
      assert(e.getMessage.contains("self-loop at node 1"))
    }
    spark.catalog.clearCache()
  }

  degenerate("connectedComponents", Seq(none, none, none))(Components.connectedComponents(chain)) {
    (e, r) => Components.connectedComponents(e, reliable = r)
  }

  degenerate("mergeIncrement", Seq.fill(3)(Seq("[1,1]")))(Components.connectedComponents(chain)) {
    (e, r) => Components.mergeIncrement(Seq((1L, 1L)).toDF("id", "component"), e, reliable = r)
  }

  degenerate("boruvka", Seq(none, none, none))(
    SpanningForest.boruvka(Seq((1L, 2L, 3L)).toDF("a_id", "b_id", "weight"))) { (e, r) =>
    SpanningForest.boruvka(weighted(e, "weight"), reliable = r)
  }

  degenerate("greedyMatching", Seq(none, none, none))(
    Matching.greedyMatching(Seq((1L, 2L, 3L)).toDF("a_id", "b_id", "w"))) { (e, r) =>
    Matching.greedyMatching(weighted(e, "w"), reliable = r)
  }

  degenerate("randomWalks", Seq.fill(3)(startRows))(
    GraphMetrics.randomWalks(chain, anchors, steps = 2)) { (e, r) =>
    GraphMetrics.randomWalks(e, twoSources, steps = 3, reliable = r)
  }

  degenerate("node2vecWalks", Seq.fill(3)(startRows))(
    GraphMetrics.node2vecWalks(chain, anchors, steps = 2)) { (e, r) =>
    GraphMetrics.node2vecWalks(e, twoSources, steps = 3, reliable = r)
  }

  test("randomWalks and node2vecWalks: no start rows give an empty corpus") {
    for (reliable <- Seq(false, true)) {
      val got = GraphMetrics.randomWalks(chain, noSources, steps = 3, reliable = reliable)
      sameSchema(got, GraphMetrics.randomWalks(chain, anchors, steps = 2))
      assert(got.count() == 0L)
      assert(GraphMetrics.node2vecWalks(chain, noSources, steps = 3, reliable = reliable)
        .count() == 0L)
    }
    spark.catalog.clearCache()
  }

  test("nextFitWindows: empty, all-null and self-loop-only inputs on both postures") {
    val normal = SequencePack.nextFitWindows(Seq((1L, 5L)).toDF("doc_id", "n_tokens"), capacity = 8)
    def run(e: DataFrame, reliable: Boolean) =
      SequencePack.nextFitWindows(e.toDF("doc_id", "n_tokens"), capacity = 8, reliable = reliable)
    for (reliable <- Seq(false, true)) {
      for ((input, want) <- Seq(emptyEdges -> none, loopEdges -> Seq("[1,0,1]", "[2,0,2]"))) {
        val got = run(input, reliable)
        sameSchema(got, normal)
        assert(rows(got) == want)
      }
      // {(null, 3)} is the one row of the all-null list with tokens
      val e = intercept[IllegalArgumentException](run(nullEdges, reliable))
      assert(e.getMessage.contains("nextFitWindows") && e.getMessage.contains("null doc_id"))
    }
    spark.catalog.clearCache()
  }
}
