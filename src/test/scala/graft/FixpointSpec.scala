package graft

import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import graft.ops.{GraphMetrics, Paths, Staging}

/** The staged-fixpoint graph operators ([[graft.ops.Fixpoint]]).
  *
  * Budgets: on fixed small graphs shaped like their catalogue queries
  * (q172, q304, q308, q310, q311, q313, q316, q340), the `Staging.stage`
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
  * Degenerate inputs: an empty source set, an edgeless graph and an
  * isolated start node return the operator's normal schema with empty or
  * seed-only rows.
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
}
