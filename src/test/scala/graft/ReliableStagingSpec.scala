package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.{Components, Coverage, Eval, GeoGrid, GraphMetrics, KMeans, Matching, Ngrams,
  PageRank, Paths, Scc, SequencePack, SpanningForest, Staging}

/** The `reliable` staging switch ([[graft.ops.Staging]]) must be
  * behavior-neutral: every iterative op threaded through it has to
  * produce BIT-IDENTICAL results on both postures (localCheckpoint vs
  * lineage-keeping persist), because the switch changes only fault
  * tolerance, never semantics. One parity test per threaded op; KMeans
  * and neighborhoodSize have theirs in their own suites.
  */
class ReliableStagingSpec extends SparkSpec {
  import spark.implicits._

  private val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("a_id", "b_id")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("PageRank.ranksFixedPoint: reliable=true matches the localCheckpoint path") {
    def run(reliable: Boolean) = sortedRows(
      PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6, reliable = reliable))
    assert(run(reliable = true) == run(reliable = false))
  }

  test("PageRank.personalizedFixedPoint: reliable=true matches the localCheckpoint path") {
    val seeds = Seq(1L).toDF("id")
    def run(reliable: Boolean) = sortedRows(
      PageRank.personalizedFixedPoint(edges, "a_id", "b_id", seeds, "id",
        iterations = 6, reliable = reliable))
    assert(run(reliable = true) == run(reliable = false))
  }

  test("Components.connectedComponents: reliable=true matches the localCheckpoint path") {
    def run(reliable: Boolean) = sortedRows(
      Components.connectedComponents(edges, reliable = reliable))
    val got = run(reliable = true)
    assert(got == run(reliable = false))
    // sanity: two components, rooted at their minima
    assert(got.size == 8)
  }

  test("Ngrams.bpeMerges: reliable=true matches the localCheckpoint path") {
    val docs = Seq("low low low lower lowest", "new newer newest low").toDF("text")
    def run(reliable: Boolean) = sortedRows(
      Ngrams.bpeMerges(docs, rounds = 9, reliable = reliable))
    assert(run(reliable = true) == run(reliable = false))
  }

  test("GraphMetrics.labelPropagation: reliable=true matches the localCheckpoint path") {
    def run(reliable: Boolean) = sortedRows(
      GraphMetrics.labelPropagation(edges, rounds = 5, reliable = reliable))
    assert(run(reliable = true) == run(reliable = false))
  }

  test("GraphMetrics.kCore: reliable=true matches the localCheckpoint path") {
    def run(reliable: Boolean) = sortedRows(
      GraphMetrics.kCore(edges, k = 2, reliable = reliable))
    val got = run(reliable = true)
    assert(got == run(reliable = false))
    assert(got.nonEmpty) // the two triangles survive k=2
  }

  test("GraphMetrics.doubleSweep: reliable=true matches the localCheckpoint path") {
    def run(reliable: Boolean) = sortedRows(
      GraphMetrics.doubleSweep(edges, startId = 5L, reliable = reliable))
    val got = run(reliable = true)
    assert(got == run(reliable = false))
    assert(got == Seq("[5,3,5,1,3]")) // 5-4-3-{1,2}: pivot 1, diameter bound 3
  }

  test("Paths.weightedSssp: reliable=true matches the localCheckpoint path") {
    val weighted = edges.withColumn("w", (col("a_id") * 3 + col("b_id")) % 5 + 1)
    def run(reliable: Boolean) = sortedRows(Paths.weightedSssp(
      weighted, Seq(1L, 10L).toDF("id"), "a_id", "b_id", reliable = reliable))
    val got = run(reliable = true)
    assert(got == run(reliable = false))
    assert(got.size == 8) // 1 reaches 1..5, 10 reaches 10..12
  }

  // The loops below read convergence off an observation of the staging
  // job by default and off one probe action on the reliable posture, so
  // both postures must also stage the same rounds.
  private def rowsAndStages(run: => DataFrame): (Seq[String], Long) = {
    val before = Staging.stageCalls.get()
    val rows = sortedRows(run)
    (rows, Staging.stageCalls.get() - before)
  }

  test("GraphMetrics.coreDecomposition: reliable=true matches rows and staged rounds") {
    // the path 20–28 first reaches its fixpoint at update 4, inside the
    // second batch of three: both postures stop after that batch
    val g = edges.union((20L until 28L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
    def run(reliable: Boolean) =
      rowsAndStages(GraphMetrics.coreDecomposition(g, reliable = reliable))
    val (got, staged) = run(reliable = true)
    assert((got, staged) == run(reliable = false))
    assert(got.size == 17 && staged == 4L) // sym + seed + two batches
    spark.catalog.clearCache()
  }

  test("GraphMetrics.kTruss: reliable=true matches rows and staged rounds") {
    def run(reliable: Boolean) =
      rowsAndStages(GraphMetrics.kTruss(edges, k = 3, reliable = reliable))
    val (got, staged) = run(reliable = true)
    assert((got, staged) == run(reliable = false))
    assert(got.size == 6) // the two triangles
    spark.catalog.clearCache()
  }

  test("GraphMetrics.multiSourceCloseness: reliable=true matches rows and staged rounds") {
    def run(reliable: Boolean) = rowsAndStages(GraphMetrics.multiSourceCloseness(
      edges, Seq(1L, 10L).toDF("id"), reliable = reliable))
    val (got, staged) = run(reliable = true)
    val (local, localStaged) = run(reliable = false)
    assert(got == local)
    assert(got == Seq("[1,4,7,571428]", "[10,2,2,1000000]"))
    // the same rounds; the reliable posture also pins the result before
    // releasing the rounds' frames (Fixpoint.finish)
    assert(staged == localStaged + 1L)
  }

  test("Scc.dagLayers: reliable=true matches rows and staged rounds") {
    val dag = Seq((9L, 4L), (4L, 2L), (2L, 1L), (9L, 8L), (8L, 1L), (7L, 3L))
      .toDF("src", "dst")
    def run(reliable: Boolean) = rowsAndStages(Scc.dagLayers(dag, reliable = reliable))
    val (got, staged) = run(reliable = true)
    assert((got, staged) == run(reliable = false))
    assert(got.size == 7)
    spark.catalog.clearCache()
  }

  test("Matching.greedyMatching: reliable=true matches rows and staged rounds") {
    val w = Seq((1L, 2L, 4L), (2L, 3L, 3L), (3L, 4L, 2L), (4L, 5L, 1L), (5L, 6L, 5L),
      (1L, 6L, 6L), (10L, 11L, 1L), (11L, 12L, 1L)).toDF("a_id", "b_id", "w")
    def run(reliable: Boolean) = rowsAndStages(Matching.greedyMatching(w, reliable = reliable))
    val (got, staged) = run(reliable = true)
    assert((got, staged) == run(reliable = false))
    assert(got.size == 4)
    spark.catalog.clearCache()
  }

  test("Coverage.greedyMaxCoverage: reliable=true matches rows and staged rounds") {
    val pairs = (0 until 60).map(i => ((i % 9).toLong, s"t${(i * 7) % 23}")).toDF("doc_id", "token")
    def run(reliable: Boolean) =
      rowsAndStages(Coverage.greedyMaxCoverage(pairs, k = 4, reliable = reliable))
    val (got, staged) = run(reliable = true)
    assert((got, staged) == run(reliable = false))
    assert(got.size == 4)
    spark.catalog.clearCache()
  }

  test("GraphMetrics.modularity: reliable=true matches rows and staged rounds") {
    val labels = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(i => (i, i / 10)).toDF("id", "community")
    def run(reliable: Boolean) = rowsAndStages(GraphMetrics.modularity(edges, labels,
      reliable = reliable))
    val (got, staged) = run(reliable = true)
    val (local, localStaged) = run(reliable = false)
    assert(got == local)
    assert(got.size == 4) // communities 0 and 1, singletons 4 and 5
    // the reliable posture also pins the result (Fixpoint.finish)
    assert(staged == localStaged + 1L)
    spark.catalog.clearCache()
  }

  // A reliable run persists its rounds; once its result is materialized
  // only the result's frame may stay persisted (nextFitWindows also keeps
  // the two range pins of its prefix sums and window ids, which are
  // `Staging.pin` frames, not rounds; KMeans.fit returns its centroids
  // from the driver-held codebook, and bpeMerges a driver-built table).
  private def residue(run: => DataFrame): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run.collect()
    val left = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    spark.catalog.clearCache()
    left
  }

  test("reliable staged-fixpoint runs leave only their result persisted") {
    val directed = edges.toDF("src", "dst")
    val w = edges.withColumn("w", col("a_id") + col("b_id"))
    val docs = (1L to 80L).map(i => (i, 1L + (i * 7) % 20)).toDF("doc_id", "n_tokens")
    val starts = Seq(1L, 10L).toDF("id")
    val points = (0L until 30L).map(i => (i, i % 6 * 2 + i / 15 * 40, i / 6 % 3)).toDF("id", "x", "y")
    val vectors = (0 until 30).map(i => (i.toLong, Array.tabulate(4)(d => ((i * (d + 2)) % 9).toFloat)))
      .toDF("vec_id", "embedding")
    for ((name, allowed, run) <- Seq[(String, Int, () => DataFrame)](
        ("stronglyConnected", 1, () => Scc.stronglyConnected(directed, reliable = true)),
        ("condensationEdges", 1, () => Scc.condensationEdges(directed, reliable = true)),
        ("dagLayers", 1, () => Scc.dagLayers(directed.where(col("src") < col("dst")), reliable = true)),
        ("connectedComponents", 1, () => Components.connectedComponents(edges, reliable = true)),
        ("mergeIncrement", 1, () => Components.mergeIncrement(
          Seq((20L, 20L)).toDF("id", "component"), edges, reliable = true)),
        ("boruvka", 1, () => SpanningForest.boruvka(w.withColumnRenamed("w", "weight"), reliable = true)),
        ("greedyMatching", 1, () => Matching.greedyMatching(w, reliable = true)),
        ("nextFitWindows", 3, () => SequencePack.nextFitWindows(docs, capacity = 32, reliable = true)),
        ("randomWalks", 1, () => GraphMetrics.randomWalks(edges, starts, steps = 3, reliable = true)),
        ("node2vecWalks", 1, () => GraphMetrics.node2vecWalks(edges, starts, steps = 3, reliable = true)),
        ("ranksFixedPoint", 1, () => PageRank.ranksFixedPoint(edges, "a_id", "b_id",
          iterations = 5, reliable = true)),
        ("personalizedFixedPoint", 1, () => PageRank.personalizedFixedPoint(edges, "a_id", "b_id",
          starts, "id", iterations = 5, reliable = true)),
        ("weightedRanksFixedPoint", 1, () => PageRank.weightedRanksFixedPoint(w, "a_id", "b_id", "w",
          iterations = 5, reliable = true)),
        ("labelPropagation", 1, () => GraphMetrics.labelPropagation(edges, rounds = 5, reliable = true)),
        ("hits", 1, () => GraphMetrics.hits(directed, "src", "dst", iterations = 3, reliable = true)),
        ("modularity", 1, () => GraphMetrics.modularity(edges, starts.withColumn("community",
          col("id")), reliable = true)),
        ("coreDecomposition", 1, () => GraphMetrics.coreDecomposition(edges, reliable = true)),
        ("bradleyTerry", 1, () => Eval.bradleyTerry(directed, "src", "dst", iterations = 3,
          reliable = true)),
        ("greedyMaxCoverage", 1, () => Coverage.greedyMaxCoverage(
          edges.select(col("a_id").as("doc_id"), col("b_id").cast("string").as("token")), k = 3,
          reliable = true)),
        ("dbscan", 1, () => GeoGrid.dbscan(points, "id", col("x"), col("y"), eps = 3L, minPts = 3,
          reliable = true)),
        ("KMeans.fit", 1, () => {
          val (c, a) = KMeans.fit(vectors, "vec_id", "embedding", k = 3, iterations = 3,
            reliable = true)
          c.collect(); a
        }),
        ("bpeMerges", 0, () => Ngrams.bpeMerges(Seq("low low lower lowest newer newest").toDF("text"),
          rounds = 12, reliable = true)))) {
      val left = residue(run())
      info(s"$name: $left persisted RDDs left")
      assert(left <= allowed, s"$name left $left persisted RDDs (allowed $allowed)")
    }
  }

  // Registration order matters for the two pin tests: the shared
  // SparkContext keeps its checkpoint dir once set, so the no-dir guard
  // must run BEFORE the test that sets one.
  test("reliablePin without a checkpoint dir fails fast with instructions") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite already set a checkpoint dir on the shared context")
    spark.conf.set("spark.graft.reliablePin", "true")
    val df = Seq(1L, 2L).toDF("v")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.ops.Normalize.denseIds(df, "v", "v", "rk").collect()
      }
      assert(e.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset("spark.graft.reliablePin")
  }

  test("denseIds: spark.graft.reliablePin=true (real checkpoint) matches the default path") {
    val df = (0 until 500).map(i => ((i * 37) % 500).toLong).toDF("v")
    def run(): Seq[String] = sortedRows(graft.ops.Normalize.denseIds(df, "v", "v", "rk"))
    val base = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.reliablePin", "true")
    try assert(run() == base)
    finally spark.conf.unset("spark.graft.reliablePin")
  }

  test("reliable + reliablePin escalates loops to real checkpoints (truncated plan, same results)") {
    // Self-sufficient: set a checkpoint dir if no earlier test has (the
    // shared context keeps it either way) — this test must never cancel
    // itself away, it is the only coverage of the escalated stage() path.
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt-esc").toString)
    spark.conf.set("spark.graft.reliablePin", "true")
    try {
      val pr = sortedRows(
        PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6, reliable = true))
      assert(pr == sortedRows(
        PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6, reliable = false)))
      val cc = sortedRows(Components.connectedComponents(edges, reliable = true))
      assert(cc == sortedRows(Components.connectedComponents(edges, reliable = false)))
    } finally spark.conf.unset("spark.graft.reliablePin")
  }

  test("staged-leaf statistics stay capped across self-joining rounds (no compounding)") {
    // Regression pin for the round-10 planner blowup: checkpoint APIs
    // preserve origin stats, and a loop whose rounds self-join staged
    // frames multiplies them — sizeInBytes bit-length grew ~65x PER
    // ROUND (43 → 10k → 697k → 45M bits by Borůvka round 3 at sf0.1)
    // until the driver spent seconds per planning pass in
    // BigInteger.divide. The staged leaf caps the estimate at 2^50, so
    // after ANY number of rounds the staged frame's stats must stay
    // within the cap (plus nothing: the leaf reports the capped origin
    // directly), and a 3-deep self-join chain over it stays small.
    def selfJoinRound(df: DataFrame): DataFrame = {
      val j = df.alias("a").join(df.alias("b"), col("a.p") === col("b.comp"))
        .select(col("a.comp").as("comp"), col("b.p").as("p"))
      j.alias("a").join(j.alias("b"), col("a.p") === col("b.comp"))
        .select(col("a.comp").as("comp"), col("b.p").as("p"))
    }
    var cur = graft.ops.Staging.stage(
      Seq((1L, 2L), (2L, 3L), (3L, 3L)).toDF("comp", "p"), reliable = false)
    for (_ <- 1 to 4) cur = graft.ops.Staging.stage(selfJoinRound(cur), reliable = false)
    val bits = cur.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 51, s"staged-leaf stats compounding again: $bits bits after 4 rounds")
    // and the reliable posture's leaf obeys the same cap
    val rel = graft.ops.Staging.stage(selfJoinRound(cur), reliable = true)
    val relBits = rel.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    rel.unpersist()
    assert(relBits <= 51, s"reliable staged-leaf stats uncapped: $relBits bits")
  }
}
