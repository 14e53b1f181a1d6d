package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import graft.ops.{Components, Coverage, Eval, GeoGrid, GraphMetrics, KMeans, Matching, Ngrams,
  PageRank, Paths, Scc, SequencePack, SpanningForest, Staging}

/** The staging posture ([[graft.ops.Staging]]) must be behavior-neutral:
  * every iterative op has to produce BIT-IDENTICAL results, and stage
  * the same rounds, whether the SparkContext has a checkpoint dir
  * (reliable `checkpoint()`) or not (`localCheckpoint()`), because the
  * dir changes only fault tolerance, never semantics. Each test sets the
  * dir only for its own runs ([[SparkSpec.checkpointed]]). One parity
  * test per staged op; KMeans and neighborhoodSize have theirs in their
  * own suites.
  */
class ReliableStagingSpec extends SparkSpec {
  import spark.implicits._

  private val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("a_id", "b_id")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Rows of `run` and its staged rounds, inside a checkpoint dir and
    * outside one; asserts they are equal and returns the rows.
    */
  private def parity(run: => DataFrame): Seq[String] = {
    val (local, reliable) = bothPostures(sortedRows(run))
    assert(reliable == local)
    local._1
  }

  test("PageRank.ranksFixedPoint: reliable=true matches the localCheckpoint path") {
    parity(PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6))
  }

  test("PageRank.personalizedFixedPoint: reliable=true matches the localCheckpoint path") {
    val seeds = Seq(1L).toDF("id")
    parity(PageRank.personalizedFixedPoint(edges, "a_id", "b_id", seeds, "id", iterations = 6))
  }

  test("Components.connectedComponents: reliable=true matches the localCheckpoint path") {
    val got = parity(Components.connectedComponents(edges))
    // sanity: two components, rooted at their minima
    assert(got.size == 8)
  }

  test("Ngrams.bpeMerges: reliable=true matches the localCheckpoint path") {
    val docs = Seq("low low low lower lowest", "new newer newest low").toDF("text")
    parity(Ngrams.bpeMerges(docs, rounds = 9))
  }

  test("GraphMetrics.labelPropagation: reliable=true matches the localCheckpoint path") {
    parity(GraphMetrics.labelPropagation(edges, rounds = 5))
  }

  test("GraphMetrics.kCore: reliable=true matches the localCheckpoint path") {
    val got = parity(GraphMetrics.kCore(edges, k = 2))
    assert(got.nonEmpty) // the two triangles survive k=2
  }

  test("GraphMetrics.doubleSweep: reliable=true matches the localCheckpoint path") {
    val got = parity(GraphMetrics.doubleSweep(edges, startId = 5L))
    assert(got == Seq("[5,3,5,1,3]")) // 5-4-3-{1,2}: pivot 1, diameter bound 3
  }

  test("Paths.weightedSssp: reliable=true matches the localCheckpoint path") {
    val weighted = edges.withColumn("w", (col("a_id") * 3 + col("b_id")) % 5 + 1)
    val got = parity(Paths.weightedSssp(weighted, Seq(1L, 10L).toDF("id"), "a_id", "b_id"))
    assert(got.size == 8) // 1 reaches 1..5, 10 reaches 10..12
  }

  // The loops below read convergence off an observation of the staging
  // job, which both postures deliver, so both must stage the same rounds.
  private def rowsAndStages(run: => DataFrame): ((Seq[String], Long), (Seq[String], Long)) =
    bothPostures(sortedRows(run))

  test("GraphMetrics.coreDecomposition: reliable=true matches rows and staged rounds") {
    // the path 20–28 first reaches its fixpoint at update 4, inside the
    // second batch of three: both postures stop after that batch
    val g = edges.union((20L until 28L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
    val (local, (got, staged)) = rowsAndStages(GraphMetrics.coreDecomposition(g))
    assert((got, staged) == local)
    assert(got.size == 17 && staged == 4L) // sym + seed + two batches
  }

  test("GraphMetrics.kTruss: reliable=true matches rows and staged rounds") {
    val (local, (got, staged)) = rowsAndStages(GraphMetrics.kTruss(edges, k = 3))
    assert((got, staged) == local)
    assert(got.size == 6) // the two triangles
  }

  test("GraphMetrics.multiSourceCloseness: reliable=true matches rows and staged rounds") {
    val ((local, localStaged), (got, staged)) = rowsAndStages(
      GraphMetrics.multiSourceCloseness(edges, Seq(1L, 10L).toDF("id")))
    assert(got == local)
    assert(got == Seq("[1,4,7,571428]", "[10,2,2,1000000]"))
    // the same rounds: neither posture stages anything the other does not
    assert(staged == localStaged)
  }

  test("Scc.dagLayers: reliable=true matches rows and staged rounds") {
    val dag = Seq((9L, 4L), (4L, 2L), (2L, 1L), (9L, 8L), (8L, 1L), (7L, 3L))
      .toDF("src", "dst")
    val (local, (got, staged)) = rowsAndStages(Scc.dagLayers(dag))
    assert((got, staged) == local)
    assert(got.size == 7)
  }

  test("Matching.greedyMatching: reliable=true matches rows and staged rounds") {
    val w = Seq((1L, 2L, 4L), (2L, 3L, 3L), (3L, 4L, 2L), (4L, 5L, 1L), (5L, 6L, 5L),
      (1L, 6L, 6L), (10L, 11L, 1L), (11L, 12L, 1L)).toDF("a_id", "b_id", "w")
    val (local, (got, staged)) = rowsAndStages(Matching.greedyMatching(w))
    assert((got, staged) == local)
    assert(got.size == 4)
  }

  test("Coverage.greedyMaxCoverage: reliable=true matches rows and staged rounds") {
    val pairs = (0 until 60).map(i => ((i % 9).toLong, s"t${(i * 7) % 23}")).toDF("doc_id", "token")
    val (local, (got, staged)) = rowsAndStages(Coverage.greedyMaxCoverage(pairs, k = 4))
    assert((got, staged) == local)
    assert(got.size == 4)
  }

  test("GraphMetrics.modularity: reliable=true matches rows and staged rounds") {
    val labels = Seq(1L, 2L, 3L, 10L, 11L, 12L).map(i => (i, i / 10)).toDF("id", "community")
    val ((local, localStaged), (got, staged)) =
      rowsAndStages(GraphMetrics.modularity(edges, labels))
    assert(got == local)
    assert(got.size == 4) // communities 0 and 1, singletons 4 and 5
    assert(staged == localStaged)
  }

  // Staging holds no CacheManager entry on either posture, and inside a
  // checkpoint dir a run leaves no persisted RDD either. Without a dir
  // each `localCheckpoint`'s blocks are a persisted RDD while its frame
  // lives (`persistentRdds` holds RDDs weakly, so they go with their
  // frames), so there only the CacheManager is checked.
  private def residue(run: => DataFrame): (Int, Boolean) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    run.collect()
    ((spark.sparkContext.getPersistentRDDs.keySet -- before).size,
      spark.sharedState.cacheManager.isEmpty)
  }

  test("reliable staged-fixpoint runs leave only their result persisted") {
    val directed = edges.toDF("src", "dst")
    val w = edges.withColumn("w", col("a_id") + col("b_id"))
    val docs = (1L to 80L).map(i => (i, 1L + (i * 7) % 20)).toDF("doc_id", "n_tokens")
    val starts = Seq(1L, 10L).toDF("id")
    val points = (0L until 30L).map(i => (i, i % 6 * 2 + i / 15 * 40, i / 6 % 3)).toDF("id", "x", "y")
    val vectors = (0 until 30).map(i => (i.toLong, Array.tabulate(4)(d => ((i * (d + 2)) % 9).toFloat)))
      .toDF("vec_id", "embedding")
    spark.catalog.clearCache()
    for ((name, run) <- Seq[(String, () => DataFrame)](
        ("stronglyConnected", () => Scc.stronglyConnected(directed)),
        ("condensationEdges", () => Scc.condensationEdges(directed)),
        ("dagLayers", () => Scc.dagLayers(directed.where(col("src") < col("dst")))),
        ("connectedComponents", () => Components.connectedComponents(edges)),
        ("mergeIncrement", () => Components.mergeIncrement(
          Seq((20L, 20L)).toDF("id", "component"), edges)),
        ("boruvka", () => SpanningForest.boruvka(w.withColumnRenamed("w", "weight"))),
        ("greedyMatching", () => Matching.greedyMatching(w)),
        ("nextFitWindows", () => SequencePack.nextFitWindows(docs, capacity = 32)),
        ("randomWalks", () => GraphMetrics.randomWalks(edges, starts, steps = 3)),
        ("node2vecWalks", () => GraphMetrics.node2vecWalks(edges, starts, steps = 3)),
        ("ranksFixedPoint", () => PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 5)),
        ("personalizedFixedPoint", () => PageRank.personalizedFixedPoint(edges, "a_id", "b_id",
          starts, "id", iterations = 5)),
        ("weightedRanksFixedPoint", () => PageRank.weightedRanksFixedPoint(w, "a_id", "b_id", "w",
          iterations = 5)),
        ("labelPropagation", () => GraphMetrics.labelPropagation(edges, rounds = 5)),
        ("hits", () => GraphMetrics.hits(directed, "src", "dst", iterations = 3)),
        ("modularity", () => GraphMetrics.modularity(edges, starts.withColumn("community",
          col("id")))),
        ("coreDecomposition", () => GraphMetrics.coreDecomposition(edges)),
        ("bradleyTerry", () => Eval.bradleyTerry(directed, "src", "dst", iterations = 3)),
        ("greedyMaxCoverage", () => Coverage.greedyMaxCoverage(
          edges.select(col("a_id").as("doc_id"), col("b_id").cast("string").as("token")), k = 3)),
        ("dbscan", () => GeoGrid.dbscan(points, "id", col("x"), col("y"), eps = 3L, minPts = 3)),
        ("KMeans.fit", () => {
          val (c, a) = KMeans.fit(vectors, "vec_id", "embedding", k = 3, iterations = 3)
          c.collect(); a
        }),
        ("bpeMerges", () => Ngrams.bpeMerges(Seq("low low lower lowest newer newest").toDF("text"),
          rounds = 12)))) {
      val (left, uncached) = checkpointed(residue(run()))
      info(s"$name: $left persisted RDDs left")
      assert(left == 0, s"$name left $left persisted RDDs")
      assert(uncached && residue(run())._2, s"$name left a CacheManager entry")
    }
  }

  /** The RDD under the staged leaf `df`. */
  private def leafRdd(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => fail(s"not a staged leaf: ${other.nodeName}")
    }

  test("reliablePin without a checkpoint dir fails fast with instructions") {
    // without a dir every posture is local: the pin and a staged round
    // are eager local checkpoints and write nothing
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "a checkpoint dir leaked into this suite")
    val df = Seq(1L, 2L).toDF("v")
    for (frame <- Seq(Staging.pin(df), Staging.stage(df)).map(leafRdd)) {
      assert(frame.isCheckpointed)
      assert(frame.getCheckpointFile.isEmpty)
    }
    assert(sortedRows(graft.ops.Normalize.denseIds(df, "v", "v", "rk")) == Seq("[1,0]", "[2,1]"))
  }

  test("denseIds: spark.graft.reliablePin=true (real checkpoint) matches the default path") {
    val df = (0 until 500).map(i => ((i * 37) % 500).toLong).toDF("v")
    def run(): Seq[String] = sortedRows(graft.ops.Normalize.denseIds(df, "v", "v", "rk"))
    val base = run()
    checkpointedIn { dir =>
      assert(leafRdd(Staging.pin(df)).getCheckpointFile.exists(_.contains(dir.getFileName.toString)))
      assert(run() == base)
    }
  }

  test("reliable + reliablePin escalates loops to real checkpoints (truncated plan, same results)") {
    def files(dir: java.nio.file.Path): Long = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).count() finally walk.close()
    }
    val pr = sortedRows(PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6))
    val cc = sortedRows(Components.connectedComponents(edges))
    checkpointedIn { dir =>
      assert(sortedRows(PageRank.ranksFixedPoint(edges, "a_id", "b_id", iterations = 6)) == pr)
      val afterPr = files(dir)
      assert(afterPr > 0L, "PageRank inside a checkpoint dir wrote no checkpoint files")
      assert(sortedRows(Components.connectedComponents(edges)) == cc)
      assert(files(dir) > afterPr, "connectedComponents wrote no checkpoint files")
    }
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
    var cur = Staging.stage(Seq((1L, 2L), (2L, 3L), (3L, 3L)).toDF("comp", "p"))
    for (_ <- 1 to 4) cur = Staging.stage(selfJoinRound(cur))
    val bits = cur.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
    assert(bits <= 51, s"staged-leaf stats compounding again: $bits bits after 4 rounds")
    // and the checkpoint-dir posture's leaf obeys the same cap
    val relBits = checkpointed(
      Staging.stage(selfJoinRound(cur)).queryExecution.optimizedPlan.stats.sizeInBytes.bitLength)
    assert(relBits <= 51, s"reliable staged-leaf stats uncapped: $relBits bits")
  }

  test("a relax and a peel operator run the same jobs inside and outside a checkpoint dir") {
    // the observation that ends each round rides the staging job on both
    // postures: a checkpoint() adds no probe job
    import org.apache.spark.JobCounter
    def jobs(run: => DataFrame): Int =
      JobCounter(spark.sparkContext)(run.write.format("noop").mode("overwrite").save())
    for ((name, run) <- Seq[(String, () => DataFrame)](
        ("multiSourceCloseness", () =>
          GraphMetrics.multiSourceCloseness(edges, Seq(1L, 10L).toDF("id"))),
        ("kCore", () => GraphMetrics.kCore(edges, k = 2)))) {
      jobs(run()) // warm-up: the first run of a shape may plan differently
      val local = jobs(run())
      val reliable = checkpointed(jobs(run()))
      info(s"$name: $local jobs without a dir, $reliable with one")
      assert(reliable == local, s"$name ran $reliable jobs inside a dir, $local outside")
    }
  }
}
