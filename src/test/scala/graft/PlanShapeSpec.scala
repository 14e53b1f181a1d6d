package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.ops.{Chunking, Dedup, PageRank, Repetition, RuntimeFilter}
import graft.fixtures.CrawlFixtures

/** Plan-shape assertions pinning the scale CONTRACTS of the corpus
  * operators — not what they compute, but what they shuffle. A regression
  * that starts moving document bodies through an exchange passes every
  * value test and silently becomes a 100 TB problem; these tests fail it.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def shuffleOutputs(df: DataFrame): Seq[Set[String]] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p: SparkPlan             => p
    }
    plan.collect { case e: ShuffleExchangeExec => e.output.map(_.name).toSet }
  }

  private val docs =
    (1 to 50).map(i => (i.toLong, s"word$i " * 40)).toDF("doc_id", "text")

  test("chunking shuffles nothing at all") {
    assert(shuffleOutputs(Chunking.byWords(docs, 32, 8)).isEmpty)
  }

  test("repetition signals never shuffle text or token arrays") {
    val shuffles = shuffleOutputs(Repetition.signals(docs))
    assert(shuffles.nonEmpty) // the bigram aggregation must shuffle…
    shuffles.foreach { out => // …but only ids/hashes/counts, never bodies
      assert(!out.contains("text") && !out.contains("__w"), s"body column in shuffle: $out")
    }
  }

  test("exact dedup shuffles only (fingerprint, id) — never document text") {
    val shuffles = shuffleOutputs(Dedup.exact(docs))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("text"), s"document text in shuffle: $out")
    }
  }

  test("minhash LSH shuffles signatures and bands — never text or shingle sets") {
    val shuffles = shuffleOutputs(Dedup.minhashLsh(docs, minJaccard = 0.2))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("text") && !out.contains("sh"), s"body column in shuffle: $out")
    }
  }

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p: SparkPlan             => p
    }

  test("bloom semi-join probes the sketch map-side — below the fact shuffle, not above it") {
    // fact must not be a LocalRelation — the optimizer would evaluate the
    // probe filter eagerly and leave no FilterExec to assert on
    val fact = spark.range(500).selectExpr("id as fid", "id % 50 as fk")
    val dim = Seq(1L, 2L, 3L).toDF("dk")
    val plan = initialPlan(RuntimeFilter.bloomSemiJoin(fact, dim, "fk", "dk", expectedItems = 8))
    val bloomFilters = plan.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(bloomFilters.nonEmpty, "bloom probe filter missing from the plan")
    // the probe's subtree must reach the scan without crossing any
    // exchange — i.e. the prune happens before a single fact row moves
    bloomFilters.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bloom probe runs above an exchange — fact rows shuffled before pruning")
    }
  }

  // The cached-edge-layout contract must hold at ANY parallelism — a plan
  // that only avoids the per-round edge exchange when the cached layout
  // happens to equal spark.sql.shuffle.partitions would silently re-shuffle
  // on a real cluster where the two diverge. Assert at 4 and 32.
  for (parts <- Seq(4, 32))
    test(s"pagerank iteration joins the cached edge layout with no edge-side exchange (width $parts)") {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val e = spark.range(2000).selectExpr("id % 100 as s", "(id * 7) % 100 as d")
      val withDeg = e.join(e.groupBy("s").agg(count(lit(1)).as("outdeg")), "s")
        .repartition(parts, col("s")).cache()
      withDeg.count() // populate the cache, as ranksFixedPoint's loop does
      try {
        val ranks = e.select(col("s").as("id")).distinct()
          .withColumn("rank", lit(1000000L)).localCheckpoint()
        val plan = initialPlan(PageRank.contributions(withDeg, ranks, 85L))
        val cachedScans = plan.collect { case s: InMemoryTableScanExec => s }
        assert(cachedScans.nonEmpty, "edge list not read from cache")
        // no exchange may sit between the cached edge scan and the join:
        // the only shuffles in the plan must NOT contain edge columns
        // (s/d/outdeg all together marks the edge list itself moving)
        plan.collect { case ex: ShuffleExchangeExec => ex.output.map(_.name).toSet }
          .foreach { out =>
            assert(!(out.contains("d") && out.contains("outdeg")),
              s"edge list re-shuffled in iteration: $out")
          }
      } finally {
        withDeg.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
      }
    }

  test("edit-distance DP stage runs at pinned width (REPARTITION_BY_NUM, never coalescible)") {
    val many = (1 to 200).map(i => (i.toLong, s"b${i % 4}", s"some text body number $i")).toDF("doc_id", "blk", "text")
    val plan = initialPlan(Dedup.editDistancePairs(many, "doc_id", "text", Seq("blk")))
    val origins = plan.collect { case e: ShuffleExchangeExec => e.shuffleOrigin }
    assert(origins.nonEmpty && origins.forall(_ == REPARTITION_BY_NUM),
      s"expected only REPARTITION_BY_NUM exchanges feeding the DP join, got: $origins")
  }

  test("vocabCoverage joins the vocabulary as a broadcast — document tokens never build-side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = initialPlan(graft.ops.Ngrams.vocabCoverage(docs, vocabSize = 10))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "vocabulary join is not a broadcast hash join")
    // no shuffle may carry the raw text column
    shuffleOutputs(graft.ops.Ngrams.vocabCoverage(docs, vocabSize = 10)).foreach { out =>
      assert(!out.contains("text"), s"document text in shuffle: $out")
    }
  }

  test("characteristicTerms and continuationCounts never shuffle document bodies") {
    Seq(
      graft.ops.Indexing.characteristicTerms(docs, k = 2),
      graft.ops.Ngrams.continuationCounts(docs, minTokens = 1)
    ).foreach { df =>
      val shuffles = shuffleOutputs(df)
      assert(shuffles.nonEmpty)
      shuffles.foreach { out =>
        assert(!out.contains("text") && !out.contains("__w"), s"body column in shuffle: $out")
      }
    }
  }

  for (parts <- Seq(4, 32))
    test(s"degree-ordered triangles read the oriented edge list from cache, not three rebuilds (width $parts)") {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try {
        val e = spark.range(300).selectExpr("id % 40 as a_id", "(id * 13) % 40 as b_id")
          .where(col("a_id") =!= col("b_id"))
        val tri = graft.ops.GraphMetrics.nodeTriangles(e)
        val plan = initialPlan(tri)
        val cachedScans = plan.collect { case s: InMemoryTableScanExec => s }
        assert(cachedScans.size >= 3,
          s"expected the persisted oriented edges on all three join sides, found ${cachedScans.size} cached scans")
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

  test("segment dedup: election shuffles fingerprints only; bodies cross at most one exchange") {
    val shuffles = shuffleOutputs(Dedup.segmentDedup(docs))
    assert(shuffles.nonEmpty)
    // raw text never moves; the token array may cross ONLY the final
    // reassembly join, never the fingerprint-election exchanges
    shuffles.foreach(out => assert(!out.contains("text"), s"raw text in shuffle: $out"))
    assert(shuffles.count(_.contains("__w")) <= 1,
      s"token arrays crossed more than one exchange: $shuffles")
  }

  test("cross-corpus dedup: the bloom probe prunes below any exchange (novel rows skip the join)") {
    val target = spark.range(500).selectExpr("id as doc_id", "concat('t', id % 50) as text")
    val ref = spark.range(50).selectExpr("id as doc_id", "concat('t', id) as text")
    val plan = initialPlan(Dedup.crossCorpusNovel(target, ref, expectedItems = 64))
    val probes = plan.collect {
      case f: FilterExec if f.condition.toString.contains("might_contain") => f
    }
    assert(probes.size >= 2, s"expected both bloom probe branches, found ${probes.size}")
    probes.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        "bloom probe runs above an exchange — target rows shuffled before pruning")
    }
  }

  test("self-join reuse: semanticDedup and crossGroupOverlap compute their shared stage ONCE") {
    // Both ops self-join a derived frame with IDENTICAL child plans (the
    // minhashLsh lesson): the planner must replay one exchange, not
    // rebuild the quantize/segment stage per side. Losing ReuseExchange
    // here silently doubles the most expensive stage of each pipeline.
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val emb = (1L to 40L).map(i => (i, (i % 3).toInt, Array.tabulate(4)(d => (i * 7 % 13 + d).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val docsG = (1 to 40).map(i => (i.toLong, s"s${i % 4}", s"word${i % 6} " * 20)).toDF("doc_id", "source", "text")
    // Under AQE, stage reuse happens at materialization time and is not
    // visible in the initial plan — assert on the static planner, whose
    // ReuseExchange rule proves the two sides canonicalize equal (the
    // same property AQE's runtime stage reuse keys on).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq(
      graft.ops.Similarity.semanticDedup(emb),
      Dedup.crossGroupOverlap(docsG)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan
      val reused = plan.collect { case r: ReusedExchangeExec => r }
      assert(reused.nonEmpty, s"no ReusedExchange in plan:\n${plan.treeString.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("prefix-filter join and Kneser–Ney never shuffle raw document text") {
    // prefixFilterPairs legitimately shuffles DISTINCT-TOKEN arrays (the
    // verification step needs the sets); the contract is that full `text`
    // bodies never cross an exchange. KN shuffles only vocabulary rows.
    Seq(
      Dedup.prefixFilterPairs(docs, thresholdPpm = 300000L),
      graft.ops.Ngrams.kneserNeyBigrams(docs, minCount = 1)
    ).foreach { df =>
      val shuffles = shuffleOutputs(df)
      assert(shuffles.nonEmpty)
      shuffles.foreach { out =>
        assert(!out.contains("text") && !out.contains("__w"), s"body column in shuffle: $out")
      }
    }
  }

  test("lexical ops shuffle term-frequency integers or nothing — never text") {
    import graft.ops.Lexical
    // diversity: the tf aggregation shuffles, but only ids/terms/counts
    val divShuffles = shuffleOutputs(Lexical.diversity(docs))
    assert(divShuffles.nonEmpty)
    divShuffles.foreach { out =>
      assert(!out.contains("text"), s"document text in shuffle: $out")
    }
    // the map-only profiles shuffle nothing at all
    assert(shuffleOutputs(Lexical.sentenceStats(docs)).isEmpty)
    assert(shuffleOutputs(Lexical.charClasses(docs)).isEmpty)
    assert(shuffleOutputs(Lexical.piiDensity(docs)).isEmpty)
  }

  test("fkOrphans anti-joins shuffle projected key columns only") {
    import graft.ops.Audit
    val child = docs.select(col("doc_id"), col("text"), (col("doc_id") % 7).as("fk"))
    val parent = (1L to 5L).toDF("pk")
    val shuffles = shuffleOutputs(
      Audit.fkOrphans(Seq(("c->p", child, "fk", parent, "pk"))))
    shuffles.foreach { out =>
      assert(!out.contains("text"), s"child body column in shuffle: $out")
    }
  }

  test("temporalEmbargoSplit is one aggregation: shuffles carry counts, not rows") {
    import graft.ops.Sampling
    val ev = (1 to 100).map(i =>
      (i.toLong % 10, java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"), s"payload$i"))
      .toDF("user_id", "ts", "payload")
    val shuffles = shuffleOutputs(Sampling.temporalEmbargoSplit(ev, "user_id", "ts",
      "2024-01-24 00:00:00", 2L * 86400))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("payload") && !out.contains("ts"),
        s"row-level column in shuffle: $out")
    }
  }

  test("dispersion plans NO join: the centroid identity keeps it linear") {
    // The whole point of the op is replacing the O(n²) pair join with one
    // pass; a Join node appearing here means someone broke that contract.
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    val emb = (1L to 40L).map(i => (i, (i % 3).toInt,
      Array.tabulate(4)(d => (i * 7 % 13 + d).toFloat))).toDF("vec_id", "label", "embedding")
    val plan = initialPlan(graft.ops.Similarity.dispersion(emb))
    val joins = plan.collect { case j: BaseJoinExec => j; case j: BroadcastNestedLoopJoinExec => j }
    assert(joins.isEmpty, s"join in dispersion plan:\n${plan.treeString.take(1500)}")
    // and its shuffles carry per-dim integer partials, never vectors
    shuffleOutputs(graft.ops.Similarity.dispersion(emb)).foreach { out =>
      assert(!out.contains("embedding"), s"vector column in shuffle: $out")
    }
  }

  test("noveltyByPeriod shuffles digests and counts, never payloads") {
    val ev = (1 to 100).map(i => (s"p${i % 5}", s"payload content ${i % 9}"))
      .toDF("period", "content")
    val shuffles = shuffleOutputs(Dedup.noveltyByPeriod(ev, "period", "content"))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("content"), s"payload in shuffle: $out")
    }
  }

  test("unigramDrift: corpus-sized shuffle carries (group, word, count) only; text never crosses") {
    val docsG = (1 to 40).map(i => (i.toLong, s"s${i % 4}", s"word${i % 6} " * 20))
      .toDF("doc_id", "source", "text")
    val shuffles = shuffleOutputs(graft.ops.Lexical.unigramDrift(docsG))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("text"), s"document text in shuffle: $out")
    }
  }

  test("containmentPairs never shuffles raw document text") {
    // Same contract as prefixFilterPairs: distinct-token ARRAYS may cross
    // (verification needs the sets); full `text` bodies never do.
    val shuffles = shuffleOutputs(Dedup.containmentPairs(docs, thresholdPpm = 900000L))
    assert(shuffles.nonEmpty)
    shuffles.foreach { out =>
      assert(!out.contains("text"), s"document text in shuffle: $out")
    }
  }

  test("rfm: no single-partition global WindowExec over the entity table") {
    // ntile buckets now come from denseIds ranks + closed-form arithmetic;
    // the only permissible empty-partition windows are the PARTITION-COUNT-
    // sized offset prefix sums inside denseIds — those run over ≤ p rows.
    // Nothing entity-grain may sort through one partition.
    val orders = (1L to 200L).map(i =>
      (i % 37, java.sql.Date.valueOf(s"2024-01-${i % 28 + 1}"), i * 13 % 997))
      .toDF("cust", "d", "cents")
    val plan = initialPlan(graft.ops.Cohort.rfm(orders, "cust", col("d"), col("cents")))
    // denseIds localCheckpoints its ranged input, so the entity-grain rows
    // enter each window stage ALREADY partitioned by range: any WindowExec
    // left in the final plan with an empty partitionSpec would be the old
    // global-ntile shape resurfacing.
    val bad = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.filterNot(_.orderSpec.mkString.contains("__pid")) // p-row offset prefix sums
    assert(bad.isEmpty, s"global entity-grain window in rfm plan:\n${bad.map(_.treeString.take(500))}")
  }

  test("coverageCurve: vocabulary ranking has no single-partition global window") {
    val d = (1 to 60).map(i => (i.toLong, s"alpha beta w$i w${i % 7}")).toDF("doc_id", "text")
    val plan = initialPlan(graft.ops.Ngrams.coverageCurve(d, sizes = Seq(1, 4, 16)))
    val bad = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }.filterNot(_.orderSpec.mkString.contains("__pid")) // p-row offset prefix sums
    assert(bad.isEmpty,
      s"global vocabulary window in coverageCurve plan:\n${bad.map(_.treeString.take(500))}")
  }

  test("medoids: broadcast S + linear scan — no shuffle carries vectors twice") {
    // The member scan joins the blocks-sized S table by BROADCAST; if S
    // ever arrives via a shuffle keyed on the block column, the linear-
    // scan contract broke.
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val emb = (1L to 40L).map(i => (i, (i % 3).toInt,
      Array.tabulate(4)(d => (i * 7 % 13 + d).toFloat))).toDF("vec_id", "label", "embedding")
    val plan = initialPlan(graft.ops.Similarity.medoids(emb))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"no broadcast join in medoids plan:\n${plan.treeString.take(1500)}")
  }

  test("interArrivalHistogram and spearman: every window is key-partitioned, never global") {
    import org.apache.spark.sql.execution.window.WindowExec
    def unpartitionedWindows(df: DataFrame): Seq[WindowExec] =
      initialPlan(df).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    val ev = (1 to 60).map(i => (s"u${i % 7}", s"t${i % 3}", f"2024-01-01 10:${i % 60}%02d:00"))
      .toDF("u", "g", "s").withColumn("ts", to_timestamp(col("s")))
    assert(unpartitionedWindows(
      graft.ops.TimeSeries.interArrivalHistogram(ev, "u", "g", "ts")).isEmpty,
      "inter-arrival lag must partition by the key")
    val xy = (1 to 60).map(i => (s"g${i % 4}", (i * 7 % 13).toLong, (i * 5 % 11).toLong, i.toLong))
      .toDF("g", "x", "y", "id")
    assert(unpartitionedWindows(
      graft.ops.Trend.spearman(xy, Seq("g"), col("x"), col("y"), col("id"))).isEmpty,
      "spearman ranks must partition by the group")
  }

  test("dictEncode / popularityNegatives / ksStatistic: no row-grain global windows") {
    // r8: the last three single-partition global rankings were rebuilt on
    // the two-phase range-partitioned path (denseIds / rankedPrefixSum).
    // The only empty-partitionSpec windows allowed in these plans are the
    // partition-count-sized __pid offset prefix sums inside those helpers.
    import org.apache.spark.sql.execution.window.WindowExec
    def rowGrainGlobal(df: DataFrame): Seq[WindowExec] =
      initialPlan(df).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(_.orderSpec.mkString.contains("__pid"))
    val vals = (1 to 300).map(i => (i.toLong, s"v${i % 41}")).toDF("id", "v")
    assert(rowGrainGlobal(graft.ops.Normalize.dictEncode(vals, "v")).isEmpty,
      "dictEncode must rank its dictionary via denseIds, not a global window")
    val inter = (1 to 300).map(i => (s"u${i % 23}", s"item${i % 57}")).toDF("user", "item")
    assert(rowGrainGlobal(
      graft.ops.Sampling.popularityNegatives(inter, "user", "item", k = 2)).isEmpty,
      "popularityNegatives must rank the item catalog via denseIds, not a global window")
    val ks = (1 to 300).map(i => (if (i % 2 == 0) "A" else "R", (i * 7 % 97).toLong)).toDF("g", "v")
    assert(rowGrainGlobal(graft.ops.Metrics.ksStatistic(ks, "g", "v", "A", "R")).isEmpty,
      "ksStatistic's ECDF running sum must go through rankedPrefixSum, not a global window")
  }

  test("bounded global windows (interleave strata, apportion, keySkew) are post-agg/post-limit only") {
    // These three sites legitimately keep an empty-partitionSpec window —
    // over a stratum/category/topN table, never row-grain data. The
    // contract: every such window's input subtree contains the aggregation
    // or limit that bounded its cardinality. A refactor that re-points one
    // of these windows at row-grain input fails here.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec, CollectLimitExec}
    def assertBounded(df: DataFrame, label: String): Unit = {
      val global = initialPlan(df)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(_.orderSpec.mkString.contains("__pid"))
      assert(global.nonEmpty, s"$label: expected a bounded global window in the plan")
      global.foreach { w =>
        val bounded = w.child.collect {
          case a: BaseAggregateExec => a: Any
          case l: GlobalLimitExec => l: Any
          case t: TakeOrderedAndProjectExec => t: Any
          case c: CollectLimitExec => c: Any
        }
        assert(bounded.nonEmpty,
          s"$label: global window over unbounded (row-grain) input:\n${w.treeString.take(600)}")
      }
    }
    val d = (1 to 200).map(i => (i.toLong, s"s${i % 7}")).toDF("doc_id", "source")
    assertBounded(graft.ops.Sampling.stratifiedInterleave(d, "doc_id", "source"), "stratifiedInterleave")
    val wt = (1 to 40).map(i => (s"cat$i", (i * 13 % 29 + 1).toLong)).toDF("cat", "weight")
    assertBounded(graft.ops.Sampling.apportion(wt, "cat", "weight", budget = 1000L), "apportion")
    val keys = (1 to 300).map(i => Tuple1(s"k${i % 31}")).toDF("k")
    assertBounded(graft.ops.Audit.keySkew(keys, "k", topN = 5), "keySkew")
  }

  test("semanticFlags: held-out side broadcast (BNLJ), corpus never cartesian-shuffled") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, Array.tabulate(4)(d => (i * 7 % 13 + d).toFloat))).toDF("vec_id", "embedding")
    val out = graft.ops.Decontaminate.semanticFlags(mk(1L to 40L), mk(100L to 110L))
    val plan = initialPlan(out)
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      s"cartesian product in semanticFlags plan:\n${plan.treeString.take(1500)}")
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
      s"no broadcast nested-loop in semanticFlags plan:\n${plan.treeString.take(1500)}")
    // and no shuffle ever carries the quantized vectors — only (id, count)
    shuffleOutputs(out).foreach { o =>
      assert(!o.exists(_.startsWith("__q")), s"vector column in shuffle: $o")
    }
  }

  test("grid radius join is an equi-join on cells — no cartesian, no nested loop") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val pts = (1 to 200).map(i => (i.toLong, (i * 7 % 101).toLong, (i * 13 % 97).toLong))
      .toDF("id", "x", "y")
    val plan = initialPlan(graft.ops.GeoGrid.radiusPairs(pts, "id", col("x"), col("y"), 10L))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"non-equi join in grid radius plan:\n${plan.treeString.take(1200)}")
  }

  test("ngrams: the k−1 leads FUSE into each WindowExec (one window pass, not k−1)") {
    val df = (1 to 200).map(i => (s"k${i % 9}", i.toLong, s"s${i % 4}")).toDF("k", "o", "s")
    val plan = initialPlan(graft.ops.Transitions.ngrams(df, "k", "s", Seq(col("o")), k = 4))
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = plan.collect { case w: WindowExec => w }
    // the share-denominator branch may replay the subtree (exchange reuse
    // resolves that at runtime); the contract here is FUSION — every
    // WindowExec carries all k−1 leads, never one window pass per lead
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.windowExpression.size == 3,
        s"lead chain split across window passes:\n${w.treeString.take(600)}")
    }
  }

  test("round-8 rank/scan ops keep every window key-partitioned or __pid-phase") {
    import org.apache.spark.sql.execution.window.WindowExec
    def rowGrainGlobal(df: DataFrame): Seq[WindowExec] =
      initialPlan(df).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(_.orderSpec.mkString.contains("__pid"))
    val ev = (1 to 200).map(i => (if (i % 2 == 0) "a" else "b", (i * 7 % 53).toLong))
      .toDF("g", "v")
    assert(rowGrainGlobal(graft.ops.Metrics.wassersteinDrift(ev, "g", col("v"), "a", "b")).isEmpty,
      "wassersteinDrift's ECDF scan must ride rankedPrefixSum, not a global window")
    val ts = (1 to 80).map(i => (s"u${i % 5}", i.toLong, (i * 3 % 17).toLong)).toDF("g", "x", "y")
    assert(rowGrainGlobal(graft.ops.Trend.theilSen(ts, Seq("g"), col("x"), col("y"))).isEmpty,
      "theilSen's median rank must partition by the group")
    val priv = (1 to 120).map(i => (s"q${i % 6}", (i % 4).toLong)).toDF("q", "s")
    assert(rowGrainGlobal(graft.ops.Audit.tCloseness(priv, Seq("q"), col("s"))).isEmpty,
      "tCloseness cumulative sums must partition by the class")
    val evts = (1 to 120).map(i => (s"u${i % 8}", s"t${i % 3}", i.toLong * 1000L))
      .toDF("k", "st", "ms").withColumn("ts", timestamp_millis(col("ms")))
      .withColumn("event_id", col("ms"))
    assert(rowGrainGlobal(
      graft.ops.TimeSeries.timeInState(evts, "k", "st", "ts", Seq("event_id"))).isEmpty,
      "timeInState's lead must partition by the key")
    assert(rowGrainGlobal(graft.ops.TimeSeries.longestStreak(evts, "k", "ts")).isEmpty,
      "longestStreak's rank must partition by the key")
    assert(rowGrainGlobal(
      graft.ops.Cohort.powerUserShare(evts, "k", pctPpm = 100000L)).isEmpty,
      "powerUserShare must rank through denseIds, not a global window")
    assert(rowGrainGlobal(
      graft.ops.Trend.rankMovers(evts.withColumn("p", col("st")), "k", col("p"), "t0", "t1")).isEmpty,
      "rankMovers must rank each period through denseIds, not a global window")
  }

  test("newest batch ops: windows stay key-partitioned, pair joins stay bounded") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    def rowGrainGlobal(df: DataFrame): Seq[WindowExec] =
      initialPlan(df).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(_.orderSpec.mkString.contains("__pid"))
    val series = (1 to 120).map(i => (s"u${i % 6}", i.toLong, (i % 9).toLong)).toDF("k", "o", "v")
    assert(rowGrainGlobal(graft.ops.TimeSeries.saxSymbols(
      series, Seq("k"), Seq(col("o")), col("v"), 4, Seq(1500L))).isEmpty,
      "saxSymbols' PAA ranking must partition by the series key")
    assert(rowGrainGlobal(graft.ops.TimeSeries.varianceChangepoint(
      series, Seq("k"), Seq(col("o")), col("v"))).isEmpty,
      "varianceChangepoint's prefix sums and argmin must partition by key")
    assert(rowGrainGlobal(graft.ops.TimeSeries.ohlc(
      series, Seq("k"), col("o") % 7, Seq(col("o")), col("v"))).isEmpty,
      "ohlc's first/last picks must partition by (key, period)")
    val ranked = (1 to 90).map(i => (s"q${i % 3}", i.toLong)).toDF("q", "s")
    assert(rowGrainGlobal(graft.ops.Eval.averagePrecision(
      ranked, Seq("q"), Seq(col("s")), col("s") % 3 === 0, 10)).isEmpty,
      "averagePrecision's running relevant count must partition by query")
    // bottom-k sketch: the per-group and per-pair rankings are
    // key-partitioned; no CartesianProduct anywhere (the pair expansion
    // is an equi-join through the exploded membership rail)
    val toks = (1 to 200).map(i => (s"s${i % 5}", s"w${i % 37}")).toDF("g", "t")
    val bkPlan = initialPlan(graft.ops.Dedup.bottomKJaccard(toks, "g", col("t"), 16))
    assert(bkPlan.collect { case c: CartesianProductExec => c }.isEmpty,
      "bottomKJaccard must never plan a CartesianProduct")
    assert(rowGrainGlobal(graft.ops.Dedup.bottomKJaccard(toks, "g", col("t"), 16)).isEmpty,
      "bottomKJaccard's sketch and union ranks must partition by group/pair")
    // weightedJaccard: token-keyed equi-join only — no cartesian, and the
    // token strings never ride a shuffle wider than (group, token, count)
    val wjPlan = initialPlan(graft.ops.Lexical.weightedJaccard(toks, "g", col("t")))
    assert(wjPlan.collect { case c: CartesianProductExec => c }.isEmpty,
      "weightedJaccard must pair groups through the token equi-join")
  }

  test("final-batch ranked ops ride denseIds/rankedPrefixSum, frames stay keyed") {
    import org.apache.spark.sql.execution.window.WindowExec
    def rowGrainGlobal(df: DataFrame): Seq[WindowExec] =
      initialPlan(df).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
        .filterNot(_.orderSpec.mkString.contains("__pid"))
    val vals = (1 to 300).map(i => (s"k${i % 97}", (i * 13 % 251).toLong)).toDF("k", "v")
    assert(rowGrainGlobal(
      graft.ops.Metrics.abcClassification(vals, "k", col("v"))).isEmpty,
      "abcClassification's cumulative curve must ride rankedPrefixSum")
    val ts = (1 to 300).map(i => (s"u${i % 41}", if (i % 2 == 0) "p1" else "p2",
      (i * 7 % 89).toLong)).toDF("a", "p", "cents")
    assert(rowGrainGlobal(graft.ops.Cohort.decileMigration(
      ts, "a", col("p"), "p1", "p2", col("cents"))).isEmpty,
      "decileMigration's per-period rankings must ride denseIds")
    val days = (1 to 200).map(i => (s"s${i % 5}", i.toLong * 86400000L, i % 7 != 0))
      .toDF("k", "ms", "good").withColumn("ts", timestamp_millis(col("ms")))
    assert(rowGrainGlobal(graft.ops.TimeSeries.sloBurn(
      days, Seq("k"), "ts", col("good"))).isEmpty,
      "sloBurn's rolling frames must partition by key")
    assert(rowGrainGlobal(graft.ops.TimeSeries.rollingSlope(
      days.withColumn("d", col("ms") / 1000L), Seq("k"), col("ms"), col("d"), 7)).isEmpty,
      "rollingSlope's frames must partition by key")
    assert(rowGrainGlobal(graft.ops.Outliers.seasonalResidualOutliers(
      days, Seq("k"), "ts", col("ms"))).isEmpty,
      "seasonal outlier medians must partition by (key, dow) / key")
  }

  test("hits and kTruss: no cartesian/nested-loop joins, no row-grain global windows") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // hits' per-half-round max re-enters as a LITERAL — a crossJoin of
    // the score table against its own max would show up here as a
    // BroadcastNestedLoopJoin.
    val edges = (1 to 300).map(i => (i.toLong % 40, (i * 7 % 40).toLong))
      .filter(e => e._1 != e._2).toDF("a", "b")
    val hitsPlan = initialPlan(graft.ops.GraphMetrics.hits(edges, "a", "b", iterations = 2))
    assert(hitsPlan.collect { case c: CartesianProductExec => c }.isEmpty &&
      hitsPlan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"non-equi join in hits plan:\n${hitsPlan.treeString.take(1200)}")
    val trussPlan = initialPlan(graft.ops.GraphMetrics.kTruss(edges.toDF("a_id", "b_id"), k = 3))
    assert(trussPlan.collect { case c: CartesianProductExec => c }.isEmpty &&
      trussPlan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"non-equi join in kTruss plan:\n${trussPlan.treeString.take(1200)}")
  }

  test("round-10 graph ops: equi-joins only, m enters modularity as a literal") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // Scope honesty: the iterative ops (boruvka, singleLinkage, coreness,
    // closeness) execute their round bodies eagerly inside the call, so
    // only their FINAL assembled plan is asserted here — a non-equi join
    // introduced inside a round body is caught by that round's cost, not
    // this pin. modularity is single-pass, so its assertion covers the
    // whole plan, including the m-as-literal contract described below.
    def assertEqui(name: String, df: DataFrame): Unit = {
      val p = initialPlan(df)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"non-equi join in $name plan:\n${p.treeString.take(1200)}")
    }
    val edges = (1 to 200).map(i => (i.toLong % 30, (i * 11 % 30).toLong))
      .filter(e => e._1 != e._2).toDF("a_id", "b_id")
    val weighted = edges.withColumn("weight", (col("a_id") * 3 + col("b_id")) % 17)
    assertEqui("boruvka", graft.ops.SpanningForest.boruvka(weighted))
    assertEqui("singleLinkage", graft.ops.SpanningForest.singleLinkage(weighted, threshold = 8))
    assertEqui("coreDecomposition", graft.ops.GraphMetrics.coreDecomposition(edges))
    assertEqui("multiSourceCloseness", graft.ops.GraphMetrics.multiSourceCloseness(
      edges, Seq(1L, 5L).toDF("id"), maxDepth = 4))
    // modularity's edge count must enter as a driver literal: joining the
    // one-row count frame back (the first formulation) planned a
    // BroadcastNestedLoopJoin AND re-executed the caller's edge plan a
    // fourth time — this pin fails if that regresses.
    val labels = (0L until 30L).map(i => (i, i / 8)).toDF("id", "community")
    assertEqui("modularity", graft.ops.GraphMetrics.modularity(edges, labels))
  }

  test("walks/motif ops: equi-joins only; relay time window is a filter, not a join condition") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def assertEqui(name: String, df: DataFrame): Unit = {
      val p = initialPlan(df)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"non-equi join in $name plan:\n${p.treeString.take(1200)}")
    }
    val edges = (1 to 200).map(i => (i.toLong % 30, (i * 11 % 30).toLong))
      .filter(e => e._1 != e._2).toDF("a_id", "b_id")
    // randomWalks/doubleSweep iterate eagerly — the final plan is pinned,
    // per-round shapes are covered by their round cost (same scope note
    // as the round-10 pin above)
    assertEqui("randomWalks", graft.ops.GraphMetrics.randomWalks(
      edges, Seq(1L, 5L).toDF("id"), steps = 3))
    assertEqui("doubleSweep", graft.ops.GraphMetrics.doubleSweep(edges, startId = 1L))
    assertEqui("linkResourceAllocation",
      graft.ops.GraphMetrics.linkResourceAllocation(edges))
    // the relay join must key on the middle NODE with t2 ∈ (t1, t1+δ] and
    // u ≠ w applied as post-join filters — expressing them as join
    // conditions would force a nested-loop plan and this pin would trip
    val ev = (1 to 300).map(i =>
      ((i % 20).toLong, ((i * 7) % 20).toLong, (i % 50).toLong)).toDF("src", "dst", "t")
    assertEqui("temporalRelayCount",
      graft.ops.GraphMetrics.temporalRelayCount(ev, delta = 5L, maxEvents = 16))
    // betweenness: the DAG build writes `w = dst` and `dw = dv + 1` as
    // post-join FILTERS over a source-keyed join — Catalyst must extract
    // both equalities into the hash-join keys (source, dst, dv+1); if a
    // refactor breaks that extraction the plan degrades to a per-source
    // nested loop and this pin trips
    assertEqui("betweennessSampled", graft.ops.GraphMetrics.betweennessSampled(
      edges, Seq(1L, 5L, 9L).toDF("id"), maxDepth = 3))
  }

  test("sequence packing: equi-joins only and no doc-grain global window") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = (1L to 120L).map(i => (i, 1L + (i * 7) % 30)).toDF("doc_id", "n_tokens")
    // both packers ride rankedPrefixSum: the only empty-partition windows
    // allowed are its ≤ p-row __pid offset prefix sums — doc-grain rows
    // must never sort through a single partition, and the jump/assignment
    // as-ofs must stay bucket-keyed hash joins (a range join here would
    // be a per-window nested loop at 100 TB)
    def check(name: String, df: DataFrame): Unit = {
      val p = initialPlan(df)
      assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
        p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
        s"non-equi join in $name plan:\n${p.treeString.take(1200)}")
      val bad = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.filterNot(_.orderSpec.mkString.contains("__pid"))
      assert(bad.isEmpty, s"doc-grain global window in $name plan")
    }
    check("concatChunk", graft.ops.SequencePack.concatChunk(docs, windowSize = 32))
    check("nextFitWindows", graft.ops.SequencePack.nextFitWindows(docs, capacity = 32))
  }

  test("bradleyTerry: item-keyed equi-joins only, no global window") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val duels = (1 to 200).map(i => ((i % 13).toLong, ((i * 7) % 13).toLong))
      .filter(d => d._1 != d._2).toDF("winner", "loser")
    val p = initialPlan(graft.ops.Eval.bradleyTerry(duels, iterations = 2))
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty &&
      p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"non-equi join in bradleyTerry plan:\n${p.treeString.take(1200)}")
    assert(p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty,
      "global window in bradleyTerry plan")
  }

  // ---- round-11 scale contracts -----------------------------------------

  test("skipGrams builds the pair stream map-only: the ONLY shuffle is the count") {
    val p = shuffleOutputs(graft.ops.Ngrams.skipGrams(docs, window = 3))
    // exactly the aggregation exchange(s) keyed by the pair — and never text
    assert(p.nonEmpty)
    p.foreach { out =>
      assert(!out.contains("text") && !out.contains("__w"), s"body column in shuffle: $out")
    }
    val plan = initialPlan(graft.ops.Ngrams.skipGrams(docs, window = 3))
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    assert(plan.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.isEmpty &&
      plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "skipGrams must not join at all — the window expansion is slice+zip_with")
  }

  test("pqCodes assigns against a BROADCAST codebook — the corpus never shuffles for it") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val vecs = (1L to 60L).map(i => (i, (0 until 8).map(d => (i * 3 + d).toFloat % 5)))
      .toDF("vec_id", "embedding")
    val plan = initialPlan(graft.ops.Similarity.pqCodes(vecs, m = 2, k = 4))
    assert(plan.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "codebook join is not broadcast")
    assert(plan.collect { case s: SortMergeJoinExec => s }.isEmpty,
      "corpus-side sort-merge join in the PQ assignment")
  }

  test("poissonBootstrap: the x32 fan-out combines map-side — the shuffle carries B rows, not draws") {
    val rows = (1L to 400L).map(i => (i, i % 9)).toDF("id", "v")
    val plan = initialPlan(graft.ops.Sampling.poissonBootstrap(rows, "id", "v", 32))
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val aggs = plan.collect { case a: HashAggregateExec => a }
    assert(aggs.size >= 2, "expected partial+final aggregation pair")
    // the exchange output is the replicate-keyed partial aggregate — no
    // per-draw columns (__k, __u) and no id may cross the wire
    shuffleOutputs(graft.ops.Sampling.poissonBootstrap(rows, "id", "v", 32)).foreach { out =>
      assert(!out.contains("__id") && !out.contains("__u"),
        s"per-draw column in shuffle: $out")
    }
  }

  test("rrfFuse plans equi-joins only over the two k-sized rankings") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val a = (1 to 40).map(i => (i.toLong % 4, i.toLong + 100, (i % 10 + 1).toLong))
      .toDF("query_id", "neighbor_id", "rank")
    // the two rankings fuse by a union and one (key, item) aggregation
    val plan = initialPlan(graft.ops.Indexing.rrfFuse(Seq(a, a), "query_id", "neighbor_id", "rank"))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "non-equi join in rrfFuse plan")
  }

  test("hammingPairs: candidates come from a band EQUI-join — no cartesian anywhere") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val hashes = (1L to 80L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "hash")
    val plan = initialPlan(Dedup.hammingPairs(hashes, maxHamming = 7, bands = 8))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "hammingPairs planned a non-equi join — that is the all-pairs cliff")
  }

  test("quantizedGram is join-free: explode + ONE map-side-combined aggregation") {
    val vecs = (1L to 60L).map(i => (i, (0 until 8).map(d => (i * 3 + d).toFloat % 5)))
      .toDF("vec_id", "embedding")
    val df = graft.ops.Similarity.quantizedGram(vecs)
    val plan = initialPlan(df)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    assert(plan.collect {
      case j: SortMergeJoinExec => j; case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.isEmpty, "quantizedGram planned a join — it must be a pure fan-out + agg")
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    assert(plan.collect { case a: HashAggregateExec => a }.size >= 2,
      "expected the partial+final aggregation pair (map-side combine)")
    // the only shuffle carries cell partials, never vectors
    shuffleOutputs(df).foreach { out =>
      assert(!out.contains("embedding") && !out.contains("q"),
        s"vector column in shuffle: $out")
    }
  }

  test("spanRemove: no global sort — the rebuild is per-doc, bodies never shuffle") {
    import org.apache.spark.sql.execution.SortExec
    val df = Repetition.spanRemove(docs, minDocs = 3, k = 3)
    val plan = initialPlan(df)
    assert(plan.collect { case s: SortExec if s.global => s }.isEmpty,
      "global sort in spanRemove — the per-doc rebuild must not order the corpus")
    shuffleOutputs(df).foreach { out =>
      assert(!out.contains("text") && !out.contains("__w"),
        s"document body in shuffle: $out")
    }
  }

  test("Urls.canonicalize shuffles NOTHING — regex map + PSL broadcast joins only") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val urls = (1 to 60).map(i => (i.toLong, s"http://h$i.example.co.uk/p/$i?z=1"))
      .toDF("doc_id", "url")
    val df = graft.ops.Urls.canonicalize(urls)
    assert(shuffleOutputs(df).isEmpty,
      "URL canonicalization shuffled — the PSL lookup must stay a broadcast join")
    val plan = initialPlan(df)
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "sort-merge join against the rule table")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "expected broadcast hash joins against the PSL rule table")
  }

  test("Html stripMarkup and mainContent shuffle nothing and join nothing") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val pages = (1 to 40)
      .map(i => (i.toLong, s"<p>line $i</p>\n<a href=/x>nav</a>\n<p>more prose here</p>"))
      .toDF("doc_id", "html")
    for (df <- Seq(graft.ops.Html.stripMarkup(pages, "html"),
      graft.ops.Html.mainContent(pages, "html"))) {
      assert(shuffleOutputs(df).isEmpty, "markup hygiene must be a pure map")
      val plan = initialPlan(df)
      assert(plan.collect {
        case j: SortMergeJoinExec => j; case j: BroadcastHashJoinExec => j
      }.isEmpty, "join in a markup-hygiene plan")
    }
  }

  test("hammingTopK: candidates from a BROADCAST band equi-join — no cartesian, no corpus-side merge join") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
    val hashes = (1L to 80L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("id", "hash")
    val queries = (1L to 4L).map(i => (i, i * 0x9E3779B97F4A7C15L)).toDF("query_id", "hash")
    val plan = initialPlan(Dedup.hammingTopK(hashes, queries, k = 5, bands = 8))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      "hammingTopK candidate join must be broadcast-equi, not cartesian/merge")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "expected the broadcast band equi-join")
    // the one nested-loop join allowed is NONE: the self-exclusion rides
    // the equi-join condition
    assert(plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "non-equi join in hammingTopK")
  }

  test("Robots admission shuffles nothing and joins nothing") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val rows = (1 to 40).map(i =>
      (i.toLong, "User-agent: *\nDisallow: /private", s"/dir/p$i"))
      .toDF("doc_id", "robots", "path")
    val df = graft.ops.Robots.filterAllowed(rows)
    assert(shuffleOutputs(df).isEmpty, "robots evaluation must be a pure map")
    val plan = initialPlan(df)
    assert(plan.collect {
      case j: SortMergeJoinExec => j; case j: BroadcastHashJoinExec => j
    }.isEmpty, "join in the robots plan")
  }

  test("politenessSchedule: the per-host cap pushes down to a PARTIAL WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.{WindowGroupLimitExec, Partial}
    val frontier = (1 to 120)
      .map(i => (s"http://h${i % 3}.com/p$i", i.toLong)).toDF("url", "priority")
    val plan = initialPlan(
      graft.ops.Crawl.politenessSchedule(frontier, maxPerHost = 5))
    // a mega-host must be pruned to maxPerHost rows per task BEFORE the
    // window's shuffle — the skew bound the op's scaladoc promises
    assert(plan.collect {
      case w: WindowGroupLimitExec if w.mode == Partial => w
    }.nonEmpty, "no map-side (Partial) WindowGroupLimit below the politeness window")
  }

  test("video ops (meta, frame sampling, frame dHash, resize) shuffle nothing") {
    import graft.ops.Multimodal
    val payload = graft.functions.BinaryCodecs.avi(16, 16, 33000,
      (0 until 4).map(i => graft.functions.BinaryCodecs.bmp(8, 8, Array(i.toByte))))
    val media = (1L to 20L).map(i =>
      Multimodal.MediaRow(i, "video", payload, "video/x-msvideo", payload.length.toLong)).toDS()
    for (df <- Seq(
      Multimodal.videoMeta(media).toDF(),
      Multimodal.sampleVideoFrames(media, k = 2).toDF(),
      Multimodal.videoFrameDhash(media, k = 2).toDF(),
      Multimodal.resizeImages(
        media.map(m => m.copy(payload = graft.functions.BinaryCodecs.bmp(8, 8, Array(1.toByte)))),
        w = 4, h = 4).toDF()))
      assert(shuffleOutputs(df).isEmpty,
        "binary-codec video ops must stay partition-batched and shuffle-free")
  }

  test("randomAccessFetch: one broadcast range probe against the cluster index, no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import graft.ops.{Multimodal, Warc}
    val rdocs = (0L until 24L).map(i => (i, s"page $i")).toDF("doc_id", "text")
    val media = CrawlFixtures.syntheticWarc(rdocs, docsPerFile = 8)
    val lines = Warc.toCdxj(media)
    val urls = Seq("https://host1.example.com/p/1").toDF("url")
    val plan = initialPlan(Warc.randomAccessFetch(urls,
      Warc.cdxClusterIndex(lines, linesPerShard = 7),
      Warc.cdxShardFiles(lines, linesPerShard = 7),
      media.toDF().select(
        concat(lit("crawl-"), col("media_id"), lit(".warc.gz")).as("filename"),
        col("payload"))).toDF())
    // the index range probe (the one legitimate nested-loop — a
    // broadcast binary-search surrogate) runs ONCE inside the staged
    // lookup, so the composite's own plan must carry NO nested-loop
    // and no cartesian: every residual join is keyed (shard_id,
    // surt_key, filename). A nested-loop appearing here means either
    // the staging regressed (the probe re-planned per consumer) or a
    // downstream join lost its keys.
    val bnl = plan.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty,
      s"un-staged or key-less nested-loop joins in the plan: ${bnl.length}")
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty,
      "cartesian product in the random-access plan")
  }

  test("node2vecWalks steps are equi-joins only; the classifier join adds no cartesian") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val edges = (1L to 30L).map(i => (i, i % 7 + 1)).toDF("a_id", "b_id")
    val starts = Seq(1L, 2L, 3L).toDF("id")
    val plan = initialPlan(
      graft.ops.GraphMetrics.node2vecWalks(edges, starts, steps = 2))
    assert(plan.collect { case c: CartesianProductExec => c }.isEmpty &&
      plan.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "non-equi join in the node2vec step")
  }
}
