package graft

import org.apache.spark.sql.functions._
import graft.ops.{Attribution, GraphMetrics, Indexing, Ngrams, Normalize, Sampling, Similarity, TimeSeries}

/** Round-4 additions, batch 2: reciprocal-rank fusion, quantile
  * normalization, vocabulary coverage curve, embedding dispersion,
  * k-core, recency-decayed score.
  */
class FusionAndCoreSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------- rrfFuse

  test("rrfFuse: integer RRF, partial overlap, item-asc tiebreak") {
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L)).toDF("k", "item", "rnk")
    val b = Seq((1L, 20L, 1L), (1L, 10L, 2L), (1L, 40L, 3L)).toDF("k", "item", "rnk")
    val got = Indexing.rrfFuse(Seq(a, b), "k", "item", "rnk", k0 = 60, topK = 3)
      .orderBy("fused_rank")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 1e6//61 = 16393, //62 = 16129, //63 = 15873
    assert(got(0) == ((10L, 16393L + 16129L, 2L, 1L))) // score tie with 20 → item asc
    assert(got(1) == ((20L, 16393L + 16129L, 2L, 2L)))
    assert(got(2) == ((30L, 15873L, 1L, 3L)))          // single-list item
  }

  // -------------------------------------- quantileNormalize

  test("quantileNormalize maps every group onto the global marginal") {
    val df = Seq(
      ("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L), ("a", 4L, 4L),
      ("b", 101L, 5L), ("b", 102L, 6L), ("b", 103L, 7L), ("b", 104L, 8L)
    ).toDF("g", "v", "tid")
    val got = Normalize.quantileNormalize(df, Seq("g"), "v", "tid")
      .select("g", "v", "q_norm").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // global sorted = [1,2,3,4,101,102,103,104]; per-group pr_ppm
    // {0, 333333, 666666, 1000000} → global idx {0, 2, 4, 7}
    val expect = Seq(1L, 3L, 101L, 104L)
    assert(Seq(1L, 2L, 3L, 4L).map(v => got(("a", v))) == expect)
    assert(Seq(101L, 102L, 103L, 104L).map(v => got(("b", v))) == expect)
  }

  // ----------------------------------------- coverageCurve

  test("coverageCurve: cumulative token share at power-of-two vocab sizes") {
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = Ngrams.coverageCurve(docs)
      .orderBy("vocab_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 8)
    assert(got(0) == ((1L, 1L, 3L, 500000L)))
    assert(got(1) == ((2L, 2L, 5L, 833333L)))
    // only 3 distinct terms: sizes >= 4 saturate
    assert(got(2) == ((4L, 3L, 6L, 1000000L)))
    assert(got(7) == ((128L, 3L, 6L, 1000000L)))
  }

  // ------------------------------------------- dispersion

  test("dispersion equals brute-force pairwise distance sums") {
    val vecs = Seq(
      (1L, Seq(1.0f, 2.0f, -3.0f), 0),
      (2L, Seq(0.5f, -1.5f, 2.0f), 0),
      (3L, Seq(-2.0f, 0.25f, 1.0f), 0),
      (4L, Seq(4.0f, 4.0f, 4.0f), 1),
      (5L, Seq(4.0f, 4.0f, 4.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.dispersion(vecs, scale = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    // brute force on the same scale-4 quantization
    def q(v: Seq[Float]): Seq[Long] = v.map(x => math.round(x.toDouble * 4))
    def brute(vs: Seq[Seq[Long]]): Long =
      (for (a <- vs; b <- vs) yield a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum).sum
    val g0 = Seq(Seq(1.0f, 2.0f, -3.0f), Seq(0.5f, -1.5f, 2.0f), Seq(-2.0f, 0.25f, 1.0f)).map(q)
    assert(got(0) == ((3L, brute(g0), brute(g0) / 9)))
    // identical vectors → zero dispersion
    assert(got(1) == ((2L, 0L, 0L)))
  }

  // ------------------------------------------------ kCore

  test("kCore peels the tail and keeps the triangle") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a_id", "b_id")
    val got = GraphMetrics.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore of a star is empty at k=2 and whole at k=1") {
    val edges = (1L to 5L).map(i => (0L, i)).toDF("a_id", "b_id")
    assert(GraphMetrics.kCore(edges, k = 2).count() == 0L)
    val k1 = GraphMetrics.kCore(edges, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k1 == Map(0L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("kCore throws when maxRounds ends the peel short of the k-core") {
    // path 1-2-3-4-5-6 peels one layer per round: one round would leave
    // {3, 4} standing, but its 2-core is empty
    val path = (1L to 5L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException] {
      GraphMetrics.kCore(path, k = 2, maxRounds = 1).collect()
    }
    assert(e.getMessage.contains("kCore") && e.getMessage.contains("maxRounds=1"))
    assert(GraphMetrics.kCore(path, k = 2, maxRounds = 3).count() == 0L)
  }

  // ------------------------------------------ vocabGrowth

  test("vocabGrowth counts distinct terms after the first N stream tokens") {
    val docs = Seq((1L, "a b a c"), (2L, "d a")).toDF("doc_id", "text")
    val got = Ngrams.vocabGrowth(docs, checkpoints = Seq(1L, 2L, 4L, 8L))
      .orderBy("requested_n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // stream: a b a c d a
    assert(got.toSeq == Seq((1L, 1L, 1L), (2L, 2L, 2L), (4L, 4L, 3L), (8L, 6L, 4L)))
  }

  // ------------------------------------- noveltyByPeriod

  test("noveltyByPeriod splits rows into first-period vs repeat content") {
    val df = Seq(
      ("p1", "x"), ("p1", "x"), ("p1", "y"),
      ("p2", "x"), ("p2", "z"), ("p2", "z")
    ).toDF("period", "content")
    val got = graft.ops.Dedup.noveltyByPeriod(df, "period", "content")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("p1") == ((3L, 3L, 0L, 2L)))
    assert(got("p2") == ((3L, 2L, 1L, 1L)))
  }

  // -------------------------------------- unigramDrift

  test("unigramDrift: zero for identical mixes, totals for disjoint ones") {
    val docs = Seq(
      (1L, "srcA", "x x y"), (2L, "srcB", "x x y"), (3L, "srcC", "z")
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.Lexical.unigramDrift(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // p(x)=666666, p(y)=333333 ppm in A and B; C is all z at 1000000
    assert(got(("srcA", "srcB")) == ((0L, 2L)))
    assert(got(("srcA", "srcC")) == ((999999L + 1000000L, 0L)))
    assert(got(("srcB", "srcC")) == ((999999L + 1000000L, 0L)))
  }

  // ---------------------------------------- positionBased

  test("positionBased: U-shaped credit sums to exactly 10000 bp") {
    // u1: 5 touches then purchase → 4000, 667, 667, 666, 4000 (Σ = 10000);
    // a post-conversion touch gets nothing; u2: 1 touch → 10000;
    // u3: no conversion → absent entirely
    val evT = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "view"),
      ("u1", 4L, "click"), ("u1", 5L, "view"), ("u1", 6L, "buy"),
      ("u1", 7L, "view"),
      ("u2", 1L, "click"), ("u2", 2L, "buy"),
      ("u3", 1L, "view")
    ).toDF("user_id", "eid", "etype")
    val got = Attribution.positionBased(evT, "user_id", Seq(col("eid")), "eid",
      isTouch = col("etype").isin("view", "click"),
      isConversion = col("etype") === "buy")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(got(("u1", 1L)) == 4000L)
    assert(got(("u1", 2L)) == 667L)
    assert(got(("u1", 3L)) == 667L)
    assert(got(("u1", 4L)) == 666L)
    assert(got(("u1", 5L)) == 4000L)
    assert(got(("u2", 1L)) == 10000L)
    assert(!got.keySet.exists(_._1 == "u3"))
    assert(!got.contains(("u1", 7L)))
    assert(got.filterKeys(_._1 == "u1").values.sum == 10000L)
  }

  // ------------------------------- temperatureHalfApportion

  test("temperatureHalfApportion: sqrt damping + exact Hamilton split") {
    val counts = Seq(("big", 100L), ("mid", 25L), ("small", 4L)).toDF("src", "w")
    val got = Sampling.temperatureHalfApportion(counts, "src", "w", budget = 100L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // sw = 10, 5, 2 (tot 17); floors 58/29/11, deficit 2 → rems 14, 7, 13
    assert(got("big") == ((100L, 10L, 59L)))
    assert(got("mid") == ((25L, 5L, 29L)))
    assert(got("small") == ((4L, 2L, 12L)))
    assert(got.values.map(_._3).sum == 100L)
  }

  // ---------------------------------- labelDisagreement

  test("labelDisagreement counts differing-label neighbors in the exact top-k") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.9f, 0.1f), 0),
      (3L, Seq(0.8f, 0.2f), 1),
      (4L, Seq(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelDisagreement(emb, emb, k = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // v1's top-2 = v2 (label 0), v3 (label 1) → 1 disagreement
    assert(got(1L) == ((0, 2L, 1L, 500000L)))
    // v4's top-2 = v3 (label 1), v2 (label 0) → 1 disagreement
    assert(got(4L) == ((1, 2L, 1L, 500000L)))
  }

  // --------------------------------- sentenceDupProfile

  test("sentenceDupProfile counts repeated sentences within a doc") {
    val docs = Seq(
      (1L, "a b. a b. c"),
      (2L, "x y! z?"),
      (3L, "")
    ).toDF("doc_id", "text")
    val got = graft.ops.Lexical.sentenceDupProfile(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((3L, 2L, 1L, 333333L)))
    assert(got(2L) == ((2L, 2L, 0L, 0L)))
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
  }

  // --------------------------------------- calibrationBins

  test("calibrationBins: equal-width ppm bins with exact counts") {
    val df = Seq((50000L, true), (150000L, false), (999999L, true), (120000L, true))
      .toDF("score_ppm", "pos")
    val got = graft.ops.Metrics.calibrationBins(df, "score_ppm", col("pos"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0L) == ((1L, 1L, 1000000L, 50000L)))
    assert(got(1L) == ((2L, 1L, 500000L, 135000L)))
    assert(got(9L) == ((1L, 1L, 1000000L, 999999L)))
  }

  // ---------------------------------------------- medoids

  test("medoids picks the member closest to the block mean, all-integer") {
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(2.0f, 0.0f), 0), (3L, Seq(10.0f, 0.0f), 0),
      (4L, Seq(5.0f, 5.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.medoids(emb, scale = 4)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // label 0: mean (4,0) → closest member is (2,0); cleared distance
    // 9·64 − 6·8·48 + 48² = 576 at scale 4
    assert(got(0) == ((2L, 3L, 576L)))
    // singleton block: its own medoid at distance 0
    assert(got(1) == ((4L, 1L, 0L)))
  }

  // -------------------------------------- stratifiedFolds

  test("stratifiedFolds: balanced within stratum and deterministic") {
    val df = (1L to 10L).map(i => (i, "s")).toDF("id", "stratum")
    def run() = Sampling.stratifiedFolds(df, Seq("stratum"), "id", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a = run()
    assert(a.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(0L -> 4, 1L -> 3, 2L -> 3))
    assert(a == run()) // pure function of (id, stratum, k)
  }

  // ------------------------------------- containmentPairs

  test("containmentPairs finds subset docs the symmetric Jaccard would miss") {
    val docs = Seq(
      (1L, "x y"),          // ⊂ doc 2
      (2L, "x y z w"),
      (3L, "p q")           // disjoint
    ).toDF("doc_id", "text")
    val exact = graft.ops.Dedup.containmentPairs(docs, thresholdPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getLong(5))).toMap
    // only 1-in-2 qualifies at t=1.0 (Jaccard is just 0.5)
    assert(exact.keySet == Set((1L, 2L)))
    assert(exact((1L, 2L)) == ((2L, 1000000L)))
    val half = graft.ops.Dedup.containmentPairs(docs, thresholdPpm = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(5)).toMap
    // at t=0.5 the reverse direction appears too: |B∩A|/|B| = 2/4
    assert(half((1L, 2L)) == 1000000L && half((2L, 1L)) == 500000L)
    assert(!half.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  // ------------- containment exactness property (vs brute force)

  test("containmentPairs: exactness holds across the threshold range (property)") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector.tabulate(12)(i => f"w$i%02d")
    val docs = (0L until 40L).map { i =>
      i -> Seq.fill(2 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toDF("doc_id", "text")
    val sets = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").filter(_.nonEmpty).toSet).toMap
    for (t <- Seq(300000L, 500000L, 800000L, 1000000L)) {
      val got = graft.ops.Dedup.containmentPairs(docs, thresholdPpm = t)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a != b
        i = sets(a).intersect(sets(b)).size.toLong
        if i * 1000000L >= t * sets(a).size.toLong
      } yield (a, b)).toSet
      assert(got == expected, s"threshold $t: got ${got.size}, expected ${expected.size}")
    }
  }

  // --------------------------------- popularityNegatives

  test("popularityNegatives: deterministic draws, never a user positive") {
    val inter = Seq(
      ("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "c"), ("u3", "b"), ("u3", "d")
    ).toDF("user_id", "item")
    // Row ORDER out of collect() is not part of the contract (AQE may pick
    // different partition layouts run to run); the determinism claim is on
    // the sorted multiset of draws.
    def run() = Sampling.popularityNegatives(inter, "user_id", "item", k = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val a = run()
    assert(a.nonEmpty && a.toSeq == run().toSeq)
    val pos = Set(("u1", "a"), ("u1", "b"), ("u2", "a"), ("u2", "c"), ("u3", "b"), ("u3", "d"))
    a.foreach { case (u, _, draw, neg) =>
      assert(!pos.contains((u, neg)), s"drew a positive: $u $neg")
      assert(draw >= 1 && draw <= 4)
    }
  }

  // ------------------------------------------ churnLabels

  test("churnLabels: future-blind, window decides the label") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val ev = Seq(
      ("active", ts(24)), ("active", ts(1)),
      ("churned", ts(10)),
      ("future_only", ts(28))  // after cutoff → absent entirely
    ).toDF("k", "ts")
    val got = graft.ops.TimeSeries.churnLabels(ev, "k", "ts",
      cutoff = "2024-01-25 00:00:00", windowSec = 3L * 86400)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got("active") == ((2L, 0L)))
    assert(got("churned") == ((1L, 1L)))
    assert(!got.contains("future_only"))
  }

  // ------------------------------------------ timeToEvent

  test("timeToEvent: strictly-after target, horizon censoring explicit") {
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val ev = Seq(
      ("u", 1L, ts(0), "view"), ("u", 2L, ts(1), "buy"),
      ("u", 3L, ts(2), "view"), ("u", 4L, ts(5), "buy"),
      ("u", 5L, ts(6), "view")
    ).toDF("k", "eid", "ts", "etype")
    val got = graft.ops.TimeSeries.timeToEvent(ev, "k", "ts", "eid",
      isTarget = col("etype") === "buy", horizonSec = 2 * 3600)
      .collect().map(r => r.getLong(1) ->
        (Option(r.get(r.fieldIndex("tte_sec"))).map(_.asInstanceOf[Long]),
          r.getLong(r.fieldIndex("censored")))).toMap
    assert(got(1L) == ((Some(3600L), 0L)))       // view → buy 1h later
    assert(got(2L) == ((None, 1L)))              // buy → next buy is 4h away > horizon
    assert(got(3L) == ((None, 1L)))              // 3h gap > 2h horizon
    assert(got(5L) == ((None, 1L)))              // no later target at all
  }

  // ------------------------------------------ ksStatistic

  test("ksStatistic: exact supremum of the ECDF gap in integers") {
    val df = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("C", 99L))
      .toDF("g", "v")
    val got = graft.ops.Metrics.ksStatistic(df, "g", "v", "A", "B").collect()
    assert(got.length == 1)
    val r = got(0)
    // F_A = {1:.5, 2:1}, F_B = {2:.5, 3:1} → D = 1/2; group C ignored
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 2L, 500000L)))
  }

  // -------------------------------------- bucketBootstrap

  test("bucketBootstrap: zero spread on constant data, exact counts") {
    val df = (1L to 200L).map(i => (i, 500L)).toDF("rid", "v")
    val r = graft.ops.Metrics.bucketBootstrap(df, "rid", "v", buckets = 8).collect()(0)
    assert(r.getLong(0) == 200L)           // n_rows
    assert(r.getLong(1) <= 8L)             // n_buckets
    assert(r.getLong(2) == 500L)           // global mean
    assert(r.getLong(5) == 0L)             // constant data → zero spread
  }

  // ------------------------------------------ activeUsers

  test("activeUsers: DAU exact, WAU via bounded fan-out") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d 10:00:00")
    val ev = Seq(("u1", ts(1)), ("u1", ts(2)), ("u2", ts(1))).toDF("k", "ts")
    val got = graft.ops.Cohort.activeUsers(ev, "k", "ts", windowDays = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("2024-02-01") == ((2L, 2L, 1000000L)))
    // day 2: only u1 active, but u2's day-1 activity is inside the window
    assert(got("2024-02-02") == ((1L, 2L, 500000L)))
  }

  // ------------------------------------------- pathRollup

  test("pathRollup aggregates every prefix of every path") {
    val df = Seq(("a/b", 1L), ("a/b/c", 2L), ("d", 4L)).toDF("path", "v")
    val got = graft.ops.Indexing.pathRollup(df, "path", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("a") == ((1L, 2L, 3L)))
    assert(got("a/b") == ((2L, 2L, 3L)))
    assert(got("a/b/c") == ((3L, 1L, 2L)))
    assert(got("d") == ((1L, 1L, 4L)))
  }

  // ------------------------------ personalized PageRank

  test("personalizedFixedPoint: teleport mass lands only on seeds") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val seeds = Seq(Tuple1(1L)).toDF("seed")
    val got = graft.ops.PageRank.personalizedFixedPoint(
      edges, "s", "d", seeds, "seed", iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0 = {1: 1e6, others 0}; round 1: node 1 keeps only its teleport,
    // node 2 inherits ⌊1e6·85/100⌋, node 3 nothing yet
    assert(got == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L))
  }

  // -------------------------------------- bipartiteProject

  test("bipartiteProject: co-engagement weights, cap bounds the wedges") {
    val facts = Seq(
      ("u1", 1L), ("u1", 2L), ("u1", 3L), ("u2", 1L), ("u2", 2L), ("u2", 2L)
    ).toDF("u", "item")
    val full = GraphMetrics.bipartiteProject(facts, "u", "item", maxDegree = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(full == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 1L))
    // cap 2: u1's smallest-2 rights are {1,2} → item 3 drops out entirely
    val capped = GraphMetrics.bipartiteProject(facts, "u", "item", maxDegree = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped == Map((1L, 2L) -> 2L))
  }

  // --------------------------------------- bySentences

  test("bySentences: sentence-aligned chunks, closed-form assignment") {
    val docs = Seq((1L, "a b. c d. e f"), (2L, "")).toDF("doc_id", "text")
    val got = graft.ops.Chunking.bySentences(docs, budget = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(3), r.getLong(4))).toMap
    // prefix word counts 0, 2, 4 → chunks ⌊0/3⌋=0, ⌊2/3⌋=0, ⌊4/3⌋=1
    assert(got((1L, 0L)) == (("a b. c d", 2L, 4L)))
    assert(got((1L, 1L)) == (("e f", 1L, 2L)))
    assert(!got.keySet.exists(_._1 == 2L)) // empty doc emits nothing
  }

  // ----------------------------------------- decayedScore

  test("decayedScore: dyadic weights, newest row heaviest") {
    val df = Seq(
      ("u1", 1L, 1L), ("u1", 2L, 2L), ("u1", 3L, 3L),
      ("u2", 1L, 5L)
    ).toDF("k", "t", "v")
    val got = TimeSeries.decayedScore(df, Seq("k"), Seq(col("t")), "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // u1: 3·128 + 2·64 + 1·32 = 544 over 3 obs
    assert(got("u1") == ((544L, 3L)))
    assert(got("u2") == ((5L * 128L, 1L)))
  }
}
