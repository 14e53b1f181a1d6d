package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions.ZOrder
import graft.ops.PageRank

class GraphAndZOrderSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- Z-order

  test("zorder: codegen expression matches the Scala reference on random 32-bit inputs") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(_ => (rnd.nextLong().abs & 0xFFFFFFFFL, rnd.nextLong().abs & 0xFFFFFFFFL))
    val df = rows.toDF("x", "y")
    val got = df.select(ZOrder.interleave(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    val want = rows.map { case (x, y) => ZOrder.mortonRef(x, y) }
    assert(got.toSeq == want)
  }

  test("zorder: 16-bit inputs — 32-bit chain equals 16-bit chain (oracle identity)") {
    def spread16(v0: Long): Long = {
      var v = v0 & 0xFFFFL
      v = (v | (v << 8)) & 0x00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0FL
      v = (v | (v << 2)) & 0x33333333L
      v = (v | (v << 1)) & 0x55555555L
      v
    }
    val rnd = new scala.util.Random(13)
    (1 to 2000).foreach { _ =>
      val (x, y) = (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      assert(ZOrder.mortonRef(x, y) == (spread16(x) | (spread16(y) << 1)))
    }
  }

  test("zorder: interleave is monotone in each dimension within the other's bucket") {
    // Deterministic spot-check of the clustering property: fixing y, a
    // larger x always gives a larger Z (and symmetrically) — what makes
    // min/max file stats prune on either dimension after Z-sorting.
    for (y <- Seq(0L, 7L, 1000L, 65535L); x1 <- Seq(0L, 5L, 900L); x2 <- Seq(1000L, 65535L)) {
      assert(ZOrder.mortonRef(x1, y) < ZOrder.mortonRef(x2, y))
      assert(ZOrder.mortonRef(y, x1) < ZOrder.mortonRef(y, x2))
    }
  }

  test("zorder: cluster() range-partitions by Z and preserves rows") {
    val df = (1 to 256).map(i => (i.toLong % 16, i.toLong / 16, i)).toDF("x", "y", "payload")
    val clustered = ZOrder.cluster(df, "x", "y", 4)
    assert(clustered.columns.toSeq == Seq("x", "y", "payload"))
    assert(clustered.count() == 256)
    // each partition holds a contiguous Z range: max(z) of partition i
    // ≤ min(z) of partition i+1
    val ranges = clustered
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .orderBy("p").collect().map(r => (r.getLong(1), r.getLong(2)))
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi <= lo)
      case _ =>
    }
  }

  // ------------------------------------------------------------ PageRank

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.ranksFixedPoint(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pagerank: star graph — center accumulates, leaves hold teleport + center share") {
    // 1→0, 2→0, 3→0 and 0→1,2,3 (bidirectional star)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L), (0L, 2L), (0L, 3L))
    val r = ranksOf(edges, 1)
    // center: 150000 + 3 * (1000000*85 div 100) = 150000 + 3*850000
    assert(r(0L) == 150000L + 3 * 850000L)
    // leaf: 150000 + (1000000*85) div (100*3)
    assert(r(1L) == 150000L + 283333L)
    assert(r(1L) == r(2L) && r(2L) == r(3L))
  }

  test("weighted pagerank: unit weights equal the unweighted ranks; multigraph folds; bias follows weight") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 150).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
    def wRanks(rows: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] =
      PageRank.weightedRanksFixedPoint(rows.toDF("s", "d", "w"), "s", "d", "w", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // w = 1 everywhere degenerates exactly to the unweighted loop —
    // provided the input has no duplicate edges (the weighted op FOLDS
    // duplicates by summing, the unweighted one splits by row count)
    val simple = edges.distinct
    assert(wRanks(simple.map { case (s, d) => (s, d, 1L) }, 3) == ranksOf(simple, 3))
    // a multigraph equals its weight-folded collapse
    val multi = simple.flatMap { case (s, d) => Seq.fill(1 + (s % 3).toInt)((s, d, 2L)) }
    val folded = simple.map { case (s, d) => (s, d, 2L * (1 + (s % 3))) }
    assert(wRanks(multi, 3) == wRanks(folded, 3))
    // weight bias: on 0→{1 (w 9), 2 (w 1)}, node 1 gets 9x node 2's share
    val biased = wRanks(Seq((0L, 1L, 9L), (0L, 2L, 1L)), 1)
    assert(biased(1L) == 150000L + 1000000L * 85 * 9 / (100 * 10))
    assert(biased(2L) == 150000L + 1000000L * 85 / (100 * 10))
    // non-positive weights are refused upfront with the offending edge
    val e = intercept[IllegalArgumentException] {
      wRanks(Seq((0L, 1L, 0L)), 1)
    }
    assert(e.getMessage.contains("non-positive or null weight"))
    // posture parity: rows and staged rounds inside a checkpoint dir
    val (local, rel) = bothPostures(wRanks(simple.map { case (s, d) => (s, d, 3L) }, 5))
    assert(rel == local)
  }

  test("pagerank: total mass is bounded by nodes*scale and conserved up to floor loss") {
    val rnd = new scala.util.Random(5)
    val edges = (1 to 200).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val r = ranksOf(edges, 4)
    val n = r.size
    val total = r.values.sum
    // teleport mass 0.15·n·scale always present; damped mass ≤ 0.85·n·scale
    assert(total <= n * 1000000L)
    assert(total >= n * 150000L)
  }

  test("pagerank: zero iterations returns the uniform seed; symmetric pair is symmetric") {
    val edges = Seq((1L, 2L), (2L, 1L))
    assert(ranksOf(edges, 0) == Map(1L -> 1000000L, 2L -> 1000000L))
    val r3 = ranksOf(edges, 3)
    assert(r3(1L) == r3(2L))
  }

  test("pagerank: result is independent of shuffle partition count (integer determinism)") {
    val rnd = new scala.util.Random(17)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val r1 = ranksOf(edges, 3)
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      assert(ranksOf(edges, 3) == r1)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
