package graft

import graft.ops.{Indexing, Similarity}
import org.apache.spark.sql.functions._

/** Product quantization: exact in-memory replay of the lattice codes and
  * ADC ranking, plus a recall floor against the brute-force baseline.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  /** quantizeInt8 replayed: round(x·127/max|x|) half-away-from-zero. */
  private def quantize(v: Seq[Float]): Seq[Long] = {
    val m = v.map(x => math.abs(x.toDouble)).max
    if (m > 0)
      v.map(x => BigDecimal(x.toDouble * 127.0 / m)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    else v.map(_ => 0L)
  }

  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** The operator's contract replayed: codebook = k lowest-id vectors'
    * subvectors; code = argmin d2, ties to smaller j.
    */
  private def referenceCodes(
      vecs: Seq[(Long, Seq[Float])], m: Int, k: Int): Map[(Long, Long), (Long, Long)] = {
    val q = vecs.map { case (id, v) => (id, quantize(v)) }
    val sub = q.head._2.length / m
    val cb = q.sortBy(_._1).take(k).zipWithIndex.map { case ((_, v), j) =>
      (j.toLong, (0 until m).map(s => v.slice(s * sub, (s + 1) * sub)))
    }
    (for {
      (id, v) <- q
      s <- 0 until m
      vs = v.slice(s * sub, (s + 1) * sub)
    } yield {
      val (j, dd) = cb.map { case (j, cs) => (j, d2(vs, cs(s))) }
        .minBy { case (j, dd) => (dd, j) }
      ((id, s.toLong), (j, dd))
    }).toMap
  }

  // deterministic synthetic corpus: 5 well-separated cluster anchors in
  // dim 8, members = anchor + small deterministic jitter
  private val dim = 8
  private def corpus(n: Int): Seq[(Long, Seq[Float])] =
    (0L until n.toLong).map { i =>
      val c = (i % 5).toInt
      val v = (0 until dim).map { d =>
        val anchor = if (d % 5 == c) 10.0 else 1.0
        (anchor + 0.1 * ((i * 7 + d * 3) % 11)).toFloat
      }
      (i, v)
    }

  test("quantizedGram: in-memory replay, upper triangle, cells add across shards") {
    val rnd = new scala.util.Random(31)
    val vecs = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    def quant(v: Array[Float]): Array[Long] = {
      val ma = v.map(x => math.abs(x.toDouble)).max
      if (ma > 0) v.map(x => math.round(x.toDouble * 127.0 / ma)) else v.map(_ => 0L)
    }
    val want = (for (i <- 0 until 8; j <- i until 8) yield {
      ((i.toLong, j.toLong), vecs.map { case (_, v) => val q = quant(v); q(i) * q(j) }.sum)
    }).toMap
    val got = Similarity.quantizedGram(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.view.mapValues(_._1).toMap == want)
    assert(got.values.forall(_._2 == 40L))
    assert(got.keySet.forall { case (i, j) => i <= j })
    // mergeability: shard Grams add cell-by-cell to the whole-corpus Gram
    val (a, b) = vecs.partition(_._1 % 2 == 0)
    def gram(x: Seq[(Long, Array[Float])]) =
      Similarity.quantizedGram(x.toDF("vec_id", "embedding"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val merged = gram(a).map { case (k, v) => k -> (v + gram(b)(k)) }
    assert(merged == want)
    // diagonal is a sum of squares
    assert(got.collect { case ((i, j), (g, _)) if i == j => g }.forall(_ >= 0L))
  }

  test("pqCodes matches the in-memory replay (codes AND distortion)") {
    val data = corpus(40)
    val got = Similarity.pqCodes(data.toDF("vec_id", "embedding"), m = 2, k = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got == referenceCodes(data, 2, 4))
  }

  test("pqCodes: m=4/k=16 shape and code range on a bigger corpus") {
    val data = corpus(120)
    val got = Similarity.pqCodes(data.toDF("vec_id", "embedding"), m = 4, k = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
    assert(got.length == 120 * 4)
    assert(got.forall { case (_, (code, dd)) => code >= 0 && code < 16 && dd >= 0 })
    assert(got.toMap == referenceCodes(data, 4, 16))
  }

  test("indivisible dim is refused") {
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodes(corpus(10).toDF("vec_id", "embedding"), m = 3, k = 4).collect()
    }
    assert(e.getMessage.contains("subspace"))
  }

  test("pqAdcTopK matches the in-memory ADC replay exactly") {
    val data = corpus(40)
    val m = 2; val k = 4; val topK = 5
    val queries = data.take(3).map { case (id, v) => (id, v) }
    val got = Similarity.pqAdcTopK(
      data.toDF("vec_id", "embedding"),
      queries.toDF("query_id", "embedding"), m = m, k = k, topK = topK)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // replay: lut from the query's own quantization vs the corpus codebook
    val codes = referenceCodes(data, m, k)
    val q = data.map { case (id, v) => (id, quantize(v)) }.toMap
    val sub = dim / m
    val cb = data.sortBy(_._1).take(k).zipWithIndex.map { case ((_, v), j) =>
      (j.toLong, (0 until m).map(s => quantize(v).slice(s * sub, (s + 1) * sub)))
    }.toMap
    val want = queries.flatMap { case (qid, qv) =>
      val qq = quantize(qv)
      val scored = data.filter(_._1 != qid).map { case (nid, _) =>
        val adc = (0 until m).map { s =>
          val (code, _) = codes((nid, s.toLong))
          d2(qq.slice(s * sub, (s + 1) * sub), cb(code)(s))
        }.sum
        (nid, adc)
      }.sortBy { case (nid, adc) => (adc, nid) }.take(topK)
      scored.zipWithIndex.map { case ((nid, adc), r) => (qid, nid, adc, (r + 1).toLong) }
    }.toSet
    assert(got == want)
  }

  test("ivfPqTopK with full probes equals pqAdcTopK (routing adds nothing)") {
    val data = corpus(80)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = df.where(col("vec_id") % 11 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val nCents = cents.count().toInt
    val full = Similarity.ivfPqTopK(df, queries, cents,
      m = 2, k = 8, topK = 7, nProbe = nCents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val adc = Similarity.pqAdcTopK(df, queries, m = 2, k = 8, topK = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(full == adc)
  }

  test("ivfPqTopK narrow probes: ADC values agree with the full scan on shared pairs") {
    val data = corpus(80)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = df.where(col("vec_id") % 11 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val narrow = Similarity.ivfPqTopK(df, queries, cents,
      m = 2, k = 8, topK = 7, nProbe = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(narrow.nonEmpty)
    val fullAdc = Similarity.pqAdcTopK(df, queries, m = 2, k = 8, topK = 80)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    narrow.foreach { case (pair, d) =>
      assert(fullAdc(pair) == d, s"ADC for $pair differs between probed and full scan")
    }
  }

  test("ivfPqTopK recall@5 vs brute force clears the floor on clustered data") {
    val data = corpus(100)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val cents = df.where(col("vec_id") % 9 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val got = Similarity.ivfPqTopK(df, queries, cents,
      m = 4, k = 16, topK = 5, nProbe = 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(df, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"ivf-pq recall $recall below floor")
  }

  test("rrfFuse: exact integer fusion, absences contribute zero, ties to smaller id") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 13L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val got = Indexing.rrfFuse(Seq(a, b), "query_id", "neighbor_id", "rank", k0 = 60, topK = 10)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), (r.getAs[Long]("rrf_score"), r.getAs[Long]("fused_rank"))))
      .toMap
    // 11: 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 — top
    assert(got(11L) == ((1000000L / 62 + 1000000L / 61, 1L)))
    assert(got(10L) == ((1000000L / 61, 2L)))           // 16393
    assert(got(13L) == ((1000000L / 62, 3L)))           // 16129
    assert(got(12L) == ((1000000L / 63, 4L)))           // 15873
  }

  test("rankAgreement: identical rankings hit max_score_e9, contributions replay") {
    val r1 = (1 to 10).map(i => (1L, 100L + i, i.toLong))
    val a = r1.toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rankAgreement(a, a, depth = 10, pE6 = 900000L).head()
    val cum = Similarity.rboCumWeights(10, 900000L)
    assert(got.getLong(1) == 10L)
    assert(got.getLong(2) == cum.sum && got.getLong(3) == cum.sum)
    // partial: b agrees only on the rank-1 and rank-10 items, at those ranks
    val b = Seq((1L, 101L, 1L), (1L, 110L, 10L), (1L, 999L, 2L))
      .toDF("query_id", "neighbor_id", "rank")
    val p = Similarity.rankAgreement(a, b, depth = 10, pE6 = 900000L).head()
    assert(p.getLong(1) == 2L)
    assert(p.getLong(2) == cum(0) + cum(9))
    // disjoint rankings produce no row at all
    val c = Seq((1L, 999L, 1L)).toDF("query_id", "neighbor_id", "rank")
    assert(Similarity.rankAgreement(a, c).isEmpty)
  }

  test("rrfFuse promotes items ranked well by BOTH lists") {
    // item 50 is rank 2 in both lists; 10 and 20 are rank-1 in one only
    val a = Seq((7L, 10L, 1L), (7L, 50L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((7L, 20L, 1L), (7L, 50L, 2L)).toDF("query_id", "neighbor_id", "rank")
    val top = Indexing.rrfFuse(Seq(a, b), "query_id", "neighbor_id", "rank").where(col("fused_rank") === 1).head()
    assert(top.getAs[Long]("neighbor_id") == 50L)
  }

  test("ADC recall@5 against brute-force cosine clears the floor on clustered data") {
    val data = corpus(100)
    val df = data.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val adc = Similarity.pqAdcTopK(df, queries, m = 4, k = 16, topK = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(df, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (adc & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall below floor (adc=${adc.size}, brute=${brute.size})")
  }

  test("principalProjection matches the in-memory BigInt replay exactly") {
    val rnd = new scala.util.Random(67)
    val vecs = (0L until 30L).map(i => (i, Array.fill(6)(rnd.nextFloat() * 2 - 1)))
    def quant(v: Array[Float]): Array[Long] = {
      val ma = v.map(x => math.abs(x.toDouble)).max
      if (ma > 0) v.map(x => math.round(x.toDouble * 127.0 / ma)) else v.map(_ => 0L)
    }
    val qs = vecs.map { case (id, v) => (id, quant(v)) }
    val g = Array.tabulate(6, 6)((i, j) => qs.map { case (_, q) => BigInt(q(i)) * q(j) }.sum)
    var v = Array.fill(6)(BigInt(1))
    for (_ <- 1 to 4) {
      val w = Array.tabulate(6)(i => (0 until 6).map(j => g(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      v = if (m == 0) w else w.map(x => if (x < 0) -((-x << 20) / m) else (x << 20) / m)
    }
    val wantScores = qs.map { case (id, q) =>
      id -> (0 until 6).map(i => BigInt(q(i)) * v(i)).sum.toLong
    }.toMap
    val vGv = (0 until 6).map(i => v(i) * (0 until 6).map(j => g(i)(j) * v(j)).sum).sum
    val wantEig = (vGv / v.map(x => x * x).sum).toLong
    val got = Similarity.principalProjection(vecs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(r => r._1 -> r._2).toMap == wantScores)
    assert(got.forall(_._3 == wantEig) && wantEig > 0)
  }

  test("principalProjection finds the dominant axis (semantic sanity)") {
    // 20 vectors along axis 0, 3 small ones along axis 1: the principal
    // direction must be ~e0, so the axis-0 group out-projects the rest
    val along = (0L until 20L).map(i =>
      (i, Array[Float](if (i % 2 == 0) 5f + i else -5f - i, 0.01f * i, 0f, 0f)))
    val off = (20L until 23L).map(i => (i, Array[Float](0f, 0.5f, 0.1f, 0f)))
    val scores = Similarity.principalProjection((along ++ off).toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), math.abs(r.getLong(1)))).toMap
    val minAlong = along.map(v => scores(v._1)).min
    val maxOff = off.map(v => scores(v._1)).max
    assert(minAlong > maxOff,
      s"axis-0 group (min |score| $minAlong) should dominate axis-1 group (max $maxOff)")
  }

  test("principalProjection rejects bad arguments") {
    val df = Seq((1L, Array(1f, 2f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](Similarity.principalProjection(df, iterations = 0))
    intercept[IllegalArgumentException](Similarity.principalProjection(df, scaleBits = 40))
  }
}
