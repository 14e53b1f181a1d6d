package graft

import graft.ops.Eval

/** Bradley–Terry MM fitting: dominance orderings on hand cases plus an
  * in-memory BigInt replay of the exact scaled truncating contract, so
  * agreement on random duel sets is exact.
  */
class BradleyTerrySpec extends SparkSpec {
  import spark.implicits._

  private val S = 1000000L

  /** The operator's integer MM contract, sequentially. */
  private def reference(
      duels: Seq[(Long, Long)], iterations: Int): Map[Long, (Long, Long, Long)] = {
    val dct = duels.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sym = scala.collection.mutable.Map.empty[(Long, Long), Long]
    dct.foreach { case ((w, l), c) =>
      sym((w, l)) = sym.getOrElse((w, l), 0L) + c
      sym((l, w)) = sym.getOrElse((l, w), 0L) + c
    }
    val items = sym.keys.map(_._1).toSeq.distinct
    val wins = items.map(i => i -> dct.collect { case ((w, _), c) if w == i => c }.sum).toMap
    val games = items.map(i => i -> sym.collect { case ((a, _), n) if a == i => n }.sum).toMap
    var s = items.map(_ -> BigInt(S)).toMap
    for (_ <- 1 to iterations) {
      val d = items.map { i =>
        i -> sym.collect { case ((a, j), n) if a == i =>
          (BigInt(n) * S * S) / (s(i) + s(j))
        }.sum
      }.toMap
      val raw = items.map(i => i -> (BigInt(wins(i)) * S * S / d(i)).max(1)).toMap
      val mx = raw.values.max
      s = items.map(i => i -> (raw(i) * S / mx).max(1)).toMap
    }
    items.map(i => i -> ((s(i).toLong, wins(i), games(i)))).toMap
  }

  private def run(duels: Seq[(Long, Long)], iterations: Int): Map[Long, (Long, Long, Long)] =
    Eval.bradleyTerry(duels.toDF("winner", "loser"), iterations = iterations)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("dominance ordering: undefeated tops, winless floors") {
    // A(1) beats B(2) 3x, B beats C(3) 3x, A beats C 1x
    val duels = Seq.fill(3)((1L, 2L)) ++ Seq.fill(3)((2L, 3L)) :+ ((1L, 3L))
    val got = run(duels, iterations = 3)
    assert(got(1L)._1 == S, "undefeated item should sit at the normalization cap")
    assert(got(1L)._1 > got(2L)._1 && got(2L)._1 > got(3L)._1,
      s"strengths should respect dominance: $got")
    assert(got(3L)._1 >= 1L)
    assert(got(1L)._2 == 4L && got(1L)._3 == 4L) // wins, games
    assert(got(3L)._2 == 0L && got(3L)._3 == 4L)
  }

  test("agrees exactly with the in-memory BigInt MM reference on random duels") {
    val rnd = new scala.util.Random(53)
    for (trial <- 0 until 3) {
      val duels = Seq.fill(120) {
        val a = rnd.nextInt(12).toLong
        var b = rnd.nextInt(12).toLong
        while (b == a) b = rnd.nextInt(12).toLong
        (a, b)
      }
      val iters = 1 + trial
      assert(run(duels, iters) == reference(duels, iters),
        s"trial $trial (iters=$iters) diverged")
    }
  }

  test("self-duels and null-ish rows are ignored; reliable parity") {
    val duels = Seq((1L, 1L), (1L, 2L), (2L, 3L), (1L, 3L))
    val (local, reliable) = bothPostures(run(duels, iterations = 2))
    val cheap = local._1
    assert(!cheap.contains(1L) || cheap(1L)._3 == 2L,
      "self-duel must not count as a game")
    assert(reliable == local)
  }
}
