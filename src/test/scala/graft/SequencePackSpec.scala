package graft

import graft.ops.SequencePack

/** Sequence packing: hand-computed cases, structural invariants, and an
  * in-memory sequential-greedy reference replay for the next-fit packer
  * (the operator computes the same recurrence by pointer doubling, so
  * agreement is exact on any corpus).
  */
class SequencePackSpec extends SparkSpec {
  import spark.implicits._

  test("concatChunk: spans, offsets and head/tail flags on a hand case") {
    // stream: d1 [0,5) d2 [5,8) d3 [8,12), windows of 4
    val docs = Seq((1L, 5L), (2L, 3L), (3L, 4L)).toDF("doc_id", "n_tokens")
    val got = SequencePack.concatChunk(docs, windowSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    assert(got == Set(
      (0L, 1L, 0L, 4L, true, false),  // d1 head fills window 0
      (1L, 1L, 0L, 1L, false, true),  // d1 tail token opens window 1
      (1L, 2L, 1L, 3L, true, true),   // d2 entirely inside window 1
      (2L, 3L, 0L, 4L, true, true))) // d3 exactly fills window 2
  }

  test("concatChunk invariants: per-doc token conservation, full windows, no overlap") {
    val rnd = new scala.util.Random(41)
    val docs = (1L to 200L).map(i => (i, 1L + rnd.nextInt(50).toLong))
    val w = 64L
    val rows = SequencePack.concatChunk(docs.toDF("doc_id", "n_tokens"), windowSize = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = docs.map(_._2).sum
    // every token lands exactly once
    assert(rows.map(_._4).sum == total)
    val perDoc = rows.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(docs.forall { case (id, n) => perDoc(id) == n })
    // every window except the last is exactly full, spans don't overlap
    val lastW = (total - 1) / w
    rows.groupBy(_._1).foreach { case (win, rs) =>
      val fill = rs.map(_._4).sum
      if (win < lastW) assert(fill == w, s"window $win fill $fill != $w")
      val spans = rs.map(r => (r._3, r._3 + r._4)).sortBy(_._1).toSeq
      spans.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(e1 == s2, s"gap/overlap in window $win")
        case _ =>
      }
    }
  }

  test("nextFitWindows: hand-computed greedy closes") {
    // capacity 10: [4,5] | [3] | [9] | [2,2]
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 9L), (5L, 2L), (6L, 2L))
      .toDF("doc_id", "n_tokens")
    val got = SequencePack.nextFitWindows(docs, capacity = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 3L))
  }

  /** The sequential greedy the operator must reproduce exactly. */
  private def referenceNextFit(docs: Seq[(Long, Long)], cap: Long): Map[Long, Long] = {
    var w = 0L
    var fill = 0L
    docs.filter(_._2 > 0).sortBy(_._1).map { case (id, n) =>
      if (fill + n > cap) { w += 1; fill = 0L }
      fill += n
      id -> w
    }.toMap
  }

  test("nextFitWindows agrees exactly with the sequential greedy on random corpora") {
    val rnd = new scala.util.Random(43)
    for (trial <- 0 until 3) {
      val cap = Seq(16L, 50L, 100L)(trial)
      val docs = (1L to 300L).map(i => (i, 1L + rnd.nextInt(cap.toInt).toLong))
      val got = SequencePack.nextFitWindows(docs.toDF("doc_id", "n_tokens"), cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == referenceNextFit(docs, cap), s"trial $trial (cap=$cap) diverged")
    }
  }

  test("nextFitWindows refuses oversized documents with the culprit named") {
    val docs = Seq((1L, 4L), (2L, 99L)).toDF("doc_id", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      SequencePack.nextFitWindows(docs, capacity = 10)
    }
    assert(e.getMessage.contains("doc 2") && e.getMessage.contains("99"))
  }

  test("zero-token documents are absent from both packers") {
    val docs = Seq((1L, 0L), (2L, 3L), (3L, 0L)).toDF("doc_id", "n_tokens")
    val chunk = SequencePack.concatChunk(docs, windowSize = 8).collect()
    assert(chunk.map(_.getLong(1)).toSet == Set(2L))
    val nf = SequencePack.nextFitWindows(docs, capacity = 8).collect()
    assert(nf.map(_.getLong(0)).toSet == Set(2L))
  }

  test("reliable=true matches the default posture") {
    val docs = (1L to 80L).map(i => (i, 1L + (i * 7) % 20)).toDF("doc_id", "n_tokens")
    val (local, rel) = bothPostures(
      SequencePack.nextFitWindows(docs, capacity = 32).collect().map(_.toString).sorted.toSeq)
    assert(rel == local)
  }
}
