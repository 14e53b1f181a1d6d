package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing — turning a token-counted document corpus into the
  * fixed-size training windows an LLM pretraining run actually consumes.
  * Two standard disciplines, both exact and deterministic:
  *
  *  - [[concatChunk]]: the GPT-style concatenate-and-chunk. Documents are
  *    laid end-to-end in doc-id order and the stream is sliced every
  *    `windowSize` tokens; documents SPAN window boundaries (no padding,
  *    every window exactly full except the last).
  *  - [[nextFitWindows]]: boundary-respecting greedy fill. A window
  *    accumulates whole documents in doc-id order and closes when the
  *    next one would not fit — no document is ever split (the discipline
  *    for SFT/eval sets where truncated examples are corrupted labels),
  *    at the price of per-window padding waste.
  *
  * Both are driven by ONE global token prefix-sum
  * ([[Normalize.rankedPrefixSum]] — range-partitioned two-phase, no
  * single-partition window). concatChunk is map-only arithmetic after
  * it. nextFit's window boundaries are the orbit of 0 under the jump
  * function `jump(i) = max j : S_j ≤ S_i + C` (S = prefix sums, C =
  * capacity): sequential greedy filling is a chain recurrence, but the
  * orbit of a monotone jump is computable in O(log #windows) rounds of
  * pointer DOUBLING (square the jump map, extend the orbit — the
  * [[SpanningForest]] contraction pattern), and the jump function itself
  * is a bucketed as-of join: with every document ≤ C tokens (enforced),
  * the answer lies within 2 capacity-width buckets of the probe, so
  * [[AsOfJoin.backward]] runs keyed on `cum div C` — never a global
  * window, never a range join.
  *
  * Both packers order the stream by `idCol`, which must therefore be
  * UNIQUE (the [[Normalize.denseIds]] total-order contract: duplicate
  * ids straddling a sampled range boundary could swap ranks between
  * runs).
  */
object SequencePack {

  /** One row per (window, document) span: `offset_in_window` is where the
    * document's tokens start inside the window, `n_in_window` how many
    * land there, `is_head`/`is_tail` whether the span carries the
    * document's first/last token (a document fully inside one window is
    * both). Window `w` covers token offsets `[w·windowSize,
    * (w+1)·windowSize)` of the concatenated stream; every window is
    * exactly full except the last. Zero-token documents contribute
    * nothing and are absent. Output size is Σ ceil spans — a document of
    * n tokens appears in at most `n div windowSize + 2` windows.
    */
  def concatChunk(
      docs: DataFrame,
      windowSize: Long,
      idCol: String = "doc_id",
      nCol: String = "n_tokens"): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1: $windowSize")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(nCol).cast("long").as("n")).where(col("n") > 0)
    val ranked = Normalize.rankedPrefixSum(
      base, Seq(col("doc_id")), "n", "__rk", "__cum")
    val w = lit(windowSize)
    ranked
      .withColumn("__start", col("__cum") - col("n"))
      .select(col("doc_id"), col("n"), col("__start"),
        explode(sequence(expr(s"__start div ${windowSize}L"),
          expr(s"(__cum - 1L) div ${windowSize}L"))).as("window_id"))
      .select(col("window_id"), col("doc_id"),
        (greatest(col("window_id") * w, col("__start")) - col("window_id") * w)
          .as("offset_in_window"),
        (least((col("window_id") + 1L) * w, col("__start") + col("n"))
          - greatest(col("window_id") * w, col("__start"))).as("n_in_window"),
        (col("__start") >= col("window_id") * w).as("is_head"),
        (col("__start") + col("n") <= (col("window_id") + 1L) * w).as("is_tail"))
  }

  /** Next-fit whole-document packing: `(doc_id, window_id, n_tokens)` with
    * windows numbered 0.. in stream order. Exact sequential-greedy
    * semantics — window w closes before the first document that would
    * push its fill past `capacity` — computed without any sequential
    * scan (see the object doc for the jump-orbit construction).
    *
    * Every document must have a non-null id (refused otherwise) and
    * 1..capacity tokens: an oversized document can never close (pre-split it with [[concatChunk]] or truncate with
    * [[Chunking.truncateTokens]] — which one is a data decision the
    * caller owns); zero-token documents are absent from the output.
    */
  def nextFitWindows(
      docs: DataFrame,
      capacity: Long,
      idCol: String = "doc_id",
      nCol: String = "n_tokens"): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1: $capacity")
    val spark = docs.sparkSession
    val fx = new Fixpoint("nextFitWindows")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      col(nCol).cast("long").as("n")).where(col("n") > 0)
    // the n ≤ capacity contract is what makes the 2-bucket as-of exact —
    // violating it silently would mis-assign every later window, so fail
    // loudly with the culprit; a null id has no place in the stream order.
    // Bad rows are counted on the job that stages the ranked frame (it
    // carries every row); the culprit is fetched only when there is one.
    val bad = col("doc_id").isNull || col("n") > capacity
    val (ranked, nBad) = fx.stage(Normalize.rankedPrefixSum(
      base, Seq(col("doc_id")), "n", "__rk", "__cum"), count(when(bad, true)))
    require(nBad == 0L, {
      val r = ranked.where(bad).select(col("doc_id"), col("n"))
        .orderBy(col("doc_id").asc_nulls_first).limit(1).collect().head
      if (r.isNullAt(0)) s"nextFitWindows: a document with ${r.get(1)} tokens has a null " +
        s"$idCol — ids must be unique and non-null to fix the stream order"
      else s"doc ${r.get(0)} has ${r.get(1)} tokens > capacity $capacity — " +
        "pre-split with concatChunk or truncate with Chunking.truncateTokens"
    })
    // prefix-sum sequence with the S_0 = 0 sentinel (the stream start is
    // itself a window boundary)
    val builds = fx.stage(ranked.select(col("__rk").as("rk"), col("__cum").as("cum"))
      .unionByName(spark.range(1).select(lit(0L).as("rk"), lit(0L).as("cum"))))
    // jump(i) = max j with S_j ≤ S_i + C. Because consecutive prefix
    // sums differ by ≤ C (the enforced doc-size bound), the answer's cum
    // lies in [S_i, S_i + C] — within the probe's capacity-bucket or the
    // one below — so TWO bucketed as-of probes cover it exactly.
    val probes = builds
      .select(col("rk").as("i"), (col("cum") + capacity).as("t"))
      .withColumn("__bkt", explode(array(
        expr(s"t div ${capacity}L"), expr(s"t div ${capacity}L - 1L"))))
    val buildSide = builds.select(col("rk").as("jmp"), col("cum"),
      expr(s"cum div ${capacity}L").as("__bkt"))
    // j > i filters the terminal self-loop (jump(N) = N): the orbit walk
    // below must STOP at the stream end, not spin on it
    val jump1 = fx.stage(
      AsOfJoin.backward(probes, buildSide, key = "__bkt",
        probeOrder = "t", buildOrder = "cum", valueCols = Seq("jmp"), inner = false)
        .groupBy(col("i")).agg(max(col("jmp")).as("j"))
        .where(col("j") > col("i")))
    // orbit of 0 under jump, by BATCHED pointer doubling (the
    // [[SpanningForest]] pattern): with the orbit covering the first M
    // iterates and the map at J^M, one staged round extends by J^M
    // (→ 2M) and then by J^(2M) over the EXTENDED set (→ 4M, contiguous
    // — applying J^(2M) to the unextended orbit would skip iterates
    // [2M−1] and leave boundary holes), while the map squares twice.
    // Coverage quadruples per materialized round, so a trillion windows
    // need ~20 rounds; the orbit starts as the single point 0.
    val ((orbit, _, _), _) = fx.loop(
        (fx.stage(spark.range(1).select(lit(0L).as("b"))), jump1, 1L), 32, Fixpoint.Fail(
          "32 quadrupling rounds", "4^32 windows exceeds any real corpus; the jump map is " +
            "inconsistent (data changed mid-job?)")) { case ((orbit, jmap, size), _) =>
      // Stage the squared map ONCE per round (r18): j2 was previously a
      // LAZY self-join, recomputed inside the grown staging job (via e2)
      // AND twice inside the j4 staging job — the before-plans
      // (plans/r18/q318_pack_nextfit_before_stages) show alternating
      // 18- and 12-exchange jobs per round, three doc-scale
      // squarings where one suffices. With j2 staged, grown and j4 are
      // leaf joins (~6 and ~2 exchanges).
      val j2 = fx.stage(
        jmap.alias("a").join(jmap.alias("b"), col("a.j") === col("b.i"))
          .select(col("a.i").as("i"), col("b.j").as("j")))
      val e1 = orbit.join(jmap, col("b") === col("i")).select(col("j").as("b"))
      val o1 = orbit.unionByName(e1)
      val e2 = o1.join(j2, col("b") === col("i")).select(col("j").as("b"))
      // ONE staged frame per round carries BOTH halves of the round's
      // state (r18): the grown orbit (tag 'o') and the twice-squared map
      // J^4 (tag 'j'). Both halves are leaf joins of already-staged
      // frames, so fusing them loses no plan flatness; the j-half is
      // computed speculatively on the FINAL round — one join of two
      // staged leaves, paid once, against a scheduling round saved on
      // EVERY round. The orbit's size is observed on the same job.
      val (both, grown) = fx.stage(
        o1.unionByName(e2).distinct()
          .select(lit("o").as("tag"), col("b").as("i"), lit(null).cast("long").as("j"))
          .unionByName(j2.alias("a").join(j2.alias("b"), col("a.j") === col("b.i"))
            .select(lit("j").as("tag"), col("a.i").as("i"), col("b.j").as("j"))),
        count(when(col("tag") === "o", true)))
      ((both.where(col("tag") === "o").select(col("i").as("b")),
        both.where(col("tag") === "j").select(col("i"), col("j")), grown), grown > size)
    }
    // every orbit point except the terminal one (the only index with no
    // jump1 row) OPENS a window; number them 0.. in stream order
    val starts = orbit.join(jump1.select(col("i")), col("b") === col("i"), "left_semi")
      .join(builds, col("b") === col("rk")).select(col("b"), col("cum"))
    val windows = fx.stage(Normalize.denseIds(starts, "cum", "b", "__wid"))
    // assignment, again a 2-bucket as-of but in TOKEN space: a doc
    // belongs to the window of the last boundary strictly before its
    // cum, and window fill ≤ C bounds that gap at one capacity width
    val docProbes = ranked
      .select(col("doc_id"), col("n"), (col("__cum") - 1L).as("t"))
      .withColumn("__bkt", explode(array(
        expr(s"t div ${capacity}L"), expr(s"t div ${capacity}L - 1L"))))
    val bndSide = windows.select(col("__wid"), col("cum"),
      expr(s"cum div ${capacity}L").as("__bkt"))
    fx.stage(
      AsOfJoin.backward(docProbes, bndSide, key = "__bkt",
        probeOrder = "t", buildOrder = "cum", valueCols = Seq("__wid"), inner = false)
        .groupBy(col("doc_id"), col("n"))
        .agg(max(col("__wid")).as("window_id"))
        .select(col("doc_id"), col("window_id"), col("n").as("n_tokens")))
  }
}
