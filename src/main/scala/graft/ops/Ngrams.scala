package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Corpus n-gram statistics: collocation mining and language-model
  * familiarity scoring — the token-level quality layer between per-doc
  * text stats ([[graft.functions.TextFunctions]]) and retrieval scoring
  * ([[Bm25]]). Everything is exact integer counts (and ppm ratios of
  * integer counts), so results are order-independent and cross-engine
  * portable; no floating log-likelihoods in the oracled surface.
  */
object Ngrams {

  /** Adjacent word-bigram strings ("a b") of a token array — built by
    * zipping the array against its own tail, so each token materializes
    * once (no per-position substring re-scan).
    */
  def bigrams(words: Column): Column =
    zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))

  /** (doc id, bigram) exploded pairs for a document table. */
  private def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.parallelize(docs)
      .select(col(idCol).as("id"), Dedup.wordTokens(col(textCol)).as("__w"))
      .select(col("id"), explode(bigrams(col("__w"))).as("bigram"))

  /** Collocation candidates: corpus-wide bigram counts joined with both
    * component unigram counts, scored by the Dice coefficient in exact
    * parts-per-million — `dice_ppm = ⌊2e6·n_ab / (n_a + n_b)⌋`. High-Dice
    * bigrams are multi-word expressions ("machine learning"); a corpus
    * pipeline uses them for tokenizer vocab induction and template
    * detection.
    *
    * Scale shape: two narrow aggregations (bigram counts, unigram counts)
    * — both map-side-combined — then the bigram table joins the unigram
    * table twice on a single word key. The unigram (vocabulary) table is
    * orders of magnitude smaller than the corpus; at bench scale it
    * broadcasts, at 100 TB vocabulary scale the same equi-join shuffles
    * vocabulary-sized, never corpus-sized, data. `minCount` prunes the
    * hapax tail BEFORE the joins, which is where the cardinality dies.
    */
  def collocations(
      docs: DataFrame,
      textCol: String = "text",
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val words = Dedup.parallelize(docs)
      .select(Dedup.wordTokens(col(textCol)).as("__w"))
    val uni = words.select(explode(col("__w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
    val bi = words.select(explode(bigrams(col("__w"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
      .withColumn("left_w", split(col("bigram"), " ")(0))
      .withColumn("right_w", split(col("bigram"), " ")(1))
    bi
      .join(broadcast(uni.withColumnRenamed("n_w", "n_a")), col("left_w") === col("word"))
      .drop("word")
      .join(broadcast(uni.withColumnRenamed("n_w", "n_b")), col("right_w") === col("word"))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        floor(lit(2000000L) * col("n_ab") / (col("n_a") + col("n_b"))).as("dice_ppm"))
  }

  /** Language-model familiarity: per document, the fraction (ppm) of its
    * bigrams that occur in a reference corpus — a cheap fluency/quality
    * proxy (gibberish, boilerplate and OOV-heavy docs score low against a
    * known-good reference slice). `known_ppm = ⌊1e6·n_known / n_bigrams⌋`;
    * docs with no bigram (≤1 token) report 0 of 0.
    *
    * Scale shape: the reference vocabulary is a DISTINCT bigram set —
    * aggregated map-side first — and joins the corpus bigrams on a single
    * string key as a left join that degenerates to a broadcast when the
    * reference slice is small. The corpus side never shuffles documents:
    * only (id, bigram) pairs move, then collapse back to one row per doc.
    */
  def familiarity(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val vocab = docBigrams(reference, idCol, textCol)
      .select(col("bigram")).distinct()
      .withColumn("__known", lit(1L))
    docBigrams(docs, idCol, textCol)
      .join(broadcast(vocab), Seq("bigram"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(coalesce(col("__known"), lit(0L))).as("n_known"))
      .select(col(idCol), col("n_bigrams"), col("n_known"),
        floor(lit(1000000L) * col("n_known") / col("n_bigrams")).cast("long").as("known_ppm"))
  }

  /** Kneser–Ney continuation-count table: per word, the raw token count
    * plus the number of DISTINCT left and right neighbor words — the
    * sufficient statistics behind KN-smoothed language models and the
    * usual "is this token productive or boilerplate?" signal (a word with
    * huge `n_tokens` but one left context is a template fragment, not
    * vocabulary; continuation counts, not raw counts, feed the
    * lower-order KN distribution).
    *
    * Scale shape: token counts are one map-side-combined aggregation;
    * continuation counts aggregate over the DISTINCT bigram set (also
    * combined map-side before the shuffle — the bigram vocabulary, not
    * the corpus, crosses the wire), then two vocabulary-sized equi-joins
    * assemble the table. `minTokens` prunes the hapax tail before the
    * joins.
    */
  def continuationCounts(
      docs: DataFrame,
      textCol: String = "text",
      minTokens: Long = 5L): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1: $minTokens")
    val words = Dedup.parallelize(docs)
      .select(Dedup.wordTokens(col(textCol)).as("__w"))
    val uni = words.select(explode(col("__w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_tokens"))
      .where(col("n_tokens") >= minTokens)
    val biDistinct = words.select(explode(bigrams(col("__w"))).as("bigram"))
      .distinct()
      .select(split(col("bigram"), " ")(0).as("left_w"), split(col("bigram"), " ")(1).as("right_w"))
    val leftCtx = biDistinct.groupBy(col("right_w").as("word"))
      .agg(count(lit(1)).as("n_left_contexts"))
    val rightCtx = biDistinct.groupBy(col("left_w").as("word"))
      .agg(count(lit(1)).as("n_right_contexts"))
    uni
      .join(leftCtx, Seq("word"), "left")
      .join(rightCtx, Seq("word"), "left")
      .select(col("word"), col("n_tokens"),
        coalesce(col("n_left_contexts"), lit(0L)).as("n_left_contexts"),
        coalesce(col("n_right_contexts"), lit(0L)).as("n_right_contexts"))
  }

  /** Per-document k-gram NOVELTY against the whole corpus: the fraction
    * (ppm) of a document's distinct k-grams whose FIRST corpus occurrence
    * (minimum doc id over all documents containing the gram) is this
    * document — the "how much new content does each doc contribute"
    * signal used to order/prune crawl snapshots and incremental corpus
    * drops (a doc with novelty → 0 is entirely re-assembled from earlier
    * material). Deterministic: ids give first-occurrence a total order.
    * Short documents (< k words) contribute their whole token sequence
    * as one gram ([[Dedup.shingles]]'s short-doc fallback; empty docs all
    * share the empty gram), so every document has ≥ 1 gram and a defined
    * novelty.
    *
    * Scale shape: distinct gram sets come from the native one-pass
    * shingle hasher (bodies never reprocessed per gram); the shuffle
    * carries (gram hash, id) pairs, aggregated map-side to per-gram
    * minima (gram-vocabulary-sized), then one equi-join on the hash and
    * a per-doc count agg. Nothing is ever corpus × corpus.
    */
  def novelty(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val grams = Dedup.parallelize(docs)
      .select(col(idCol).cast("long").as("id"),
        Dedup.shingles(col(textCol), k).as("__sh"))
    val exploded = grams.select(col("id"), explode(col("__sh")).as("g"))
    val first = exploded.groupBy("g").agg(min(col("id")).as("__first"))
    val perDoc = exploded
      .join(first, Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        count_if(col("__first") === col("id")).as("n_new"))
    grams.select(col("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          floor(lit(1000000L) * col("n_new") / col("n_grams")))
          .otherwise(1000000L).as("novelty_ppm"))
  }

  /** Interpolated Kneser–Ney bigram probabilities, in exact integer ppm:
    * for each observed bigram (w1 w2),
    * `P(w2|w1) = (c₁₂ − d)/c₁ + d·R₁(w1)/c₁ · L₁(w2)/B`, where c₁₂ is the
    * bigram count, c₁ = Σ_w c(w1 w), R₁(w1) = |distinct right neighbors
    * of w1|, L₁(w2) = |distinct left neighbors of w2| (the continuation
    * distribution), B = |distinct bigrams|, and d = `discountNum /
    * discountDen` (KN's fixed absolute discount, ¾ by default). This is
    * the actual smoothing an n-gram LM (the classic quality-filter scorer
    * for pre-training corpora) puts on top of [[continuationCounts]].
    *
    * All arithmetic is one integer rational per row —
    * `p_ppm = ⌊1e6 · (B·(den·c₁₂ − num) + num·R₁·L₁) / (den·c₁·B)⌋` —
    * so results are merge-order- and engine-independent (float KN drifts
    * in the last ulps across reduce orders, poisoning hash gates). Since
    * c₁₂ ≥ 1 and d < 1, the discounted term is always positive; the
    * `max(·,0)` of textbook KN is vacuous on OBSERVED bigrams, which are
    * the only rows emitted (the backoff-only mass for unseen pairs lives
    * in the same numbers and needs no materialized row per unseen pair —
    * THAT would be |V|² rows).
    *
    * Scale shape: everything after tokenization is vocabulary-sized —
    * one map-side-combined bigram count agg; c₁ re-aggregates those
    * counts by w1 (never re-reading the corpus); continuation counts
    * aggregate the distinct-bigram set; B is a one-row aggregate joined
    * in by broadcast. The assembling joins key on single words, the
    * canonical "small dimension onto vocabulary fact" shape.
    */
  def kneserNeyBigrams(
      docs: DataFrame,
      textCol: String = "text",
      minCount: Long = 2L,
      discountNum: Long = 3L,
      discountDen: Long = 4L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(discountNum >= 0 && discountDen >= 1 && discountNum < discountDen,
      s"discount must be a rational in [0,1): $discountNum/$discountDen")
    val words = Dedup.parallelize(docs)
      .select(Dedup.wordTokens(col(textCol)).as("__w"))
    // The bigram-count table feeds FIVE branches (c₁, R₁, L₁, B, and the
    // output rows); it is vocabulary-sized by construction, so staging it
    // is cheap and saves four corpus re-tokenizations. (Persisting the
    // corpus-sized token arrays instead measured SLOWER — materializing
    // fat arrays costs more than recomputing the fused tokenize+agg.)
    // Deliberately NOT unpersisted here: the table is still lazily
    // referenced by the returned plan, and repeated invocations in a
    // long-lived driver rely on Spark's LRU block eviction (the cached
    // partitions are vocabulary-sized, and MEMORY_AND_DISK evicts
    // cleanly under pressure).
    val bi = words.select(explode(bigrams(col("__w"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_12"))
      .select(split(col("bigram"), " ")(0).as("w1"), split(col("bigram"), " ")(1).as("w2"),
        col("n_12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Derived stats re-aggregate the (already vocabulary-sized) bigram
    // table — the corpus is tokenized exactly once above.
    val c1 = bi.groupBy("w1").agg(sum("n_12").as("c_1"))
    val r1 = bi.groupBy("w1").agg(count(lit(1)).as("r_1"))
    val l1 = bi.groupBy("w2").agg(count(lit(1)).as("l_1"))
    val b = bi.agg(count(lit(1)).as("n_bigrams"))
    bi.where(col("n_12") >= minCount)
      .join(c1, Seq("w1")).join(r1, Seq("w1")).join(l1, Seq("w2"))
      .crossJoin(broadcast(b))
      .select(col("w1"), col("w2"), col("n_12"),
        floor((lit(1000000L) *
          (col("n_bigrams") * (lit(discountDen) * col("n_12") - lit(discountNum)) +
            lit(discountNum) * col("r_1") * col("l_1"))) /
          (lit(discountDen) * col("c_1") * col("n_bigrams"))).as("p_ppm"))
  }

  /** [[kneserNeyBigrams]] per GROUP — one independent KN table per
    * value of `groupCol` in a SINGLE plan (no driver loop over
    * languages): every aggregation and join gains the group key, so
    * bigram counts, continuation sets and the bigram total are all
    * group-scoped. Scale shape unchanged — tables stay vocabulary-sized
    * per group and the group key rides the same exchanges; the totals
    * frame is group-count-sized (broadcast).
    */
  def kneserNeyBigramsBy(
      docs: DataFrame,
      groupCol: String,
      textCol: String = "text",
      minCount: Long = 2L,
      discountNum: Long = 3L,
      discountDen: Long = 4L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(discountNum >= 0 && discountDen >= 1 && discountNum < discountDen,
      s"discount must be a rational in [0,1): $discountNum/$discountDen")
    val words = Dedup.parallelize(docs)
      .select(col(groupCol), Dedup.wordTokens(col(textCol)).as("__w"))
    // Staged for the same five-branch reason as [[kneserNeyBigrams]],
    // and like it left to Spark's LRU eviction rather than unpersisted
    // (the returned plan still references it lazily; per-group tables
    // stay vocabulary-sized).
    val bi = words.select(col(groupCol), explode(bigrams(col("__w"))).as("bigram"))
      .groupBy(groupCol, "bigram").agg(count(lit(1)).as("n_12"))
      .select(col(groupCol),
        split(col("bigram"), " ")(0).as("w1"), split(col("bigram"), " ")(1).as("w2"),
        col("n_12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = bi.groupBy(groupCol, "w1").agg(sum("n_12").as("c_1"))
    val r1 = bi.groupBy(groupCol, "w1").agg(count(lit(1)).as("r_1"))
    val l1 = bi.groupBy(groupCol, "w2").agg(count(lit(1)).as("l_1"))
    val b = bi.groupBy(groupCol).agg(count(lit(1)).as("n_bigrams"))
    bi.where(col("n_12") >= minCount)
      .join(c1, Seq(groupCol, "w1")).join(r1, Seq(groupCol, "w1"))
      .join(l1, Seq(groupCol, "w2"))
      .join(broadcast(b), Seq(groupCol))
      .select(col(groupCol), col("w1"), col("w2"), col("n_12"),
        floor((lit(1000000L) *
          (col("n_bigrams") * (lit(discountDen) * col("n_12") - lit(discountNum)) +
            lit(discountNum) * col("r_1") * col("l_1"))) /
          (lit(discountDen) * col("c_1") * col("n_bigrams"))).as("p_ppm"))
  }

  /** [[lmFluencyPpm]] per GROUP — each document scores against ITS
    * group's KN table (the CCNet shape: one LM per language, never a
    * cross-language mixture). Same join-once/fold-back scale shape with
    * the group key added; documents with no bigrams score 0.
    */
  def lmFluencyPpmBy(
      docs: DataFrame,
      groupCol: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minCount: Long = 2L): DataFrame = {
    val probs = kneserNeyBigramsBy(docs, groupCol, textCol, minCount)
      .select(col(groupCol), col("w1"), col("w2"), col("p_ppm"))
    val docBigrams = Dedup.parallelize(docs)
      .select(col(idCol), col(groupCol),
        explode(bigrams(Dedup.wordTokens(col(textCol)))).as("__bg"))
      .select(col(idCol), col(groupCol),
        split(col("__bg"), " ")(0).as("w1"), split(col("__bg"), " ")(1).as("w2"))
    val scored = docBigrams.join(probs, Seq(groupCol, "w1", "w2"), "left")
      .groupBy(col(idCol), col(groupCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_ppm"), lit(0L))).as("__sum"))
      .select(col(idCol), col(groupCol), col("n_bigrams"),
        expr("__sum div n_bigrams").as("fluency_ppm"))
    docs.select(col(idCol), col(groupCol)).join(scored, Seq(idCol, groupCol), "left")
      .select(col(idCol), col(groupCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("fluency_ppm"), lit(0L)).as("fluency_ppm"))
  }

  /** Per-document LM fluency score — the CCNet-style quality-filter
    * step: each document's bigrams score against the corpus-trained
    * [[kneserNeyBigrams]] table and the document's score is the MEAN
    * bigram probability in exact integer ppm (integral division, so the
    * score is merge-order- and engine-independent like the table
    * itself). Unseen-or-pruned bigrams contribute ZERO — harsh and
    * deterministic by design: the backoff mass for unseen pairs is a
    * per-pair formula whose materialization would be |V|² rows, and a
    * quality THRESHOLD only needs a monotone fluency signal, which
    * mean-observed-probability is. Documents with no bigrams (zero or
    * one word) score 0 with `n_bigrams = 0`.
    *
    * Scale shape: the probability table is vocabulary-sized; document
    * bigrams shuffle once onto it (equi-join on the word pair, AQE
    * handling stopword-bigram skew) and the per-document fold groups
    * back by id. The corpus tokenizes twice (once for the table, once
    * for the scoring pass) — the table's own doc notes why persisting
    * fat token arrays measures slower than re-tokenizing.
    */
  def lmFluencyPpm(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minCount: Long = 2L): DataFrame = {
    val probs = kneserNeyBigrams(docs, textCol, minCount)
      .select(col("w1"), col("w2"), col("p_ppm"))
    val docBigrams = Dedup.parallelize(docs)
      .select(col(idCol),
        explode(bigrams(Dedup.wordTokens(col(textCol)))).as("__bg"))
      .select(col(idCol),
        split(col("__bg"), " ")(0).as("w1"), split(col("__bg"), " ")(1).as("w2"))
    val scored = docBigrams.join(probs, Seq("w1", "w2"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_ppm"), lit(0L))).as("__sum"))
      .select(col(idCol), col("n_bigrams"),
        expr("__sum div n_bigrams").as("fluency_ppm"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("fluency_ppm"), lit(0L)).as("fluency_ppm"))
  }

  /** Byte-pair-encoding merge-table induction — the actual algorithm a
    * subword tokenizer is trained with (Sennrich et al.): words split
    * into characters plus an end-of-word marker symbol; each round elects
    * the corpus-wide most frequent adjacent symbol pair (ties toward the
    * lexicographically smallest pair — a total order, so the table is a
    * pure function of the corpus) and rewrites every word's symbol
    * sequence with that merge, leftmost-greedy. Returns the merge table
    * `(merge_rank, left_sym, right_sym, n)` — with it, any text
    * tokenizes identically on any engine.
    *
    * Scale shape: BPE statistics live on the WORD-TYPE table (distinct
    * words with frequencies — orders of magnitude smaller than the
    * corpus, which is tokenized exactly once); each round is one
    * vocabulary-sized pair aggregation plus a map-only native rewrite
    * ([[graft.functions.expressions.MergeAdjacentPair]]), and the only
    * driver traffic is the elected pairs per round (bounded, same trade
    * as the IVF codebook).
    *
    * `batch` caps how many merges one pair aggregation may elect: the
    * top-`batch` pairs are scanned in election order and the maximal
    * PREFIX whose pairs share no symbol is applied in one rewrite pass
    * (stop at the first conflict). Disjointness means every batched
    * pair's recorded count is exact at its own merge time — none of the
    * batch-mates can touch its occurrences — so the table stays a pure
    * function of the corpus. `batch = 1` is literal sequential BPE
    * (Sennrich et al.); `batch > 1` may diverge from the sequential
    * table only where a merge CREATES a new pair frequent enough to have
    * out-ranked a later batch member — the standard, deterministic
    * parallel-BPE trade. Job count: a 32k-merge production vocabulary at
    * `batch = 64` is ~32k/⌀prefix ≈ 600–1500 aggregation rounds instead
    * of 32k — the difference between hours and a day of driver round
    * trips; each round stays one vocabulary-sized shuffle.
    */
  def bpeMerges(
      docs: DataFrame,
      textCol: String = "text",
      rounds: Int = 16,
      endOfWord: String = "</w>",
      batch: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(batch >= 1, s"batch must be >= 1: $batch")
    val fx = new Fixpoint("bpeMerges")
    // Word-type table staged ([[Staging.stage]]): with a checkpoint dir
    // an executor loss mid-training re-reads the staged table instead of
    // killing a multi-hundred-round vocabulary run.
    val vocab0 = fx.stage(Dedup.parallelize(docs)
      .select(explode(Dedup.wordTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .select(concat(split(col("word"), ""), array(lit(endOfWord))).as("syms"), col("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    // state: the vocabulary and the merges applied since it was staged
    fx.loop((vocab0, 0), rounds, Fixpoint.Truncate) { case ((vocab, since), _) =>
      val want = math.min(batch, rounds - merges.size)
      val top = vocab.select(col("n"),
          explode(zip_with(
            slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
            slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
            (a, b) => struct(a.as("l"), b.as("rt")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.rt").as("rt"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("rt"))
        .limit(want).collect()
      if (top.isEmpty) ((vocab, since), false)
      else {
        // Maximal conflict-free prefix of the election order: the first
        // pair always applies; later candidates apply only while no
        // symbol seen so far repeats.
        val used = scala.collection.mutable.Set.empty[String]
        val selected = top.iterator.takeWhile { row =>
          val ok = !used(row.getString(0)) && !used(row.getString(1))
          if (ok) { used += row.getString(0); used += row.getString(1) }
          ok
        }.toSeq
        selected.foreach { row =>
          merges += ((merges.size + 1L, row.getString(0), row.getString(1), row.getLong(2)))
        }
        val next = vocab.select(
          selected.foldLeft(col("syms")) { (acc, row) =>
            TextFunctions.mergeAdjacentPair(acc, row.getString(0), row.getString(1))
          }.as("syms"), col("n"))
        // linear lineage; truncate periodically like the other fixpoints
        val state =
          if (since + selected.size >= 4) (fx.stage(next), 0) else (next, since + selected.size)
        (state, merges.size < rounds)
      }
    }
    // merge_rank/left_sym/right_sym: names chosen to stay clear of the
    // SQL keywords rank/left/right in every oracle engine.
    docs.sparkSession.createDataFrame(merges.toSeq)
      .toDF("merge_rank", "left_sym", "right_sym", "n")
  }

  /** BPE encode statistics: apply a learned merge table ([[bpeMerges]],
    * collected — vocabulary metadata, bounded like a codebook) to every
    * document and report `(id, n_words, n_subwords, fertility_ppm)`,
    * where fertility = subwords per word — THE tokenizer-quality metric
    * a corpus team watches (fertility creeping up means the vocab no
    * longer fits the data). Map-only: one native encode pass per row
    * ([[graft.functions.expressions.ApplyBpeMerges]]); empty docs report
    * fertility 0.
    */
  def bpeEncodeStats(
      docs: DataFrame,
      merges: Seq[(String, String)],
      idCol: String = "doc_id",
      textCol: String = "text",
      endOfWord: String = "</w>"): DataFrame =
    Dedup.parallelize(docs)
      .select(col(idCol), Dedup.wordTokens(col(textCol)).as("__w"))
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_words"),
        size(TextFunctions.applyBpeMerges(col("__w"), merges, endOfWord)).cast("long").as("n_subwords"))
      .withColumn("fertility_ppm",
        when(col("n_words") > 0, floor(lit(1000000L) * col("n_subwords") / col("n_words")))
          .otherwise(0L))

  /** Vocabulary coverage / OOV rate per document against the corpus's own
    * top-`vocabSize` terms (by count desc, term asc — the deterministic
    * frequency-truncated vocabulary a tokenizer build would keep):
    * `(doc id, n_tokens, n_oov, oov_ppm)`. High-OOV documents are the
    * ones a frequency-truncated tokenizer will shred into bytes — the
    * standard pre-training corpus health check.
    *
    * Scale shape: the vocabulary is one map-side-combined count agg +
    * TakeOrdered (vocabSize rows, broadcast); the per-doc pass is one
    * explode → broadcast left join → per-doc count agg. Document bodies
    * never shuffle; the only wide exchange carries (doc id, counts).
    */
  def vocabCoverage(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      vocabSize: Int = 100): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1: $vocabSize")
    val tokens = Dedup.parallelize(docs)
      .select(col(idCol).as("id"), explode(Dedup.wordTokens(col(textCol))).as("word"))
    val vocab = tokens.groupBy("word").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("word"))
      .limit(vocabSize)
      .select(col("word"), lit(1L).as("__in_vocab"))
    tokens
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count_if(col("__in_vocab").isNull).as("n_oov"))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        floor(lit(1000000L) * col("n_oov") / col("n_tokens")).as("oov_ppm"))
  }

  /** Vocabulary coverage CURVE: for each candidate vocabulary size in
    * `sizes`, the corpus token share (exact ppm) covered by the top-`v`
    * terms under (count desc, term asc) ranking. The tokenizer-design
    * companion to [[vocabCoverage]]: that op scores documents against one
    * fixed vocabulary; this one answers "how big must the vocabulary BE"
    * — the knee of this curve is the standard budget/coverage trade.
    * Output: (vocab_size, n_terms, covered_tokens, coverage_ppm), one
    * row per requested size (sizes beyond the distinct-term count cover
    * everything and report `n_terms` = term count).
    *
    * Scale shape: token explode feeds one hash aggregation to term
    * counts (map-side combined — the shuffle carries (term, count), not
    * tokens). The ranking window then runs over VOCABULARY-sized data,
    * orders of magnitude below corpus size; a final broadcast-range join
    * against the tiny `sizes` list produces the curve. Nothing
    * corpus-sized is ever sorted.
    */
  def coverageCurve(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sizes: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64, 128)): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1), s"bad sizes: $sizes")
    val counts = Dedup.parallelize(docs)
      .select(explode(Dedup.wordTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__n"))
    // Rank + running token total over (count desc, word) WITHOUT a global
    // single-partition window: two-phase range-partitioned scan — the
    // vocabulary can be billions of terms at corpus scale.
    val ranked = Normalize.rankedPrefixSum(
      counts, Seq(col("__n").desc, col("word")), "__n", "__rk", "__cum")
    val tot = counts.groupBy().agg(sum(col("__n")).as("__tot"))
    val sizesDf = docs.sparkSession.createDataFrame(
      sizes.distinct.sorted.map(v => Tuple1(v.toLong))).toDF("vocab_size")
    ranked.join(broadcast(sizesDf), col("__rk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("__rk")).as("n_terms"), max(col("__cum")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm", expr("(1000000L * covered_tokens) div __tot"))
      .drop("__tot")
  }

  /** Vocabulary GROWTH curve (Heaps' law): distinct-term count after the
    * first N tokens of the corpus stream, for each checkpoint N — the
    * "how fast does new vocabulary keep arriving" companion to
    * [[coverageCurve]] (which fixes the vocabulary and asks about
    * coverage). Stream order is (doc id, token position) — deterministic,
    * so engines replay it exactly. Output per requested checkpoint:
    * (requested_n, n_tokens = min(N, corpus tokens), vocab_size).
    *
    * Scale shape: tokens get their global stream index from
    * [[Normalize.denseIds]] (range partition + per-partition offsets —
    * NO single-partition global window over the corpus); each term
    * collapses to its FIRST index (one map-side-combined min-agg, the
    * shuffle carries (term, index) once per term), and the curve is a
    * broadcast inequality join of the vocabulary-sized first-index table
    * against the tiny checkpoint list.
    */
  def vocabGrowth(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpoints: Seq[Long] = Seq(1000L, 2000L, 4000L, 8000L, 16000L, 32000L, 64000L)): DataFrame = {
    require(checkpoints.nonEmpty && checkpoints.forall(_ >= 1), s"bad checkpoints: $checkpoints")
    val toks = Dedup.parallelize(docs)
      .select(col(idCol).cast("long").as("id"),
        posexplode(Dedup.wordTokens(col(textCol))))
      // (doc, pos)-unique composite key whose total order IS stream order
      .select(col("col").as("word"),
        (col("id") * 1000000L + col("pos")).as("__k"))
    val indexed = Normalize.denseIds(toks, "__k", "__k", "__gidx")
    val first = indexed.groupBy("word").agg(min(col("__gidx")).as("__fidx"))
    val tot = indexed.groupBy().agg(count(lit(1)).as("__tot"))
    val cps = docs.sparkSession.createDataFrame(
      checkpoints.distinct.sorted.map(Tuple1(_))).toDF("requested_n")
    first.join(broadcast(cps), col("__fidx") < col("requested_n"), "right")
      .groupBy("requested_n")
      .agg(count(col("word")).as("vocab_size"))
      .crossJoin(broadcast(tot))
      .withColumn("n_tokens", least(col("requested_n"), col("__tot")))
      .select(col("requested_n"), col("n_tokens"), col("vocab_size"))
  }

  /** Skip-gram co-occurrence counts — the word2vec/GloVe corpus matrix:
    * for every token position i and every offset 1 ≤ d ≤ `window`, the
    * ordered pairs (w_i, w_i±d) each count once (the standard symmetric
    * window: a center attends both left and right, so the matrix is
    * symmetric by construction). Downstream: embedding pretraining
    * corpora, [[skipGramLift]] association scores, tokenizer-vocab
    * co-occurrence audits.
    *
    * Scale shape: the pair stream is built MAP-ONLY by zipping each
    * token array against itself at `window` offsets (`slice` + `zip_with`
    * — no positional self-join, no shuffle until the count), then ONE
    * map-side-combined count keyed by the pair. At 100 TB the shuffle
    * carries (distinct pair, partial count) rows — vocabulary², not
    * corpus, sized; `minCount` prunes the hapax tail at that same
    * aggregation. Pair stream size is tokens × 2·window, the same
    * constant-factor blowup every skip-gram trainer pays.
    */
  def skipGrams(
      docs: DataFrame,
      textCol: String = "text",
      window: Int = 3,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val w = col("__w")
    val rights = Dedup.parallelize(docs)
      .select(Dedup.wordTokens(col(textCol)).as("__w"))
      .select(explode(flatten(transform(sequence(lit(1), lit(window)), d =>
        zip_with(
          slice(w, lit(1), greatest(size(w) - d, lit(0))),
          slice(w, d + lit(1), greatest(size(w) - d, lit(0))),
          (a, b) => struct(a.as("l"), b.as("r")))))).as("p"))
    rights
      .select(explode(array(
        struct(col("p.l").as("center"), col("p.r").as("context")),
        struct(col("p.r").as("center"), col("p.l").as("context")))).as("q"))
      .select(col("q.center").as("center"), col("q.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** GloVe-style DISTANCE-WEIGHTED co-occurrence (Pennington et al.,
    * "GloVe", EMNLP 2014 §3: co-occurring words d tokens apart
    * contribute 1/d to X_ij): the same symmetric window as
    * [[skipGrams]] but each pair at offset d adds `⌊1e6/d⌋` to
    * `w_e6` — exact integers (the per-offset weight is a SCALA-side
    * constant, so no engine ever divides), order-independent sums,
    * bit-identical in the oracle. Output also carries the raw count
    * `n`, making X_ij and the unweighted census one scan.
    *
    * Scale shape: identical to [[skipGrams]] — one map-only
    * slice+zip_with expansion per offset, union'd (window is a small
    * Scala constant), then ONE vocabulary-sized count/sum aggregation.
    */
  def gloveCooccurrence(
      docs: DataFrame,
      textCol: String = "text",
      window: Int = 3,
      minCount: Long = 1L): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val w = col("__w")
    val toks = Dedup.parallelize(docs)
      .select(Dedup.wordTokens(col(textCol)).as("__w"))
    val byOffset = (1 to window).map { d =>
      toks.select(explode(zip_with(
        slice(w, lit(1), greatest(size(w) - d, lit(0))),
        slice(w, lit(d + 1), greatest(size(w) - d, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("p.l"), col("p.r"), lit(1000000L / d).as("w_e6"))
    }.reduce(_ unionByName _)
    byOffset
      .select(explode(array(
        struct(col("l").as("center"), col("r").as("context"), col("w_e6")),
        struct(col("r").as("center"), col("l").as("context"), col("w_e6")))).as("q"))
      .select(col("q.center").as("center"), col("q.context").as("context"), col("q.w_e6").as("w_e6"))
      .groupBy("center", "context")
      .agg(count(lit(1)).as("n"), sum(col("w_e6")).as("w_e6"))
      .where(col("n") >= minCount)
  }

  /** PPMI-monotone association LIFT over the [[skipGrams]] matrix in
    * exact fixed point: `lift_e6 = ⌊1e6 · N·n(w,c) / (n(w,·)·n(·,c))⌋`
    * with N the total pair mass and the marginals taken from the SAME
    * co-occurrence matrix (the standard PMI normalization — symmetric
    * window ⇒ row and column marginals coincide per word). lift_e6 >
    * 1e6 ⇔ PMI > 0, and log is monotone, so thresholding/ranking by
    * lift IS thresholding/ranking by PMI — but the value is an integer
    * ratio both engines compute bit-identically, where a float log
    * would hash-drift in the last ulp. `minCount` filters the REPORTED
    * pairs only; marginals and N are always computed over the full
    * matrix (filtering first would bias every score upward).
    *
    * Scale shape: [[skipGrams]] staged once and reused by all four
    * consumers (pairs, two marginals, N); the marginal joins key on a
    * single word — vocabulary-sized, broadcastable; N crosses as one
    * broadcast row. The numerator needs > 64 bits at corpus scale
    * (N·n·1e6), computed in decimal(38,0) with integral `div`.
    */
  def skipGramLift(
      docs: DataFrame,
      textCol: String = "text",
      window: Int = 3,
      minCount: Long = 1L): DataFrame = {
    val co = Staging.stage(skipGrams(docs, textCol, window, 1L))
    val rowm = co.groupBy("center").agg(sum(col("n")).as("n_center"))
    val colm = co.groupBy("context").agg(sum(col("n")).as("n_context"))
    val tot = co.groupBy().agg(sum(col("n")).as("n_total"))
    co.where(col("n") >= minCount)
      .join(rowm, Seq("center"))
      .join(colm, Seq("context"))
      .crossJoin(broadcast(tot))
      .withColumn("lift_e6",
        // both sides in decimal(38,0): the denominator n_center·n_context
        // is a marginal product that passes 2^63 once marginals exceed
        // ~3e9 — real at corpus scale, and the DuckDB oracle already
        // widens both sides (HUGEINT)
        expr("cast((cast(n_total as decimal(38,0)) * n * 1000000) div (cast(n_center as decimal(38,0)) * n_context) as bigint)"))
      .select(col("center"), col("context"), col("n"), col("lift_e6"))
  }
}
