package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.jobs.CorpusPrep
import graft.ops.{Audit, Bm25, Chunking, Coverage, Decontaminate, Dedup, Eval, FuzzyJoin, Lexical, Metrics, Ngrams, Normalize, Repetition, Sampling, SequencePack, Sketch, Trend}
import graft.SparkEntry.t
import CatalogShared._

/** Text and dedup queries over the `documents` table: text statistics,
  * exact and near-duplicate detection, n-gram language models, BPE,
  * decontamination, normalization, mixing and sequence packing. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object TextCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- exact dedup by content fingerprint ------------------------------
    QueryCase("q12_dedup_exact", (s, dir) => Dedup.exact(t(s, dir, "documents")),
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
        | min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1""".stripMargin),

    // ---- text stats: char/word/token counts ------------------------------
    QueryCase("q13_text_stats", (s, dir) => {
      spread(t(s, dir, "documents")).select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        TextFunctions.wordCount(col("text")).cast("long").as("word_count"),
        TextFunctions.tokenCount(col("text")).as("token_count"))
    },
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS char_len,
        | CAST(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS BIGINT) AS word_count,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS token_count
        |FROM documents""".stripMargin),

    // ---- heuristic language ID (padded text staged: regexp once per row,
    // not once per marker — mirrors the oracle's CTE) ----------------------
    QueryCase("q14_lang_id", (s, dir) => {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.paddedText(col("text")).as("__pt"))
        .select(col("doc_id"), TextFunctions.langGuessFromPadded(col("__pt")).as("lang_guess"))
    },
      langIdOracle),

    // ---- quality score ----------------------------------------------------
    QueryCase("q15_quality", (s, dir) => {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
    },
      s"SELECT doc_id, quality FROM ${qualityOracle("documents")} __q15"),

    // ---- MinHash + LSH near-dup survivors, exact-verified. The composite
    // (LSH candidates → exact n-gram Jaccard → keep ≥ 0.5) IS fully
    // oracle-able even though the murmur-based candidate step isn't: the
    // synthetic corpus has a similarity gap (every true near-dup pair has
    // J ≥ 0.9; no pair falls in (0.2, 0.9)), so 16 bands × 4 rows recalls
    // every J ≥ 0.9 pair (per-pair miss odds ≈ (1−0.9⁴)¹⁶ ≈ 4e-8, and the
    // fixed seeds make the outcome deterministic), and the ≥ 0.5 verify
    // filter kills every false candidate. DuckDB recomputes the survivor
    // set by brute force over all pairs — a full value oracle for the
    // whole LSH→verify pipeline. est_jaccard (murmur-dependent) is
    // dropped from the compared output. ----------------------------------
    QueryCase("q16_minhash_lsh", (s, dir) => {
      Dedup.lshVerifiedPairs(t(s, dir, "documents"), minJaccard = 0.2)
        .where(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"), col("jaccard"))
    },
      // q16: brute-force recomputation of the LSH→verify survivors. Sound
      // because of the corpus's similarity gap (see the query comment): the
      // exact-Jaccard ≥ 0.5 pair set equals what banded LSH + verification
      // emits, and the Jaccard fraction is a ratio of identical integer
      // cardinalities on both engines.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
        |   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
        | FROM tok),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CASE WHEN len(list_distinct(list_concat(a.s, b.s))) > 0
        |   THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.s, b.s)))
        |   ELSE 0.0 END AS jaccard
        | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin),

    // ---- SimHash signatures (murmur-based → pinned-fixture oracle) -------
    QueryCase("q17_simhash", (s, dir) => Dedup.simhashText(t(s, dir, "documents")),
      s"SELECT CAST(id AS BIGINT) AS id, CAST(simhash AS BIGINT) AS simhash FROM ($SimhashPin) AS t(id, simhash)"),

    // ---- n-gram Jaccard verification over a deterministic candidate list.
    // The pair fixture (every 10th doc vs its +1 and +5 successors) is
    // SQL-expressible, so DuckDB recomputes the exact same Jaccard values
    // over the same normalized shingle strings — a full value oracle for
    // the verification operator. The LSH→verify composite (murmur-based
    // candidates, not SQL-expressible) is Dedup.lshVerifiedPairs, covered
    // by DedupSpec with the shingle stage computed once and persisted. ----
    QueryCase("q18_ngram_jaccard", (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("a_id"),
          explode(array(col("doc_id") + 1, col("doc_id") + 5)).as("b_id"))
      Dedup.ngramJaccard(docs, pairs)
    },
      // q18: same normalization (lower, \s+ split, drop empties), same word
      // 3-shingles, set semantics via list_distinct — the Jaccard fraction is
      // a ratio of identical integer cardinalities on both engines (Spark
      // compares 64-bit shingle hashes, DuckDB the shingle strings; equal
      // absent hash collisions). Pair fixture mirrors the Spark side exactly.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
        |   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
        | FROM tok),
        |pairs AS (
        | SELECT doc_id AS a_id, unnest([doc_id + 1, doc_id + 5]) AS b_id
        | FROM documents WHERE doc_id % 10 = 0)
        |SELECT p.a_id, p.b_id,
        | CASE WHEN len(list_distinct(list_concat(sa.s, sb.s))) > 0
        |  THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |   / len(list_distinct(list_concat(sa.s, sb.s)))
        |  ELSE 0.0 END AS jaccard
        |FROM pairs p
        |JOIN sh sa ON sa.doc_id = p.a_id
        |JOIN sh sb ON sb.doc_id = p.b_id""".stripMargin),

    // ---- edit-distance near-dup verification: blocked (lang, source)
    // self-join + length-band prune + prefix-bounded Levenshtein. The
    // third verifier family beside n-gram Jaccard (q18) and embedding
    // cosine (q21) — catches small-edit duplicates shingles blur. --------
    QueryCase("q74_edit_distance", (s, dir) => {
      Dedup.editDistancePairs(t(s, dir, "documents"), "doc_id", "text",
        blockCols = Seq("lang", "source"), prefixLen = 80, maxDist = 30)
        .select(col("a_id"), col("b_id"), col("dist").cast("long").as("dist"))
    },
      // q74: DuckDB levenshtein == Spark levenshtein (unit-cost DP) on the
      // identical normalized prefix.
      """WITH d AS (
        | SELECT doc_id AS id, lang, source, len(p) AS l, p FROM (
        |  SELECT *, substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 80) AS p
        |  FROM documents))
        |SELECT a.id AS a_id, b.id AS b_id,
        | CAST(levenshtein(a.p, b.p) AS BIGINT) AS dist
        |FROM d a JOIN d b
        | ON a.lang = b.lang AND a.source = b.source AND a.id < b.id
        | AND abs(a.l - b.l) <= 30
        |WHERE levenshtein(a.p, b.p) <= 30""".stripMargin),

    // ---- Count-Min frequency sketch: fixed-memory term counts, merged by
    // elementwise addition (partitioning-independent). The oracled surface
    // is the exact counts plus the sketch's two-sided error CONTRACT
    // (never undercounts; over by ≤ ⌈e·N/width⌉) pinned TRUE — the raw
    // estimates are sketch-internal, like q43's HLL. The exact-count
    // branch exists only to oracle the contract; real use replaces it. --
    QueryCase("q64_countmin", (s, dir) => {
      val terms = Seq("table", "data", "spark", "vector", "nonexistentterm")
      val words = spread(t(s, dir, "documents"))
        .select(explode(Dedup.wordTokens(col("text"))).as("term"))
      val cm = udaf(new graft.functions.Sketches.CountMinAgg(4, 2048, terms))
      val est = words.agg(cm(col("term")).as("e"))
        .select(posexplode(col("e.estimates")))
        .select(element_at(typedlit(terms), col("pos").cast("int") + 1).as("term"),
          col("col").as("__est"))
      val exact = words.groupBy("term").agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("term"), "left")
        .crossJoin(broadcast(words.agg(count(lit(1)).as("__n"))))
        .select(col("term"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"),
          ceil(col("__n") * lit(math.E) / 2048).cast("long").as("eps_bound"),
          (col("__est") >= coalesce(col("exact_count"), lit(0L))).as("never_undercounts"),
          (col("__est") <= coalesce(col("exact_count"), lit(0L)) +
            ceil(col("__n") * lit(math.E) / 2048).cast("long")).as("within_eps_n"))
    },
      // q64: exact counts + sketch contract (cf. q43). The oracle now
      // EXPRESSES the error bound — eps_bound = ⌈e·N/width⌉ is recomputed in
      // SQL from the corpus word count, so a testdata refresh moves the
      // oracle's bound with it (a mismatch there is a real tokenizer/count
      // bug). The two booleans remain pins: never_undercounts is a
      // deterministic CM-sketch theorem; within_eps_n holds per-term with
      // prob ~1-(1/e)^depth ≈ 98% and is verified on this deterministic run
      // (a flip after a fixture change means a legitimate 2% bound miss, not
      // a sketch bug — widen width or reroll the term list).
      """WITH tok AS (
        | SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |words AS (SELECT unnest(w) AS term FROM tok),
        |n AS (SELECT count(*) AS total FROM words),
        |t(term) AS (VALUES ('table'), ('data'), ('spark'), ('vector'), ('nonexistentterm')),
        |e AS (SELECT term, count(*) AS c FROM words GROUP BY 1)
        |SELECT t.term, CAST(coalesce(e.c, 0) AS BIGINT) AS exact_count,
        | CAST(ceil(n.total * exp(1.0) / 2048) AS BIGINT) AS eps_bound,
        | TRUE AS never_undercounts, TRUE AS within_eps_n
        |FROM t LEFT JOIN e ON t.term = e.term CROSS JOIN n""".stripMargin),

    // ---- cross-document boilerplate: shingles shared by ≥3 docs, per-doc
    // boilerplate fraction — integer counts → exact ratio both engines. --
    QueryCase("q61_boilerplate", (s, dir) =>
      Repetition.boilerplate(t(s, dir, "documents"), minDocs = 3),
      // q61: same shingle construction as q18/q55; counts over strings vs
      // 64-bit hashes — equal absent collisions.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |sh AS (
        | SELECT doc_id, list_distinct(list_transform(range(0, greatest(len(w) - 2, 0)),
        |   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
        | FROM tok),
        |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |hot AS (SELECT g FROM ex GROUP BY g HAVING count(*) >= 3),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY 1),
        |boil AS (SELECT ex.doc_id, count(*) AS boiler FROM ex JOIN hot USING (g) GROUP BY 1)
        |SELECT tot.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        | CAST(coalesce(boiler, 0) AS BIGINT) AS boiler_grams,
        | CASE WHEN n_grams > 0 THEN CAST(coalesce(boiler, 0) AS DOUBLE) / n_grams
        |  ELSE 0.0 END AS boilerplate_frac
        |FROM tot LEFT JOIN boil ON tot.doc_id = boil.doc_id""".stripMargin),

    // ---- BM25 retrieval statistics: exact integer (tf, df, len) per
    // (doc, query term) — the scoring formula itself is spec-tested, not
    // oracled, because ln() may differ across engines in the last ulp. --
    QueryCase("q60_bm25_stats", (s, dir) => {
      Bm25.stats(t(s, dir, "documents"), Seq("table", "query", "vector"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("doc_len"), col("n_docs"))
    },
      // q60: same tokenization; integer stats only (no floats).
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT doc_id, len(w) AS doc_len, unnest(w) AS term FROM tok),
        |pt AS (
        | SELECT doc_id, doc_len, term, count(*) AS tf FROM t
        | WHERE term IN ('table', 'query', 'vector') GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, count(*) AS df FROM pt GROUP BY 1),
        |c AS (SELECT count(*) AS n_docs FROM tok)
        |SELECT pt.doc_id, pt.term, CAST(pt.tf AS BIGINT) AS tf,
        | CAST(dfreq.df AS BIGINT) AS df, CAST(pt.doc_len AS BIGINT) AS doc_len,
        | CAST(c.n_docs AS BIGINT) AS n_docs
        |FROM pt JOIN dfreq USING (term) CROSS JOIN c""".stripMargin),

    // ---- PII / identifier redaction: chained global regex rules over the
    // customer names (digit-run ids) — map-only, codegen'd. ---------------
    QueryCase("q56_redact", (s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), TextFunctions.redact(col("c_name")).as("redacted")),
      // q56: identical rule chain, RE2-compatible patterns, global flag.
      """SELECT c_custkey,
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |  '\d{6,}', '<ID>', 'g'),
        |  '\+?\d[\d\s()-]{6,}\d', '<PHONE>', 'g') AS redacted
        |FROM customer""".stripMargin),

    // ---- sliding-window chunking for embedding pipelines: 32-word
    // windows, 8-word overlap — a pure flatMap, no shuffle. ---------------
    QueryCase("q57_chunk", (s, dir) =>
      Chunking.byWords(t(s, dir, "documents"), chunkSize = 32, overlap = 8),
      // q57: same tokenization; list slice w[a:b] is 1-based inclusive and
      // truncates at the end exactly like Spark's slice(). Window starts cap
      // at n - overlap (first window excepted) — no strict-subset tails.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |base AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
        |st AS (SELECT doc_id, w, n, unnest(range(0, greatest(n - 8, 1), 24)) AS s FROM base)
        |SELECT doc_id, s // 24 AS chunk_id,
        | array_to_string(w[s+1:s+32], ' ') AS chunk,
        | len(w[s+1:s+32]) AS n_words
        |FROM st""".stripMargin),

    // ---- Gopher-style repetition quality signals (word-level duplicate /
    // top-bigram fractions); integer-count ratios → exact doubles both
    // engines. -------------------------------------------------------------
    QueryCase("q55_repetition", (s, dir) =>
      Repetition.signals(t(s, dir, "documents")),
      // q55: same normalization + bigram construction as the Spark side;
      // Spark counts 64-bit bigram hashes, DuckDB the strings — equal
      // counts absent hash collisions.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |base AS (
        | SELECT doc_id, w, len(w) AS n,
        |  len(w) - len(list_distinct(w)) AS dup_words FROM tok),
        |bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(0, n - 1), i -> w[i+1] || ' ' || w[i+2])) AS b
        | FROM base WHERE n >= 2),
        |cnt AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |stats AS (
        | SELECT doc_id, count(*) AS distinct_b, sum(c) AS tb, max(c) AS maxc
        | FROM cnt GROUP BY 1)
        |SELECT base.doc_id,
        | CASE WHEN n > 0 THEN CAST(dup_words AS DOUBLE) / n ELSE 0.0 END AS dup_word_frac,
        | CASE WHEN tb > 0 THEN CAST(tb - distinct_b AS DOUBLE) / tb ELSE 0.0 END AS dup_bigram_frac,
        | CASE WHEN tb > 0 THEN CAST(maxc AS DOUBLE) / tb ELSE 0.0 END AS top_bigram_frac
        |FROM base LEFT JOIN stats ON base.doc_id = stats.doc_id""".stripMargin),

    // ---- rolling-hash document fingerprint -------------------------------
    QueryCase("q24_rolling_fp", (s, dir) => {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.rollingHash(col("text")).as("rolling_fp"))
    },
      // ord('') is -1 in DuckDB but ascii('') is 0 in Spark — the CASE pins
      // the empty-char code to 0 on both engines.
      """SELECT doc_id, list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split_regex(text, ''),
        |      x -> CAST(CASE WHEN x = '' THEN 0 ELSE ord(x) END AS BIGINT))),
        |  (acc, x) -> (acc * 257 + x) % 2147483647) AS rolling_fp
        |FROM documents""".stripMargin),

    // ---- deterministic train/val/test split: content-hash bucketing ------
    // (md5 exists on both engines → exact oracle; hash-based assignment is
    // reproducible across runs/engines, unlike rand()-based sampling)
    QueryCase("q29_hash_split", (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("long")
      t(s, dir, "documents")
        .withColumn("split",
          when(bucket < 204, lit("train")).when(bucket < 230, lit("val")).otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).cast("long").as("total_chars"))
    },
      s"""WITH b AS (SELECT *, ${bucketOracle("doc_id")} AS bucket
        | FROM documents)
        |SELECT CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1""".stripMargin),

    // ---- composite training-corpus prep: dedup → quality gate → tokens →
    // deterministic split, one declarative plan (jobs.CorpusPrep) ----------
    QueryCase("q44_corpus_prep", (s, dir) => CorpusPrep.prepare(t(s, dir, "documents")),
      s"""WITH keep AS (
        |  SELECT min(doc_id) AS doc_id
        |  FROM documents
        |  GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
        |), d AS (
        |  SELECT documents.* FROM documents JOIN keep USING (doc_id)
        |), q AS (
        |  SELECT doc_id, text, quality, ${bucketOracle("doc_id")} AS bucket
        |  FROM ${qualityOracle("d")} __qd)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS token_count,
        | quality,
        | CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split
        |FROM q WHERE quality >= 0.75""".stripMargin),

    // ---- vocabulary: global top-50 terms by document frequency -----------
    // (partial agg before the shuffle: explode → per-partition combine →
    // one narrow (term, count) exchange; top-k via TakeOrdered) ------------
    // Perf note (r3 +42% review flag): this query's plan is UNCHANGED
    // since r2 — the regression came from wordTokens moving to an
    // interpreted filter() lambda in r3-wide refactoring, reverted to a
    // codegen'd array_remove form in r4; the residual delta vs r2 is
    // within the measured ±20% host variance (isolated best-of-2 swings
    // 0.55–0.75 s run-to-run).
    QueryCase("q47_top_terms", (s, dir) => {
      spread(t(s, dir, "documents"))
        .select(explode(array_distinct(Dedup.wordTokens(col("text")))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("term"))
        .limit(50)
    },
      """SELECT term, count(*) AS doc_freq FROM (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |    w -> len(w) > 0))) AS term
        |  FROM documents)
        |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 50""".stripMargin),

    // ---- benchmark decontamination: train docs sharing any word n-gram
    // with the held-out set (doc_id ≡ 0 mod 97); test grams broadcast, so
    // the corpus is never shuffled --------------------------------------
    QueryCase("q49_decontaminate", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.flagged(
        docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(97)) === 0),
        n = 3)
    },
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> len(x) > 0) AS ws
        | FROM documents),
        | g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
        |   i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS gram FROM w),
        | t AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
        |FROM g JOIN t USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id""".stripMargin),

    // ---- sequence packing: docs → ~2048-token shards, greedy fill in
    // doc_id order within (split, shard) windows — no global sort ----------
    QueryCase("q50_pack_shards", (s, dir) => {
      CorpusPrep.packShards(t(s, dir, "documents"), budgetTokens = 2048, nShards = 16)
        .groupBy(col("split"), col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("pack_tokens"))
    },
      s"""WITH b AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok,
        |  ${bucketOracle("doc_id")} AS bucket
        | FROM documents),
        | a AS (SELECT doc_id, tok,
        |  CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
        |  bucket % 16 AS shard
        | FROM b),
        | p AS (SELECT *, sum(tok) OVER (PARTITION BY split, shard ORDER BY doc_id) AS cum FROM a)
        |SELECT split, shard,
        | CAST(floor((cum - tok) / CAST(2048 AS DOUBLE)) AS BIGINT) AS pack_id,
        | count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS pack_tokens
        |FROM p GROUP BY 1, 2, 3""".stripMargin),

    // ---- collocation mining: corpus bigram × unigram counts, Dice score
    // in exact ppm; vocabulary-sized joins, never corpus-sized. -----------
    QueryCase("q84_collocations", (s, dir) =>
      Ngrams.collocations(t(s, dir, "documents"), "text", minCount = 10L),
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM tok),
        |uni AS (SELECT word, count(*) AS n_w FROM t GROUP BY 1),
        |bi AS (
        | SELECT a.word || ' ' || b.word AS bigram,
        |  a.word AS left_w, b.word AS right_w, count(*) AS n_ab
        | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        | GROUP BY 1, 2, 3 HAVING count(*) >= 10)
        |SELECT bi.bigram, CAST(bi.n_ab AS BIGINT) AS n_ab,
        | CAST(ua.n_w AS BIGINT) AS n_a, CAST(ub.n_w AS BIGINT) AS n_b,
        | CAST(floor(2000000 * bi.n_ab / (ua.n_w + ub.n_w)) AS BIGINT) AS dice_ppm
        |FROM bi JOIN uni ua ON bi.left_w = ua.word
        | JOIN uni ub ON bi.right_w = ub.word""".stripMargin),

    // ---- LM-familiarity quality score: per-doc fraction of bigrams seen
    // in the English reference slice, exact integer ppm. ------------------
    QueryCase("q87_lm_familiarity", (s, dir) => {
      val docs = t(s, dir, "documents")
      Ngrams.familiarity(docs, docs.where(col("lang") === "en"))
    },
      """WITH tok AS (
        | SELECT doc_id, lang,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT doc_id, lang, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM tok),
        |bi AS (
        | SELECT a.doc_id, a.lang, a.word || ' ' || b.word AS bigram
        | FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |vocab AS (SELECT DISTINCT bigram FROM bi WHERE lang = 'en'),
        |j AS (
        | SELECT bi.doc_id, CASE WHEN v.bigram IS NULL THEN 0 ELSE 1 END AS known
        | FROM bi LEFT JOIN vocab v ON bi.bigram = v.bigram)
        |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(known) AS BIGINT) AS n_known,
        | CAST(floor(1000000 * sum(known) / count(*)) AS BIGINT) AS known_ppm
        |FROM j GROUP BY 1""".stripMargin),

    // ---- per-language source-concentration profile (Herfindahl, exact
    // ppm): the corpus-balance audit as two stacked count aggs. -----------
    QueryCase("q90_concentration", (s, dir) =>
      Metrics.concentration(t(s, dir, "documents"), Seq("lang"), "source"),
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_categories, CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(floor(1000000 * sum(n * n) / (sum(n) * sum(n))) AS BIGINT) AS hhi_ppm
        |FROM c GROUP BY 1""".stripMargin),

    // ---- group-wise min-max normalization to exact ppm of the group
    // range: window extrema on one key shuffle, no join. ------------------
    QueryCase("q93_minmax_norm", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Normalize.minMaxPpm(ev, Seq("event_type"), "cents")
    },
      """WITH e AS (
        | SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events)
        |SELECT event_id, event_type, cents,
        | CASE WHEN max(cents) OVER w = min(cents) OVER w THEN 0
        |      ELSE CAST(floor(1000000 * (cents - min(cents) OVER w) /
        |                      (max(cents) OVER w - min(cents) OVER w)) AS BIGINT) END AS scaled_ppm
        |FROM e WINDOW w AS (PARTITION BY event_type)""".stripMargin),

    // ---- corpus-mixing schedule: content-addressed interleave positions
    // with per-source strides — map-only, no per-source sequence. ---------
    QueryCase("q103_mix_schedule", (s, dir) =>
      Sampling.mixSchedule(t(s, dir, "documents"), "source", "doc_id", MixStrides)
        .select(col("doc_id"), col("source"), col("mix_pos")), {
      val cases = MixStrides.toSeq.sortBy(_._1)
        .map { case (s0, st) => s"WHEN '$s0' THEN $st" }.mkString(" ")
      val inList = MixStrides.keys.toSeq.sorted.map(s0 => s"'$s0'").mkString(", ")
      // The WHERE mirrors mixSchedule's documented drop semantics (rows
      // whose source has no stride are excluded), so the oracle stays
      // correct even if the fixture grows a source outside MixStrides.
      s"""SELECT doc_id, source,
         | CAST(${hexPrefixOracle("md5(CAST(doc_id AS VARCHAR))", 10)} *
         |      (CASE source $cases END) AS BIGINT) AS mix_pos
         |FROM documents WHERE source IN ($inList)""".stripMargin
    }),

    // ---- dictionary encoding: dense sort-order codes assigned on the
    // distinct values, broadcast back — the fact side never shuffles. -----
    QueryCase("q113_dict_encode", (s, dir) =>
      Normalize.dictEncode(t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "lang_code"),
      """SELECT doc_id, lang,
        | CAST(dense_rank() OVER (ORDER BY lang NULLS FIRST) AS BIGINT) AS lang_code
        |FROM documents""".stripMargin),

    // ---- Kneser–Ney continuation-count table: token counts + distinct
    // left/right contexts per word — vocabulary-sized aggs, the corpus
    // never shuffles whole rows. -----------------------------------------
    QueryCase("q115_lm_counts", (s, dir) =>
      Ngrams.continuationCounts(t(s, dir, "documents"), minTokens = 5),
      // q115: same tokenization as q18; bigrams distinct first, then the two
      // continuation counts — identical integer tables on both engines.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |u AS (
        | SELECT word, CAST(count(*) AS BIGINT) AS n_tokens
        | FROM (SELECT unnest(w) AS word FROM tok) GROUP BY 1 HAVING count(*) >= 5),
        |bi AS (
        | SELECT DISTINCT unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
        |   i -> w[i+1] || ' ' || w[i+2])) AS bigram
        | FROM tok),
        |sp AS (SELECT string_split(bigram, ' ')[1] AS left_w, string_split(bigram, ' ')[2] AS right_w FROM bi),
        |l AS (SELECT right_w AS word, CAST(count(*) AS BIGINT) AS nl FROM sp GROUP BY 1),
        |r AS (SELECT left_w AS word, CAST(count(*) AS BIGINT) AS nr FROM sp GROUP BY 1)
        |SELECT u.word, u.n_tokens,
        | CAST(coalesce(l.nl, 0) AS BIGINT) AS n_left_contexts,
        | CAST(coalesce(r.nr, 0) AS BIGINT) AS n_right_contexts
        |FROM u LEFT JOIN l ON u.word = l.word LEFT JOIN r ON u.word = r.word""".stripMargin),

    // ---- winsorization: clamp order totals to each priority class's
    // exact [p05, p95] discrete quantiles — rank window + bounds join. ----
    QueryCase("q117_winsorize", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      Normalize.winsorize(o, Seq("o_orderpriority"), "cents", 0.05, 0.95)
    },
      // q117: the boundary is the value at 1-based rank ceil(p·n) ascending
      // (rank 1 for p=0) — the same pure integer-rank definition as the
      // Spark side, no interpolation, so the clamp replays exactly.
      """WITH c AS (
        | SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        | FROM c),
        |b AS (
        | SELECT o_orderpriority,
        |  min(CASE WHEN rn = greatest(CAST(ceil(0.05 * n) AS BIGINT), 1) THEN cents END) AS lo,
        |  max(CASE WHEN rn = greatest(CAST(ceil(0.95 * n) AS BIGINT), 1) THEN cents END) AS hi
        | FROM r GROUP BY 1)
        |SELECT c.o_orderkey, c.o_orderpriority, c.cents,
        | greatest(least(c.cents, b.hi), b.lo) AS winsorized
        |FROM c JOIN b USING (o_orderpriority)""".stripMargin),

    // ---- exact Gini (ppm) of source sizes per language — the inequality
    // complement to q90's HHI; category-table window, all-integer. --------
    QueryCase("q119_gini", (s, dir) =>
      Metrics.gini(t(s, dir, "documents"), Seq("lang"), "source"),
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS x
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, x,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY x, source) AS BIGINT) AS i
        | FROM c)
        |SELECT lang, count(*) AS n_categories, CAST(sum(x) AS BIGINT) AS n_rows,
        | CAST(floor(1000000 * (2 * sum(i * x) - (count(*) + 1) * sum(x))
        |   / (count(*) * sum(x))) AS BIGINT) AS gini_ppm
        |FROM r GROUP BY lang""".stripMargin),

    // ---- vocabulary coverage / OOV rate against the corpus's own top-100
    // terms — broadcast vocabulary, bodies never shuffle. ------------------
    QueryCase("q122_vocab_coverage", (s, dir) =>
      Ngrams.vocabCoverage(t(s, dir, "documents"), vocabSize = 100),
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS word FROM tok),
        |v AS (
        | SELECT word, 1 AS in_vocab FROM (
        |  SELECT word, count(*) AS n FROM t GROUP BY 1
        |  ORDER BY n DESC, word LIMIT 100)),
        |c AS (
        | SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        | FROM t LEFT JOIN v ON t.word = v.word GROUP BY 1)
        |SELECT doc_id, n_tokens, n_oov,
        | CAST(floor(1000000 * n_oov / n_tokens) AS BIGINT) AS oov_ppm
        |FROM c""".stripMargin),

    // ---- C4-style repeated-span coverage: words inside corpus-hot 3-gram
    // windows, overlaps unioned — the span-dedup rewrite volume. ----------
    QueryCase("q125_span_coverage", (s, dir) =>
      Repetition.spanCoverage(t(s, dir, "documents"), minDocs = 3, k = 3),
      // q125: string 3-grams with positions stand in for Spark's 64-bit
      // window hashes (cardinalities equal absent collisions, as in
      // q16/q18); hot windows fan out to the k positions they cover.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 2, 0)),
        |   i -> {'i': i, 'g': w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]})) AS s
        | FROM tok),
        |gg AS (SELECT doc_id, CAST(s.i AS BIGINT) AS i, s.g AS g FROM g),
        |hot AS (
        | SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gg GROUP BY 1)
        | WHERE nd >= 3),
        |cov AS (
        | SELECT DISTINCT gg.doc_id, gg.i + o.k AS j
        | FROM gg JOIN hot ON gg.g = hot.g
        | CROSS JOIN (VALUES (0), (1), (2)) o(k)),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered_words FROM cov GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
        | CAST(coalesce(c.covered_words, 0) AS BIGINT) AS covered_words,
        | CAST(CASE WHEN len(t.w) > 0
        |  THEN floor(1000000 * (len(t.w) - coalesce(c.covered_words, 0)) / len(t.w))
        |  ELSE 1000000 END AS BIGINT) AS kept_ppm
        |FROM tok t LEFT JOIN c USING (doc_id)""".stripMargin),

    // ---- interpolated Kneser–Ney bigram LM, exact integer ppm: the
    // smoothing layer over q115's continuation counts — one rational per
    // observed bigram, vocabulary-sized all the way. ----------------------
    QueryCase("q129_kneser_ney", (s, dir) =>
      Ngrams.kneserNeyBigrams(t(s, dir, "documents"), minCount = 3),
      // q129: KN bigram probability as ONE integer rational —
      // ⌊1e6·(B·(4·c12 − 3) + 3·R1(w1)·L1(w2)) / (4·c1·B)⌋ — identical
      // numerator/denominator as the Spark side, so floor rounding agrees.
      """WITH tok AS (
        | SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |bg AS (
        | SELECT unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
        |   i -> w[i+1] || ' ' || w[i+2])) AS bigram
        | FROM tok),
        |bi AS (
        | SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
        |  CAST(count(*) AS BIGINT) AS n_12
        | FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(n_12) AS BIGINT) AS c_1 FROM bi GROUP BY 1),
        |r1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS r_1 FROM bi GROUP BY 1),
        |l1 AS (SELECT w2, CAST(count(*) AS BIGINT) AS l_1 FROM bi GROUP BY 1),
        |bb AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bi)
        |SELECT bi.w1, bi.w2, bi.n_12,
        | CAST(floor((1000000 * (bb.n_bigrams * (4 * bi.n_12 - 3) + 3 * r1.r_1 * l1.l_1))
        |   / (4 * c1.c_1 * bb.n_bigrams)) AS BIGINT) AS p_ppm
        |FROM bi JOIN c1 USING (w1) JOIN r1 USING (w1) JOIN l1 USING (w2), bb
        |WHERE bi.n_12 >= 3""".stripMargin),

    // ---- EXACT set-similarity self-join via prefix filtering (AllPairs/
    // PPJoin): every pair with word-set Jaccard ≥ 0.95, zero false
    // negatives — the auditable complement to MinHash-LSH. Candidates come
    // only from shared rarest-first prefix tokens + size filter. (The
    // synthetic corpus's tiny vocabulary makes the MEDIAN pairwise Jaccard
    // 0.63 — a production-like 0.2 dedup threshold would be all-pairs on
    // this data, so the query uses the near-identity band.) ---------------
    QueryCase("q130_prefix_jaccard", (s, dir) =>
      Dedup.prefixFilterPairs(t(s, dir, "documents"), thresholdPpm = 950000L),
      // q130: the oracle is the BRUTE-FORCE similarity join — every pair,
      // exact Jaccard — which is precisely the no-false-negative contract
      // the prefix filter claims; sf0.01's 500 docs keep it tractable.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_distinct(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0)) AS s
        | FROM documents),
        |nz AS (SELECT doc_id, s, len(s) AS n FROM tok WHERE len(s) > 0),
        |p AS (
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_common
        | FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
        |SELECT a_id, b_id, n_a, n_b, n_common,
        | CAST(floor(1000000 * n_common / (n_a + n_b - n_common)) AS BIGINT) AS jaccard_ppm
        |FROM p WHERE n_common * 1000000 >= 950000 * (n_a + n_b - n_common)""".stripMargin),

    // ---- per-doc k-gram novelty vs the whole corpus: share of a doc's
    // distinct 3-grams first seen in THIS doc (min-doc-id first-occurrence
    // order) — the incremental-corpus-drop pruning signal. --------------
    QueryCase("q131_novelty", (s, dir) =>
      Ngrams.novelty(t(s, dir, "documents"), k = 3),
      // q131: gram identity replayed as the literal window STRING (the Spark
      // side matches on 64-bit window hashes — same grouping, collision odds
      // negligible); short docs contribute their whole token sequence as one
      // gram and empty docs share the empty gram, mirroring the native
      // short-doc fallback.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_distinct(CASE WHEN len(w) >= 3
        |   THEN list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
        |   ELSE [array_to_string(w, ' ')] END)) AS gram
        | FROM tok),
        |f AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY 1),
        |p AS (
        | SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (WHERE f.first_id = g.doc_id) AS BIGINT) AS n_new
        | FROM g JOIN f USING (gram) GROUP BY 1)
        |SELECT doc_id, n_grams, n_new,
        | CAST(floor(1000000 * n_new / n_grams) AS BIGINT) AS novelty_ppm
        |FROM p""".stripMargin),

    // ---- leave-one-out target encoding of market segment by account
    // balance (cents): high-cardinality categorical → leak-free integer
    // code; singleton categories yield NULL. ------------------------------
    QueryCase("q132_target_encode", (s, dir) =>
      Normalize.targetEncode(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents")),
        Seq("c_mktsegment"), "bal_cents")
        .select(col("c_custkey"), col("c_mktsegment"), col("bal_cents"), col("loo_code")),
      // q132: the LOO mean replayed with a window (sum/count over the
      // segment minus self); floor() of the same double division.
      """WITH c AS (
        | SELECT c_custkey, c_mktsegment,
        |  CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        | FROM customer)
        |SELECT c_custkey, c_mktsegment, bal_cents,
        | CASE WHEN count(*) OVER seg > 1 THEN
        |  CAST(floor((sum(bal_cents) OVER seg - bal_cents)
        |    / (count(*) OVER seg - 1)) AS BIGINT) END AS loo_code
        |FROM c WINDOW seg AS (PARTITION BY c_mktsegment)""".stripMargin),

    // ---- distributed dense-id assignment (the scale-correct
    // zipWithIndex): contiguous ids in (n_chars, doc_id) order via range
    // partition + partition-count-sized offset table — no global window. -
    QueryCase("q137_dense_ids", (s, dir) =>
      Normalize.denseIds(t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        orderCol = "n_chars", tieCol = "doc_id")
        .select(col("doc_id"), col("n_chars"), col("dense_id")),
      // q137: the distributed offset+local-rank construction IS the global
      // row_number — replayed directly.
      """SELECT doc_id, n_chars,
        | CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS dense_id
        |FROM documents""".stripMargin),

    // ---- BPE merge-table induction (16 rounds): the subword-tokenizer
    // training algorithm over the corpus word-type table; deterministic
    // (count desc, pair asc) election. Pinned-fixture oracle — the
    // iterative argmax/rewrite loop is not SQL-replayable. --------------
    QueryCase("q135_bpe_merges", (s, dir) =>
      Ngrams.bpeMerges(t(s, dir, "documents"), rounds = 16, batch = 8),
    // q135: pinned sf0.01 merge table (tools/pin_oracle.py) — the
    // iterative argmax-then-rewrite loop is deterministic but not
    // SQL-replayable (same contract as the q64 Count-Min pin).
    {
      val rows = PinnedQ135Merges.map { case (r, l, rt, n) =>
        s"($r,'${sqlEsc(l)}','${sqlEsc(rt)}',$n)"
      }.mkString(",")
      "SELECT CAST(merge_rank AS BIGINT) AS merge_rank, left_sym, right_sym, " +
        s"CAST(n AS BIGINT) AS n FROM (VALUES $rows) AS t(merge_rank, left_sym, right_sym, n)"
    }),

    // ---- BPE ENCODE with the table q135 just trained: per-doc subword
    // counts and fertility — the tokenizer-quality audit. The merge table
    // is collected (vocabulary metadata, bounded) and applied map-only.
    // Oracle: the PINNED sf0.01 merges replayed as a chain of spaced
    // string replaces (the same leftmost-greedy semantics). -------------
    QueryCase("q136_bpe_encode", (s, dir) => {
      val merges = Ngrams.bpeMerges(t(s, dir, "documents"), rounds = 16, batch = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Ngrams.bpeEncodeStats(t(s, dir, "documents"), merges)
    },
      // q136: ENCODE replayed in pure SQL ([[BpeEncodeCtes]] — each word
      // becomes its spaced symbol string and the pinned merges apply as a
      // chain of string replaces, whose left-to-right non-overlapping scan
      // IS the trainer's leftmost-greedy rewrite), then the fertility
      // arithmetic. The CTE list is shared verbatim with the token-exact
      // packers q391/q392 so the three cannot drift.
      s"""WITH $BpeEncodeCtes
        |SELECT t.doc_id, coalesce(p.n_words, 0) AS n_words,
        | coalesce(p.n_subwords, 0) AS n_subwords,
        | CAST(CASE WHEN coalesce(p.n_words, 0) > 0
        |  THEN floor(1000000 * p.n_subwords / p.n_words) ELSE 0 END AS BIGINT) AS fertility_ppm
        |FROM tok t LEFT JOIN per p USING (doc_id)""".stripMargin),

    // ---- corpus-wide segment dedup (C4/RefinedWeb "line dedup" on
    // unstructured text): 16-word blocks, corpus-wide first occurrence
    // wins, docs reassembled from survivors. Election shuffles only
    // (fingerprint, id, idx); bodies cross one exchange. ----------------
    QueryCase("q138_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"))
        .select(col("doc_id"), col("clean_text"), col("n_segments"), col("n_dropped")),
      // q138: identical segmentation (16-word blocks of the normalized
      // token list), md5 fingerprint election ordered by (doc_id, idx),
      // reassembly via ordered string_agg of the rn=1 survivors.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |seg0 AS (
        | SELECT doc_id, w, unnest(range(CAST(ceil(len(w)/16.0) AS BIGINT))) AS i
        | FROM tok WHERE len(w) > 0),
        |seg AS (
        | SELECT doc_id, i AS idx, array_to_string(w[(i*16+1):(i*16+16)], ' ') AS seg
        | FROM seg0),
        |win AS (
        | SELECT doc_id, idx, seg,
        |  row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, idx) AS rn
        | FROM seg),
        |agg AS (
        | SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '') AS clean_text
        | FROM win GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        | coalesce(a.n_segments, 0) AS n_segments,
        | coalesce(a.n_dropped, 0) AS n_dropped
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin),

    // ---- context-length budgeting: whole-token truncation to 64 tokens
    // with audit columns. Map-only — the 100 TB cost is the scan. -------
    QueryCase("q140_token_truncate", (s, dir) =>
      Chunking.truncateTokens(t(s, dir, "documents"), maxTokens = 64)
        .select(col("doc_id"), col("n_tokens"), col("truncated"), col("out_text")),
      // q140: same tokenizer, list slice, whole-token join.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents)
        |SELECT doc_id, CAST(len(w) AS INT) AS n_tokens, len(w) > 64 AS truncated,
        | array_to_string(w[1:64], ' ') AS out_text
        |FROM tok""".stripMargin),

    // ---- cross-corpus dedup ("what's new in this crawl"): even docs not
    // content-identical to any odd doc. Bloom-definitely-novel rows
    // bypass the anti-join shuffle entirely. ----------------------------
    QueryCase("q141_cross_corpus_dedup", (s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusNovel(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        expectedItems = 1L << 16)
        .select(col("doc_id"), col("source"))
    },
      // q141: plain NOT EXISTS on the q12 content fingerprint — the bloom
      // pre-filter is a pure optimization, invisible in the result.
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE d.doc_id % 2 = 0 AND NOT EXISTS (
        | SELECT 1 FROM documents r WHERE r.doc_id % 2 = 1
        |  AND md5(regexp_replace(trim(lower(r.text)), '\s+', ' ', 'g'))
        |    = md5(regexp_replace(trim(lower(d.text)), '\s+', ' ', 'g')))""".stripMargin),

    // ---- sequence packing WITH position offsets: q50's greedy fill plus
    // the within-pack token offset each doc starts at — what the training
    // loader needs to build position ids without re-tokenizing. ---------
    QueryCase("q143_pack_offsets", (s, dir) =>
      CorpusPrep.packOffsets(t(s, dir, "documents"), budgetTokens = 2048, nShards = 16)
        .select(col("doc_id"), col("split"), col("shard"), col("pack_id"), col("tok"), col("offset_tok")),
      // q143: q50's window replayed with the offset algebra inlined.
      s"""WITH b AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok,
        |  ${bucketOracle("doc_id")} AS bucket
        | FROM documents),
        | a AS (SELECT doc_id, tok,
        |  CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val' ELSE 'test' END AS split,
        |  bucket % 16 AS shard
        | FROM b),
        | p AS (SELECT *, sum(tok) OVER (PARTITION BY split, shard ORDER BY doc_id) AS cum FROM a)
        |SELECT doc_id, split, CAST(shard AS BIGINT) AS shard,
        | CAST(floor((cum - tok) / CAST(2048 AS DOUBLE)) AS BIGINT) AS pack_id,
        | tok,
        | CAST(cum - tok - CAST(floor((cum - tok) / CAST(2048 AS DOUBLE)) AS BIGINT) * 2048 AS BIGINT) AS offset_tok
        |FROM p""".stripMargin),

    // ---- contamination DEGREE (q49 flags any-hit): per train doc, the
    // distinct-3-gram count, shared-with-test count, and overlap ppm —
    // the threshold-policy form of decontamination. Broadcast gram set;
    // corpus bodies never shuffle. --------------------------------------
    QueryCase("q144_overlap_stats", (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlapStats(
        docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        docs.where(pmod(col("doc_id"), lit(97)) === 0),
        n = 3)
    },
      // q144: distinct 3-grams per train doc, hits against the test-set
      // gram set, ppm share; docs below 3 tokens report 0s.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |tr AS (SELECT * FROM tok WHERE doc_id % 97 <> 0),
        |te AS (SELECT * FROM tok WHERE doc_id % 97 = 0),
        |trg AS (
        | SELECT DISTINCT doc_id, array_to_string(w[i:(i+2)], ' ') AS gram
        | FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM tr WHERE len(w) >= 3)),
        |teg AS (
        | SELECT DISTINCT array_to_string(w[i:(i+2)], ' ') AS gram
        | FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM te WHERE len(w) >= 3)),
        |agg AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(CASE WHEN gram IN (SELECT gram FROM teg) THEN 1 END) AS BIGINT) AS n_hits
        | FROM trg GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.n_grams, 0) AS n_grams,
        | coalesce(a.n_hits, 0) AS n_hits,
        | CAST(CASE WHEN coalesce(a.n_grams, 0) > 0
        |  THEN floor(1000000 * a.n_hits / a.n_grams) ELSE 0 END AS BIGINT) AS overlap_ppm
        |FROM tr t LEFT JOIN agg a USING (doc_id)""".stripMargin),

    // ---- corpus length distribution: log2 token-count histogram per
    // source. Integer bit-length bucket — no float log2 boundary. -------
    QueryCase("q146_length_histogram", (s, dir) =>
      Metrics.log2Histogram(
        t(s, dir, "documents")
          .select(col("source"), TextFunctions.tokenCount(col("text")).as("tok")),
        Seq("source"), "tok"),
      // q146: bit-length bucket replayed with bin(); same token regex as q50.
      """WITH b AS (
        | SELECT source,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok
        | FROM documents)
        |SELECT source,
        | CAST(CASE WHEN tok <= 0 THEN 0 ELSE length(bin(tok)) END AS INT) AS log2_bucket,
        | CAST(count(*) AS BIGINT) AS n, CAST(sum(tok) AS BIGINT) AS total,
        | CAST(min(tok) AS BIGINT) AS lo, CAST(max(tok) AS BIGINT) AS hi
        |FROM b GROUP BY 1, 2""".stripMargin),

    // ---- segment-level duplication profile: how many identical 16-word
    // blocks occur 1×, 2×, … — the boilerplate report that motivates
    // segment dedup (doc-level dup rate here is ~0). --------------------
    QueryCase("q147_segment_dup_profile", (s, dir) =>
      Dedup.segmentDupProfile(t(s, dir, "documents")),
      // q147/q148: the q138 segmentation replayed; stacked count aggs /
      // distinct-pair self-join.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |seg0 AS (
        | SELECT doc_id, w, unnest(range(CAST(ceil(len(w)/16.0) AS BIGINT))) AS i
        | FROM tok WHERE len(w) > 0),
        |seg AS (SELECT md5(array_to_string(w[(i*16+1):(i*16+16)], ' ')) AS fp FROM seg0),
        |cl AS (SELECT fp, CAST(count(*) AS BIGINT) AS cluster_size FROM seg GROUP BY 1)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(sum(cluster_size) AS BIGINT) AS n_segments
        |FROM cl GROUP BY 1""".stripMargin),

    // ---- cross-source content overlap (the corpus Venn): distinct
    // 16-word blocks shared per source pair. ----------------------------
    QueryCase("q148_source_overlap", (s, dir) =>
      Dedup.crossGroupOverlap(t(s, dir, "documents"))
        .select(col("source_a"), col("source_b"), col("n_shared")),
      """WITH tok AS (
        | SELECT doc_id, source,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |seg0 AS (
        | SELECT source, w, unnest(range(CAST(ceil(len(w)/16.0) AS BIGINT))) AS i
        | FROM tok WHERE len(w) > 0),
        |gfp AS (
        | SELECT DISTINCT source, md5(array_to_string(w[(i*16+1):(i*16+16)], ' ')) AS fp
        | FROM seg0)
        |SELECT a.source AS source_a, b.source AS source_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM gfp a JOIN gfp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin),

    // ---- functional-dependency audit: does source determine lang in the
    // corpus? Violating determinants only — output bounded by violations,
    // not key cardinality. ------------------------------------------------
    QueryCase("q151_fd_audit", (s, dir) =>
      Audit.functionalDependency(t(s, dir, "documents"), Seq("source"), "lang")
        .select(col("source"), col("n_rows"), col("n_distinct_dep"),
          col("top_count"), col("violations")),
      // q151: NULL dependents form one class in GROUP BY on both engines.
      """WITH dd AS (
        | SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY source, lang)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_distinct_dep,
        | CAST(max(n) AS BIGINT) AS top_count,
        | CAST(sum(n) - max(n) AS BIGINT) AS violations
        |FROM dd GROUP BY source HAVING count(*) > 1""".stripMargin),

    // ---- exact integer percent-rank of event value within event_type:
    // rank-based feature normalization that is reproducible across engines
    // (rank(), not float percent_rank). -----------------------------------
    QueryCase("q153_percent_rank", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Normalize.percentRankPpm(ev, Seq("event_type"), "cents")
        .select(col("event_id"), col("event_type"), col("cents"), col("pr_ppm"))
    },
      // q153: rank() tie semantics are identical across engines; integer
      // floor-division of non-negatives on both sides.
      """WITH ev AS (
        | SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |rk AS (
        | SELECT event_id, event_type, cents,
        |  rank() OVER (PARTITION BY event_type ORDER BY cents) AS r,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM ev)
        |SELECT event_id, event_type, cents,
        | CAST(CASE WHEN n = 1 THEN 0
        |  ELSE (1000000 * (r - 1)) // (n - 1) END AS BIGINT) AS pr_ppm
        |FROM rk""".stripMargin),

    // ---- per-doc lexical diversity: type-token ratio, Simpson collision
    // numerator, hapax count — all-integer quality signals; empty docs
    // kept as zero rows. --------------------------------------------------
    QueryCase("q154_lexical_diversity", (s, dir) =>
      Lexical.diversity(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          col("ttr_ppm"), col("simpson_sum"), col("hapax")),
      // q154: same tokenizer as q47; empty docs zero-filled on both sides.
      """WITH tok AS (
        | SELECT doc_id, unnest(list_filter(
        |   string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |   w -> len(w) > 0)) AS term
        | FROM documents),
        |tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        | FROM tok GROUP BY doc_id, term),
        |per AS (
        | SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(tf * tf) AS BIGINT) AS simpson_sum,
        |  CAST(count(*) FILTER (WHERE tf = 1) AS BIGINT) AS hapax
        | FROM tf GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(p.n_tokens, 0) AS n_tokens,
        | coalesce(p.n_types, 0) AS n_types,
        | CAST(CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0
        |  ELSE (1000000 * p.n_types) // p.n_tokens END AS BIGINT) AS ttr_ppm,
        | coalesce(p.simpson_sum, 0) AS simpson_sum,
        | coalesce(p.hapax, 0) AS hapax
        |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id""".stripMargin),

    // ---- deterministic 3-epoch shuffle schedule: md5 re-keyed per-epoch
    // permutation, positions via the range-partitioned dense-id path. -----
    QueryCase("q156_epoch_schedule", (s, dir) =>
      CorpusPrep.epochSchedule(t(s, dir, "documents").select(col("doc_id")),
          "doc_id", epochs = 3)
        .select(col("epoch"), col("doc_id"), col("schedule_pos")),
      // q156: md5 hex is engine-identical; epoch-major order, hash-permuted
      // within each epoch, doc_id as the deterministic tiebreak.
      """WITH s AS (
        | SELECT e.epoch, d.doc_id,
        |  md5(e.epoch || ':' || d.doc_id) AS h
        | FROM documents d, (SELECT unnest(range(3)) AS epoch) e)
        |SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        | CAST(row_number() OVER (ORDER BY epoch, h, doc_id) - 1 AS BIGINT)
        |  AS schedule_pos
        |FROM s""".stripMargin),

    // ---- stratified interleave: source-round-robin training order via
    // the range-partitioned dense-id path — no per-stratum global window.
    QueryCase("q158_stratified_interleave", (s, dir) =>
      Sampling.stratifiedInterleave(t(s, dir, "documents"), "doc_id", "source")
        .select(col("doc_id"), col("source"), col("interleave_pos")),
      // q158: within-stratum md5 permutation rank × stratum count + dense
      // stratum code; md5 hex and ASCII source ordering are engine-identical.
      """WITH rk AS (
        | SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS wr
        | FROM documents),
        |codes AS (
        | SELECT source, row_number() OVER (ORDER BY source) AS code
        | FROM (SELECT DISTINCT source FROM documents)),
        |b AS (SELECT count(*) AS nb FROM codes)
        |SELECT rk.doc_id, rk.source,
        | CAST(rk.wr * b.nb + codes.code - 1 AS BIGINT) AS interleave_pos
        |FROM rk JOIN codes ON rk.source = codes.source CROSS JOIN b""".stripMargin),

    // ---- per-doc sentence-shape profile: readability-proxy integers. ----
    QueryCase("q159_sentence_stats", (s, dir) =>
      Lexical.sentenceStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_sentences"), col("n_chars"),
          col("n_words"), col("chars_per_sentence_ppm"),
          col("words_per_sentence_ppm")),
      // q159: same [.!?]+ segmentation and q13 word tokenizer; empty and
      // NULL docs produce all-zero rows on both sides.
      """SELECT doc_id,
        | CAST(coalesce(len(list_filter(
        |   regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |   s -> regexp_matches(s, '\S'))), 0) AS BIGINT) AS n_sentences,
        | CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars,
        | CAST(coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |   x -> len(x) > 0)), 0) AS BIGINT) AS n_words,
        | CAST(CASE WHEN coalesce(len(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |    s -> regexp_matches(s, '\S'))), 0) = 0 THEN 0
        |  ELSE (1000000 * coalesce(length(text), 0)) // len(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |    s -> regexp_matches(s, '\S'))) END AS BIGINT) AS chars_per_sentence_ppm,
        | CAST(CASE WHEN coalesce(len(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |    s -> regexp_matches(s, '\S'))), 0) = 0 THEN 0
        |  ELSE (1000000 * coalesce(len(list_filter(string_split_regex(text, '\s+'),
        |    x -> len(x) > 0)), 0)) // len(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |    s -> regexp_matches(s, '\S'))) END AS BIGINT) AS words_per_sentence_ppm
        |FROM documents""".stripMargin),

    // ---- per-doc character-class census: the raw signals under
    // boilerplate/spam heuristics, exact and summing to n_chars. ----------
    QueryCase("q160_char_classes", (s, dir) =>
      Lexical.charClasses(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"), col("n_digit"), col("n_upper"),
          col("n_lower"), col("n_space"), col("n_other"), col("digit_ppm")),
      // q160: len − len(regexp strip) per ASCII class; classes partition the
      // string so the five counts sum to n_chars on both sides.
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
        |c AS (
        | SELECT doc_id, CAST(length(s) AS BIGINT) AS n_chars,
        |  CAST(length(s) - length(regexp_replace(s, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(s) - length(regexp_replace(s, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
        |  CAST(length(s) - length(regexp_replace(s, '[a-z]', '', 'g')) AS BIGINT) AS n_lower,
        |  CAST(length(s) - length(regexp_replace(s, '\s', '', 'g')) AS BIGINT) AS n_space
        | FROM t)
        |SELECT doc_id, n_chars, n_digit, n_upper, n_lower, n_space,
        | CAST(n_chars - n_digit - n_upper - n_lower - n_space AS BIGINT) AS n_other,
        | CAST(CASE WHEN n_chars = 0 THEN 0
        |  ELSE (1000000 * n_digit) // n_chars END AS BIGINT) AS digit_ppm
        |FROM c""".stripMargin),

    // ---- per-doc PII density: independent per-rule match counts + rate
    // per kilochar — the drop-vs-redact triage signal before q56. ---------
    QueryCase("q162_pii_density", (s, dir) =>
      Lexical.piiDensity(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars"), col("n_email"), col("n_ip"),
          col("n_longid"), col("n_phone"), col("pii_per_kilochar")),
      // q162: same four RedactionRules patterns, counted independently.
      """WITH t AS (SELECT doc_id, coalesce(text, '') AS s FROM documents),
        |c AS (
        | SELECT doc_id, CAST(length(s) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(s,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(s,
        |   '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(s, '\d{6,}')) AS BIGINT) AS n_longid,
        |  CAST(len(regexp_extract_all(s, '\+?\d[\d\s()-]{6,}\d')) AS BIGINT) AS n_phone
        | FROM t)
        |SELECT doc_id, n_chars, n_email, n_ip, n_longid, n_phone,
        | CAST((1000 * (n_email + n_ip + n_longid + n_phone))
        |  // greatest(n_chars, 1) AS BIGINT) AS pii_per_kilochar
        |FROM c""".stripMargin),

    // ---- corpus drift: pairwise L1 distance between per-source log2
    // length histograms — shared buckets join, totals cover the rest. -----
    QueryCase("q165_histogram_distance", (s, dir) => {
      val hist = Metrics.log2Histogram(
        t(s, dir, "documents").select(col("source"), col("n_chars")),
        Seq("source"), "n_chars")
        .select(col("source"), col("log2_bucket"), col("n"))
      Metrics.histogramDistance(hist, "source", "log2_bucket", "n")
        .select(col("group_a"), col("group_b"), col("l1_distance"),
          col("distance_ppm"))
    },
      // q165: same log2 histogram (integer bit length) per source, then
      // L1 = Ta + Tb − 2·Σ_shared min — pairs from totals, so disjoint
      // histograms still emit their maximal distance.
      """WITH h AS (
        | SELECT source,
        |  CASE WHEN n_chars <= 0 THEN 0
        |   ELSE length(bin(CAST(n_chars AS BIGINT))) END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(n) AS BIGINT) AS t FROM h GROUP BY source),
        |sm AS (
        | SELECT a.source AS group_a, b.source AS group_b,
        |  CAST(sum(least(a.n, b.n)) AS BIGINT) AS shared_min
        | FROM h a JOIN h b ON a.bucket = b.bucket AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT ta.source AS group_a, tb.source AS group_b,
        | CAST(ta.t + tb.t - 2 * coalesce(sm.shared_min, 0) AS BIGINT) AS l1_distance,
        | CAST((1000000 * (ta.t + tb.t - 2 * coalesce(sm.shared_min, 0)))
        |  // (ta.t + tb.t) AS BIGINT) AS distance_ppm
        |FROM tot ta JOIN tot tb ON ta.source < tb.source
        |LEFT JOIN sm ON sm.group_a = ta.source AND sm.group_b = tb.source""".stripMargin),

    // ---- largest-remainder apportionment of a 10k-token budget across
    // sources, proportional to their token mass: Σ alloc = budget exactly.
    QueryCase("q166_token_apportion", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("tokens"))
        .groupBy(col("source")).agg(sum(col("tokens")).as("tokens"))
      Sampling.apportion(counts, "source", "tokens", budget = 10000L)
        .select(col("source"), col("tokens"), col("alloc"))
    },
      // q166: Hamilton apportionment replayed — floor + largest-remainder
      // top-up, ties to the smaller source; all integer.
      """WITH c AS (
        | SELECT source, CAST(sum(len(regexp_extract_all(text,
        |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens
        | FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM c),
        |b AS (
        | SELECT source, tokens,
        |  CAST((10000 * tokens) // tot AS BIGINT) AS fl,
        |  CAST((10000 * tokens) % tot AS BIGINT) AS rem
        | FROM c, t),
        |d AS (SELECT CAST(10000 - sum(fl) AS BIGINT) AS deficit FROM b),
        |r AS (
        | SELECT source, tokens, fl,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rk
        | FROM b)
        |SELECT r.source, r.tokens,
        | CAST(r.fl + CASE WHEN r.rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
        |  AS alloc
        |FROM r, d""".stripMargin),

    // ---- the selection step consuming q166's allocations: per source,
    // take docs by (n_chars desc, md5) until the running token total
    // passes the source's budget (boundary row included). ----------------
    QueryCase("q167_budget_fill", (s, dir) => {
      val docs = t(s, dir, "documents")
      val counts = docs
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("tokens"))
        .groupBy(col("source")).agg(sum(col("tokens")).as("tokens"))
      val budgets = Sampling.apportion(counts, "source", "tokens", budget = 10000L)
      val d = docs.select(col("source"), col("doc_id"), col("n_chars"),
        TextFunctions.tokenCount(col("text")).as("tok"))
      Sampling.budgetFill(d, "source", "doc_id", "n_chars", "tok",
          budgets, "source", "alloc")
        .select(col("source"), col("doc_id"), col("n_chars"), col("tok"),
          col("cum_weight"))
    },
      // q167: q166's budgets feed a per-source running-sum cutoff; the
      // boundary row (cum − tok < alloc ≤ cum) is included. The full
      // (n_chars DESC, md5, doc_id) order is unique, so RANGE ≡ ROWS.
      """WITH c AS (
        | SELECT source, CAST(sum(len(regexp_extract_all(text,
        |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens
        | FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM c),
        |b AS (
        | SELECT source, tokens,
        |  CAST((10000 * tokens) // tot AS BIGINT) AS fl,
        |  CAST((10000 * tokens) % tot AS BIGINT) AS rem
        | FROM c, t),
        |d AS (SELECT CAST(10000 - sum(fl) AS BIGINT) AS deficit FROM b),
        |alloc AS (
        | SELECT source,
        |  CAST(fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
        |   <= (SELECT deficit FROM d) THEN 1 ELSE 0 END AS BIGINT) AS alloc
        | FROM b),
        |doc AS (
        | SELECT source, doc_id, n_chars,
        |  CAST(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok
        | FROM documents),
        |w AS (
        | SELECT doc.source, doc.doc_id, doc.n_chars, doc.tok, alloc.alloc,
        |  CAST(sum(doc.tok) OVER (PARTITION BY doc.source
        |   ORDER BY doc.n_chars DESC, md5(CAST(doc.doc_id AS VARCHAR)), doc.doc_id)
        |   AS BIGINT) AS cum
        | FROM doc JOIN alloc ON doc.source = alloc.source)
        |SELECT source, doc_id, n_chars, tok, cum AS cum_weight
        |FROM w WHERE cum - tok < alloc""".stripMargin),

    // ---- quantile normalization: per-returnflag price distributions
    // mapped onto the global one — exact integer ranks both sides, the
    // cross-source batch-effect remover. ---------------------------------
    QueryCase("q169_quantile_norm", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 100 + col("l_linenumber")).as("tid"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Normalize.quantileNormalize(li, Seq("l_returnflag"), "cents", "tid")
        .select(col("tid"), col("l_returnflag"), col("cents"),
          col("pr_ppm"), col("q_norm"))
    },
      // q169: exact-ppm percent rank per flag; global index via
      // row_number−1 over (cents, tid); lower-interpolation mapping is the
      // same integer floor both sides.
      """WITH b AS (SELECT l_orderkey * 100 + l_linenumber AS tid, l_returnflag,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
        |r AS (SELECT tid, l_returnflag, cents,
        |  rank() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rk,
        |  count(*) OVER (PARTITION BY l_returnflag) AS gn FROM b),
        |p AS (SELECT tid, l_returnflag, cents,
        |  CAST(CASE WHEN gn = 1 THEN 0
        |   ELSE (1000000 * (rk - 1)) // (gn - 1) END AS BIGINT) AS pr_ppm FROM r),
        |g AS (SELECT cents AS gv,
        |  row_number() OVER (ORDER BY cents, tid) - 1 AS gidx FROM b)
        |SELECT p.tid, p.l_returnflag, p.cents, p.pr_ppm, g.gv AS q_norm
        |FROM p CROSS JOIN nn
        |JOIN g ON g.gidx = (p.pr_ppm * (nn.n - 1)) // 1000000""".stripMargin),

    // ---- tokenizer-budget coverage curve: corpus token share of the
    // top-2^k terms — the rank window runs over VOCABULARY-sized data. ---
    QueryCase("q170_coverage_curve", (s, dir) =>
      Ngrams.coverageCurve(t(s, dir, "documents")),
      // q170: q47's tokenization; rank/cumsum windows run over the
      // vocabulary, not the corpus; ppm floor in BIGINT.
      """WITH tok AS (
        | SELECT unnest(list_filter(
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |  w -> len(w) > 0)) AS word
        | FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY word),
        |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rk,
        |  sum(n) OVER (ORDER BY n DESC, word ROWS UNBOUNDED PRECEDING) AS cum FROM c),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
        |s AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS vocab_size)
        |SELECT CAST(s.vocab_size AS BIGINT) AS vocab_size,
        | CAST(max(r.rk) AS BIGINT) AS n_terms,
        | CAST(max(r.cum) AS BIGINT) AS covered_tokens,
        | CAST((1000000 * max(r.cum)) // t.tot AS BIGINT) AS coverage_ppm
        |FROM r JOIN s ON r.rk <= s.vocab_size CROSS JOIN t
        |GROUP BY s.vocab_size, t.tot""".stripMargin),

    // ---- Heaps-law vocabulary growth: distinct terms after the first N
    // stream tokens — global index via denseIds, no corpus-wide window. --
    QueryCase("q174_vocab_growth", (s, dir) =>
      Ngrams.vocabGrowth(t(s, dir, "documents")),
      // q174: q47's tokenization with 1-based subscripts — stream order
      // (doc_id, pos) matches Spark's (doc_id·1e6 + pos) composite; LEFT
      // JOIN keeps checkpoints past the corpus end.
      """WITH w AS (SELECT doc_id, list_filter(
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |  x -> len(x) > 0) AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS word,
        |  generate_subscripts(ws, 1) AS pos FROM w),
        |g AS (SELECT word, row_number() OVER (ORDER BY doc_id, pos) - 1 AS gidx
        | FROM tok),
        |f AS (SELECT word, min(gidx) AS fidx FROM g GROUP BY word),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM g),
        |s AS (SELECT CAST(unnest([1000, 2000, 4000, 8000, 16000, 32000, 64000])
        |  AS BIGINT) AS requested_n)
        |SELECT s.requested_n,
        | CAST(least(s.requested_n, t.tot) AS BIGINT) AS n_tokens,
        | CAST(count(f.word) AS BIGINT) AS vocab_size
        |FROM s CROSS JOIN t LEFT JOIN f ON f.fidx < s.requested_n
        |GROUP BY 1, 2""".stripMargin),

    // ---- crawl-snapshot novelty accounting: per day, rows whose payload
    // first appeared that day vs re-sent content — digest-only shuffles. -
    QueryCase("q175_novelty_by_period", (s, dir) =>
      Dedup.noveltyByPeriod(
        t(s, dir, "events").select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("props")),
        "day", "props"),
      // q175: grouping by the payload itself ≡ grouping by its digest
      // (md5 is a pure relabeling); first-period via min.
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS period, props FROM events),
        |pp AS (SELECT period, props, CAST(count(*) AS BIGINT) AS n
        | FROM e GROUP BY 1, 2),
        |f AS (SELECT props, min(period) AS first_p FROM pp GROUP BY 1)
        |SELECT pp.period, CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN pp.period = f.first_p THEN n ELSE 0 END) AS BIGINT)
        |  AS novel_rows,
        | CAST(sum(CASE WHEN pp.period <> f.first_p THEN n ELSE 0 END) AS BIGINT)
        |  AS dup_rows,
        | CAST(count(CASE WHEN pp.period = f.first_p THEN 1 END) AS BIGINT)
        |  AS new_contents
        |FROM pp JOIN f USING (props) GROUP BY 1""".stripMargin),

    // ---- corpus-mix drift: pairwise source unigram L1 in exact ppm;
    // corpus-sized work is ONE token-count agg, distance runs on vocab. -
    QueryCase("q176_unigram_drift", (s, dir) =>
      Lexical.unigramDrift(t(s, dir, "documents")),
      // q176: per-source ppm distributions; shared-term join + unshared
      // mass from ppm totals — the Ta+Tb−2Σ identity generalized to L1.
      """WITH tok AS (SELECT source AS g, unnest(list_filter(
        |  string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |  x -> len(x) > 0)) AS word FROM documents),
        |c AS (SELECT g, word, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2),
        |w AS (SELECT g, word,
        |  (1000000 * n) // (sum(n) OVER (PARTITION BY g)) AS p FROM c),
        |t AS (SELECT g, CAST(sum(p) AS BIGINT) AS tp FROM w GROUP BY g),
        |sh AS (SELECT a.g AS g_a, b.g AS g_b,
        |  CAST(sum(abs(a.p - b.p)) AS BIGINT) AS l1s,
        |  CAST(sum(a.p) AS BIGINT) AS sa, CAST(sum(b.p) AS BIGINT) AS sb,
        |  CAST(count(*) AS BIGINT) AS n_shared_terms
        | FROM w a JOIN w b ON a.word = b.word AND a.g < b.g GROUP BY 1, 2),
        |pr AS (SELECT ta.g AS g_a, tb.g AS g_b, ta.tp AS tpa, tb.tp AS tpb
        | FROM t ta, t tb WHERE ta.g < tb.g)
        |SELECT pr.g_a, pr.g_b,
        | CAST(coalesce(sh.l1s, 0) + (pr.tpa - coalesce(sh.sa, 0))
        |  + (pr.tpb - coalesce(sh.sb, 0)) AS BIGINT) AS l1_ppm,
        | CAST(coalesce(sh.n_shared_terms, 0) AS BIGINT) AS n_shared_terms
        |FROM pr LEFT JOIN sh ON pr.g_a = sh.g_a AND pr.g_b = sh.g_b""".stripMargin),

    // ---- temperature-1/2 source rebalance: √-damped token weights into
    // an exact largest-remainder split — Σ alloc = 10000 always. --------
    QueryCase("q177_temperature_mix", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("source"), TextFunctions.tokenCount(col("text")).as("tokens"))
        .groupBy(col("source")).agg(sum(col("tokens")).as("tokens"))
      Sampling.temperatureHalfApportion(counts, "source", "tokens", budget = 10000L)
    },
      // q177: q166's Hamilton split over floor(sqrt(tokens)) — IEEE sqrt is
      // correctly rounded, so the damped weights agree exactly.
      """WITH c AS (
        | SELECT source, CAST(sum(len(regexp_extract_all(text,
        |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS tokens
        | FROM documents GROUP BY source),
        |s AS (SELECT source, tokens,
        |  CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS sw FROM c),
        |t AS (SELECT CAST(sum(sw) AS BIGINT) AS tot FROM s),
        |b AS (SELECT source, tokens, sw,
        |  CAST((10000 * sw) // tot AS BIGINT) AS fl,
        |  CAST((10000 * sw) % tot AS BIGINT) AS rem FROM s, t),
        |d AS (SELECT CAST(10000 - sum(fl) AS BIGINT) AS deficit FROM b),
        |r AS (SELECT source, tokens, sw, fl,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
        |SELECT r.source, r.tokens, r.sw AS sqrt_weight,
        | CAST(r.fl + CASE WHEN r.rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
        |  AS alloc
        |FROM r, d""".stripMargin),

    // ---- intra-doc sentence repetition: deterministic 5-word sentence
    // segmentation (period every 5 words), dedup-if-cleaned counts. ------
    QueryCase("q180_sentence_dup", (s, dir) =>
      Lexical.sentenceDupProfile(
        t(s, dir, "documents").select(col("doc_id"),
          regexp_replace(col("text"),
            "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. ").as("text"))),
      // q180: the same every-5-words segmentation (backreference \1 ≡
      // Spark's $1; left-to-right non-overlapping in both regex engines),
      // then trim/blank-drop/distinct counts.
      """WITH seg AS (SELECT doc_id, list_filter(list_transform(
        |  string_split_regex(regexp_replace(text,
        |   '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g'), '[.!?]+'),
        |  s -> trim(s)), s -> s <> '') AS ss FROM documents)
        |SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sentences,
        | CAST(len(list_distinct(ss)) AS BIGINT) AS n_distinct,
        | CAST(len(ss) - len(list_distinct(ss)) AS BIGINT) AS n_dup,
        | CAST(CASE WHEN len(ss) = 0 THEN 0
        |  ELSE (1000000 * (len(ss) - len(list_distinct(ss)))) // len(ss)
        |  END AS BIGINT) AS dup_ppm
        |FROM seg""".stripMargin),

    // ---- vocabulary-subset pairs (containment = 1.0): the asymmetric
    // quote/subset detector at its exact-subset point — prefix length 1
    // (each doc's rarest token), directional prefix×full candidates. -----
    QueryCase("q184_containment", (s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents").where(col("doc_id") % 5 === 0),
        thresholdPpm = 1000000L),
      // q184: brute-force containment over the same sliced doc set — sound
      // as an oracle because the slice is small; the Spark side must find
      // exactly these pairs through the directional prefix filter.
      """WITH tok AS (SELECT doc_id,
        |  list_sort(list_distinct(list_filter(
        |   string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0))) AS s
        | FROM documents WHERE doc_id % 5 = 0),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(a.s) AS n_a, len(b.s) AS n_b, len(list_intersect(a.s, b.s)) AS nc
        | FROM tok a, tok b WHERE a.doc_id <> b.doc_id)
        |SELECT a_id, b_id, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(nc AS BIGINT) AS n_common,
        | CAST((1000000 * nc) // n_a AS BIGINT) AS containment_ppm
        |FROM p WHERE nc * 1000000 >= 1000000 * n_a""".stripMargin),

    // ---- sentence-aligned chunking (q180's segmentation, 20-word
    // budget): sentences never split; chunk id is a closed-form function
    // of the prefix word counts — no sequential fold. --------------------
    QueryCase("q194_sentence_chunks", (s, dir) =>
      Chunking.bySentences(
        t(s, dir, "documents").select(col("doc_id"),
          regexp_replace(col("text"),
            "(\\w+ \\w+ \\w+ \\w+ \\w+) ", "$1. ").as("text")),
        budget = 20),
      // q194: q180's segmentation; exclusive prefix word counts via
      // list_slice sums; ordered re-assembly via string_agg ORDER BY pos.
      """WITH seg AS (SELECT doc_id, list_filter(list_transform(
        |  string_split_regex(regexp_replace(text,
        |   '(\w+ \w+ \w+ \w+ \w+) ', '\1. ', 'g'), '[.!?]+'),
        |  s -> trim(s)), s -> s <> '') AS ss FROM documents),
        |wc AS (SELECT doc_id, ss, list_transform(ss,
        |  s -> CAST(len(list_filter(string_split_regex(trim(lower(s)), '\s+'),
        |   w -> len(w) > 0)) AS BIGINT)) AS wcs
        | FROM seg WHERE len(ss) > 0),
        |ex AS (SELECT doc_id, unnest(ss) AS sent,
        |  generate_subscripts(ss, 1) AS pos, wcs FROM wc),
        |pre AS (SELECT doc_id, sent, pos,
        |  CAST(coalesce(list_sum(list_slice(wcs, 1, pos - 1)), 0) AS BIGINT) AS p
        | FROM ex),
        |ch AS (SELECT doc_id, CAST(p // 20 AS BIGINT) AS chunk_id, sent, pos
        | FROM pre),
        |g AS (SELECT doc_id, chunk_id,
        |  string_agg(sent, '. ' ORDER BY pos) AS chunk,
        |  CAST(count(*) AS BIGINT) AS n_sentences
        | FROM ch GROUP BY 1, 2)
        |SELECT doc_id, chunk_id, chunk, n_sentences,
        | CAST(len(list_filter(string_split_regex(trim(lower(chunk)), '\s+'),
        |  w -> len(w) > 0)) AS BIGINT) AS n_words
        |FROM g""".stripMargin),

    // ---- Cohen's kappa per source between the recorded lang and a
    // second deterministic rater (disagrees on every 4th doc): the
    // annotator-agreement audit, integer-exact with the truncate-
    // toward-zero convention for negative kappa. -------------------------
    QueryCase("q196_kappa", (s, dir) =>
      Eval.cohensKappa(
        t(s, dir, "documents").select(col("source"), col("lang"),
          when(col("doc_id") % 4 === 0,
            element_at(
              map(lit("en"), lit("de"), lit("de"), lit("es"), lit("es"),
                lit("fr"), lit("fr"), lit("zh"), lit("zh"), lit("en")),
              col("lang")))
            .otherwise(col("lang")).as("rater_b")),
        "source", "lang", "rater_b"),
      // q196: agreement + marginal-product sufficient statistics; kappa as
      // a ratio of integers, truncated toward zero (sign split so // on
      // non-negatives matches Spark's div).
      """WITH r AS (SELECT * FROM (SELECT source AS g, lang AS a,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |   CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
        |    WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' WHEN 'zh' THEN 'en' END
        |  ELSE lang END AS b FROM documents)
        | WHERE a IS NOT NULL AND b IS NOT NULL),
        |base AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN a = b THEN 1 END) AS BIGINT) AS n_agree
        | FROM r GROUP BY g),
        |ma AS (SELECT g, a AS lbl, CAST(count(*) AS BIGINT) AS na
        | FROM r GROUP BY 1, 2),
        |mb AS (SELECT g, b AS lbl, CAST(count(*) AS BIGINT) AS nb
        | FROM r GROUP BY 1, 2),
        |pe AS (SELECT g, CAST(sum(na * nb) AS BIGINT) AS pen
        | FROM ma JOIN mb USING (g, lbl) GROUP BY g)
        |SELECT base.g AS source, base.n, base.n_agree,
        | CASE WHEN base.n * base.n - pe.pen <> 0 THEN
        |  CASE WHEN base.n * base.n_agree >= pe.pen
        |   THEN CAST((1000000 * (base.n * base.n_agree - pe.pen))
        |    // (base.n * base.n - pe.pen) AS BIGINT)
        |   ELSE -CAST((1000000 * (pe.pen - base.n * base.n_agree))
        |    // (base.n * base.n - pe.pen) AS BIGINT)
        |  END END AS kappa_ppm
        |FROM base JOIN pe USING (g)""".stripMargin),

    // ---- per-class precision/recall/F1 of the q196 noisy rater against
    // the recorded lang: F1 fraction-free via 2·tp/(n_pred+n_gold). ------
    QueryCase("q205_class_prf", (s, dir) =>
      Eval.classPrf(
        t(s, dir, "documents").select(col("lang"),
          when(col("doc_id") % 4 === 0,
            element_at(
              map(lit("en"), lit("de"), lit("de"), lit("es"), lit("es"),
                lit("fr"), lit("fr"), lit("zh"), lit("zh"), lit("en")),
              col("lang")))
            .otherwise(col("lang")).as("rater_b")),
        "lang", "rater_b"),
      // q205: three class-count aggregations outer-joined; F1 by the
      // fraction-free 2·tp/(n_pred+n_gold) identity.
      """WITH r AS (SELECT * FROM (SELECT lang AS g,
        |  CASE WHEN doc_id % 4 = 0 THEN
        |   CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'es'
        |    WHEN 'es' THEN 'fr' WHEN 'fr' THEN 'zh' WHEN 'zh' THEN 'en' END
        |  ELSE lang END AS p
        | FROM documents) WHERE g IS NOT NULL AND p IS NOT NULL),
        |tp AS (SELECT g AS label, CAST(count(*) AS BIGINT) AS tp
        | FROM r WHERE g = p GROUP BY 1),
        |gold AS (SELECT g AS label, CAST(count(*) AS BIGINT) AS n_gold
        | FROM r GROUP BY 1),
        |pred AS (SELECT p AS label, CAST(count(*) AS BIGINT) AS n_pred
        | FROM r GROUP BY 1)
        |SELECT label,
        | CAST(coalesce(gold.n_gold, 0) AS BIGINT) AS n_gold,
        | CAST(coalesce(pred.n_pred, 0) AS BIGINT) AS n_pred,
        | CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
        | CASE WHEN coalesce(pred.n_pred, 0) > 0
        |  THEN CAST((1000000 * coalesce(tp.tp, 0)) // pred.n_pred AS BIGINT)
        | END AS precision_ppm,
        | CASE WHEN coalesce(gold.n_gold, 0) > 0
        |  THEN CAST((1000000 * coalesce(tp.tp, 0)) // gold.n_gold AS BIGINT)
        | END AS recall_ppm,
        | CAST((2000000 * coalesce(tp.tp, 0))
        |  // (coalesce(pred.n_pred, 0) + coalesce(gold.n_gold, 0)) AS BIGINT)
        |  AS f1_ppm
        |FROM gold FULL OUTER JOIN pred USING (label)
        | LEFT JOIN tp USING (label)""".stripMargin),

    // ---- tokenizer fertility by language: tokens/word and chars/token
    // ppm per lang bucket — vocab-allocation planning signal. Map-side
    // counts (no explode) + one tiny hash agg. --------------------------
    QueryCase("q207_token_fertility", (s, dir) =>
      Lexical.tokenFertility(t(s, dir, "documents")),
      // q207: fertility ratios over the shared tokenizers — words =
      // whitespace split, tokens = the BPE-ish pre-tokenizer regex.
      """WITH d AS (SELECT lang,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0)) AS w,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS t,
        |  length(text) AS c
        | FROM documents)
        |SELECT lang,
        | CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(w) AS BIGINT) AS n_words,
        | CAST(sum(t) AS BIGINT) AS n_tokens,
        | CAST(sum(c) AS BIGINT) AS n_chars,
        | CASE WHEN sum(w) = 0 THEN 0
        |  ELSE CAST((1000000 * sum(t)) // sum(w) AS BIGINT) END AS fertility_ppm,
        | CASE WHEN sum(t) = 0 THEN 0
        |  ELSE CAST((1000000 * sum(c)) // sum(t) AS BIGINT) END AS chars_per_token_ppm
        |FROM d
        |GROUP BY lang""".stripMargin),

    // ---- per-language Spearman rank correlation between text length and
    // token count: tie-broken integer ranks, exact Σd² suff-stats, floor
    // ppm ρ — two per-lang rank windows + one narrow agg. ----------------
    QueryCase("q210_spearman", (s, dir) =>
      Trend.spearman(t(s, dir, "documents"), Seq("lang"),
        length(col("text")), TextFunctions.tokenCount(col("text")), col("doc_id")),
      // q210: identical tie-broken ranks; DuckDB's integer // truncates
      // toward zero exactly like Spark's div (measured r8: (-5)//3 = -1),
      // so the plain quotient matches even for negative rho.
      """WITH r AS (
        | SELECT lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY length(text), doc_id) AS rx,
        |  row_number() OVER (PARTITION BY lang
        |   ORDER BY len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')), doc_id) AS ry
        | FROM documents),
        |s AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
        | FROM r GROUP BY 1)
        |SELECT lang, n, sum_d2,
        | CAST(n * (n * n - 1) - 6 * sum_d2 AS BIGINT) AS rho_num,
        | CAST(n * (n * n - 1) AS BIGINT) AS rho_den,
        | CASE WHEN n < 2 THEN NULL
        |  ELSE CAST((1000000 * (n * (n * n - 1) - 6 * sum_d2)) // (n * (n * n - 1)) AS BIGINT)
        | END AS rho_ppm
        |FROM s""".stripMargin),

    // ---- transposition-aware fuzzy linkage: blocked customer-name pairs
    // within unrestricted Damerau–Levenshtein ≤ 1 — the native kernel
    // charges digit swaps 1 where levenshtein says 2, so this output
    // provably differs from any levenshtein filter (sf0.01: 675
    // transposition-only pairs). Blocked equi-join (prefix key), codegen
    // verify, never all-pairs. ------------------------------------------
    QueryCase("q211_damerau_pairs", (s, dir) =>
      FuzzyJoin.selfPairs(t(s, dir, "customer"), "c_custkey", "c_name",
        substring(col("c_name"), 1, 16), maxDist = 1,
        metric = TextFunctions.damerau(_, _))
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("dist")),
      // q211: DuckDB's damerau_levenshtein is the same unrestricted
      // (Lowrance–Wagner) variant as the native kernel — verified on the
      // OSA-distinguishing case ca→abc = 2.
      """WITH c AS (
        | SELECT CAST(c_custkey AS BIGINT) AS id, c_name AS name,
        |  substr(c_name, 1, 16) AS blk
        | FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        | CAST(damerau_levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM c a JOIN c b
        | ON a.blk = b.blk AND a.id < b.id
        | AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE damerau_levenshtein(a.name, b.name) <= 1""".stripMargin),

    // ---- Jaro–Winkler linkage: blocked supplier-name pairs at sim ≥
    // 0.88 — native kernel bit-identical to the oracle engine's, so the
    // double survives the hash compare. ---------------------------------
    QueryCase("q212_jaro_winkler", (s, dir) =>
      FuzzyJoin.similarityPairs(t(s, dir, "supplier"), "s_suppkey", "s_name",
        substring(col("s_name"), 1, 15), minSim = 0.88,
        sim = TextFunctions.jaroWinkler(_, _))
        .select(col("a_id").cast("long").as("a_id"),
          col("b_id").cast("long").as("b_id"), col("sim")),
      // q212: the kernel replays DuckDB's parameters (window ⌊max/2⌋−1,
      // boost 0.1·ℓ≤4 above 0.7) in the same operation order — doubles
      // compare bit-equal.
      """WITH s AS (
        | SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS name,
        |  substr(s_name, 1, 15) AS blk
        | FROM supplier)
        |SELECT a.id AS a_id, b.id AS b_id,
        | jaro_winkler_similarity(a.name, b.name) AS sim
        |FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
        |WHERE jaro_winkler_similarity(a.name, b.name) >= 0.88""".stripMargin),

    // ---- Flesch reading-ease per document from exact integer counts
    // (vowel-run syllables); map-only column math. ----------------------
    QueryCase("q217_readability", (s, dir) =>
      Lexical.readability(t(s, dir, "documents")),
      // q217: two-strip vowel-run counting; the Flesch arithmetic is
      // spelled in the Spark side's exact operation order.
      """WITH d AS (
        | SELECT doc_id,
        |  CAST(coalesce(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |    x -> len(x) > 0)), 0) AS BIGINT) AS w,
        |  CAST(coalesce(len(list_filter(
        |    regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
        |    s -> regexp_matches(s, '\S'))), 0) AS BIGINT) AS sent,
        |  CAST(length(regexp_replace(lower(coalesce(text, '')), '[aeiouy]+', '#', 'g'))
        |   - length(regexp_replace(lower(coalesce(text, '')), '[aeiouy]+', '', 'g')) AS BIGINT) AS y
        | FROM documents)
        |SELECT doc_id, w AS n_words, sent AS n_sentences, y AS n_syllables,
        | CASE WHEN sent = 0 OR w = 0 THEN NULL
        |  ELSE CAST(floor(1000.0 * (206.835
        |   - 1.015 * (CAST(w AS DOUBLE) / CAST(sent AS DOUBLE))
        |   - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))) AS BIGINT)
        | END AS flesch_milli
        |FROM d""".stripMargin),

    // ---- hapax legomena share per language: type/token counts and the
    // once-seen vocabulary share — corpus-maturity screen. --------------
    QueryCase("q225_hapax", (s, dir) =>
      Lexical.hapax(t(s, dir, "documents")),
      // q225: the q122 tokenizer, rolled up to the type-frequency spectrum
      // endpoint.
      """WITH tok AS (
        | SELECT lang,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT lang, unnest(w) AS word FROM tok),
        |c AS (SELECT lang, word, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT lang,
        | CAST(count(*) AS BIGINT) AS n_types,
        | CAST(sum(n) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        | CAST((1000000 * sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
        |  AS hapax_ppm
        |FROM c GROUP BY 1""".stripMargin),

    // ---- pairwise vocabulary Jaccard between sources: the lexical Venn
    // q148's verbatim 16-word blocks can't see; vocabulary-sized
    // shuffles only. ----------------------------------------------------
    QueryCase("q231_vocab_jaccard", (s, dir) =>
      Lexical.vocabJaccard(t(s, dir, "documents")),
      // q231: the q122 tokenizer feeding a distinct vocabulary, word-keyed
      // pair intersection, broadcast sizes.
      """WITH v AS (
        | SELECT DISTINCT source AS g,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |   w -> len(w) > 0)) AS word
        | FROM documents),
        |s AS (SELECT g, count(*) AS n FROM v GROUP BY 1),
        |c AS (
        | SELECT a.g AS g_a, b.g AS g_b, count(*) AS n_common
        | FROM v a JOIN v b ON a.word = b.word AND a.g < b.g GROUP BY 1, 2)
        |SELECT g_a, g_b, CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        | CAST(n_common AS BIGINT) AS n_common,
        | CAST((1000000 * n_common) // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_ppm,
        | CAST((1000000 * n_common) // least(sa.n, sb.n) AS BIGINT) AS overlap_ppm,
        | CAST((1000000 * n_common) // sa.n AS BIGINT) AS a_in_b_ppm,
        | CAST((1000000 * n_common) // sb.n AS BIGINT) AS b_in_a_ppm
        |FROM c JOIN s sa ON sa.g = c.g_a JOIN s sb ON sb.g = c.g_b""".stripMargin),

    // ---- one-row dataset card: the release headline numbers, all
    // exact-integer; corpus collapses to fingerprint-distinct rows
    // before the multi-distinct Expand. ---------------------------------
    QueryCase("q237_dataset_card", (s, dir) =>
      Audit.datasetCard(t(s, dir, "documents")),
      // q237: md5 hex agrees across engines (q12 precedent); the q207
      // tokenizer; distincts over the same normalized fields.
      """WITH d AS (
        | SELECT lang, source, md5(trim(lower(coalesce(text, '')))) AS fp,
        |  CAST(coalesce(length(coalesce(text, '')), 0) AS BIGINT) AS c,
        |  CAST(coalesce(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'),
        |   x -> len(x) > 0)), 0) AS BIGINT) AS w,
        |  CAST(len(regexp_extract_all(coalesce(text, ''),
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS t
        | FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
        | CAST(sum(c) AS BIGINT) AS total_chars,
        | CAST(sum(w) AS BIGINT) AS total_words,
        | CAST(sum(t) AS BIGINT) AS total_tokens,
        | CAST((1000000 * (count(*) - count(DISTINCT fp))) // count(*) AS BIGINT) AS dup_ppm,
        | CAST((1000 * sum(w)) // count(*) AS BIGINT) AS mean_words_milli,
        | CASE WHEN sum(w) = 0 THEN 0
        |  ELSE CAST((1000000 * sum(t)) // sum(w) AS BIGINT) END AS fertility_ppm
        |FROM d""".stripMargin),

    // ---- language-ID confusion matrix vs the recorded label: where the
    // classifier is wrong, not just what it guessed (q14). --------------
    QueryCase("q241_lang_confusion", (s, dir) =>
      Lexical.langConfusion(spread(t(s, dir, "documents"))),
      // q241: the q14 lang-ID oracle as a CTE, crossed with the recorded
      // label; shares over a labels-bounded total.
      s"""WITH g AS ($langIdOracle),
         |cells AS (
         | SELECT d.lang, g.lang_guess, count(*) AS n
         | FROM documents d JOIN g ON d.doc_id = g.doc_id GROUP BY 1, 2),
         |t AS (SELECT lang, sum(n) AS tot FROM cells GROUP BY 1)
         |SELECT c.lang, c.lang_guess, CAST(c.n AS BIGINT) AS n,
         | CAST((1000000 * c.n) // t.tot AS BIGINT) AS share_ppm
         |FROM cells c JOIN t USING (lang)""".stripMargin),

    // ---- rarity-ranked keywords: each doc's 3 rarest terms by global
    // df (df order = idf order, no float log) — tf-idf's integer-exact
    // cousin for routing and clustering seeds. --------------------------
    QueryCase("q245_rarest_terms", (s, dir) =>
      Lexical.rarestTerms(t(s, dir, "documents"), k = 3),
      // q245: identical (df, term) rarity order per doc.
      """WITH t AS (
        | SELECT DISTINCT doc_id,
        |  unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |   w -> len(w) > 0)) AS term
        | FROM documents),
        |d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |r AS (
        | SELECT t.doc_id, t.term, d.df,
        |  row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.term) AS rank
        | FROM t JOIN d USING (term))
        |SELECT doc_id, term, CAST(df AS BIGINT) AS df, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3""".stripMargin),

    // ---- token-sort duplicate keys over part names ("red widget" ≡
    // "widget red"): the zero-cost ER pass before any edit-distance
    // join; groups collect ids as a portable sorted string. -------------
    QueryCase("q246_token_sort_dups", (s, dir) =>
      Lexical.tokenSortDups(t(s, dir, "part"), "p_partkey", "p_name"),
      // q246: identical sorted-distinct-token fingerprints and sorted
      // member-id strings.
      """WITH f AS (
        | SELECT CAST(p_partkey AS BIGINT) AS id,
        |  array_to_string(list_sort(list_distinct(
        |   list_filter(string_split_regex(trim(lower(p_name)), '\s+'),
        |    w -> len(w) > 0))), ' ') AS fingerprint
        | FROM part),
        |g AS (
        | SELECT fingerprint, count(*) AS n_records,
        |  array_to_string(list_sort(list(id)), ',') AS ids
        | FROM f WHERE length(fingerprint) > 0 GROUP BY 1)
        |SELECT fingerprint, CAST(n_records AS BIGINT) AS n_records, ids
        |FROM g WHERE n_records >= 2""".stripMargin),

    // ---- bottom-k (KMV) sketch Jaccard between source vocabularies:
    // the fixed-memory estimate next to q231's exact matrix — md5
    // bottom-256 per source, union-rank per pair. ----------------------
    QueryCase("q260_bottomk_jaccard", (s, dir) =>
      Dedup.bottomKJaccard(
        t(s, dir, "documents")
          .select(col("source"),
            explode(split(lower(coalesce(col("text"), lit(""))), "\\s+")).as("tok"))
          .where(length(col("tok")) > 0),
        "source", col("tok"), k = 256),
      // q260: identical md5-prefix order (lowercase hex both engines), same
      // whitespace tokenizer, same union-rank estimator.
      """WITH e AS (
        | SELECT DISTINCT g, substring(md5(tok), 1, 16) AS h FROM (
        |  SELECT source AS g,
        |   unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents)),
        |sk AS (
        | SELECT g, h FROM (
        |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM e)
        | WHERE rn <= 256),
        |gs AS (SELECT DISTINCT g FROM sk),
        |p AS (SELECT a.g AS ga, b.g AS gb FROM gs a JOIN gs b ON a.g < b.g),
        |m AS (
        | SELECT ga, gb, h,
        |  max(CASE WHEN s.g = ga THEN 1 ELSE 0 END) AS ina,
        |  max(CASE WHEN s.g = gb THEN 1 ELSE 0 END) AS inb
        | FROM p JOIN sk s ON s.g = ga OR s.g = gb GROUP BY 1, 2, 3),
        |u AS (SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM m)
        |SELECT ga AS g_a, gb AS g_b, CAST(count(*) AS BIGINT) AS k_used,
        | CAST(sum(ina * inb) AS BIGINT) AS n_common,
        | CAST((1000000 * sum(ina * inb)) // count(*) AS BIGINT) AS jaccard_ppm
        |FROM u WHERE rn <= 256 GROUP BY 1, 2""".stripMargin),

    // ---- hashing-trick collision profile of the document vocabulary:
    // 256 md5-prefix buckets, bucket-load histogram. --------------------
    QueryCase("q265_hash_profile", (s, dir) =>
      Audit.hashBucketProfile(
        t(s, dir, "documents")
          .select(explode(split(lower(coalesce(col("text"), lit(""))), "\\s+")).as("tok"))
          .where(length(col("tok")) > 0),
        col("tok"), prefixLen = 2),
      // q265: same tokenizer, same md5-prefix buckets, counts only.
      """WITH v AS (
        | SELECT DISTINCT tok FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |   x -> len(x) > 0)) AS tok
        |  FROM documents)),
        |b AS (SELECT substring(md5(tok), 1, 2) AS bk, count(*) AS load FROM v GROUP BY 1)
        |SELECT CAST(load AS BIGINT) AS load, CAST(count(*) AS BIGINT) AS n_buckets,
        | CAST(load * count(*) AS BIGINT) AS n_values
        |FROM b GROUP BY load""".stripMargin),

    // ---- Unicode NFC hygiene audit per language: native normalizer
    // kernel, map-side flags into one group agg. ------------------------
    QueryCase("q268_nfc_audit", (s, dir) =>
      Lexical.unicodeAudit(t(s, dir, "documents"), Seq("lang"), col("text")),
      // q268: DuckDB nfc_normalize vs the native kernel — same NFC form.
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(CASE WHEN nfc_normalize(coalesce(text, '')) <> coalesce(text, '')
        |  THEN 1 END) AS BIGINT) AS n_non_nfc,
        | CAST(sum(length(coalesce(text, ''))
        |  - length(nfc_normalize(coalesce(text, '')))) AS BIGINT) AS char_delta,
        | CAST((1000000 * count(CASE WHEN nfc_normalize(coalesce(text, '')) <> coalesce(text, '')
        |  THEN 1 END)) // count(*) AS BIGINT) AS non_nfc_ppm
        |FROM documents GROUP BY lang""".stripMargin),

    // ---- phonetic blocking-key profile over part names: the native
    // separator-variant Soundex kernel; per code, block sizes that bound
    // the fuzzy-verify fan-in. ------------------------------------------
    QueryCase("q269_soundex", (s, dir) =>
      t(s, dir, "part")
        .select(TextFunctions.soundexSep(col("p_name")).as("sx"), col("p_name"))
        .groupBy(col("sx"))
        .agg(count(lit(1)).as("n_parts"),
          countDistinct(col("p_name")).as("n_distinct_names")),
    // q269: the separator-variant Soundex rebuilt in backreference-free
    // SQL — translate to digit classes, collapse runs by repeated
    // pair-replace (6 rounds collapse runs to 64), drop the first
    // collapsed digit, strip zeros, pad. Same variant as the kernel BY
    // CONSTRUCTION (h/w separate; see StringKernels.soundexSep).
    {
      // 6 rounds of replace('dd','d') per digit: each round halves run
      // lengths, so runs up to 2^6 collapse — far beyond any p_name.
      val collapsed = (1 to 6).foldLeft("m") { (acc, _) =>
        (0 to 6).foldLeft(acc)((a, d) => s"replace($a, '$d$d', '$d')")
      }
      s"""WITH b AS (
         | SELECT p_name,
         |  upper(regexp_replace(p_name, '[^A-Za-z]', '', 'g')) AS u
         | FROM part),
         |t AS (
         | SELECT p_name, u,
         |  translate(u, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
         |   '01230120022455012623010202') AS m
         | FROM b),
         |c AS (SELECT p_name, u, $collapsed AS mc FROM t),
         |sx AS (
         | SELECT p_name,
         |  CASE WHEN u = '' THEN ''
         |   ELSE substring(u, 1, 1) ||
         |    substring(replace(substring(mc, 2), '0', '') || '000', 1, 3)
         |  END AS sx
         | FROM c)
         |SELECT sx, CAST(count(*) AS BIGINT) AS n_parts,
         | CAST(count(DISTINCT p_name) AS BIGINT) AS n_distinct_names
         |FROM sx GROUP BY sx""".stripMargin
    }),

    // ---- Unicode script profile per language: explicit-range char
    // classes (the Java-regex/RE2-identical subset), mixed-script
    // routing-bug detector. ----------------------------------------------
    QueryCase("q272_script_profile", (s, dir) =>
      Lexical.scriptProfile(t(s, dir, "documents"), Seq("lang"), col("text")),
      // q272: identical explicit ranges; dominant by the same fixed
      // precedence (latin > cyrillic > greek > cjk > arabic > digit).
      """WITH s AS (
        | SELECT lang,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^A-Za-zÀ-ɏ]', '', 'g')) AS BIGINT) AS cl,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^Ѐ-ӿ]', '', 'g')) AS BIGINT) AS cc,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS cg,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^一-鿿぀-ヿ]', '', 'g')) AS BIGINT) AS cj,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^؀-ۿ]', '', 'g')) AS BIGINT) AS ca,
        |  CAST(length(regexp_replace(coalesce(text, ''), '[^0-9]', '', 'g')) AS BIGINT) AS cd
        | FROM documents),
        |a AS (
        | SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(cl) AS BIGINT) AS n_latin, CAST(sum(cc) AS BIGINT) AS n_cyrillic,
        |  CAST(sum(cg) AS BIGINT) AS n_greek, CAST(sum(cj) AS BIGINT) AS n_cjk,
        |  CAST(sum(ca) AS BIGINT) AS n_arabic, CAST(sum(cd) AS BIGINT) AS n_digit
        | FROM s GROUP BY 1)
        |SELECT *,
        | CASE WHEN greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit) = 0
        |   THEN 'none'
        |  WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit)
        |   THEN 'latin'
        |  WHEN n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit)
        |   THEN 'cyrillic'
        |  WHEN n_greek = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit)
        |   THEN 'greek'
        |  WHEN n_cjk = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit)
        |   THEN 'cjk'
        |  WHEN n_arabic = greatest(n_latin, n_cyrillic, n_greek, n_cjk, n_arabic, n_digit)
        |   THEN 'arabic'
        |  ELSE 'digit' END AS dominant
        |FROM a""".stripMargin),

    // ---- weighted Jaccard between source vocabularies over token
    // COUNTS (q231's set version, distribution-aware): common tokens
    // only, Σmax by identity. --------------------------------------------
    QueryCase("q275_weighted_jaccard", (s, dir) =>
      Lexical.weightedJaccard(
        t(s, dir, "documents")
          .select(col("source"),
            explode(split(lower(coalesce(col("text"), lit(""))), "\\s+")).as("tok"))
          .where(length(col("tok")) > 0),
        "source", col("tok")),
      // q275: same tokenizer; Σmax via the tot_a + tot_b − Σmin identity.
      """WITH w AS (
        | SELECT source AS g, tok, count(*) AS w FROM (
        |  SELECT source,
        |   unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents) GROUP BY 1, 2),
        |t AS (SELECT g, CAST(sum(w) AS BIGINT) AS tot FROM w GROUP BY 1),
        |m AS (
        | SELECT a.g AS g_a, b.g AS g_b, CAST(sum(least(a.w, b.w)) AS BIGINT) AS sum_min
        | FROM w a JOIN w b ON a.tok = b.tok AND a.g < b.g GROUP BY 1, 2)
        |SELECT g_a, g_b, ta.tot AS tot_a, tb.tot AS tot_b, sum_min,
        | CAST((1000000 * sum_min) // (ta.tot + tb.tot - sum_min) AS BIGINT)
        |  AS wjaccard_ppm
        |FROM m JOIN t ta ON ta.g = g_a JOIN t tb ON tb.g = g_b""".stripMargin),

    // ---- log template mining over synthesized event log lines: hex
    // then digit masking, per-template counts with deterministic
    // examples. ----------------------------------------------------------
    QueryCase("q276_log_templates", (s, dir) =>
      Lexical.logTemplates(
        t(s, dir, "events").select(
          concat(col("event_type"), lit(" user="), col("user_id"),
            lit(" took "), floor(col("value")).cast("long"), lit("ms"),
            lit(" props="), col("props")).as("msg")),
        col("msg")),
      // q276: same mask chain (hex-first so ids don't half-survive digit
      // masking), same deterministic min() example.
      """WITH msg AS (
        | SELECT event_type || ' user=' || user_id || ' took ' ||
        |  CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) || 'ms' ||
        |  ' props=' || props AS m
        | FROM events),
        |t AS (
        | SELECT regexp_replace(regexp_replace(m, '[0-9a-fA-F]{8,}', '<hex>', 'g'),
        |   '[0-9]+', '<n>', 'g') AS template, m
        | FROM msg)
        |SELECT template, CAST(count(*) AS BIGINT) AS n_msgs,
        | CAST(count(DISTINCT m) AS BIGINT) AS n_distinct_msgs,
        | min(m) AS example
        |FROM t GROUP BY 1""".stripMargin),

    // ---- stylometric cosine between sources over function-word
    // frequency vectors; pinned-double cosine last mile. ----------------
    QueryCase("q286_stylometry", (s, dir) =>
      Lexical.stylometricCosine(t(s, dir, "documents"), "source", col("text")),
      // q286: same tokenizer and function-word list; pinned-double cosine.
      """WITH c AS (
        | SELECT source AS g, tok, count(*) AS c FROM (
        |  SELECT source,
        |   unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents)
        | WHERE tok IN ('the','of','and','a','to','in','is','it','that','was',
        |  'for','on','with','as','but','at','by','from','or','an')
        | GROUP BY 1, 2),
        |n AS (SELECT g, CAST(sum(c * c) AS BIGINT) AS n2,
        |  CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
        |d AS (
        | SELECT a.g AS g_a, b.g AS g_b, CAST(sum(a.c * b.c) AS BIGINT) AS dot
        | FROM c a JOIN c b ON a.tok = b.tok AND a.g < b.g GROUP BY 1, 2)
        |SELECT g_a, g_b, na.tot AS fw_tokens_a, nb.tot AS fw_tokens_b, dot,
        | CAST(floor(1000000.0 * dot / (sqrt(na.n2) * sqrt(nb.n2))) AS BIGINT)
        |  AS cosine_ppm
        |FROM d JOIN n na ON na.g = g_a JOIN n nb ON nb.g = g_b""".stripMargin),

    // ---- daily vocabulary retention over document text: drops and
    // entries per day, source-change early warning. ---------------------
    QueryCase("q295_vocab_retention", (s, dir) =>
      Lexical.vocabRetention(
        t(s, dir, "documents")
          .select((col("doc_id") % 20).as("day"),
            explode(split(lower(coalesce(col("text"), lit(""))), "\\s+")).as("tok"))
          .where(length(col("tok")) > 0),
        col("day"), col("tok")),
      // q295: same day key and tokenizer; full-outer lag-1 vocab join.
      """WITH pt AS (
        | SELECT DISTINCT doc_id % 20 AS p, tok FROM (
        |  SELECT doc_id,
        |   unnest(list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents)),
        |pr AS (SELECT p + 1 AS period, tok, 1 AS in_prev FROM pt),
        |cu AS (SELECT p AS period, tok, 1 AS in_cur FROM pt),
        |j AS (SELECT period, in_prev, in_cur FROM pr FULL OUTER JOIN cu USING (period, tok))
        |SELECT CAST(period AS BIGINT) AS period,
        | CAST(count(CASE WHEN in_prev IS NOT NULL THEN 1 END) AS BIGINT) AS prev_vocab,
        | CAST(count(CASE WHEN in_prev IS NOT NULL AND in_cur IS NOT NULL THEN 1 END)
        |  AS BIGINT) AS retained,
        | CAST(count(CASE WHEN in_prev IS NOT NULL AND in_cur IS NULL THEN 1 END)
        |  AS BIGINT) AS dropped,
        | CAST(count(CASE WHEN in_prev IS NULL THEN 1 END) AS BIGINT) AS entered,
        | CAST((1000000 * count(CASE WHEN in_prev IS NOT NULL AND in_cur IS NOT NULL
        |  THEN 1 END)) // count(CASE WHEN in_prev IS NOT NULL THEN 1 END) AS BIGINT)
        |  AS retention_ppm
        |FROM j GROUP BY 1
        |HAVING count(CASE WHEN in_prev IS NOT NULL THEN 1 END) > 0""".stripMargin),

    // ---- natural-breaks banding of order totals: 6 classes at the 5
    // widest gaps between distinct cent values. --------------------------
    QueryCase("q296_gap_breaks", (s, dir) =>
      Normalize.naturalBreaks(
        t(s, dir, "orders").select(round(col("o_totalprice") * 100).cast("long").as("c")),
        col("c"), k = 6),
      // q296: distinct-value gaps, widest-5 boundaries, ties toward the
      // smaller value.
      """WITH v AS (
        | SELECT DISTINCT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rk FROM v),
        |g AS (
        | SELECT a.c AS lower_value, b.c AS upper_value, b.c - a.c AS gap
        | FROM r a JOIN r b ON b.rk = a.rk + 1),
        |top AS (SELECT * FROM g ORDER BY gap DESC, lower_value LIMIT 5)
        |SELECT CAST(row_number() OVER (ORDER BY lower_value) AS BIGINT)
        |  AS boundary_rank,
        | lower_value, upper_value, CAST(gap AS BIGINT) AS gap
        |FROM top""".stripMargin),

    // ---- intra-document half-overlap: does the back half restate the
    // front — map-side template detector. -------------------------------
    QueryCase("q297_half_overlap", (s, dir) =>
      Lexical.halfVocabOverlap(t(s, dir, "documents"), "doc_id", col("text")),
      // q297: identical word split, halves by floor-div, list set ops.
      """WITH w AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
        |   x -> len(x) > 0) AS ws
        | FROM documents),
        |h AS (
        | SELECT doc_id, len(ws) AS n,
        |  list_distinct(ws[1:len(ws) // 2]) AS v1,
        |  list_distinct(ws[len(ws) // 2 + 1:len(ws)]) AS v2
        | FROM w),
        |m AS (
        | SELECT doc_id, n, len(v1) AS vf, len(v2) AS vb,
        |  len(list_intersect(v1, v2)) AS inter
        | FROM h)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        | CAST(vf AS BIGINT) AS vocab_front, CAST(vb AS BIGINT) AS vocab_back,
        | CAST(inter AS BIGINT) AS n_common,
        | CASE WHEN vf + vb - inter = 0 THEN NULL
        |  ELSE CAST((1000000 * inter) // (vf + vb - inter) AS BIGINT)
        | END AS overlap_ppm
        |FROM m""".stripMargin),

    // ---- the corpus release gate: four named checks, one audit-trail
    // table — the composite the whole hygiene suite feeds. --------------
    QueryCase("q300_release_gate", (s, dir) =>
      Audit.releaseGate(t(s, dir, "documents"), col("text"), col("source")),
      // q300: md5-digest dup share, nfc_normalize flags, HHI — unioned.
      """WITH base AS (
        | SELECT coalesce(text, '') AS t, source FROM documents),
        |dup AS (
        | SELECT 'exact_dup_ppm' AS "check",
        |  CAST((1000000 * (count(*) - count(DISTINCT md5(t)))) // count(*) AS BIGINT)
        |   AS value, CAST(100000 AS BIGINT) AS threshold
        | FROM base),
        |fl AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN nfc_normalize(t) <> t THEN 1 END) AS BIGINT) AS nn,
        |  CAST(count(CASE WHEN length(t) = 0 THEN 1 END) AS BIGINT) AS e
        | FROM base),
        |f2 AS (
        | SELECT 'non_nfc_ppm' AS "check", CAST((1000000 * nn) // n AS BIGINT) AS value,
        |  CAST(1000 AS BIGINT) AS threshold FROM fl
        | UNION ALL
        | SELECT 'empty_doc_ppm', CAST((1000000 * e) // n AS BIGINT),
        |  CAST(1000 AS BIGINT) FROM fl),
        |hh AS (
        | SELECT 'source_hhi_ppm' AS "check",
        |  CAST((1000000 * sum(c * c)) // (sum(c) * sum(c)) AS BIGINT) AS value,
        |  CAST(500000 AS BIGINT) AS threshold
        | FROM (SELECT source, count(*) AS c FROM base GROUP BY 1))
        |SELECT "check", value, threshold, value <= threshold AS pass
        |FROM (SELECT * FROM dup UNION ALL SELECT * FROM f2
        |  UNION ALL SELECT * FROM hh)""".stripMargin),

    // ---- GPT-style concat-and-chunk sequence packing: the corpus laid
    // end-to-end in doc-id order, sliced every 256 tokens, documents
    // spanning boundaries — one global prefix sum then map-only
    // arithmetic, the zero-padding packing a pretraining run feeds on. --
    QueryCase("q317_concat_chunk", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      SequencePack.concatChunk(d, windowSize = 256)
    },
      // q317: the concatenated stream replayed with a window prefix sum;
      // each document fans out to the window range its token span crosses
      // (generate_series = Spark's sequence), span arithmetic identical.
      """WITH d AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n
        | FROM documents),
        |p AS (SELECT doc_id, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
        | FROM d WHERE n > 0),
        |x AS (SELECT doc_id, n, s,
        |  unnest(generate_series(s // 256, (s + n - 1) // 256)) AS w FROM p)
        |SELECT CAST(w AS BIGINT) AS window_id, doc_id,
        | CAST(greatest(w * 256, s) - w * 256 AS BIGINT) AS offset_in_window,
        | CAST(least((w + 1) * 256, s + n) - greatest(w * 256, s) AS BIGINT) AS n_in_window,
        | s >= w * 256 AS is_head, s + n <= (w + 1) * 256 AS is_tail
        |FROM x""".stripMargin),

    // ---- next-fit whole-document packing at capacity 1024 (max doc is
    // ~100 tokens at base scale and ~400 in the sf1 smoke's
    // tag-prefixed replicas, so the n ≤ C contract holds with headroom
    // at every scale the suite runs): exact sequential-greedy window
    // assignment computed via the jump-function orbit in
    // O(log #windows) pointer-doubling rounds — no sequential scan
    // anywhere; the oracle walks the same recurrence with a recursive
    // CTE. ---------------------------------------------------------------
    QueryCase("q318_pack_nextfit", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      SequencePack.nextFitWindows(d, capacity = 1024)
    },
      // q318: the jump function (max j with S_j ≤ S_i + 256) built by an
      // inequality join + max, then the window boundaries walked with a
      // recursive CTE — the sequential recurrence the operator's
      // pointer-doubling orbit computes without one. Assignment = the last
      // boundary strictly before each doc's cumulative position.
      """WITH RECURSIVE d AS (SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n
        | FROM documents),
        |p AS (SELECT doc_id, n,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rk,
        |  CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        | FROM d WHERE n > 0),
        |s0 AS (SELECT rk, cum FROM p
        | UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |j AS (SELECT t.rk AS i, CAST(max(b.rk) AS BIGINT) AS jmp
        | FROM s0 t JOIN s0 b ON b.cum <= t.cum + 1024 GROUP BY 1),
        |wb(b, w) AS (
        | SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
        | UNION ALL
        | SELECT j.jmp, wb.w + 1 FROM wb JOIN j ON j.i = wb.b WHERE j.jmp > wb.b),
        |bnd AS (SELECT wb.w, s0.cum AS bc FROM wb JOIN s0 ON s0.rk = wb.b)
        |SELECT p.doc_id,
        | CAST((SELECT max(bnd.w) FROM bnd WHERE bnd.bc < p.cum) AS BIGINT) AS window_id,
        | p.n AS n_tokens
        |FROM p""".stripMargin),

    // ---- Duffield priority sampling: 200 documents drawn ∝ token count
    // without replacement, each carrying the max(w, τ) estimator weight —
    // subsample the corpus AND keep unbiased token-mass estimates. The
    // uniform is the md5 contract, so the drawn set is a pure function of
    // the corpus and the oracle replays it row for row. ------------------
    QueryCase("q321_priority_sample", (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sampling.prioritySample(d, k = 200, weightCol = "n_tokens")
    },
    // q321: priorities replayed with the shared hex-prefix uniform (+1
    // keeps the divisor in [1, 2^32]), top-201 ordered identically, the
    // threshold as a scalar CASE over the (k+1) count, selection LIMIT k.
    {
      val u32 = hexPrefixOracle("md5(CAST(id AS VARCHAR))", 8)
      s"""WITH d AS (SELECT doc_id AS id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS weight
         | FROM documents),
         |p AS (SELECT id, weight,
         |  CAST((weight * 4294967296) // ($u32 + 1) AS BIGINT) AS priority
         | FROM d WHERE weight > 0),
         |top AS (SELECT * FROM p ORDER BY priority DESC, id ASC LIMIT 201),
         |tau AS (SELECT CASE WHEN count(*) = 201 THEN min(priority) ELSE CAST(0 AS BIGINT) END AS t
         | FROM top)
         |SELECT id, weight, priority,
         | greatest(weight, (SELECT t FROM tau)) AS est_weight
         |FROM (SELECT * FROM top ORDER BY priority DESC, id ASC LIMIT 200)""".stripMargin
    }),

    // ---- word2vec-style skip-gram co-occurrence: symmetric window-3
    // pair census over the corpus, minCount pruning the hapax tail at
    // the aggregation (map-only pair stream, vocabulary-sized shuffle).
    QueryCase("q322_skipgrams", (s, dir) =>
      Ngrams.skipGrams(t(s, dir, "documents"), window = 3, minCount = 5L),
      // q322/q323: the positional self-join |i-j| in [1, w] replays the
      // slice+zip_with symmetric window exactly (each ordered occurrence
      // once per direction).
      s"""WITH $TokenPosCte,
         |p AS (SELECT a.word AS center, b.word AS context
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id
         |       AND abs(b.pos - a.pos) BETWEEN 1 AND 3)
         |SELECT center, context, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),

    // ---- PPMI-monotone association lift in exact fixed point over the
    // window-2 skip-gram matrix: marginals from the FULL matrix,
    // reported pairs pruned at n >= 20. lift_e6 > 1e6 <=> PMI > 0.
    QueryCase("q323_skipgram_lift", (s, dir) =>
      Ngrams.skipGramLift(t(s, dir, "documents"), window = 2, minCount = 20L),
      s"""WITH $TokenPosCte,
         |p AS (SELECT a.word AS center, b.word AS context
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id
         |       AND abs(b.pos - a.pos) BETWEEN 1 AND 2),
         |co AS (SELECT center, context, count(*) AS n FROM p GROUP BY 1, 2),
         |r AS (SELECT center, sum(n) AS n_center FROM co GROUP BY 1),
         |c AS (SELECT context, sum(n) AS n_context FROM co GROUP BY 1),
         |tt AS (SELECT sum(n) AS n_total FROM co)
         |SELECT co.center, co.context, CAST(co.n AS BIGINT) AS n,
         | CAST((CAST(tt.n_total AS HUGEINT) * co.n * 1000000)
         |   // (CAST(r.n_center AS HUGEINT) * c.n_context) AS BIGINT) AS lift_e6
         |FROM co JOIN r USING (center) JOIN c USING (context), tt
         |WHERE co.n >= 20""".stripMargin),

    // ---- GloVe distance-weighted co-occurrence: window-3 pair census
    // where a pair d apart adds floor(1e6/d) — X_ij and the raw count in
    // one scan, all-integer. ---------------------------------------------
    QueryCase("q329_glove_cooc", (s, dir) =>
      Ngrams.gloveCooccurrence(t(s, dir, "documents"), window = 3, minCount = 5L),
      s"""WITH $TokenPosCte,
         |p AS (SELECT a.word AS center, b.word AS context,
         |  1000000 // abs(b.pos - a.pos) AS w
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id
         |       AND abs(b.pos - a.pos) BETWEEN 1 AND 3)
         |SELECT center, context, CAST(count(*) AS BIGINT) AS n,
         | CAST(sum(w) AS BIGINT) AS w_e6
         |FROM p GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin),

    // ---- KMV vocabulary resemblance: English vs non-English token sets,
    // bottom-256 union sketch vs the exact Jaccard beside it. --------------
    QueryCase("q337_kmv_vocab_jaccard", (s, dir) => {
      val d = t(s, dir, "documents")
      def words(f: DataFrame) =
        f.select(explode(Dedup.wordTokens(col("text"))).as("word"))
      Sketch.kmvJaccard(
        words(d.where(col("lang") === "en")),
        words(d.where(col("lang") =!= "en")), "word", k = 256)
    }, {
      val u = hexPrefixOracle("md5(word)", 8)
      def toks(where: String) =
        s"""SELECT DISTINCT $u AS u FROM (
           | SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
           |   w -> len(w) > 0)) AS word
           | FROM documents WHERE $where)""".stripMargin
      s"""WITH ta AS (${toks("lang = 'en'")}),
         |tb AS (${toks("lang <> 'en'")}),
         |un AS (SELECT u FROM ta UNION SELECT u FROM tb),
         |bottom AS (SELECT u FROM un ORDER BY u LIMIT 256),
         |sh AS (SELECT count(*) AS n_shared FROM bottom
         |       WHERE u IN (SELECT u FROM ta) AND u IN (SELECT u FROM tb)),
         |ns AS (SELECT count(*) AS n_sketch FROM bottom),
         |ue AS (SELECT count(*) AS n_union_exact FROM un),
         |ie AS (SELECT count(*) AS n_inter_exact FROM ta WHERE u IN (SELECT u FROM tb))
         |SELECT CAST(256 AS BIGINT) AS k, CAST(n_sketch AS BIGINT) AS n_sketch,
         | CAST(n_shared AS BIGINT) AS n_shared,
         | CAST((1000000 * n_shared) // n_sketch AS BIGINT) AS jaccard_est_ppm,
         | CAST(n_inter_exact AS BIGINT) AS n_inter_exact,
         | CAST(n_union_exact AS BIGINT) AS n_union_exact,
         | CAST((1000000 * n_inter_exact) // n_union_exact AS BIGINT) AS jaccard_exact_ppm
         |FROM sh, ns, ue, ie""".stripMargin
    }),

    // ---- domain-balanced priority sampling: 40 docs per source drawn
    // proportional to token count, each group carrying its own unbiased
    // max(w, τ) estimator. --------------------------------------------------
    QueryCase("q338_priority_per_group", (s, dir) => {
      val d = t(s, dir, "documents").select(col("source"), col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"))
      Sampling.prioritySamplePerGroup(d, k = 40, weightCol = "n_tokens",
        groupCol = "source")
    },
    // q338: the q321 priority contract replayed per group; tau = the
    // group's (k+1)-th priority via the same window rank.
    {
      val u32 = hexPrefixOracle("md5(CAST(id AS VARCHAR))", 8)
      s"""WITH d AS (SELECT source, doc_id AS id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS weight
         | FROM documents),
         |p AS (SELECT source, id, weight,
         |  CAST((weight * 4294967296) // ($u32 + 1) AS BIGINT) AS priority
         | FROM d WHERE weight > 0),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |        ORDER BY priority DESC, id ASC) AS rk FROM p),
         |tau AS (SELECT source,
         |  max(CASE WHEN rk = 41 THEN priority ELSE 0 END) AS t
         | FROM r WHERE rk <= 41 GROUP BY source)
         |SELECT r.source AS "group", r.id, r.weight, r.priority,
         | greatest(r.weight, tau.t) AS est_weight
         |FROM r JOIN tau USING (source) WHERE rk <= 40""".stripMargin
    }),

    // ---- greedy max-coverage subset selection over doc bigrams (the
    // word vocabulary is tiny on this corpus — bigrams give a real
    // submodular frontier): 10 picks, each the doc adding the most
    // uncovered bigrams; oracle = pinned sequential greedy
    // (tools/pin_coverage.py, the q341 pattern). ----------------------------
    QueryCase("q345_greedy_coverage", (s, dir) => {
      val pairs = graft.io.Spread.toDefaultParallelism(t(s, dir, "documents"))
        .select(col("doc_id"),
          explode(array_distinct(Ngrams.bigrams(Dedup.wordTokens(col("text"))))).as("token"))
      Coverage.greedyMaxCoverage(pairs, k = 10)
    },
    // q345: FULL sequential replay (upgraded r13 from the pinned VALUES —
    // the q347 "replay the whole algorithm" pattern): ten chained greedy
    // rounds, each an argmax (gain desc, id asc) over the uncovered pair
    // table followed by the winner's-tokens anti-join shrink — exactly
    // the Spark loop's structure; running coverage via a window sum.
    // tools/pin_coverage.py remains as an independent third derivation.
    {
      // MATERIALIZED is load-bearing: each round references its
      // predecessor twice, so inlined CTEs would expand to 2^10 scans of
      // the documents parquet (observed as "too many open files").
      val rounds = (1 to 10).map { r =>
        val prev = if (r == 1) "tok" else s"p${r - 1}"
        s"""w$r AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS gain FROM $prev
           | GROUP BY id ORDER BY gain DESC, id ASC LIMIT 1),
           |p$r AS MATERIALIZED (SELECT t.* FROM $prev t WHERE t.token NOT IN
           |  (SELECT token FROM $prev WHERE id = (SELECT id FROM w$r)))""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 10).map(r => s"SELECT $r AS pick, id, gain FROM w$r")
        .mkString("\n UNION ALL ")
      s"""WITH tw AS (SELECT doc_id,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0) AS w
         | FROM documents),
         |tok AS MATERIALIZED (SELECT DISTINCT doc_id AS id,
         |  w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2] AS token
         | FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
         |        FROM tw WHERE len(w) >= 2)),
         |$rounds,
         |sel AS ($sel)
         |SELECT CAST(pick AS BIGINT) AS pick, CAST(id AS BIGINT) AS doc_id, gain,
         | CAST(sum(gain) OVER (ORDER BY pick) AS BIGINT) AS covered_total
         |FROM sel""".stripMargin
    }),

    // ---- the span-removal REWRITE q125 only measures: words inside
    // corpus-hot 3-gram windows dropped, cleaned text emitted (the Lee
    // et al. ExactSubstr transform at k-gram granularity). ------------------
    QueryCase("q348_span_remove", (s, dir) =>
      Repetition.spanRemove(t(s, dir, "documents"), minDocs = 3, k = 3),
      // q348: q125's hot-window machinery (gram STRINGS stand in for the
      // op's collision-free positional hashes, as in q125), then the
      // rewrite itself — surviving words re-joined in position order.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |g AS (
        | SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 2, 0)),
        |   i -> {'i': i, 'g': w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]})) AS s
        | FROM tok),
        |gg AS (SELECT doc_id, CAST(s.i AS BIGINT) AS i, s.g AS g FROM g),
        |hot AS (
        | SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM gg GROUP BY 1)
        | WHERE nd >= 3),
        |cov AS (
        | SELECT DISTINCT gg.doc_id, gg.i + o.k AS j
        | FROM gg JOIN hot ON gg.g = hot.g
        | CROSS JOIN (VALUES (0), (1), (2)) o(k)),
        |wp AS (SELECT doc_id, CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS j,
        |       unnest(w) AS word FROM tok),
        |kept AS (
        | SELECT wp.doc_id, wp.j, wp.word
        | FROM wp LEFT JOIN cov ON cov.doc_id = wp.doc_id AND cov.j = wp.j
        | WHERE cov.j IS NULL),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_words,
        |      string_agg(word, ' ' ORDER BY j) AS text FROM kept GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_words,
        | CAST(coalesce(r.kept_words, 0) AS BIGINT) AS kept_words,
        | coalesce(r.text, '') AS text
        |FROM tok t LEFT JOIN r USING (doc_id)""".stripMargin),

    // ---- TEXT near-dup pairs at Hamming <= 3 over q17's SimHash
    // fingerprints, via the banded join (4 bands of 16 bits —
    // pigeonhole-complete at this radius). The simhash-equality dedup
    // q17 feeds becomes a tolerance search with no new fingerprint. ---------
    QueryCase("q353_simhash_neardup", (s, dir) =>
      Dedup.hammingPairs(
        Dedup.simhashText(t(s, dir, "documents"))
          .select(col("id"), col("simhash").as("hash")),
        maxHamming = 3, bands = 4),
      // q353: brute-forced pairs over the SAME pinned simhash table q17's
      // oracle uses — matching it proves the 4x16 banding loses nothing at
      // hamming <= 3 on real text fingerprints.
      s"""WITH h AS (SELECT CAST(id AS BIGINT) AS id, CAST(simhash AS BIGINT) AS h
         |  FROM ($SimhashPin) AS t(id, simhash))
         |SELECT a.id AS a_id, b.id AS b_id,
         | CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
         |FROM h a JOIN h b ON a.id < b.id
         |WHERE bit_count(xor(a.h, b.h)) <= 3""".stripMargin),

    // ---- per-GROUP quantile sketch (hllByGroup's symmetry for
    // distributions): document-length quartiles per source from the
    // k-per-group bottom-k frame; the rank cap pushes down to a
    // map-side WindowGroupLimit, so a mega-source never floods a
    // reducer. The oracle replays hash, per-group bottom-k, and the
    // rank arithmetic. -------------------------------------------------------
    QueryCase("q379_group_quantiles", (s, dir) =>
      Sketch.quantileEstimateByGroup(
        Sketch.quantileSketchByGroup(
          t(s, dir, "documents").select(col("source"), col("doc_id"),
            length(coalesce(col("text"), lit(""))).cast("long").as("len")),
          "source", "doc_id", "len", k = 128),
        Seq(250000L, 500000L, 750000L, 990000L))
        .select(col("group").as("source"), col("q_ppm"), col("est"), col("n_sample")),
    // q379: the per-group bottom-k replay — hash, rank within group by
    // (u, v), keep k, then rank by (v, u) and the lower-empirical-
    // quantile arithmetic per group.
    {
      val u = hexPrefixOracle("md5(CAST(doc_id AS VARCHAR))", 8)
      s"""WITH s AS (SELECT source AS g, $u AS u,
         |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS v FROM documents),
         |b AS (SELECT g, u, v, row_number() OVER
         |  (PARTITION BY g ORDER BY u, v) AS brn FROM s),
         |sk AS (SELECT g, u, v FROM b WHERE brn <= 128),
         |r AS (SELECT g, v, u,
         |  row_number() OVER (PARTITION BY g ORDER BY v, u) AS rn,
         |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_sample FROM sk),
         |q AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm FROM (VALUES
         |  (250000), (500000), (750000), (990000)) t(q_ppm))
         |SELECT r.g AS source, q.q_ppm, r.v AS est, r.n_sample
         |FROM q JOIN r ON r.rn = greatest(1, (q.q_ppm * r.n_sample + 999999) // 1000000)""".stripMargin
    }),

    // ---- TOKEN-EXACT sequence packing: q317's concat-and-chunk driven
    // by REAL BPE subword counts (the q135-trained table applied by the
    // q136 native encoder) instead of whitespace-ish word counts —
    // context windows are token budgets, and word-count packing misfits
    // real tokenizers by 20–40 %. The oracle composes the q136 merge-
    // replay chain into the q317 window replay. ----------------------------
    QueryCase("q391_bpe_pack_chunk", (s, dir) => {
      val merges = Ngrams.bpeMerges(t(s, dir, "documents"), rounds = 16, batch = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val d = Ngrams.bpeEncodeStats(t(s, dir, "documents"), merges)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
      SequencePack.concatChunk(d, windowSize = 256)
    },
      // q391: the q136 encode replay ([[BpeEncodeCtes]], pinned merges)
      // feeds the q317 window replay — per-doc n := n_subwords, then the
      // identical prefix-sum/fan-out arithmetic at window 256.
      s"""WITH $BpeEncodeCtes,
        |d2 AS (SELECT doc_id, n_subwords AS n FROM per),
        |p2 AS (SELECT doc_id, n,
        |  CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
        | FROM d2 WHERE n > 0),
        |x AS (SELECT doc_id, n, s,
        |  unnest(generate_series(s // 256, (s + n - 1) // 256)) AS w FROM p2)
        |SELECT CAST(w AS BIGINT) AS window_id, doc_id,
        | CAST(greatest(w * 256, s) - w * 256 AS BIGINT) AS offset_in_window,
        | CAST(least((w + 1) * 256, s + n) - greatest(w * 256, s) AS BIGINT) AS n_in_window,
        | s >= w * 256 AS is_head, s + n <= (w + 1) * 256 AS is_tail
        |FROM x""".stripMargin),

    // ---- token-exact NEXT-FIT packing: q318's whole-document greedy
    // fill, capacity 8192 BPE tokens (≥ 6× the largest doc's subword
    // count at every scale the suite runs, so the n ≤ C contract holds
    // with headroom). Same jump-orbit construction; the oracle walks the
    // recurrence over the composed BPE counts. -----------------------------
    QueryCase("q392_bpe_pack_nextfit", (s, dir) => {
      val merges = Ngrams.bpeMerges(t(s, dir, "documents"), rounds = 16, batch = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val d = Ngrams.bpeEncodeStats(t(s, dir, "documents"), merges)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
      SequencePack.nextFitWindows(d, capacity = 8192)
    },
      // q392: the q318 jump-function/recursive-boundary replay over the
      // composed BPE counts at capacity 8192.
      s"""WITH RECURSIVE $BpeEncodeCtes,
        |d2 AS (SELECT doc_id, n_subwords AS n FROM per),
        |p2 AS (SELECT doc_id, n,
        |  CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rk,
        |  CAST(sum(n) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        | FROM d2 WHERE n > 0),
        |s0 AS (SELECT rk, cum FROM p2
        | UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |j AS (SELECT t.rk AS i, CAST(max(b.rk) AS BIGINT) AS jmp
        | FROM s0 t JOIN s0 b ON b.cum <= t.cum + 8192 GROUP BY 1),
        |wb(b, w) AS (
        | SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
        | UNION ALL
        | SELECT j.jmp, wb.w + 1 FROM wb JOIN j ON j.i = wb.b WHERE j.jmp > wb.b),
        |bnd AS (SELECT wb.w, s0.cum AS bc FROM wb JOIN s0 ON s0.rk = wb.b)
        |SELECT p2.doc_id,
        | CAST((SELECT max(bnd.w) FROM bnd WHERE bnd.bc < p2.cum) AS BIGINT) AS window_id,
        | p2.n AS n_tokens
        |FROM p2""".stripMargin),

    // ---- per-document LM fluency (the CCNet-style quality-filter
    // score): the q129 Kneser-Ney table trained on the corpus, each
    // doc's bigrams scored against it, mean probability in exact ppm —
    // unseen/pruned bigrams contribute zero by contract. The oracle
    // replays the whole chain: the q129 table derivation plus the
    // doc-keyed bigram join and integral-mean fold. ------------------------
    QueryCase("q414_lm_fluency", (s, dir) =>
      Ngrams.lmFluencyPpm(t(s, dir, "documents"), minCount = 3)
        .select(col("doc_id"), col("n_bigrams"), col("fluency_ppm")),
      // q414: the q129 KN derivation (same integer rational, same
      // minCount = 3 prune) extended with doc-keyed bigrams, the left
      // join (unseen -> 0) and the integral mean.
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |bg0 AS (
        | SELECT doc_id, unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
        |   i -> w[i+1] || ' ' || w[i+2])) AS bigram
        | FROM tok),
        |bi AS (
        | SELECT string_split(bigram, ' ')[1] AS w1, string_split(bigram, ' ')[2] AS w2,
        |  CAST(count(*) AS BIGINT) AS n_12
        | FROM bg0 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(n_12) AS BIGINT) AS c_1 FROM bi GROUP BY 1),
        |r1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS r_1 FROM bi GROUP BY 1),
        |l1 AS (SELECT w2, CAST(count(*) AS BIGINT) AS l_1 FROM bi GROUP BY 1),
        |bb AS (SELECT CAST(count(*) AS BIGINT) AS n_bigrams FROM bi),
        |probs AS (
        | SELECT bi.w1, bi.w2,
        |  CAST(floor((1000000 * (bb.n_bigrams * (4 * bi.n_12 - 3) + 3 * r1.r_1 * l1.l_1))
        |    / (4 * c1.c_1 * bb.n_bigrams)) AS BIGINT) AS p_ppm
        | FROM bi JOIN c1 USING (w1) JOIN r1 USING (w1) JOIN l1 USING (w2), bb
        | WHERE bi.n_12 >= 3),
        |db AS (
        | SELECT doc_id, string_split(bigram, ' ')[1] AS w1,
        |  string_split(bigram, ' ')[2] AS w2
        | FROM bg0),
        |sc AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(coalesce(p_ppm, 0)) AS BIGINT) AS s
        | FROM db LEFT JOIN probs USING (w1, w2) GROUP BY 1)
        |SELECT d.doc_id, coalesce(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        | coalesce(sc.s // sc.n_bigrams, CAST(0 AS BIGINT)) AS fluency_ppm
        |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin),

    // ---- per-language quality gate (the CCNet pipeline users actually
    // run, fluency as a FILTER not a report): q14 lang-ID partitions the
    // corpus → one KN fluency model PER LANGUAGE in a single plan
    // (lmFluencyPpmBy) → each language keeps its at-or-above-integral-
    // mean docs → the global token budget apportions across languages by
    // surviving token mass (q166's largest-remainder). The oracle replays
    // the whole chain: lang-ID, the per-language q414 derivation, the
    // mean gate, and the apportionment. --------------------------------------
    QueryCase("q419_lang_quality_gate", (s, dir) => {
      // staged ONCE: the composite fans this frame into four branches
      // (KN table, doc bigrams, the score base, token counts), and the
      // lang-ID column is the most expensive projection in the chain —
      // recomputing it per branch measured ~4x the staged plan
      val docs = graft.ops.Staging.stage(
        t(s, dir, "documents").select(col("doc_id"), col("text"),
          TextFunctions.langGuessFromPadded(
            TextFunctions.paddedText(col("text"))).as("lang")))
      // Staged (r17 optimization): `scored` is referenced by thr AND kept,
      // and `counts` three more times downstream (apportion reads it twice,
      // the assembly join once) — unstaged, the corpus-tokenize + KN-join
      // subtree re-executed ~7x (137 jobs profiled, 11.2 s at sf0.1).
      // Both frames are narrow (scored: 4 cols/doc; counts/thr: one row
      // per language); staging them runs the chain once. Measured
      // 11.2 s -> ~4.5 s, identical results.
      val scored = graft.ops.Staging.stage(
        Ngrams.lmFluencyPpmBy(docs, "lang", minCount = 3))
      val thr = graft.ops.Staging.stage(
        scored.groupBy("lang").agg(
          expr("sum(fluency_ppm) div count(1)").as("thr"),
          count(lit(1)).as("n_docs")))
      val toks = docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("tok"))
      val kept = scored.join(thr.select("lang", "thr"), Seq("lang"))
        .where(col("fluency_ppm") >= col("thr"))
        .join(toks, Seq("doc_id"))
      val counts = graft.ops.Staging.stage(
        kept.groupBy("lang")
          .agg(count(lit(1)).as("n_kept"), sum("tok").as("tokens")))
      Sampling.apportion(counts.select(col("lang"), col("tokens")),
          "lang", "tokens", budget = 100000L)
        .join(counts.select("lang", "n_kept"), Seq("lang"))
        .join(thr, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("thr"), col("n_kept"),
          col("tokens"), col("alloc"))
    },
      // q419: the full chain replayed — the q14 lang-ID CTE partitions the
      // corpus, the q414 KN derivation runs PER LANGUAGE (every key gains
      // lang), the integral-mean gate keeps each language's upper docs,
      // and q166's largest-remainder apportionment splits the 100k budget
      // by surviving token mass.
      s"""WITH g AS ($langIdOracle),
         |dl AS (
         | SELECT d.doc_id, d.text, g.lang_guess AS lang
         | FROM documents d JOIN g USING (doc_id)),
         |tok AS (
         | SELECT doc_id, lang,
         |  list_filter(string_split_regex(trim(lower(text)), '\\s+'), w -> len(w) > 0) AS w
         | FROM dl),
         |bg0 AS (
         | SELECT doc_id, lang, unnest(list_transform(range(0, greatest(len(w) - 1, 0)),
         |   i -> w[i+1] || ' ' || w[i+2])) AS bigram
         | FROM tok),
         |bi AS (
         | SELECT lang, string_split(bigram, ' ')[1] AS w1,
         |  string_split(bigram, ' ')[2] AS w2,
         |  CAST(count(*) AS BIGINT) AS n_12
         | FROM bg0 GROUP BY 1, 2, 3),
         |c1 AS (SELECT lang, w1, CAST(sum(n_12) AS BIGINT) AS c_1 FROM bi GROUP BY 1, 2),
         |r1 AS (SELECT lang, w1, CAST(count(*) AS BIGINT) AS r_1 FROM bi GROUP BY 1, 2),
         |l1 AS (SELECT lang, w2, CAST(count(*) AS BIGINT) AS l_1 FROM bi GROUP BY 1, 2),
         |bb AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams FROM bi GROUP BY 1),
         |probs AS (
         | SELECT bi.lang, bi.w1, bi.w2,
         |  CAST(floor((1000000 * (bb.n_bigrams * (4 * bi.n_12 - 3) + 3 * r1.r_1 * l1.l_1))
         |    / (4 * c1.c_1 * bb.n_bigrams)) AS BIGINT) AS p_ppm
         | FROM bi JOIN c1 USING (lang, w1) JOIN r1 USING (lang, w1)
         |  JOIN l1 USING (lang, w2) JOIN bb USING (lang)
         | WHERE bi.n_12 >= 3),
         |db AS (
         | SELECT doc_id, lang, string_split(bigram, ' ')[1] AS w1,
         |  string_split(bigram, ' ')[2] AS w2
         | FROM bg0),
         |sc AS (
         | SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(coalesce(p_ppm, 0)) AS BIGINT) AS s
         | FROM db LEFT JOIN probs USING (lang, w1, w2) GROUP BY 1, 2),
         |sca AS (
         | SELECT dl.doc_id, dl.lang,
         |  coalesce(sc.s // sc.n_bigrams, CAST(0 AS BIGINT)) AS fl
         | FROM dl LEFT JOIN sc ON dl.doc_id = sc.doc_id AND dl.lang = sc.lang),
         |thr AS (
         | SELECT lang, CAST(sum(fl) // count(*) AS BIGINT) AS thr,
         |  CAST(count(*) AS BIGINT) AS n_docs
         | FROM sca GROUP BY 1),
         |dtok AS (
         | SELECT doc_id, CAST(len(regexp_extract_all(text,
         |  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tok
         | FROM dl),
         |kc AS (
         | SELECT sca.lang, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(dtok.tok) AS BIGINT) AS tokens
         | FROM sca JOIN thr USING (lang) JOIN dtok USING (doc_id)
         | WHERE sca.fl >= thr.thr GROUP BY 1),
         |tt AS (SELECT CAST(sum(tokens) AS BIGINT) AS tot FROM kc),
         |ap AS (
         | SELECT lang, tokens,
         |  CAST((100000 * tokens) // tot AS BIGINT) AS flr,
         |  CAST((100000 * tokens) % tot AS BIGINT) AS rem
         | FROM kc, tt),
         |dd AS (SELECT CAST(100000 - sum(flr) AS BIGINT) AS deficit FROM ap),
         |rk AS (
         | SELECT lang, tokens, flr,
         |  row_number() OVER (ORDER BY rem DESC, lang) AS rk
         | FROM ap)
         |SELECT rk.lang, thr.n_docs, thr.thr, kc.n_kept, rk.tokens,
         | CAST(rk.flr + CASE WHEN rk.rk <= dd.deficit THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rk CROSS JOIN dd JOIN kc USING (lang) JOIN thr USING (lang)""".stripMargin)
  )

  /** Per-source interleave strides for q103 (stride 1 ⇒ 4× the density of
    * stride 4), shared by the Spark query and the generated oracle CASE.
    */
  private val MixStrides: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (1L + i % 4)).toMap

  /** DuckDB oracle SQL generated from [[TextFunctions.LangMarkers]] so the
    * Spark expression and the SQL stay structurally identical.
    */
  private def langIdOracle: String = {
    def occ(needle: String): String = {
      val pat = s" $needle "
      s"CAST((length(pt) - length(replace(pt, '$pat', ''))) / ${pat.length} AS BIGINT)"
    }
    val scores = TextFunctions.LangMarkers
      .map { case (lang, ws) => s"(${ws.map(occ).mkString(" + ")}) AS s_$lang" }
      .mkString(", ")
    val langs = TextFunctions.LangMarkers.map(_._1)
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = g AND s_$l > 0 THEN '$l'").mkString(" ")
    s"""WITH p AS (SELECT doc_id, ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS pt FROM documents),
       | s AS (SELECT doc_id, $scores FROM p)
       |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_guess
       |FROM (SELECT *, $best AS g FROM s)""".stripMargin
  }

  /** DuckDB subquery `(SELECT <table>.*, quality ...)` computing
    * [[TextFunctions.qualityScore]]'s four checks, generated from the same
    * [[TextFunctions.QualityStopwords]] list so Spark and oracle can't drift.
    * Callers alias it and project the columns they need.
    */
  private def qualityOracle(table: String): String = {
    def occ(w: String): String = {
      val pat = s" $w "
      s"CAST((length(__pt) - length(replace(__pt, '$pat', ''))) / ${pat.length} AS BIGINT)"
    }
    val stopHits = TextFunctions.QualityStopwords.map(occ).mkString(" + ")
    s"""(SELECT *,
       |  (CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1.0 ELSE 0.5 END
       |   + CASE WHEN __wc > 0 AND CAST(length(text) AS DOUBLE) / __wc >= 3.0
       |          AND CAST(length(text) AS DOUBLE) / __wc <= 12.0 THEN 1.0 ELSE 0.5 END
       |   + CASE WHEN length(text) > 0 AND CAST(__punct AS DOUBLE) / length(text) <= 0.2 THEN 1.0 ELSE 0.5 END
       |   + CASE WHEN __wc > 0 AND CAST($stopHits AS DOUBLE) / __wc >= 0.01 THEN 1.0 ELSE 0.5 END) / 4 AS quality
       | FROM (SELECT *,
       |   ' ' || regexp_replace(lower(text), '\\s+', ' ', 'g') || ' ' AS __pt,
       |   len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS __wc,
       |   len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS __punct
       |  FROM $table) __qinner)""".stripMargin
  }

  /** Shared (doc, word, pos) tokenization CTE for the skip-gram oracles
    * (the q84 idiom: whitespace split of trimmed lowercase text).
    */
  private val TokenPosCte: String =
    """tok AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
      | FROM documents),
      |t AS (SELECT doc_id, unnest(w) AS word, generate_subscripts(w, 1) AS pos FROM tok)""".stripMargin
}
