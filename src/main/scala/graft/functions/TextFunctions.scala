package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.functions._
import graft.functions.expressions.{ApplyBpeMerges, CountOccurrences, DamerauLevenshtein, JaroWinkler, MergeAdjacentPair, NfcNormalize, SoundexSep}

/** Text-analysis operators for large-scale document pipelines (SURVEY §7.2
  * step 8 / BASELINE.json north star): language ID, quality scoring, token
  * counting, fingerprinting. All are pure Column expressions — whole-stage
  * codegen, no UDFs, embarrassingly parallel at 100 TB.
  *
  * Every function is built only from primitives with identical semantics in
  * ANSI SQL engines (length/replace/lower/md5/regexp), so each has an exact
  * DuckDB oracle formulation.
  */
object TextFunctions {

  /** Whitespace-token word count (empty tokens dropped). */
  def wordCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** Non-overlapping occurrence count of a literal `needle` — native
    * indexOf scan (no replaced-string allocation; see
    * [[CountOccurrences]]). [[occurrencesHof]] is the portable
    * length/replace formulation the DuckDB oracles mirror.
    */
  def occurrences(haystack: Column, needle: String): Column =
    GraftColumn(CountOccurrences(GraftColumn.expr(haystack), needle))

  /** Unrestricted Damerau–Levenshtein distance (transpositions cost 1
    * even across intervening edits — `ca→abc` is 2 where OSA says 3);
    * native codegen'd kernel, DuckDB-`damerau_levenshtein`-exact. The
    * record-linkage verifier for name/id data where digit transposition
    * is THE dominant typo class `levenshtein` double-counts.
    */
  def damerau(a: Column, b: Column): Column =
    GraftColumn(DamerauLevenshtein(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** Jaro–Winkler similarity (match window ⌊max/2⌋−1, prefix boost
    * p=0.1 over ≤ 4 chars above jaro 0.7) — native codegen'd kernel,
    * bit-identical to DuckDB's `jaro_winkler_similarity`.
    */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftColumn(JaroWinkler(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** One BPE merge step: adjacent (left, right) symbols collapse to
    * `left+right`, leftmost-greedy non-overlapping — one native pass.
    */
  def mergeAdjacentPair(symbols: Column, left: String, right: String): Column =
    GraftColumn(MergeAdjacentPair(GraftColumn.expr(symbols), left, right))

  /** Segment every word of a token array into subwords with a learned
    * BPE merge table applied in rank order — the tokenizer ENCODE step;
    * one native pass, no joins.
    */
  def applyBpeMerges(words: Column, merges: Seq[(String, String)],
      endOfWord: String = "</w>"): Column =
    GraftColumn(ApplyBpeMerges(GraftColumn.expr(words), merges, endOfWord))

  /** Unicode NFC canonical normalization — combining sequences collapse
    * to precomposed forms so byte-exact dedup/fingerprints see one
    * representation; native codegen'd kernel with an allocation-free
    * already-normalized fast path, identical to DuckDB `nfc_normalize`.
    */
  def nfc(text: Column): Column =
    GraftColumn(NfcNormalize(GraftColumn.expr(text)))

  /** Separator-variant Soundex phonetic code (`X999`) — the blocking key
    * for phonetic record linkage: same-sounding names collide, so the
    * expensive [[damerau]]/[[jaroWinkler]] verification runs per block,
    * never all-pairs. Native single-pass kernel; NOT Spark's built-in
    * `soundex` — this variant makes h/w SEPARATE equal codes (not
    * transparent), the one rule change that makes the code exactly
    * replicable in backreference-free SQL for the DuckDB oracle.
    */
  def soundexSep(text: Column): Column =
    GraftColumn(SoundexSep(GraftColumn.expr(text)))

  /** Reference length/replace form of [[occurrences]] (what the SQL
    * oracles run; tests cross-check the native form against it).
    */
  def occurrencesHof(haystack: Column, needle: String): Column =
    ((length(haystack) - length(replace(haystack, lit(needle), lit("")))) / needle.length)
      .cast("long")

  /** BPE-ish token count: letter runs, digit runs, or single non-space
    * symbols — the standard pre-tokenizer shape. Native single-matcher
    * walk ([[expressions.RegexpCount]]): same count as the extract-all
    * form below, without materializing every matched substring.
    */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCount(text: Column): Column =
    GraftColumn(expressions.RegexpCount(GraftColumn.expr(text), TokenPattern))

  /** The md5-uniform contract as a native Long: identical value to
    * `conv(substring(md5(s), 1, nHex), 16, 10)` (what every oracle
    * replays), evaluated straight off the digest bytes inside
    * whole-stage codegen — see [[expressions.Md5PrefixLong]].
    */
  def md5Prefix(s: Column, nHex: Int): Column =
    GraftColumn(expressions.Md5PrefixLong(GraftColumn.expr(s), nHex))

  /** Reference extract-all form of [[tokenCount]] (what the SQL oracles
    * run; tests cross-check the native form against it).
    */
  def tokenCountHof(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0))).cast("long")

  /** Document fingerprint: md5 of whitespace-normalized lowercased text.
    * Deterministic content address for exact dedup across shards.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(trim(lower(text)), "\\s+", " "))

  /** Marker stopwords per language for the n-gram/stopword heuristic
    * language ID. Counts hits of ` word ` in the padded lowercased text.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Space-padded, whitespace-normalized, lowercased text — the shared
    * input of every marker count. Stage it as its own projected column
    * (`df.select(..., paddedText(col) as "__pt")`) so the regexp runs once
    * per row, not once per marker: the padded attribute is referenced ~20×
    * downstream, which stops CollapseProject from inlining the regexp.
    */
  def paddedText(text: Column): Column =
    concat(lit(" "), regexp_replace(lower(text), "\\s+", " "), lit(" "))

  /** Total marker hits for one language over a pre-padded text column. */
  def langScore(padded: Column, markers: Seq[String]): Column =
    markers.map(w => occurrences(padded, s" $w ")).reduce(_ + _)

  /** Heuristic language guess over a pre-padded ([[paddedText]]) column:
    * argmax of marker scores, 'und' when all 0. Ties resolve in
    * [[LangMarkers]] order (first wins).
    */
  def langGuessFromPadded(padded: Column): Column = {
    val scores = LangMarkers.map { case (lang, ws) => lang -> langScore(padded, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Rolling polynomial fingerprint (Rabin–Karp shape): fold the character
    * codes left-to-right as `acc·base + code (mod m)`. Unlike [[fingerprint]]
    * (md5), the rolling form extends incrementally — the building block for
    * shingle-level content addressing. `base`/`mod` chosen so `acc·base+255`
    * never overflows a long.
    */
  def rollingHash(text: Column, base: Long = 257L, mod: Long = 2147483647L): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (acc, x) => (acc * base + x) % mod)

  /** English stopwords for the quality heuristic's stopword-ratio check —
    * natural prose has some; keyword spam and boilerplate have none.
    */
  val QualityStopwords: Seq[String] =
    Seq("the", "and", "of", "to", "is", "in", "a", "that", "it", "for")

  /** Quality score in [0,1] over four equally-weighted checks (each passes
    * at 1.0 or fails at 0.5): length in [100, 20k]; average word length in
    * [3, 12]; punctuation density ≤ 20% of characters; ≥ 1% of words are
    * stopwords. Single-division ratios of exact integer counts keep every
    * check bit-identical across engines.
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val words = wordCount(text).cast("double")
    val avgWordLen = when(words > 0, len / words).otherwise(lit(0.0))
    val punct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double")
    val padded = paddedText(text)
    val stopHits = QualityStopwords
      .map(w => occurrences(padded, s" $w ").cast("double"))
      .reduce(_ + _)
    val lengthOk = when(length(text) >= 100 && length(text) <= 20000, lit(1.0)).otherwise(lit(0.5))
    val wordLenOk = when(avgWordLen >= 3.0 && avgWordLen <= 12.0, lit(1.0)).otherwise(lit(0.5))
    val punctOk = when(len > 0 && punct / len <= 0.2, lit(1.0)).otherwise(lit(0.5))
    val stopOk = when(words > 0 && stopHits / words >= 0.01, lit(1.0)).otherwise(lit(0.5))
    (lengthOk + wordLenOk + punctOk + stopOk) / 4
  }

  /** Default PII/identifier redaction rules, applied in order: email, IPv4,
    * long digit run (account/serial ids), phone-like digit-separator
    * sequences. Patterns stick to the regex subset shared by Java regex and
    * RE2 so any engine replays them identically.
    */
  val RedactionRules: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    ("\\d{6,}", "<ID>"),
    ("\\+?\\d[\\d\\s()-]{6,}\\d", "<PHONE>"))

  /** PII scrubbing: chained global regex replacements (map-only, codegen'd
    * — the standard pre-training redaction pass). Rule order matters and is
    * part of the contract: earlier rules consume text later rules would
    * otherwise match.
    */
  def redact(text: Column, rules: Seq[(String, String)] = RedactionRules): Column =
    rules.foldLeft(text) { case (c, (pattern, replacement)) =>
      regexp_replace(c, pattern, replacement)
    }
}
