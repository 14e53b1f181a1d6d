package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML/markup hygiene — the single most common web-corpus prep step:
  * every crawl pipeline strips tags, drops script/style payloads and
  * boilerplate navigation before any of the lexical/dedup machinery
  * downstream sees the text. Reference behavior modeled: none — the
  * reference pipeline ingests structured JSON only; this is §2.9
  * extension surface for the corpus-pipeline use case.
  *
  * Everything is codegen'd Column expressions (regex, string replace,
  * higher-order array functions): map-side, shuffle-free — even the
  * line-level boilerplate filter runs as `filter`/`transform` lambdas
  * over the split-line array rather than an explode + group-back — and
  * bit-replayable in any engine with RE2/Java-compatible regexes (the
  * subset used here is common to both).
  */
object Html {

  /** Drop `<script>…</script>`, `<style>…</style>` and `<!-- … -->`
    * SPANS (content included), dotall + case-insensitive, non-greedy so
    * adjacent spans don't merge.
    */
  private[graft] def stripSpans(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
  }

  /** Replace every remaining tag with a space (space, not empty — two
    * words separated only by markup must not concatenate).
    */
  private[graft] def stripTags(c: Column): Column =
    regexp_replace(c, "<[^>]*>", " ")

  /** Decode the common named/numeric entities. `&amp;` is decoded LAST
    * (standard single-pass order: `&amp;lt;` decodes to the literal
    * `&lt;`, not to `<`).
    */
  private[graft] def decodeEntities(c: Column): Column = {
    val pairs = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
    val dec = pairs.foldLeft(c) { case (acc, (e, v)) =>
      replace(acc, lit(e), lit(v))
    }
    replace(dec, lit("&amp;"), lit("&"))
  }

  /** Collapse whitespace runs to single spaces and trim. */
  private[graft] def squish(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** The full markup-strip pipeline as one scalar Column: spans → tags →
    * entities → whitespace. NOT idempotent by design — a decoded `&lt;b&gt;`
    * becomes a literal `<b>` that a second pass would strip; run it once
    * at ingest (plain text without markup IS a fixed point, pinned in
    * `HtmlSpec`).
    */
  def cleanText(html: Column): Column =
    squish(decodeEntities(stripTags(stripSpans(html))))

  /** Appends `out` = [[cleanText]] of `htmlCol`. Map-side, no shuffle. */
  def stripMarkup(
      df: DataFrame,
      htmlCol: String = "html",
      out: String = "clean_text"): DataFrame =
    df.withColumn(out, cleanText(col(htmlCol)))

  /** All anchor `href` targets in document order, as an array Column —
    * the raw material of link-graph construction (resolve against the
    * page URL with [[Urls.resolve]], then canonicalize). Handles
    * double-quoted, single-quoted and unquoted attribute values; the
    * value is extracted verbatim (no entity decode — real pipelines
    * decode after resolution if at all). Map-side, no shuffle.
    */
  def extractLinks(html: Column): Column =
    transform(
      regexp_extract_all(stripSpans(html),
        lit("(?is)<a(?:\\s[^>]*)?\\shref=(\"[^\"]*\"|'[^']*'|[^\\s>]+)"), lit(1)),
      v => regexp_replace(v, "^[\"']|[\"']$", ""))

  /** Publisher-declared feed pointers — every
    * `<link rel="alternate" type="application/rss+xml|atom+xml">` in
    * the page, as an array of `(href, feed_type)` structs in document
    * order (`feed_type` ∈ `rss`/`atom`). Feeds are the second
    * publisher-declared discovery channel after sitemaps: a frontier
    * blind to them re-crawls on a timer what the publisher announces on
    * change. `rel` matches as a space-separated token list
    * (`rel="alternate nofollow"` counts), attribute order is free, all
    * three quoting forms parse ([[extractLinks]]'s contract); links
    * without an href, or with any other rel/type, drop. Hrefs come out
    * VERBATIM (commonly relative — compose
    * `Urls.resolve(pageUrl, href)`). Map-side, no shuffle.
    */
  def feedLinks(html: Column): Column = {
    val tags = regexp_extract_all(stripSpans(html),
      lit("(?is)<link(?:\\s[^>]*)?>"), lit(0))
    filter(
      transform(tags, t => {
        def attr(name: String): Column =
          regexp_replace(
            regexp_extract(t,
              s"(?is)\\s$name=(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1),
            "^[\"']|[\"']$", "")
        val rel = lower(attr("rel"))
        val typ = lower(attr("type"))
        val href = attr("href")
        when(href =!= "" && rel.rlike("(^| )alternate( |$)") &&
          typ.isin("application/rss+xml", "application/atom+xml"),
          struct(href.as("href"),
            when(typ === "application/rss+xml", lit("rss")).otherwise(lit("atom"))
              .as("feed_type")))
      }),
      x => x.isNotNull)
  }

  /** The first `<base href=…>` target, or NULL when the page declares
    * none — the HTML spec honors only the FIRST base element, and
    * anchors on a page that has one resolve against IT, not the page
    * URL: a link graph that ignores base mis-roots every relative link
    * on such pages. Same quoting forms and tag-name boundary as
    * [[extractLinks]]; callers compose
    * `Urls.resolve(coalesce(baseHref(html), pageUrl), ref)`.
    * Map-side, no shuffle.
    */
  def baseHref(html: Column): Column = {
    val v = regexp_extract(stripSpans(html),
      "(?is)<base(?:\\s[^>]*)?\\shref=(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1)
    // strip quotes BEFORE the empty guard: <base href=""> must yield NULL
    // (so the documented coalesce(baseHref(html), pageUrl) falls back to
    // the page URL), not an empty base that mis-roots every link
    val stripped = regexp_replace(v, "^[\"']|[\"']$", "")
    when(stripped =!= "", stripped)
  }

  /** Anchors WITH their inner text, as an array of `(href, text)`
    * structs in document order — the raw material of anchor-text
    * aggregation (the classic inlink signal: what OTHER pages call a
    * target page). `href` extracts exactly like [[extractLinks]]; the
    * inner text is the element body cleaned the [[cleanText]] way
    * (inner markup → spaces, entities decoded, whitespace squished),
    * so `<a href=/x>Read   <b>more</b></a>` yields
    * `(/x, "Read more")`. Only well-formed elements (an `href` and a
    * closing `</a>`) participate — a dangling open tag contributes no
    * pair. The open-tag matching is QUOTE-AWARE (a quoted attribute
    * value may legally contain `>` — `href="/x?q=a>b"` must not end the
    * tag early), unlike [[extractLinks]]' cheaper href-only scan.
    * Map-side, no shuffle.
    */
  def extractAnchors(html: Column): Column = {
    // one attribute-or-text step inside an open tag: a quoted value
    // (which may contain '>') or any single non-terminator character
    val attr = "(?:\"[^\"]*\"|'[^']*'|[^>\"'])"
    // `(?:\s$attr*?)?\shref=` forces WHITESPACE right after the tag name
    // (either branch starts with \s) — `<area href=…>` / a malformed
    // `<abbr href=…>` must not parse as anchors — while keeping the
    // \s-before-href attribute boundary (`xhref=` is not an href).
    transform(
      regexp_extract_all(stripSpans(html),
        lit(s"(?is)(<a(?:\\s$attr*?)?\\shref=(?:\"[^\"]*\"|'[^']*'|[^\\s>]+)$attr*>.*?</a>)"),
        lit(1)),
      a => struct(
        regexp_replace(
          regexp_extract(a, s"(?is)<a(?:\\s$attr*?)?\\shref=(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1),
          "^[\"']|[\"']$", "").as("href"),
        squish(decodeEntities(stripTags(
          regexp_extract(a, s"(?is)<a$attr*>(.*?)</a>", 1)))).as("text")))
  }

  /** The page `<title>`, cleaned like anchor text (inner markup →
    * spaces, entities decoded, whitespace squished); NULL when absent
    * or empty. The single most-used page metadata column in corpus
    * curation. Map-side, no shuffle.
    */
  def title(html: Column): Column = {
    val t = regexp_extract(stripSpans(html),
      "(?is)<title(?:\\s[^>]*)?>(.*?)</title>", 1)
    val clean = squish(decodeEntities(stripTags(t)))
    when(clean =!= "", clean)
  }

  /** The `content=` value of the FIRST `<meta>` whose `name=` or
    * `property=` equals `key` (case-insensitive; both attribute orders
    * — real pages put content before name about a third of the time);
    * NULL when absent. Entities decode and whitespace squishes like
    * every other extracted text; `key` must be a plain token
    * (letters/digits/`:_-` — og:* property keys qualify). Map-side.
    */
  def metaContent(html: Column, key: String): Column = {
    require(key.matches("[A-Za-z0-9:_\\-]+"), s"metaContent key must be a plain token: $key")
    val tags = regexp_extract_all(stripSpans(html), lit("(?is)(<meta\\s[^>]*>)"), lit(1))
    val matching = filter(tags, t =>
      t.rlike(s"(?is)[\\s\"'](?:name|property)\\s*=\\s*[\"']?$key([\"'\\s>]|$$)"))
    val v = regexp_extract(element_at(matching, 1),
      "(?is)\\scontent\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1)
    val clean = squish(decodeEntities(regexp_replace(v, "^[\"']|[\"']$", "")))
    when(size(matching) > 0 && clean =!= "", clean)
  }

  /** Total character count of anchor INNER text on a line — the
    * numerator of link density. Inner markup is stripped before
    * measuring; the empty-match aggregate is 0.
    */
  private[graft] def linkChars(line: Column): Column =
    aggregate(
      // (?:\s[^>]*)? — attrs only after whitespace, so `<abbr …>` and
      // `<area …>` don't count as anchors (bare `<a>` still does);
      // byte-synced with the oracle replay CTE in CrawlCatalog
      regexp_extract_all(line, lit("(?is)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)),
      lit(0),
      (acc, x) => acc + length(squish(stripTags(x))))

  /** MAIN-CONTENT extraction via the classic link-density line filter
    * (the boilerpipe/jusText-family heuristic at line granularity):
    * split on newlines, clean each line ([[cleanText]]), and keep lines
    * that carry at least `minTextChars` cleaned characters AND whose
    * anchor-text share is at most `maxLinkDensityPct` percent
    * (integer-exact: `linkChars·100 ≤ pct·textChars`) — navigation bars,
    * link lists and footers are link-dense and drop out; prose survives.
    * Kept lines re-join in document order with single spaces into `out`.
    *
    * Script/style/comment SPANS are stripped document-level (dotall)
    * BEFORE the line split — a multi-line script body must not leak in
    * as "prose" lines. A span that crossed lines leaves its former
    * endpoints joined into one line (the span, newlines included,
    * becomes a single space). Entire pipeline is `filter`/`transform`
    * lambdas over the split-line array: map-side, shuffle-free,
    * order-preserving without a sort.
    */
  def mainContent(
      df: DataFrame,
      htmlCol: String = "html",
      out: String = "main_text",
      maxLinkDensityPct: Int = 50,
      minTextChars: Int = 5): DataFrame = {
    require(maxLinkDensityPct >= 0 && maxLinkDensityPct <= 100,
      s"maxLinkDensityPct must be a percentage: $maxLinkDensityPct")
    require(minTextChars >= 0, s"minTextChars must be >= 0: $minTextChars")
    val lines = split(stripSpans(col(htmlCol)), "\n")
    val kept = filter(lines, l => {
      val clean = cleanText(l)
      length(clean) >= minTextChars &&
        linkChars(l) * 100 <= lit(maxLinkDensityPct) * length(clean)
    })
    df.withColumn(out, array_join(transform(kept, l => cleanText(l)), " "))
  }

  /** Host-level TEMPLATE line removal — the line-frequency boilerplate
    * filter web-corpus pipelines run after per-page extraction (the
    * CCNet/RefinedWeb discipline): a line that repeats across many
    * pages of the SAME host is navigation/footer/cookie-banner
    * template, not prose, and per-page heuristics cannot see it. Lines
    * split on `\n`; a line whose distinct-page count within its host
    * reaches `minPages` drops from every page; survivors rejoin in
    * original line order as `out` (empty string when everything was
    * template). Line identity is EXACT (post-extraction text is already
    * normalized upstream).
    *
    * Scale shape, two-phase exactly like the dedup family (candidates
    * then VERIFY — a 64-bit hash must never delete a line it only
    * collided with): phase 1 counts distinct pages per
    * `(host, xxhash64(line))` — hashes shuffle, line bodies don't — and
    * hash-merging can only OVERcount, so the candidate buckets are a
    * superset of the true templates; phase 2 recounts exactly by
    * `(host, line)` on candidate-bucket rows only (template-ish lines,
    * the minority, are the only bodies that extra pass moves); the
    * final anti-join keys on `(host, hash, line)`, so a collided prose
    * line survives. Per-host skew is bounded by the usual AQE skew
    * handling; the frequency tables are NOT broadcast because at corpus
    * scale they are data-sized. Input columns: `idCol`, `hostCol`,
    * `textCol`.
    */
  def removeTemplateLines(
      pages: DataFrame,
      idCol: String = "doc_id",
      hostCol: String = "host",
      textCol: String = "text",
      minPages: Int = 3,
      out: String = "clean_text"): DataFrame = {
    require(minPages >= 2, s"minPages must be >= 2: $minPages")
    val exploded = pages
      .select(col(idCol), col(hostCol),
        posexplode(split(coalesce(col(textCol), lit("")), "\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__lh", xxhash64(col(hostCol), col("__line")))
    // phase 1: approximate candidates, hash-only shuffle (a superset —
    // hash merging can only overcount)
    val candidates = exploded
      .groupBy(col(hostCol), col("__lh"))
      .agg(countDistinct(col(idCol)).as("__adf"))
      .where(col("__adf") >= minPages)
      .select(col(hostCol), col("__lh"))
    // phase 2: exact recount by the LINE BODY, candidate buckets only
    val template = exploded
      .join(candidates, Seq(hostCol, "__lh"), "left_semi")
      .groupBy(col(hostCol), col("__lh"), col("__line"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") >= minPages)
      .select(col(hostCol), col("__lh"), col("__line"))
    val rebuilt = exploded
      .join(template, Seq(hostCol, "__lh", "__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(array_sort(collect_list(struct(col("__pos"), col("__line"))))
        .getField("__line"), "\n").as("__clean"))
      .select(col(idCol), col("__clean"))
    pages.join(rebuilt, Seq(idCol), "left")
      .withColumn(out, coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }
}
