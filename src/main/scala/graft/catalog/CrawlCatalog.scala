package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.fixtures.{CrawlFixtures, MediaFixtures}
import graft.ops.{Crawl, Dedup, Html, Multimodal, Ngrams, SequencePack, Urls}
import graft.SparkEntry.t
import CatalogShared._

/** Crawl and WARC queries: URLs, robots.txt, sitemaps and feeds, HTML
  * extraction, HTTP messages, WARC/WET/WAT/CDX writing and reading. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object CrawlCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- URL canonicalization over deterministically derived URLs (the
    // syntheticMedia pattern — every messy feature is a pure function of
    // doc_id, so the oracle rebuilds and re-normalizes them): scheme/host
    // case, default ports, tracking params, param order, fragments,
    // trailing slashes, and the PSL-lite registered domain. ------------------
    QueryCase("q354_url_canonical", (s, dir) => {
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
        lit("://WWW."), upper(col("source")), lit(".ExAmPle."),
        when(col("doc_id") % 3 === 0, lit("co.uk"))
          .when(col("doc_id") % 3 === 1, lit("com")).otherwise(lit("org")),
        when(col("doc_id") % 4 === 0, lit(":80")).otherwise(lit("")),
        lit("/Docs/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0, lit("?utm_source=feed&z=9&a=1")).otherwise(lit("?b=2")),
        when(col("doc_id") % 7 === 0, lit("#sec2")).otherwise(lit("")))
      Urls.canonicalize(t(s, dir, "documents").select(col("doc_id"), url.as("url")))
        .select(col("doc_id"), col("canonical_url"), col("host"), col("registered_domain"))
    },
      // q354: the URL derivation rebuilt from doc_id, then every
      // normalization rule replayed with DuckDB's regex/list machinery.
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://WWW.' ||
        |  upper(source) || '.ExAmPle.' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'co.uk' WHEN doc_id % 3 = 1 THEN 'com' ELSE 'org' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END) ||
        |  '/Docs/' || CAST(doc_id AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&z=9&a=1' ELSE '?b=2' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END) AS url
        | FROM documents),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query FROM u),
        |q AS (SELECT *, regexp_extract(hostport, '^([^:]*)', 1) AS host,
        |  regexp_extract(hostport, ':([0-9]+)$', 1) AS port FROM p),
        |r AS (SELECT *,
        |  CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
        |       ELSE regexp_replace(rawpath, '/+$', '') END AS path,
        |  list_sort(list_filter(string_split(query, '&'),
        |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid)(=|$)'))) AS params,
        |  string_split(host, '.') AS hl FROM q)
        |SELECT doc_id,
        | scheme || '://' || host ||
        | (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |       AND NOT (scheme = 'https' AND port = '443')
        |   THEN ':' || port ELSE '' END) ||
        | path ||
        | (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)
        |   AS canonical_url,
        | host,
        | CASE WHEN len(hl) >= 3 AND len(hl[len(hl)]) = 2
        |        AND hl[len(hl) - 1] IN ('co', 'com', 'org', 'net', 'ac', 'gov')
        |   THEN array_to_string(hl[len(hl) - 2:], '.')
        |   ELSE array_to_string(hl[len(hl) - 1:], '.') END AS registered_domain
        |FROM r""".stripMargin),

    // ---- PSL registered domain over hosts that exercise every rule
    // class of the bundled Public Suffix List snapshot: exact multi-label
    // (co.uk, github.io, blogspot.co.uk longest-match over co.uk),
    // wildcard (*.ck, *.kawasaki.jp, 3-label *.elb.amazonaws.com),
    // exception (!www.ck, !city.kawasaki.jp), geographic SLDs (aichi.jp),
    // hosts that ARE a public suffix (→ NULL), and the implicit default
    // rule. The oracle joins the SAME rule table (rendered from the
    // loaded snapshot) and replays the PSL algorithm in SQL. -----------------
    QueryCase("q355_psl_domain", (s, dir) => {
      val g = col("doc_id").cast("string")
      val m = col("doc_id") % 12
      val host = when(m === 0, concat(lit("a"), g, lit(".github.io")))
        .when(m === 1, concat(lit("b"), g, lit(".s3.amazonaws.com")))
        .when(m === 2, concat(lit("w"), g, lit(".pref.aichi.jp")))
        .when(m === 3, concat(lit("f"), g, lit(".bar.ck")))
        .when(m === 4, lit("www.ck"))
        .when(m === 5, concat(lit("s"), g, lit(".co.uk")))
        .when(m === 6, concat(lit("x"), g, lit(".example.com")))
        .when(m === 7, concat(lit("p"), g, lit(".city.kawasaki.jp")))
        .when(m === 8, lit("ne.jp"))
        .when(m === 9, concat(lit("lb"), g, lit(".us-east-1.elb.amazonaws.com")))
        .when(m === 10, concat(lit("z"), g, lit(".blogspot.co.uk")))
        .otherwise(lit("ward.kawasaki.jp"))
      Urls.withRegisteredDomain(
        t(s, dir, "documents").select(col("doc_id"), host.as("host")), "host")
        .select(col("doc_id"), col("host"), col("registered_domain"))
    },
      // q355: the PSL algorithm replayed in SQL against the SAME rule table
      // the Spark op broadcasts (rendered from the loaded snapshot at
      // oracle-build time, so op and oracle cannot drift): candidate
      // suffixes per rule depth, exception precedence, longest match with
      // wildcards counting their * label, implicit-default fallback.
      s"""WITH rules(suffix, nlab, kind) AS (VALUES $PslRulesValues),
        |h AS (SELECT doc_id,
        |  CASE doc_id % 12
        |   WHEN 0 THEN 'a' || CAST(doc_id AS VARCHAR) || '.github.io'
        |   WHEN 1 THEN 'b' || CAST(doc_id AS VARCHAR) || '.s3.amazonaws.com'
        |   WHEN 2 THEN 'w' || CAST(doc_id AS VARCHAR) || '.pref.aichi.jp'
        |   WHEN 3 THEN 'f' || CAST(doc_id AS VARCHAR) || '.bar.ck'
        |   WHEN 4 THEN 'www.ck'
        |   WHEN 5 THEN 's' || CAST(doc_id AS VARCHAR) || '.co.uk'
        |   WHEN 6 THEN 'x' || CAST(doc_id AS VARCHAR) || '.example.com'
        |   WHEN 7 THEN 'p' || CAST(doc_id AS VARCHAR) || '.city.kawasaki.jp'
        |   WHEN 8 THEN 'ne.jp'
        |   WHEN 9 THEN 'lb' || CAST(doc_id AS VARCHAR) || '.us-east-1.elb.amazonaws.com'
        |   WHEN 10 THEN 'z' || CAST(doc_id AS VARCHAR) || '.blogspot.co.uk'
        |   ELSE 'ward.kawasaki.jp' END AS host
        | FROM documents),
        |l AS (SELECT doc_id, host, string_split(host, '.') AS labs,
        |  len(string_split(host, '.')) AS n FROM h),
        |m AS (SELECT l.doc_id, l.n, ks.k, r.kind
        | FROM l CROSS JOIN (VALUES $PslDepthsValues) ks(k)
        | JOIN rules r ON l.n >= ks.k
        |  AND array_to_string(l.labs[l.n - ks.k + 1:l.n], '.') = r.suffix),
        |a AS (SELECT doc_id,
        |  max(CASE WHEN kind = 2 THEN k - 1 END) AS exc,
        |  max(CASE WHEN kind = 0 THEN k WHEN kind = 1 AND n > k THEN k + 1 END) AS best
        | FROM m GROUP BY doc_id),
        |j AS (SELECT l.doc_id, l.host, l.labs, l.n,
        |  coalesce(a.exc, a.best, 1) AS pslen
        | FROM l LEFT JOIN a USING (doc_id))
        |SELECT doc_id, host,
        | CASE WHEN n > pslen THEN array_to_string(labs[n - pslen:n], '.') END
        |   AS registered_domain
        |FROM j""".stripMargin),

    // ---- HTML markup strip over synthesized pages (every feature a pure
    // function of doc_id + text): script/style/comment spans with content,
    // tags to spaces, entity decode in single-pass order, whitespace
    // squish. The oracle replays the same regex chain in DuckDB. ------------
    QueryCase("q358_html_strip", (s, dir) =>
      Html.stripMarkup(
        t(s, dir, "documents").select(col("doc_id"), syntheticHtml.as("html")))
        .select(col("doc_id"), col("clean_text")),
      // q358: the markup-strip regex chain replayed step-for-step (DuckDB
      // regexp_replace needs the explicit 'g' flag; Spark's replaces all by
      // default — same result).
      s"""WITH $HtmlFixtureCte,
        |s1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x FROM h),
        |s2 AS (SELECT doc_id, regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s3),
        |s5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(x,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |  '&apos;', ''''), '&nbsp;', ' ') AS x FROM s4),
        |s6 AS (SELECT doc_id, replace(x, '&amp;', '&') AS x FROM s5)
        |SELECT doc_id, trim(regexp_replace(x, '\\s+', ' ', 'g')) AS clean_text FROM s6""".stripMargin),

    // ---- main-content extraction via the link-density line filter over
    // the same pages: nav/link-list lines drop, prose lines survive in
    // order — entirely filter/transform lambdas on the split-line array
    // (map-side, no explode, no shuffle). -----------------------------------
    QueryCase("q359_main_content", (s, dir) =>
      Html.mainContent(
        t(s, dir, "documents").select(col("doc_id"), syntheticHtml.as("html")))
        .select(col("doc_id"), col("main_text")),
      // q359: the line filter replayed — split on chr(10) with positions,
      // per-line clean chain, anchor-text chars via regexp_extract_all +
      // list_sum, the integer density predicate, and an order-preserving
      // list() re-join; docs with zero kept lines re-enter as '' via the
      // left join (Spark's array_join over an empty array).
      s"""WITH $HtmlFixtureCte,
        |$MainContentCtes
        |SELECT h.doc_id, coalesce(m.main_text, '') AS main_text
        |FROM h LEFT JOIN m USING (doc_id)""".stripMargin),

    // ---- the web-corpus composition end-to-end: anchor extraction
    // (quoted + unquoted hrefs) → RFC 3986 resolution against the page
    // URL (absolute / protocol-relative / root-relative / path-relative /
    // query / fragment / mailto) → canonicalization + PSL registered
    // domain on BOTH ends → the per-domain outlink graph. The oracle
    // derives every target domain INDEPENDENTLY from the id formula, so
    // a misfire anywhere in the chain breaks the match. ---------------------
    QueryCase("q362_outlink_domains", (s, dir) => {
      val id = col("doc_id").cast("string")
      val base = concat(lit("https://WWW.Site"), (col("doc_id") % 4).cast("string"),
        lit(".github.io/dir/index.html"))
      val html = concat(
        lit("<p>Links:</p>\n<a href=\"https://ext"), (col("doc_id") % 7).cast("string"),
        lit(".example.org/a\">Abs</a>\n"),
        lit("<a href='//cdn"), (col("doc_id") % 5).cast("string"),
        lit(".example.co.uk/lib.js'>Proto</a>\n"),
        lit("<a href=/local/"), id, lit(">Root</a>\n"),
        lit("<a href=sub/page"), (col("doc_id") % 3).cast("string"), lit(".html>Rel</a>\n"),
        lit("<a href=?p=2>Query</a> <a href=#top>Frag</a>\n"),
        lit("<a href=mailto:x@example.net>Mail</a>"))
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), base.as("page_url"), html.as("html"))
      val links = pages.select(col("page_url"),
        explode(Html.extractLinks(col("html"))).as("ref"))
      val resolved = links.select(col("page_url"),
        Urls.resolve(col("page_url"), col("ref")).as("url"))
      val tgt = Urls.canonicalize(resolved)
        .select(col("page_url").as("url"), col("registered_domain").as("target_domain"))
      Urls.canonicalize(tgt)
        .select(col("registered_domain").as("page_domain"), col("target_domain"))
        .where(col("target_domain").isNotNull)
        .groupBy("page_domain", "target_domain")
        .agg(count(lit(1)).as("n_links"))
    },
      // q362: INDEPENDENT derivation — the oracle never parses HTML or
      // resolves URLs; it computes each link's expected registered domain
      // straight from the id formula (abs → example.org, protocol-relative
      // → example.co.uk, the four same-site refs → the page's github.io
      // domain, mailto → dropped). Any misfire in extraction, resolution,
      // canonicalization or the PSL breaks the match.
      """WITH d AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io' AS pd
        | FROM documents),
        |l AS (
        | SELECT pd, 'example.org' AS td FROM d
        | UNION ALL SELECT pd, 'example.co.uk' FROM d
        | UNION ALL SELECT pd, pd FROM d
        | UNION ALL SELECT pd, pd FROM d
        | UNION ALL SELECT pd, pd FROM d
        | UNION ALL SELECT pd, pd FROM d)
        |SELECT pd AS page_domain, td AS target_domain,
        | CAST(count(*) AS BIGINT) AS n_links
        |FROM l GROUP BY 1, 2""".stripMargin),

    // ---- robots.txt admission (crawl-side filter): per-doc star-group
    // bodies exercising group isolation (a foreign group disallows
    // everything), longest-match, the Allow tie-break and the no-match
    // default; the oracle derives every expected decision INDEPENDENTLY
    // from the id formula. ---------------------------------------------------
    QueryCase("q363_robots_allowed", (s, dir) => {
      val m2 = (col("doc_id") % 2).cast("string")
      val m3 = (col("doc_id") % 3).cast("string")
      val robots = concat(
        lit("User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow: /private\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("Allow: /private/ok"), m2, lit("\n"))).otherwise(lit("")),
        lit("Disallow: /tmp"), m3,
        lit("\n\nUser-agent: other\nDisallow: /x\n"))
      val path = when(col("doc_id") % 5 === 0, concat(lit("/private/ok"), m2, lit("/page")))
        .when(col("doc_id") % 5 === 1, lit("/private/secret"))
        .when(col("doc_id") % 5 === 2, lit("/public/a"))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp"), m3, lit("/x")))
        .otherwise(lit("/x/y"))
      graft.ops.Robots.filterAllowed(
        t(s, dir, "documents")
          .select(col("doc_id"), robots.as("robots"), path.as("path")))
        .select(col("doc_id"), col("path"), col("allowed"))
    },
      // q363: independent derivation, the q362 idiom — expected decisions
      // computed straight from the id formula (star-group rules by id:
      // /private disallowed, /private/ok{0} allowed only for even ids,
      // /tmp{m3} disallowed, foreign groups invisible, no match allowed).
      """SELECT doc_id,
        | CASE doc_id % 5
        |  WHEN 0 THEN '/private/ok' || CAST(doc_id % 2 AS VARCHAR) || '/page'
        |  WHEN 1 THEN '/private/secret'
        |  WHEN 2 THEN '/public/a'
        |  WHEN 3 THEN '/tmp' || CAST(doc_id % 3 AS VARCHAR) || '/x'
        |  ELSE '/x/y' END AS path,
        | CASE doc_id % 5
        |  WHEN 0 THEN doc_id % 2 = 0
        |  WHEN 1 THEN false
        |  WHEN 2 THEN true
        |  WHEN 3 THEN false
        |  ELSE true END AS allowed
        |FROM documents""".stripMargin),

    // ---- the crawl-ingest COMPOSITE, end to end in one plan: gzip'd
    // HTML pages decode distributed → robots admission drops /private
    // paths → main-content extraction → token count + canonical URL.
    // Every stage is individually oracled (q364/q363/q359/q354); this
    // verifies their COMPOSITION, with the oracle reusing q359's replay
    // chain and deriving admission/URL straight from the id formula. --------
    QueryCase("q365_crawl_ingest", (s, dir) => {
      val gz = MediaFixtures.syntheticGzipDocs(
        t(s, dir, "documents").select(col("doc_id"), syntheticHtml.as("text")))
      val pages = Multimodal.gunzipText(gz).toDF()
        .select(col("media_id").as("doc_id"), col("text_out").as("html"))
        .withColumn("path",
          when(col("doc_id") % 7 === 0,
            concat(lit("/private/p"), col("doc_id").cast("string")))
            .otherwise(concat(lit("/dir/page"), col("doc_id").cast("string"))))
        .withColumn("robots", lit("User-agent: *\nDisallow: /private"))
      val admitted = graft.ops.Robots.filterAllowed(pages).where(col("allowed"))
      val content = Html.mainContent(admitted)
      val withUrl = content.withColumn("url",
        concat(lit("https://WWW.Site"), (col("doc_id") % 4).cast("string"),
          lit(".github.io"), col("path")))
      Urls.canonicalize(withUrl)
        .select(col("doc_id"), col("canonical_url"), col("registered_domain"),
          TextFunctions.tokenCount(col("main_text")).as("n_tokens"))
    },
      // q365: the q359 replay chain over the same HTML fixture, admission
      // and canonical URL derived straight from the id formula (robots
      // drops doc_id % 7 = 0; the path has no port/query/fragment so its
      // canonical form is the lowercased-host concatenation), token count
      // via the standard pre-tokenizer extract-all.
      s"""WITH $HtmlFixtureCte,
         |$MainContentCtes,
         |adm AS (SELECT h.doc_id, coalesce(m.main_text, '') AS mt
         |        FROM h LEFT JOIN m USING (doc_id) WHERE h.doc_id % 7 <> 0)
         |SELECT doc_id,
         | 'https://www.site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io/dir/page'
         |   || CAST(doc_id AS VARCHAR) AS canonical_url,
         | 'site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io' AS registered_domain,
         | CAST(len(regexp_extract_all(mt, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         |   AS n_tokens
         |FROM adm""".stripMargin),

    // ---- frontier politeness scheduling (the Mercator stage between
    // link discovery and fetching): canonical-URL dedup where the max
    // queued priority wins (every 3rd URL arrives twice — once with a
    // tracking param and mixed host case — and must collapse), then
    // per-host serial slots with the priority-desc/URL-asc order and the
    // per-host admission cap. The oracle derives every canonical form
    // independently from the id formula and replays the window. ------------
    QueryCase("q366_crawl_schedule", (s, dir) => {
      val id = col("doc_id")
      val docs = t(s, dir, "documents")
      val first = docs.select(
        concat(lit("http://host"), (id % 20).cast("string"), lit(".example.com/p/"),
          id.cast("string"),
          when(id % 3 === 0, lit("?utm_source=feed&b=2")).otherwise(lit(""))).as("url"),
        (id * 7919 % 101).as("priority"))
      val dup = docs.where(id % 3 === 0).select(
        concat(lit("http://HOST"), (id % 20).cast("string"), lit(".Example.com/p/"),
          id.cast("string"), lit("?b=2")).as("url"),
        (id * 7919 % 101 + 50).as("priority"))
      Crawl.politenessSchedule(first.unionByName(dup),
        delayMs = 100L, maxPerHost = 8)
    },
      // q366: independent derivation — both queued spellings canonicalize
      // to the same lowercase-host, tracking-param-free form straight from
      // the id formula; max-priority dedup and the per-host window replay
      // in SQL.
      """WITH f AS (
        | SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |   || CAST(doc_id AS VARCHAR)
        |   || CASE WHEN doc_id % 3 = 0 THEN '?b=2' ELSE '' END AS url,
        |  CAST(doc_id * 7919 % 101 AS BIGINT) AS priority
        | FROM documents
        | UNION ALL
        | SELECT 'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |   || CAST(doc_id AS VARCHAR) || '?b=2' AS url,
        |  CAST(doc_id * 7919 % 101 + 50 AS BIGINT) AS priority
        | FROM documents WHERE doc_id % 3 = 0),
        |d AS (
        | SELECT regexp_extract(url, '^http://([^/]*)', 1) AS host, url,
        |  max(priority) AS priority
        | FROM f GROUP BY 1, 2),
        |r AS (
        | SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rn
        | FROM d)
        |SELECT host, url, priority, CAST((rn - 1) * 100 AS BIGINT) AS fetch_offset_ms
        |FROM r WHERE rn <= 8""".stripMargin),

    // ---- anchor-text aggregation (the classic inlink signal: what
    // other pages CALL a target): anchors extracted WITH inner text —
    // inner markup stripped, entities decoded, whitespace squished —
    // resolved, canonicalized, and counted per (target domain, text).
    // mailto anchors canonicalize to NULL and drop. The oracle derives
    // every (domain, text) pair independently from the id formula. ---------
    QueryCase("q369_anchor_text", (s, dir) => {
      val id = col("doc_id")
      val base = concat(lit("https://site"), (id % 4).cast("string"),
        lit(".github.io/dir/index.html"))
      val html = concat(
        lit("<a href=\"https://ext"), (id % 7).cast("string"),
        lit(".example.org/a\">Read   <b>more</b></a>\n"),
        lit("<a href='//cdn"), (id % 5).cast("string"),
        lit(".example.co.uk/lib.js'>R&amp;D "), (id % 3).cast("string"), lit("</a>\n"),
        lit("<a href=/local/"), id.cast("string"), lit(">Home</a>\n"),
        lit("<a href=mailto:x@example.net>Mail me</a>"))
      val anchors = t(s, dir, "documents")
        .select(base.as("page_url"), explode(Html.extractAnchors(html)).as("a"))
        .select(col("page_url"), col("a.text").as("anchor_text"),
          Urls.resolve(col("page_url"), col("a.href")).as("url"))
      Urls.canonicalize(anchors)
        .where(col("registered_domain").isNotNull)
        .groupBy(col("registered_domain").as("target_domain"), col("anchor_text"))
        .agg(count(lit(1)).as("n_links"))
    },
      // q369: independent derivation, the q362 idiom — every (target
      // domain, anchor text) pair computed straight from the id formula
      // (abs → example.org with the markup-stripped squished text;
      // protocol-relative → example.co.uk with the entity-decoded text;
      // root-relative → the page's own domain; mailto drops).
      """WITH d AS (SELECT doc_id FROM documents),
        |l AS (
        | SELECT 'example.org' AS td, 'Read more' AS anchor_text FROM d
        | UNION ALL SELECT 'example.co.uk', 'R&D ' || CAST(doc_id % 3 AS VARCHAR) FROM d
        | UNION ALL SELECT 'site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io', 'Home' FROM d)
        |SELECT td AS target_domain, anchor_text, CAST(count(*) AS BIGINT) AS n_links
        |FROM l GROUP BY 1, 2""".stripMargin),

    // ---- recrawl priority from fetch history (Cho & Garcia-Molina
    // freshness): 100 synthetic URL histories carved from events by id
    // residue (event_id is the fetch clock — unique, so the change-lag
    // order is total), content hash varying per-URL by formula; change
    // rate × staleness age, exact integers. asOf = corpus max + 1000 via
    // a 1-row agg, so the fixture scales with the table. -------------------
    QueryCase("q370_recrawl_priority", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"))
      val asOf = ev.agg(max(col("event_id"))).head().getLong(0) + 1000L
      val hist = ev.select(
        concat(lit("u"), (col("event_id") % 100).cast("string")).as("url"),
        col("event_id").as("ts_ms"),
        (expr("event_id div 100") * (lit(1) + col("event_id") % 100) % 5)
          .cast("string").as("content_hash"))
      Crawl.recrawlPriority(hist, asOfMs = asOf)
    },
      // q370: full window replay — the same lag-based change flags over the
      // event_id fetch clock, then the per-URL fold and the exact-integer
      // rate/age/priority arithmetic.
      """WITH h AS (SELECT 'u' || CAST(event_id % 100 AS VARCHAR) AS url,
        |  event_id AS ts,
        |  CAST((event_id // 100) * (1 + event_id % 100) % 5 AS VARCHAR) AS ch
        | FROM events),
        |c AS (SELECT url, ts,
        |  CASE WHEN lag(ch) OVER (PARTITION BY url ORDER BY ts, ch) IS NULL THEN 0
        |       WHEN ch <> lag(ch) OVER (PARTITION BY url ORDER BY ts, ch) THEN 1
        |       ELSE 0 END AS chg
        | FROM h),
        |a AS (SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
        |  CAST(sum(chg) AS BIGINT) AS n_changes, max(ts) AS last_ts
        | FROM c GROUP BY 1),
        |m AS (SELECT max(event_id) + 1000 AS as_of FROM events)
        |SELECT url, n_fetches, n_changes,
        | CAST(CASE WHEN n_fetches > 1
        |   THEN (1000000 * n_changes) // (n_fetches - 1) ELSE 0 END AS BIGINT)
        |   AS change_rate_ppm,
        | CAST(m.as_of - last_ts AS BIGINT) AS age_ms,
        | CAST((CASE WHEN n_fetches > 1
        |   THEN (1000000 * n_changes) // (n_fetches - 1) ELSE 0 END
        |   * (m.as_of - last_ts)) // 1000 AS BIGINT) AS priority
        |FROM a, m""".stripMargin),

    // ---- largest-remainder fetch-budget apportionment: a 10000-slot
    // global budget split across 97 supplier-derived domains
    // proportional to their quantity mass — floor shares, then the
    // leftover to the largest remainders, Σalloc = budget exactly. ---------
    QueryCase("q371_budget_allocation", (s, dir) =>
      Crawl.allocateBudget(
        t(s, dir, "lineitem").select(
          concat(lit("d"), (col("l_suppkey") % 97).cast("string")).as("domain"),
          col("l_quantity").cast("long").as("weight")),
        budget = 10000L),
      // q371: the Hamilton apportionment replay — floor shares by exact
      // division, leftover slots to the largest remainders with the
      // domain-name tie-break, summing to the budget by construction.
      """WITH w AS (SELECT 'd' || CAST(l_suppkey % 97 AS VARCHAR) AS domain,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        | FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(w) AS tw FROM w),
        |b AS (SELECT domain, w,
        |  CAST((10000 * CAST(w AS HUGEINT)) // tw AS BIGINT) AS fl,
        |  CAST((10000 * CAST(w AS HUGEINT)) % tw AS BIGINT) AS rem
        | FROM w, t),
        |r AS (SELECT domain, w, fl, rem,
        |  sum(fl) OVER () AS spent,
        |  row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk
        | FROM b)
        |SELECT domain, w AS weight,
        | CAST(fl + CASE WHEN rk <= 10000 - spent THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r""".stripMargin),

    // ---- sitemap parsing (the publisher-declared half of discovery):
    // per doc, a synthetic urlset with a lastmod'd page, a bare page, a
    // loc-less entry (must drop) and — every 4th doc — a nested sitemap
    // index entry. The oracle derives every entry from the id formula. ------
    QueryCase("q372_sitemap", (s, dir) => {
      val id = col("doc_id")
      val host = concat(lit("s"), (id % 6).cast("string"), lit(".example.com"))
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        lit("<url><loc> https://"), host, lit("/p/"), id.cast("string"),
        lit(" </loc><lastmod>2024-0"), (id % 9 + 1).cast("string"),
        lit("-01</lastmod></url>"),
        lit("<url><loc>https://"), host, lit("/q/"), id.cast("string"),
        lit("</loc></url>"),
        lit("<url><lastmod>2024-01-01</lastmod></url>"),
        when(id % 4 === 0, concat(lit("<sitemap><loc>https://"), host,
          lit("/sitemap2.xml</loc></sitemap>"))).otherwise(lit("")),
        lit("</urlset>"))
      t(s, dir, "documents")
        .select(id, posexplode(Crawl.sitemapEntries(xml)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col.loc").as("loc"), col("col.lastmod").as("lastmod"),
          col("col.is_index").as("is_index"))
    },
      // q372: independent derivation — every sitemap entry (loc trimmed,
      // lastmod nullable, the loc-less entry dropped, the index entry only
      // on every 4th doc) computed straight from the id formula, with the
      // post-filter array positions.
      """WITH d AS (SELECT doc_id,
        |  's' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS h FROM documents),
        |e AS (
        | SELECT doc_id, 0 AS pos,
        |  'https://' || h || '/p/' || CAST(doc_id AS VARCHAR) AS loc,
        |  '2024-0' || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01' AS lastmod,
        |  false AS is_index FROM d
        | UNION ALL SELECT doc_id, 1,
        |  'https://' || h || '/q/' || CAST(doc_id AS VARCHAR), NULL, false FROM d
        | UNION ALL SELECT doc_id, 2,
        |  'https://' || h || '/sitemap2.xml', NULL, true FROM d WHERE doc_id % 4 = 0)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, loc, lastmod, is_index FROM e""".stripMargin),

    // ---- the frontier COMPOSITE, discovery to schedule in one plan:
    // anchors extracted → RFC 3986 resolved → robots admission (drops
    // the /private link) → canonicalized, inlink count becomes the
    // frontier priority → per-host politeness slots under the cap. Every
    // stage is individually oracled (q362/q363/q354/q366); the oracle
    // derives admitted URLs and counts straight from the id formula and
    // replays the window. ---------------------------------------------------
    QueryCase("q373_frontier_composite", (s, dir) => {
      val id = col("doc_id")
      val base = concat(lit("https://site"), (id % 4).cast("string"),
        lit(".github.io/dir/index.html"))
      val html = concat(
        lit("<a href=\"https://h"), (id % 10).cast("string"), lit(".example.org/page"),
        (id % 25).cast("string"), lit("\">x</a>"),
        lit("<a href='https://h"), ((id + 3) % 10).cast("string"),
        lit(".example.org/private/p"), (id % 5).cast("string"), lit("'>y</a>"),
        lit("<a href=/local/l"), (id % 8).cast("string"), lit(">z</a>"))
      val links = t(s, dir, "documents")
        .select(base.as("page_url"), explode(Html.extractLinks(html)).as("ref"))
        .select(Urls.resolve(col("page_url"), col("ref")).as("url"))
      val admitted = graft.ops.Robots.filterAllowed(
        links
          .withColumn("path", regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)$", 1))
          .withColumn("robots", lit("User-agent: *\nDisallow: /private")))
        .where(col("allowed"))
      // Staged (r17 optimization): same cut as q422 — the grouped frontier
      // is one URL + one count per row, but unstaged it drags the full
      // link-extraction/admission/canonicalize tree (~470 KB formatted)
      // under politenessSchedule's second canonicalize + PSL joins and
      // every AQE pass re-walks it. Measured 7.4 s -> ~2.5 s at sf0.1.
      val frontier = graft.ops.Staging.stage(
        Urls.canonicalize(admitted)
          .where(col("canonical_url").isNotNull)
          .groupBy(col("canonical_url").as("url"))
          .agg(count(lit(1)).as("priority")))
      Crawl.politenessSchedule(frontier, delayMs = 200L, maxPerHost = 4)
    },
      // q373: independent derivation, the q362/q366 idiom — the admitted
      // frontier (the /private link never survives robots), its inlink
      // counts, and the per-host window all replayed from the id formula.
      """WITH d AS (SELECT doc_id FROM documents),
        |f AS (
        | SELECT 'h' || CAST(doc_id % 10 AS VARCHAR) || '.example.org' AS host,
        |  'https://h' || CAST(doc_id % 10 AS VARCHAR) || '.example.org/page'
        |    || CAST(doc_id % 25 AS VARCHAR) AS url FROM d
        | UNION ALL
        | SELECT 'site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io',
        |  'https://site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io/local/l'
        |    || CAST(doc_id % 8 AS VARCHAR) FROM d),
        |g AS (SELECT host, url, CAST(count(*) AS BIGINT) AS priority
        |      FROM f GROUP BY 1, 2),
        |r AS (SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rn
        | FROM g)
        |SELECT host, url, priority, CAST((rn - 1) * 200 AS BIGINT) AS fetch_offset_ms
        |FROM r WHERE rn <= 4""".stripMargin),

    // ---- Crawl-delay-aware politeness: per-host delays parsed from the
    // robots body ((h%3+1).5 s; every 5th host declares none → the 700 ms
    // default), hosts slot independently at their own cadence. The
    // oracle derives every delay and offset from the id formula. ------------
    QueryCase("q380_crawl_delay_schedule", (s, dir) => {
      val id = col("doc_id")
      val h = id % 20
      val robots = when(h % 5 === 0,
        lit("User-agent: *\nDisallow: /private"))
        .otherwise(concat(lit("User-agent: *\nCrawl-delay: "),
          (h % 3 + 1).cast("string"), lit(".5\nDisallow: /private")))
      val frontier = t(s, dir, "documents").select(
        concat(lit("http://host"), h.cast("string"), lit(".example.com/p/"),
          id.cast("string")).as("url"),
        (id * 7919 % 101).as("priority"),
        graft.ops.Robots.crawlDelay(robots).as("delay_ms"))
      Crawl.politenessScheduleWithDelays(frontier,
        defaultDelayMs = 700L, maxPerHost = 6)
    },
      // q380: independent derivation — per-host delay from the robots
      // formula ((h%3+1)*1000+500 ms, 700 default on every 5th host), then
      // the per-host window with delay-scaled offsets.
      """WITH f AS (
        | SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
        |  'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(doc_id * 7919 % 101 AS BIGINT) AS priority,
        |  CAST(CASE WHEN (doc_id % 20) % 5 = 0 THEN 700
        |       ELSE ((doc_id % 20) % 3 + 1) * 1000 + 500 END AS BIGINT) AS delay_ms
        | FROM documents),
        |d AS (SELECT host, url, max(priority) AS priority, max(delay_ms) AS delay_ms
        |      FROM f GROUP BY 1, 2),
        |r AS (SELECT host, url, priority, delay_ms,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rn
        | FROM d)
        |SELECT host, url, priority, delay_ms,
        | CAST((rn - 1) * delay_ms AS BIGINT) AS fetch_offset_ms
        |FROM r WHERE rn <= 6""".stripMargin),

    // ---- WARC container ingest (the interchange format public crawls
    // actually ship in): documents group 8-per-file into real .warc.gz
    // bytes — one gzip member per record, the standard seekable layout —
    // and the member walk + strict record framing parse them back
    // distributed. The oracle derives every field (file grouping, record
    // order, URI, type, byte length, text) straight from the id formula:
    // the q364 identity-roundtrip idiom at container grain. -----------------
    QueryCase("q384_warc_ingest", (s, dir) =>
      graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarc(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id").as("file_id"), col("record_idx"),
          col("warc_type"), col("target_uri"), col("n_bytes"),
          col("payload").cast("string").as("text_out")),
      // q384: identity derivation — a correct member walk + record framing
      // must reproduce each file's records in order: one fixed warcinfo
      // per file (21-byte body), then the file's documents in doc-id order
      // with URI/type/length/text straight from the table (text is pure
      // ASCII, so strlen == octet_length — the q364 precedent).
      WarcIngestOracleSql),

    // ---- the crawl-ingest composite FROM the on-disk crawl format:
    // q365's chain (robots admission → main-content → canonical URL +
    // tokens) re-rooted at real WARC input — pages arrive as gzip-member
    // response records whose Target-URI carries the admission path, so
    // the whole pipeline now runs from the file a crawler writes. Oracle
    // = the q359 replay chain + id-formula URI derivation (q365 idiom). ----
    QueryCase("q385_warc_crawl", (s, dir) => {
      val id = col("doc_id")
      val docs = t(s, dir, "documents").select(
        id, syntheticHtml.as("text"),
        concat(lit("https://host"), (id % 20).cast("string"), lit(".example.com"),
          when(id % 7 === 0, concat(lit("/private/p"), id.cast("string")))
            .otherwise(concat(lit("/dir/page"), id.cast("string")))).as("uri"))
      val pages = graft.ops.Warc.responsePages(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarc(docs)))
        .withColumn("path", regexp_extract(col("target_uri"), "^[a-z]+://[^/]*(/.*)$", 1))
        .withColumn("robots", lit("User-agent: *\nDisallow: /private"))
      val admitted = graft.ops.Robots.filterAllowed(pages).where(col("allowed"))
      val content = Html.mainContent(admitted)
      Urls.canonicalize(content.withColumn("url", col("target_uri")))
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("canonical_url"), col("registered_domain"),
          TextFunctions.tokenCount(col("main_text")).as("n_tokens"))
    },
      // q385: the q359 replay chain over the same HTML fixture (q365's
      // oracle shape), admission and canonical URL derived straight from
      // the WARC Target-URI id formula — robots drops doc_id % 7 = 0, the
      // URI is already canonical (lowercase host, no port/query/fragment),
      // and hostN.example.com's registered domain is example.com.
      s"""WITH $HtmlFixtureCte,
         |$MainContentCtes,
         |adm AS (SELECT h.doc_id, coalesce(m.main_text, '') AS mt
         |        FROM h LEFT JOIN m USING (doc_id) WHERE h.doc_id % 7 <> 0)
         |SELECT doc_id,
         | 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/dir/page'
         |   || CAST(doc_id AS VARCHAR) AS canonical_url,
         | 'example.com' AS registered_domain,
         | CAST(len(regexp_extract_all(mt, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
         |   AS n_tokens
         |FROM adm""".stripMargin),

    // ---- HTTP message split inside WARC response records: real
    // crawlers archive the whole wire message (status line + headers +
    // body), not bare HTML, so the container-to-text chain needs this
    // parse. Status/Content-Type/X-Doc all id formulas; the oracle
    // derives every field and the body is the roundtrip identity. ----------
    QueryCase("q393_http_split", (s, dir) => {
      import s.implicits._
      val msgs = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          val body = Option(text).getOrElse("").getBytes("UTF-8")
          val ct = if (id % 2 == 1) "text/html; charset=iso-8859-1" else "text/html"
          val status = 200 + (id % 3).toInt * 2
          val head = s"HTTP/1.1 $status OK\r\nContent-Type: $ct\r\nX-Doc: $id\r\n\r\n"
          (id, head.getBytes("US-ASCII") ++ body,
            s"https://host${id % 20}.example.com/p/$id")
        }.toDF("doc_id", "payload", "uri")
      graft.ops.Warc.httpResponses(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs)))
        .toDF()
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("status").cast("long").as("status"), col("content_type"),
          col("n_headers").cast("long").as("n_headers"),
          col("body").cast("string").as("text_out"))
    },
      // q393: pure identity derivation — status/content-type/header-count
      // from the id formulas, body the roundtrip identity (the q384
      // precedent, one framing layer deeper).
      """SELECT doc_id,
        | CAST(200 + (doc_id % 3) * 2 AS BIGINT) AS status,
        | CASE WHEN doc_id % 2 = 1 THEN 'text/html; charset=iso-8859-1'
        |  ELSE 'text/html' END AS content_type,
        | CAST(2 AS BIGINT) AS n_headers,
        | coalesce(text, '') AS text_out
        |FROM documents""".stripMargin),

    // ---- the COMPLETE day-one ingest: .warc.gz → gzip member walk →
    // record framing → HTTP message split → charset sniff with the
    // transport declaration (BOM'd UTF-16LE leg vs Content-Type-declared
    // latin-1 leg, a non-ASCII é in every page) → main-content → token
    // count. Every stage individually oracled (q384/q393/q390/q359);
    // this verifies the full composition from the on-disk crawl format
    // to clean corpus text. -------------------------------------------------
    QueryCase("q394_warc_http_ingest", (s, dir) => {
      import s.implicits._
      val htmlDocs = t(s, dir, "documents").select(col("doc_id"),
        concat(syntheticHtml,
          lit("\n<p>caf\u00e9 filler prose line stays in the corpus</p>")).as("html"),
        concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/dir/page"), col("doc_id").cast("string")).as("uri"))
      val msgs = graft.io.Spread.toDefaultParallelism(htmlDocs)
        .as[(Long, String, String)]
        .map { case (id, html, uri) =>
          import java.nio.charset.StandardCharsets._
          val (ct, body) =
            if (id % 2 == 1) ("text/html; charset=iso-8859-1", html.getBytes(ISO_8859_1))
            else ("text/html",
              Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes(UTF_16LE))
          val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\nX-Doc: $id\r\n\r\n"
          (id, head.getBytes("US-ASCII") ++ body, uri)
        }.toDF("doc_id", "payload", "uri")
      val pages = graft.ops.Warc.decodePages(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs))).toDF()
      Html.mainContent(pages).select(
        regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
        col("encoding"), col("status").cast("long").as("status"),
        TextFunctions.tokenCount(col("main_text")).as("n_tokens"))
    },
      // q394: the q359 replay chain over the fixture html EXTENDED with
      // the é paragraph (chr(233) — both encoding legs must deliver the
      // identical decoded page or the token counts diverge), encoding
      // label from the leg formula. The base fixture CTE is renamed h0 by
      // a literal string substitution on the SHARED HtmlFixtureCte value
      // so the two cannot drift.
      s"""WITH ${HtmlFixtureCte.replace("h AS (SELECT doc_id,", "h0 AS (SELECT doc_id,")},
         |h AS (SELECT doc_id, html || chr(10) || '<p>caf' || chr(233)
         |  || ' filler prose line stays in the corpus</p>' AS html FROM h0),
         |$MainContentCtes
         |SELECT h.doc_id,
         | CASE WHEN h.doc_id % 2 = 1 THEN 'windows-1252' ELSE 'utf-16le' END AS encoding,
         | CAST(200 AS BIGINT) AS status,
         | CAST(len(regexp_extract_all(coalesce(m.main_text, ''),
         |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
         |FROM h LEFT JOIN m USING (doc_id)""".stripMargin),

    // ---- WET export roundtrip: extracted text re-wrapped as standard
    // `conversion` records (Content-Type text/plain + WARC-Refers-To),
    // member-per-record gzip — the WRITE half of the crawl interchange
    // story — then parsed back by the same strict framing. The oracle
    // derives grouping/order/headers/text from the id formula (the q384
    // idiom with the conversion envelope). ----------------------------------
    QueryCase("q398_wet_export", (s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("text"),
        concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("uri"))
      graft.ops.Warc.parseWarc(graft.ops.Warc.toWet(pages))
        .toDF()
        .select(col("media_id").as("file_id"), col("record_idx"),
          col("warc_type"), col("target_uri"),
          col("n_headers").cast("long").as("n_headers"), col("n_bytes"),
          col("payload").cast("string").as("text_out"))
    },
      // q398: the q384 identity idiom with the conversion envelope —
      // conversion records carry 7 header fields (4 base + Refers-To +
      // Content-Type + Content-Length), warcinfo 4.
      """WITH conv AS (
        | SELECT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
        |    AS BIGINT) AS record_idx,
        |  'conversion' AS warc_type,
        |  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CAST(7 AS BIGINT) AS n_headers,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  coalesce(text, '') AS text_out
        | FROM documents),
        |info AS (
        | SELECT DISTINCT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(0 AS BIGINT) AS record_idx, 'warcinfo' AS warc_type,
        |  CAST(NULL AS VARCHAR) AS target_uri, CAST(4 AS BIGINT) AS n_headers,
        |  CAST(21 AS BIGINT) AS n_bytes,
        |  'software: graft/0.1' || chr(13) || chr(10) AS text_out
        | FROM documents)
        |SELECT * FROM info UNION ALL SELECT * FROM conv""".stripMargin),

    // ---- robots `Sitemap:` declarations (the sitemaps.org extension):
    // GLOBAL scope — the second declaration sits inside a foreign
    // user-agent group and must still extract — with comment stripping
    // and file order; feeds Crawl.sitemapEntries discovery (q372). The
    // oracle derives both URLs from the id formula. -------------------------
    QueryCase("q399_robots_sitemaps", (s, dir) => {
      val id = col("doc_id")
      val robots = concat(
        lit("User-agent: *\nDisallow: /private\n"),
        lit("Sitemap: https://s"), (id % 6).cast("string"),
        lit(".example.com/sitemap"), (id % 4).cast("string"), lit(".xml\n"),
        when(id % 3 === 0,
          concat(lit("User-agent: other\nSitemap: https://m"), (id % 5).cast("string"),
            lit(".example.org/root.xml  # trailing comment\n")))
          .otherwise(lit("")),
        lit("Crawl-delay: 2\n"))
      t(s, dir, "documents")
        .select(id, posexplode(graft.ops.Robots.sitemapUrls(robots)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("sitemap_url"))
    },
      // q399: both declarations derived from the id formula; the foreign-
      // group one only exists for doc_id % 3 = 0 and its trailing comment
      // must strip.
      """SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        | 'https://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/sitemap'
        |   || CAST(doc_id % 4 AS VARCHAR) || '.xml' AS sitemap_url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT) AS pos,
        | 'https://m' || CAST(doc_id % 5 AS VARCHAR) || '.example.org/root.xml' AS sitemap_url
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin),

    // ---- <base href> resolution (the HTML spec: the FIRST base element
    // re-roots every relative link on the page): even ids declare a CDN
    // base, odd ids none — the same two relative anchors must resolve to
    // DIFFERENT roots accordingly. The oracle derives both resolutions
    // from the id formula. --------------------------------------------------
    QueryCase("q400_base_href", (s, dir) => {
      val id = col("doc_id")
      val pageUrl = concat(lit("https://site"), (id % 4).cast("string"),
        lit(".github.io/dir/index.html"))
      val html = concat(
        when(id % 2 === 0,
          concat(lit("<head><base href=\"https://cdn"), (id % 3).cast("string"),
            lit(".example.net/assets/\"><base href=/ignored-second></head>")))
          .otherwise(lit("<head></head>")),
        lit("<a href=/local/"), id.cast("string"), lit(">abs</a>"),
        lit("<a href=rel/p"), (id % 5).cast("string"), lit(".html>rel</a>"))
      val pages = t(s, dir, "documents")
        .select(id, pageUrl.as("page_url"), html.as("html"))
      pages
        .select(col("doc_id"),
          coalesce(Html.baseHref(col("html")), col("page_url")).as("__base"),
          posexplode(Html.extractLinks(col("html"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          Urls.resolve(col("__base"), col("col")).as("url"))
    },
      // q400: both resolutions derived from the id formula — the rooted
      // anchor swaps path only, the relative anchor merges with the
      // base's directory (RFC 3986), and the base applies only on even
      // ids (first-base-wins: the second declaration must not).
      """SELECT doc_id, CAST(0 AS BIGINT) AS pos,
        | CASE WHEN doc_id % 2 = 0
        |  THEN 'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/local/'
        |    || CAST(doc_id AS VARCHAR)
        |  ELSE 'https://site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io/local/'
        |    || CAST(doc_id AS VARCHAR) END AS url
        |FROM documents
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT) AS pos,
        | CASE WHEN doc_id % 2 = 0
        |  THEN 'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/assets/rel/p'
        |    || CAST(doc_id % 5 AS VARCHAR) || '.html'
        |  ELSE 'https://site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io/dir/rel/p'
        |    || CAST(doc_id % 5 AS VARCHAR) || '.html' END AS url
        |FROM documents""".stripMargin),

    // ---- page metadata extraction (title + meta description + og:title
    // with content-before-name attribute order on every 3rd doc): the
    // most-used curation columns, entity-decoded and squished like all
    // extracted text. Oracle derives each from the id formula. -------------
    QueryCase("q401_page_meta", (s, dir) => {
      val id = col("doc_id")
      val html = concat(
        lit("<head><title> Doc "), id.cast("string"),
        lit(" &amp; Co </title>\n"),
        when(id % 3 === 0,
          concat(lit("<meta content=\"Summary "), (id % 7).cast("string"),
            lit(" here.\" name=\"description\">")))
          .otherwise(concat(lit("<meta name=\"description\" content=\"Summary "),
            (id % 7).cast("string"), lit(" here.\">"))),
        when(id % 4 === 0,
          concat(lit("<meta property=\"og:title\" content='OG "),
            (id % 5).cast("string"), lit("'>"))).otherwise(lit("")),
        lit("</head><body><p>body</p></body>"))
      t(s, dir, "documents").select(
        id,
        Html.title(html).as("title"),
        Html.metaContent(html, "description").as("description"),
        Html.metaContent(html, "og:title").as("og_title"))
    },
      // q401: every field straight from the id formula — the title's
      // entity decodes and squishes, both meta attribute orders land the
      // same description, og:title exists only on every 4th doc.
      """SELECT doc_id,
        | 'Doc ' || CAST(doc_id AS VARCHAR) || ' & Co' AS title,
        | 'Summary ' || CAST(doc_id % 7 AS VARCHAR) || ' here.' AS description,
        | CASE WHEN doc_id % 4 = 0 THEN 'OG ' || CAST(doc_id % 5 AS VARCHAR) END AS og_title
        |FROM documents""".stripMargin),

    // ---- redirect edges from archived 3xx responses (the crawl loop's
    // third discovery input besides anchors and sitemaps): 301s carry a
    // RELATIVE Location (legal; must resolve against the record URI),
    // 302s an absolute one, 200s contribute nothing. Oracle derives
    // every edge from the id formula. ---------------------------------------
    QueryCase("q402_redirect_edges", (s, dir) => {
      import s.implicits._
      val msgs = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id")))
        .as[Long]
        .map { id =>
          val uri = s"https://host${id % 20}.example.com/dir/p$id"
          val head = (id % 4) match {
            case 0 => s"HTTP/1.1 301 Moved Permanently\r\nLocation: /moved/m$id\r\n\r\n"
            case 1 => s"HTTP/1.1 302 Found\r\nLocation: https://next${id % 3}.example.org/p$id\r\n\r\n"
            case _ => "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
          }
          (id, (head + "body").getBytes("US-ASCII"), uri)
        }.toDF("doc_id", "payload", "uri")
      graft.ops.Warc.redirectEdges(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs)))
    },
      // q402: both edge families from the id formula — the relative
      // Location resolves against the record URI's directory root
      // (RFC 3986 '/'-rooted), the absolute one passes through; 200s
      // contribute nothing.
      """SELECT
        | 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/dir/p'
        |   || CAST(doc_id AS VARCHAR) AS from_url,
        | 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/moved/m'
        |   || CAST(doc_id AS VARCHAR) AS to_url
        |FROM documents WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT
        | 'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/dir/p'
        |   || CAST(doc_id AS VARCHAR) AS from_url,
        | 'https://next' || CAST(doc_id % 3 AS VARCHAR) || '.example.org/p'
        |   || CAST(doc_id AS VARCHAR) AS to_url
        |FROM documents WHERE doc_id % 4 = 1""".stripMargin),

    // ---- HTTP body WIRE CODINGS undone inside archived responses: real
    // crawls store the message as it crossed the wire — chunked transfer
    // framing de-framed, gzip/deflate content codings inflated,
    // chunked-over-gzip composed in the wire order, and an UNSUPPORTED
    // coding (a br label over plain bytes, the mislabel case) surviving
    // FLAGGED instead of silently dropping. Every leg's decoded body is
    // the roundtrip identity; headers and flags from the id formula. -------
    QueryCase("q403_http_content_decode", (s, dir) => {
      import s.implicits._
      val msgs = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          import graft.functions.BinaryCodecs
          val body = Option(text).getOrElse("").getBytes("UTF-8")
          // chunked framing: 7-byte chunks (multibyte UTF-8 split mid-
          // character on purpose — de-framing is byte-level), chunk
          // extension on the first size line, one trailer field
          def chunked(b: Array[Byte]): Array[Byte] = {
            val out = new java.io.ByteArrayOutputStream()
            var first = true
            b.grouped(7).foreach { c =>
              val ext = if (first) ";note=fixture" else ""
              first = false
              out.write((c.length.toHexString + ext + "\r\n").getBytes("US-ASCII"))
              out.write(c)
              out.write("\r\n".getBytes("US-ASCII"))
            }
            out.write("0\r\nX-Trailer: t\r\n\r\n".getBytes("US-ASCII"))
            out.toByteArray
          }
          val (codingHdrs, wire) = (id % 6) match {
            case 0 => ("", body)
            case 1 => ("Transfer-Encoding: chunked\r\n", chunked(body))
            case 2 => ("Content-Encoding: gzip\r\n", BinaryCodecs.gzip(body))
            case 3 => ("Content-Encoding: deflate\r\n", BinaryCodecs.zlibDeflate(body))
            case 4 => ("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
              chunked(BinaryCodecs.gzip(body)))
            case _ => ("Content-Encoding: br\r\n", body) // mislabeled: plain bytes
          }
          val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
            codingHdrs + s"X-Doc: $id\r\n\r\n"
          (id, head.getBytes("US-ASCII") ++ wire,
            s"https://host${id % 20}.example.com/p/$id")
        }.toDF("doc_id", "payload", "uri")
      graft.ops.Warc.httpResponses(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs)))
        .toDF()
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("n_headers").cast("long").as("n_headers"),
          col("content_encoding"),
          col("body_decoded"),
          col("body").cast("string").as("text_out"))
    },
      // q403: every decodable leg's body is the roundtrip identity, and
      // the mislabeled-br leg's "raw" body IS the plain text — so text_out
      // is the identity on all six legs and only headers/flags vary, all
      // from the id formula. Legs: 0 identity, 1 chunked, 2 gzip,
      // 3 deflate, 4 chunked-over-gzip, 5 unsupported-br (flagged).
      """SELECT doc_id,
        | CAST(CASE WHEN doc_id % 6 = 0 THEN 2 WHEN doc_id % 6 = 4 THEN 4
        |  ELSE 3 END AS BIGINT) AS n_headers,
        | CASE WHEN doc_id % 6 IN (2, 4) THEN 'gzip'
        |  WHEN doc_id % 6 = 3 THEN 'deflate'
        |  WHEN doc_id % 6 = 5 THEN 'br' END AS content_encoding,
        | doc_id % 6 <> 5 AS body_decoded,
        | coalesce(text, '') AS text_out
        |FROM documents""".stripMargin),

    // ---- WAT export roundtrip: the curation fields (status, content
    // type, title, meta description, base, outlinks) extracted by the
    // REAL Html operators, wrapped as Common Crawl-style `metadata`
    // records with a deterministic JSON envelope, member-per-record
    // gzip, then parsed back by the strict framing. The oracle rebuilds
    // the envelope STRING from the id formulas — field order and JSON
    // shape are interchange surface, so they are pinned byte-for-byte
    // (the q398 idiom with the metadata envelope). --------------------------
    QueryCase("q404_wat_export", (s, dir) => {
      val id = col("doc_id")
      val html = concat(
        lit("<head><title>Doc "), id.cast("string"), lit("</title>"),
        lit("<base href=\"https://cdn"), (id % 3).cast("string"),
        lit(".example.net/assets/\">"),
        lit("<meta name=\"description\" content=\"Summary "),
        (id % 7).cast("string"), lit(" here.\">"),
        lit("</head><body><a href=\"https://a"), (id % 4).cast("string"),
        lit(".example.org/x\">l1</a><a href=\"/local/"), id.cast("string"),
        lit("\">l2</a></body>"))
      val pages = t(s, dir, "documents").select(
        id,
        concat(lit("https://host"), (id % 20).cast("string"),
          lit(".example.com/p/"), id.cast("string")).as("uri"),
        (lit(200) + (id % 3) * 2).as("status"),
        lit("text/html").as("content_type"),
        Html.title(html).as("title"),
        Html.metaContent(html, "description").as("meta_desc"),
        Html.baseHref(html).as("base"),
        Html.extractLinks(html).as("links"))
      graft.ops.Warc.parseWarc(graft.ops.Warc.toWat(pages))
        .toDF()
        .select(col("media_id").as("file_id"), col("record_idx"),
          col("warc_type"), col("target_uri"),
          col("n_headers").cast("long").as("n_headers"),
          col("payload").cast("string").as("envelope"))
    },
      // q404: the envelope STRING rebuilt byte-for-byte from the id
      // formulas (field order is interchange surface); metadata records
      // carry 7 header fields (4 base + Refers-To + Content-Type +
      // Content-Length), warcinfo 4 — the q398 grouping shape.
      """WITH env AS (
        | SELECT doc_id,
        |  '{"status":' || CAST(200 + (doc_id % 3) * 2 AS VARCHAR)
        |  || ',"content_type":"text/html","title":"Doc ' || CAST(doc_id AS VARCHAR)
        |  || '","meta_desc":"Summary ' || CAST(doc_id % 7 AS VARCHAR)
        |  || ' here.","base":"https://cdn' || CAST(doc_id % 3 AS VARCHAR)
        |  || '.example.net/assets/","links":["https://a' || CAST(doc_id % 4 AS VARCHAR)
        |  || '.example.org/x","/local/' || CAST(doc_id AS VARCHAR) || '"]}' AS envelope
        | FROM documents),
        |meta AS (
        | SELECT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
        |    AS BIGINT) AS record_idx,
        |  'metadata' AS warc_type,
        |  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CAST(7 AS BIGINT) AS n_headers,
        |  envelope
        | FROM env),
        |info AS (
        | SELECT DISTINCT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(0 AS BIGINT) AS record_idx, 'warcinfo' AS warc_type,
        |  CAST(NULL AS VARCHAR) AS target_uri, CAST(4 AS BIGINT) AS n_headers,
        |  'software: graft/0.1' || chr(13) || chr(10) AS envelope
        | FROM documents)
        |SELECT * FROM info UNION ALL SELECT * FROM meta""".stripMargin),

    // ---- publisher-declared discovery COMPOSITE: robots `Sitemap:`
    // lines (q399) → broadcast join to the fetched sitemap FILES —
    // gzip'd on even file residues, plain on odd, exactly how real
    // sitemaps ship — → gunzip → entry explode (q372). A declaration
    // whose file was never fetched contributes nothing. Oracle derives
    // every entry from the url's own residues. ------------------------------
    QueryCase("q405_sitemap_discovery", (s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val robots = concat(
        lit("User-agent: *\nDisallow: /private\n"),
        lit("Sitemap: https://s"), (id % 6).cast("string"),
        lit(".example.com/sitemap"), (id % 4).cast("string"), lit(".xml.gz\n"),
        when(id % 3 === 0, lit("Sitemap: https://unfetched.example.org/root.xml\n"))
          .otherwise(lit("")))
      val robotsPages = t(s, dir, "documents").select(id, robots.as("robots"))
      // the 24 distinct declared files; content derived from the url's
      // own residues so the join is the only link between the two sides
      val files = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select((id % 6).as("a"), (id % 4).as("b")).distinct())
        .as[(Long, Long)]
        .map { case (a, b) =>
          val xml = "<?xml version=\"1.0\"?><urlset>" +
            s"<url><loc>https://s$a.example.com/p$b/1</loc><lastmod>2024-0${(a + b) % 9 + 1}-01</lastmod></url>" +
            s"<url><loc>https://s$a.example.com/p$b/2</loc></url>" +
            (if (a % 2 == 0) s"<sitemap><loc>https://s$a.example.com/more$b.xml.gz</loc></sitemap>" else "") +
            "</urlset>"
          val bytes = xml.getBytes("UTF-8")
          (s"https://s$a.example.com/sitemap$b.xml.gz",
            if (b % 2 == 0) graft.functions.BinaryCodecs.gzip(bytes) else bytes)
        }.toDF("url", "payload")
      Crawl.sitemapDiscovery(robotsPages, files)
    },
      // q405: per doc the declared file's residues (a, b) fix every
      // entry; the index entry exists only on even a; the unfetched
      // declaration never lands (inner join).
      """WITH base AS (
        | SELECT doc_id, doc_id % 6 AS a, doc_id % 4 AS b,
        |  'https://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS h,
        |  'https://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/sitemap'
        |    || CAST(doc_id % 4 AS VARCHAR) || '.xml.gz' AS sm
        | FROM documents)
        |SELECT doc_id, sm AS sitemap_url, CAST(0 AS BIGINT) AS entry_pos,
        | h || '/p' || CAST(b AS VARCHAR) || '/1' AS loc,
        | '2024-0' || CAST((a + b) % 9 + 1 AS VARCHAR) || '-01' AS lastmod,
        | FALSE AS is_index
        |FROM base
        |UNION ALL
        |SELECT doc_id, sm, CAST(1 AS BIGINT),
        | h || '/p' || CAST(b AS VARCHAR) || '/2', CAST(NULL AS VARCHAR), FALSE
        |FROM base
        |UNION ALL
        |SELECT doc_id, sm, CAST(2 AS BIGINT),
        | h || '/more' || CAST(b AS VARCHAR) || '.xml.gz', CAST(NULL AS VARCHAR), TRUE
        |FROM base WHERE a % 2 = 0""".stripMargin),

    // ---- the FLAGSHIP day-one corpus composite, in ONE job: every
    // doc_id % 10 == 7 page is a byte-identical CLONE of doc_id - 1's
    // content (served under its own URL in the OTHER charset leg), the
    // corpus ships as `.warc.gz` wire messages, and the chain runs
    // container parse → HTTP split → charset decode → main-content →
    // SimHash fingerprint dedup (clones collapse across encodings —
    // decode-normalizes-before-dedup, the property that matters) →
    // BPE-token-exact window packing of the SURVIVORS. Composes
    // q384/q394/q359/q353/q391, each individually oracled; the oracle
    // replays the entire chain in SQL (fixture → main-content → group
    // by text → pinned-merge encode → window arithmetic). -------------------
    QueryCase("q407_corpus_composite", (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val withCid = base.select(col("doc_id").as("real_id"),
        when(col("doc_id") % 10 === 7, col("doc_id") - 1)
          .otherwise(col("doc_id")).as("doc_id"))
      // page content keyed on the CONTENT id (clones byte-identical),
      // URI on the real id
      val joined = withCid.join(base, Seq("doc_id"))
      val htmlDocs = joined.select(col("real_id"),
        concat(syntheticHtml,
          lit("\n<p>caf\u00e9 filler prose line stays in the corpus</p>")).as("html"))
        .select(col("real_id").as("doc_id"), col("html"),
          concat(lit("https://host"), (col("real_id") % 20).cast("string"),
            lit(".example.com/p/"), col("real_id").cast("string")).as("uri"))
      val msgs = graft.io.Spread.toDefaultParallelism(htmlDocs)
        .as[(Long, String, String)]
        .map { case (id, html, uri) =>
          import java.nio.charset.StandardCharsets._
          val (ct, body) =
            if (id % 2 == 1) ("text/html; charset=iso-8859-1", html.getBytes(ISO_8859_1))
            else ("text/html",
              Array(0xFF.toByte, 0xFE.toByte) ++ html.getBytes(UTF_16LE))
          val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\nX-Doc: $id\r\n\r\n"
          (id, head.getBytes("US-ASCII") ++ body, uri)
        }.toDF("doc_id", "payload", "uri")
      val pages = graft.ops.Warc.decodePages(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs))).toDF()
      // Staged (r17 optimization): `content` fans into FOUR consumers
      // (simhash, the two verify joins, the anti-join base), and each
      // broadcast build re-ran the whole WARC-synthesize/parse/HTTP-decode/
      // charset/main-content chain — 8 concurrent ~2-2.5 s rebuild jobs
      // profiled at sf0.1. One narrow (doc_id, text) materialization
      // replaces them; measured 13-14 s -> ~6 s.
      val content = graft.ops.Staging.stage(
        Html.mainContent(pages).select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("main_text").as("text")))
      // SimHash dedup with the repo's LSH discipline: banded candidates,
      // then VERIFY by exact text before dropping — raw 64-bit
      // fingerprint equality alone over-collapses (similar short docs
      // genuinely collide; observed live at sf0.01), and a dedup that
      // drops non-duplicates is corpus loss, the worst failure mode
      val candidates = Dedup.hammingPairs(
        Dedup.simhashText(content).select(col("id"), col("simhash").as("hash")),
        maxHamming = 0, bands = 4)
      val verified = candidates
        .join(content.select(col("doc_id").as("a_id"), col("text").as("__ta")), "a_id")
        .join(content.select(col("doc_id").as("b_id"), col("text").as("__tb")), "b_id")
        .where(col("__ta") === col("__tb"))
      val kept = content.join(
        verified.select(col("b_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      // tokenizer trained on the raw corpus (q391's trainer), applied to
      // the cleaned survivors; window packing is token-exact
      val merges = Ngrams.bpeMerges(t(s, dir, "documents"), rounds = 16, batch = 8)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val counts = Ngrams.bpeEncodeStats(kept, merges)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
      SequencePack.concatChunk(counts, windowSize = 256)
    },
      // q407: the WHOLE chain replayed in SQL — the html fixture retargeted
      // at the clone-content id (literal substitutions on the SHARED
      // HtmlFixtureCte, so the two cannot drift), the q359 main-content
      // replay, then the pinned-merge encode + q317 window arithmetic over
      // the survivors. The dedup outcome derives from the construction:
      // main_text embeds the content id, so verified text equality holds
      // EXACTLY for the % 10 = 7 clones — raw fingerprint collisions
      // (which exist at sf0.01) are vetoed by the verify stage on the
      // Spark side and never dropped. Charset legs cancel out by
      // construction — both decode to the identical page.
      s"""WITH src0 AS (SELECT doc_id AS real_id,
         |  CASE WHEN doc_id % 10 = 7 THEN doc_id - 1 ELSE doc_id END AS cid
         | FROM documents),
         |${HtmlFixtureCte
            .replace("d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents)",
              "d AS (SELECT s.real_id, s.cid AS doc_id, coalesce(x.text, '') AS t" +
                " FROM src0 s JOIN documents x ON x.doc_id = s.cid)")
            .replace("h AS (SELECT doc_id,", "h0 AS (SELECT real_id, doc_id,")},
         |h AS (SELECT real_id AS doc_id, html || chr(10) || '<p>caf' || chr(233)
         |  || ' filler prose line stays in the corpus</p>' AS html FROM h0),
         |$MainContentCtes,
         |kept AS (
         | SELECT doc_id, main_text AS text FROM m WHERE doc_id % 10 <> 7),
         |${BpeEncodeCtes.replace("FROM documents)", "FROM kept)")},
         |d2 AS (SELECT doc_id, n_subwords AS n FROM per),
         |pp2 AS (SELECT doc_id, n,
         |  CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS s
         | FROM d2 WHERE n > 0),
         |x AS (SELECT doc_id, n, s,
         |  unnest(generate_series(s // 256, (s + n - 1) // 256)) AS w FROM pp2)
         |SELECT CAST(w AS BIGINT) AS window_id, doc_id,
         | CAST(greatest(w * 256, s) - w * 256 AS BIGINT) AS offset_in_window,
         | CAST(least((w + 1) * 256, s + n) - greatest(w * 256, s) AS BIGINT) AS n_in_window,
         | s >= w * 256 AS is_head, s + n <= (w + 1) * 256 AS is_tail
         |FROM x""".stripMargin),

    // ---- quarantine made VISIBLE: parseWarc drops malformed crawl
    // files whole (the right framing call), and this surfaces exactly
    // those files as rows — a corpus job that silently loses crawl
    // files is an ops incident nobody can see. Every file whose id sits
    // on the corruption residue is truncated mid-member; the oracle
    // derives the quarantine set from the residue. --------------------------
    QueryCase("q408_warc_quarantine", (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val media = CrawlFixtures.syntheticWarc(docs, docsPerFile = 8)
        .map(m => if (m.media_id % 5 == 2) m.copy(payload = m.payload.dropRight(3)) else m)
      graft.ops.Warc.quarantinedFiles(media)
        .select(col("media_id").as("file_id"))
    },
      // q408: the quarantine set is exactly the corruption residue —
      // every truncated file fails the member walk, every intact file
      // parses.
      """SELECT DISTINCT CAST(doc_id // 8 AS BIGINT) AS file_id
        |FROM documents WHERE (doc_id // 8) % 5 = 2""".stripMargin),

    // ---- revisit-record resolution: real crawlers archive UNCHANGED
    // content as a body-less `revisit` record pointing at the original
    // via WARC-Refers-To (the identical-payload-digest profile); a
    // corpus read that ignores them loses every re-crawled-but-unchanged
    // page. Every % 10 == 7 doc archives as a revisit of its
    // predecessor; resolution inherits the ORIGINAL's payload under the
    // revisit's own URI. Oracle: a documents self-join on the residue. --
    QueryCase("q409_warc_revisit", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Warc.resolveRevisits(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcRevisits(docs)))
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("record_id"), col("was_revisit"),
          col("payload").cast("string").as("text_out"))
    },
      // q409: responses pass through with their own text; the residue
      // docs resolve to the PREDECESSOR's text with the revisit flag up.
      """SELECT doc_id,
        | '<urn:graft:rec:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        | FALSE AS was_revisit, coalesce(text, '') AS text_out
        |FROM documents WHERE doc_id % 10 <> 7
        |UNION ALL
        |SELECT a.doc_id,
        | '<urn:graft:rec:' || CAST(a.doc_id AS VARCHAR) || '>' AS record_id,
        | TRUE AS was_revisit, coalesce(b.text, '') AS text_out
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id - 1
        |WHERE a.doc_id % 10 = 7""".stripMargin),

    // ---- WAT parse-back (the READ half of q404's writer): metadata
    // records' JSON envelopes come back out as typed columns next to
    // the Refers-To source pointer — the roundtrip that proves the
    // envelope is real interchange, not write-only bytes. Same fixture
    // as q404; every field from the id formula. ----------------------------
    QueryCase("q410_wat_ingest", (s, dir) => {
      val id = col("doc_id")
      val pages = t(s, dir, "documents").select(
        id,
        concat(lit("https://host"), (id % 20).cast("string"),
          lit(".example.com/p/"), id.cast("string")).as("uri"),
        (lit(200) + (id % 3) * 2).as("status"),
        lit("text/html").as("content_type"),
        concat(lit("Doc "), id.cast("string")).as("title"),
        concat(lit("Summary "), (id % 7).cast("string"), lit(" here.")).as("meta_desc"),
        concat(lit("https://cdn"), (id % 3).cast("string"),
          lit(".example.net/assets/")).as("base"),
        array(concat(lit("https://a"), (id % 4).cast("string"), lit(".example.org/x")),
          concat(lit("/local/"), id.cast("string"))).as("links"))
      graft.ops.Warc.watEnvelopes(
        graft.ops.Warc.parseWarc(graft.ops.Warc.toWat(pages)))
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("refers_to"), col("status").cast("long").as("status"),
          col("content_type"), col("title"), col("meta_desc"), col("base"),
          size(col("links")).cast("long").as("n_links"),
          element_at(col("links"), 2).as("last_link"))
    },
      // q410: every envelope field straight from the id formula, plus the
      // Refers-To pointer into the response-record id namespace.
      """SELECT doc_id,
        | '<urn:graft:rec:' || CAST(doc_id AS VARCHAR) || '>' AS refers_to,
        | CAST(200 + (doc_id % 3) * 2 AS BIGINT) AS status,
        | 'text/html' AS content_type,
        | 'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        | 'Summary ' || CAST(doc_id % 7 AS VARCHAR) || ' here.' AS meta_desc,
        | 'https://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/assets/' AS base,
        | CAST(2 AS BIGINT) AS n_links,
        | '/local/' || CAST(doc_id AS VARCHAR) AS last_link
        |FROM documents""".stripMargin),

    // ---- host-level TEMPLATE line removal (the CCNet/RefinedWeb
    // line-frequency boilerplate filter): lines repeating across >= 3
    // pages of the SAME host (cookie banner, per-host navbar, the
    // even-page promo) drop from every page; unique prose and the
    // low-frequency shared line survive. The oracle replays the whole
    // frequency computation in SQL, so thresholds are emergent and the
    // fixture needs no per-sf constants. -------------------------------------
    QueryCase("q411_template_removal", (s, dir) => {
      val id = col("doc_id")
      val text = concat(
        lit("Cookie banner accept\n"),
        lit("NavBar for host "), (id % 5).cast("string"), lit("\n"),
        lit("unique prose "), id.cast("string"), lit(" "),
        coalesce(col("text"), lit("")), lit("\n"),
        lit("rare pair "), expr("doc_id div 250").cast("string"),
        when(id % 2 === 0,
          concat(lit("\npromo banner "), (id % 5).cast("string")))
          .otherwise(lit("")))
      val pages = t(s, dir, "documents").select(id,
        concat(lit("h"), (id % 5).cast("string")).as("host"), text.as("text"))
      Html.removeTemplateLines(pages, minPages = 3)
        .select(col("doc_id"), col("clean_text"))
    },
      // q411: the full frequency replay — explode lines with positions,
      // per-(host, line) distinct-page counts, anti-join the template set,
      // rejoin in line order. Thresholds emergent, valid at every sf.
      """WITH pg AS (SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
        |  'Cookie banner accept' || chr(10) ||
        |  'NavBar for host ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
        |  'unique prose ' || CAST(doc_id AS VARCHAR) || ' ' || coalesce(text, '') || chr(10) ||
        |  'rare pair ' || CAST(doc_id // 250 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 2 = 0
        |    THEN chr(10) || 'promo banner ' || CAST(doc_id % 5 AS VARCHAR)
        |    ELSE '' END) AS text
        | FROM documents),
        |lx AS (SELECT doc_id, host, string_split(text, chr(10)) AS ls FROM pg),
        |li AS (SELECT doc_id, host, ls, unnest(range(len(ls))) AS i FROM lx),
        |ln AS (SELECT doc_id, host, i, ls[CAST(i AS INT) + 1] AS line FROM li),
        |tmpl AS (SELECT host, line FROM ln
        | GROUP BY host, line HAVING count(DISTINCT doc_id) >= 3),
        |keep AS (SELECT ln.doc_id, ln.i, ln.line FROM ln
        | ANTI JOIN tmpl ON ln.host = tmpl.host AND ln.line = tmpl.line),
        |outp AS (SELECT doc_id,
        |  array_to_string(list(line ORDER BY i), chr(10)) AS clean_text
        | FROM keep GROUP BY doc_id)
        |SELECT p.doc_id, coalesce(o.clean_text, '') AS clean_text
        |FROM pg p LEFT JOIN outp o USING (doc_id)""".stripMargin),

    // ---- request/response pairing: crawlers archive BOTH fetch sides,
    // the request naming its response via WARC-Concurrent-To — fetch
    // provenance (which UA got this page, what was asked for) next to
    // the response envelope. Completes the record-type surface
    // (warcinfo/response/revisit/conversion/metadata/request). Oracle:
    // every field from the id formula. --------------------------------------
    QueryCase("q412_warc_request_pairs", (s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.Warc.requestResponsePairs(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcRequestPairs(docs)))
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("method"), col("target"), col("host"), col("user_agent"),
          col("req_headers").cast("long").as("req_headers"),
          col("status").cast("long").as("status"), col("content_type"))
    },
      // q412: both fetch sides from the id formula.
      """SELECT doc_id, 'GET' AS method,
        | '/p/' || CAST(doc_id AS VARCHAR) AS target,
        | 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
        | 'graft/0.1' AS user_agent,
        | CAST(2 AS BIGINT) AS req_headers,
        | CAST(200 + (doc_id % 3) * 2 AS BIGINT) AS status,
        | 'text/html' AS content_type
        |FROM documents""".stripMargin),

    // ---- RECURSIVE sitemap discovery: real publishers shard large
    // sitemaps behind a <sitemapindex>, so the single-level walk (q405)
    // sees only pointers — this follows them one level: robots declares
    // the index file, depth 1 yields its two child pointers, depth 2
    // the children's url entries; one child per a=5 host family was
    // never fetched and contributes nothing (the fetch-gap rule).
    // Mixed gzip/plain files on both levels. Oracle: every row from the
    // url's own residues. ---------------------------------------------------
    QueryCase("q413_sitemap_recursive", (s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val robots = concat(lit("User-agent: *\n"),
        lit("Sitemap: https://s"), (id % 6).cast("string"),
        lit(".example.com/index"), (id % 4).cast("string"), lit(".xml.gz\n"))
      val robotsPages = t(s, dir, "documents").select(id, robots.as("robots"))
      val files = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select((id % 6).as("a"), (id % 4).as("b")).distinct())
        .as[(Long, Long)]
        .flatMap { case (a, b) =>
          import graft.functions.BinaryCodecs
          val host = s"https://s$a.example.com"
          val index = (s"$host/index$b.xml.gz",
            CrawlFixtures.maybeGzip(b % 2 == 0, "<?xml version=\"1.0\"?><sitemapindex>" +
              s"<sitemap><loc>$host/child${b}_0.xml.gz</loc></sitemap>" +
              s"<sitemap><loc>$host/child${b}_1.xml.gz</loc></sitemap></sitemapindex>"))
          val children = (0 to 1).map { c =>
            (s"$host/child${b}_$c.xml.gz",
              CrawlFixtures.maybeGzip((b + c) % 2 == 1, "<?xml version=\"1.0\"?><urlset>" +
                s"<url><loc>$host/p$b/$c/1</loc><lastmod>2024-0${(a + c) % 9 + 1}-02</lastmod></url>" +
                s"<url><loc>$host/p$b/$c/2</loc></url></urlset>"))
          }
          (index +: children).filterNot { case (u, _) =>
            a == 5 && u.endsWith("_1.xml.gz") // the never-fetched child
          }
        }.toDF("url", "payload")
      Crawl.sitemapDiscoveryRecursive(robotsPages, files, maxDepth = 2)
    },
      // q413: depth-1 rows are the index's two pointers, depth-2 the
      // children's entries minus the never-fetched (a=5, child 1) family.
      """WITH base AS (
        | SELECT doc_id, doc_id % 6 AS a, doc_id % 4 AS b,
        |  'https://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com' AS h,
        |  'https://s' || CAST(doc_id % 6 AS VARCHAR) || '.example.com/index'
        |    || CAST(doc_id % 4 AS VARCHAR) || '.xml.gz' AS idx
        | FROM documents),
        |d1 AS (
        | SELECT doc_id, idx AS sitemap_url, CAST(c AS BIGINT) AS entry_pos,
        |  h || '/child' || CAST(b AS VARCHAR) || '_' || CAST(c AS VARCHAR)
        |    || '.xml.gz' AS loc,
        |  CAST(NULL AS VARCHAR) AS lastmod, TRUE AS is_index,
        |  CAST(1 AS BIGINT) AS depth
        | FROM base CROSS JOIN (VALUES (0), (1)) t(c)),
        |d2 AS (
        | SELECT doc_id,
        |  h || '/child' || CAST(b AS VARCHAR) || '_' || CAST(c AS VARCHAR)
        |    || '.xml.gz' AS sitemap_url,
        |  CAST(p AS BIGINT) AS entry_pos,
        |  h || '/p' || CAST(b AS VARCHAR) || '/' || CAST(c AS VARCHAR) || '/'
        |    || CAST(p + 1 AS VARCHAR) AS loc,
        |  CASE WHEN p = 0
        |   THEN '2024-0' || CAST((a + c) % 9 + 1 AS VARCHAR) || '-02' END AS lastmod,
        |  FALSE AS is_index, CAST(2 AS BIGINT) AS depth
        | FROM base CROSS JOIN (VALUES (0), (1)) t(c) CROSS JOIN (VALUES (0), (1)) u(p)
        | WHERE NOT (a = 5 AND c = 1))
        |SELECT * FROM d1 UNION ALL SELECT * FROM d2""".stripMargin),

    // ---- agent-scoped robots admission (q363's full-REP sibling):
    // bodies carry THREE groups (an images bot, the crawler's own
    // token, star-disallow-all); the requesting agent varies per doc and
    // must select its group by longest-token prefix match with star
    // fall-through — a crawler reading only the star group here would
    // fetch NOTHING. The oracle derives every decision from the
    // (id % 4 agent, id % 5 path, id % 2 allow-line) formula. ---------------
    QueryCase("q415_robots_agent_groups", (s, dir) => {
      val m2 = (col("doc_id") % 2).cast("string")
      val robots = concat(
        lit("User-agent: graftbot-images\nDisallow: /img\n\n" +
          "User-agent: graftbot\nDisallow: /private\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("Allow: /private/ok"), m2, lit("\n"))).otherwise(lit("")),
        lit("\nUser-agent: *\nDisallow: /\n"))
      val agent = when(col("doc_id") % 4 === 0, lit("graftbot/1.0"))
        .when(col("doc_id") % 4 === 1, lit("graftbot-images/2.0"))
        .when(col("doc_id") % 4 === 2, lit("otherbot"))
        .otherwise(lit("GraftBot"))
      val path = when(col("doc_id") % 5 === 0, concat(lit("/private/ok"), m2, lit("/page")))
        .when(col("doc_id") % 5 === 1, lit("/private/secret"))
        .when(col("doc_id") % 5 === 2, lit("/img/banner"))
        .when(col("doc_id") % 5 === 3, lit("/public/a"))
        .otherwise(lit("/x"))
      graft.ops.Robots.filterAllowedForAgent(
        t(s, dir, "documents").select(col("doc_id"), robots.as("robots"),
          agent.as("agent"), path.as("path")),
        col("agent"))
        .select(col("doc_id"), col("agent"), col("path"), col("allowed"))
    },
      // q415: the q363 idiom with GROUP SELECTION in the formula — the
      // images agent picks the longest token (its own group, only /img
      // blocked), the crawler token keeps the q363-style private/ok rules,
      // the foreign agent falls through to the star disallow-all.
      """SELECT doc_id,
        | CASE doc_id % 4
        |  WHEN 0 THEN 'graftbot/1.0'
        |  WHEN 1 THEN 'graftbot-images/2.0'
        |  WHEN 2 THEN 'otherbot'
        |  ELSE 'GraftBot' END AS agent,
        | CASE doc_id % 5
        |  WHEN 0 THEN '/private/ok' || CAST(doc_id % 2 AS VARCHAR) || '/page'
        |  WHEN 1 THEN '/private/secret'
        |  WHEN 2 THEN '/img/banner'
        |  WHEN 3 THEN '/public/a'
        |  ELSE '/x' END AS path,
        | CASE
        |  WHEN doc_id % 4 = 2 THEN false
        |  WHEN doc_id % 4 = 1 THEN doc_id % 5 <> 2
        |  ELSE CASE doc_id % 5
        |   WHEN 0 THEN doc_id % 2 = 0
        |   WHEN 1 THEN false
        |   ELSE true END
        | END AS allowed
        |FROM documents""".stripMargin),

    // ---- CDXJ index export (the third Common Crawl sidecar): a PLAIN
    // .warc corpus of HTTP-message responses indexed to one line per
    // record — SURT key, WARC-Date timestamp, JSON block with the
    // random-access (offset, length) span. The plain layout makes every
    // span ANALYTIC: the oracle rebuilds offsets from the record-framing
    // arithmetic (header string lengths + Content-Length) and the whole
    // line byte-for-byte. --------------------------------------------------
    QueryCase("q416_cdx_export", (s, dir) =>
      graft.ops.Warc.toCdxj(
        CrawlFixtures.syntheticWarcBytes(cdxHttpDocs(s, dir),
          docsPerFile = 8, gzipPerRecord = false),
        filenameCol = concat(lit("crawl-"), col("media_id"), lit(".warc")))
        .select(col("media_id"), col("record_idx"), col("surt_key"),
          col("ts"), col("url"), col("status"), col("mime"), col("digest"),
          col("offset"), col("length"), col("filename"), col("cdxj_line")),
      // q416: the envelope rebuilt byte-for-byte from the id formulas —
      // offsets ANALYTIC from the record-framing arithmetic: a response
      // record is 141 fixed header/framing bytes + len(id) + len(uri) +
      // len(str(content_length)) + the payload, after a 146 + len(file_id)
      // warcinfo lead record; the payload is the 44-byte HTTP envelope +
      // the text.
      (CdxOracleCtes +
      s"""SELECT fid AS media_id, CAST(rn AS BIGINT) AS record_idx,
        | surt_key, '20240101000000' AS ts, uri AS url,
        | CAST(status AS INT) AS status, 'text/html' AS mime, digest,
        | CAST(off AS BIGINT) AS "offset", CAST(rec_size AS BIGINT) AS length,
        | fname AS filename,
        | $CdxLineSqlExpr AS cdxj_line
        |FROM o""".stripMargin)),

    // ---- CDXJ parse-back (the READ half of q416's writer): the same
    // corpus's lines through [[Warc.cdxjEntries]] into typed columns;
    // the oracle derives every field straight from the id formulas. --------
    QueryCase("q417_cdx_ingest", (s, dir) =>
      graft.ops.Warc.cdxjEntries(
        graft.ops.Warc.toCdxj(
          CrawlFixtures.syntheticWarcBytes(cdxHttpDocs(s, dir),
            docsPerFile = 8, gzipPerRecord = false),
          filenameCol = concat(lit("crawl-"), col("media_id"), lit(".warc")))
          .select(col("cdxj_line"))),
      // q417: the same derivation through the parse-back lens — typed
      // fields only, no line assembly.
      (CdxOracleCtes +
      """SELECT surt_key, '20240101000000' AS ts, uri AS url, digest,
        | 'text/html' AS mime, CAST(status AS INT) AS status,
        | CAST(off AS BIGINT) AS "offset", CAST(rec_size AS BIGINT) AS length,
        | fname AS filename
        |FROM o""".stripMargin)),

    // ---- feed-driven URL discovery (RSS/Atom, the second publisher-
    // declared channel after sitemaps): pages declare feeds via
    // <link rel=alternate> in BOTH dialects and quoting/attribute-order
    // variants, relative hrefs resolve against the page URL, declared
    // feeds join the fetched files (gzip'd or plain; one host and one
    // atom shard never fetched — the fetch-gap rule), entries explode in
    // document order. Every row derives from the id formulas. ---------------
    QueryCase("q420_feed_discovery", (s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val pageUrl = concat(lit("https://host"), (id % 12).cast("string"),
        lit(".example.com/p/"), id.cast("string"))
      val html = concat(
        lit("<html><head>"),
        when(id % 3 =!= 2, concat(
          lit("<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed"),
          (id % 4).cast("string"), lit(".xml\">"))).otherwise(lit("")),
        when(id % 2 === 0, concat(
          lit("<link type='application/atom+xml' rel='alternate nofollow' " +
            "href='https://feeds.example.org/atom"),
          (id % 5).cast("string"), lit(".xml'>"))).otherwise(lit("")),
        lit("<link rel=\"stylesheet\" href=\"/style.css\"></head><body></body></html>"))
      val pages = t(s, dir, "documents")
        .select(id, pageUrl.as("page_url"), html.as("html"))
      val files = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select((id % 12).as("m"), (id % 4).as("k")).distinct())
        .as[(Long, Long)]
        .flatMap { case (m, k) =>
          import graft.functions.BinaryCodecs
          val host = s"https://host$m.example.com"
          val rss = (s"$host/feed$k.xml",
            CrawlFixtures.maybeGzip((m + k) % 2 == 0, "<rss><channel>" +
              s"<item><title>a</title><link>$host/a/$k/1</link></item>" +
              s"<item><link> $host/a/$k/2 </link></item>" +
              "<item><title>no link</title></item></channel></rss>"))
          val atoms = (0 to 4).map { j =>
            (s"https://feeds.example.org/atom$j.xml",
              CrawlFixtures.maybeGzip(j % 2 == 1, "<feed>" +
                s"""<entry><link rel="alternate" href="https://ex.org/e/$j/1"/></entry>""" +
                s"""<entry><title>t</title><link href='https://ex.org/e/$j/2'/></entry>""" +
                "<entry><title>no link</title></entry></feed>"))
          }
          // host 11's RSS and atom shard 4 are never fetched (fetch gap)
          (rss +: atoms).filterNot { case (u, _) =>
            u.startsWith("https://host11.") || u.endsWith("atom4.xml")
          }
        }.toDF("url", "payload").dropDuplicates("url")
      Crawl.feedDiscovery(pages, files)
    },
      // q420: both discovery legs straight from the id formulas — the RSS
      // leg (declared on id%3≠2, host id%12, shard id%4, host 11 never
      // fetched) and the atom leg (even ids, shard id%5, shard 4 never
      // fetched), two entries each in document order.
      """WITH rss AS (
        | SELECT doc_id,
        |  'https://host' || CAST(doc_id % 12 AS VARCHAR) || '.example.com/feed' ||
        |   CAST(doc_id % 4 AS VARCHAR) || '.xml' AS feed_url,
        |  'rss' AS feed_type, CAST(e.p AS BIGINT) AS entry_pos,
        |  'https://host' || CAST(doc_id % 12 AS VARCHAR) || '.example.com/a/' ||
        |   CAST(doc_id % 4 AS VARCHAR) || '/' || CAST(e.p + 1 AS VARCHAR) AS loc,
        |  'rss' AS dialect
        | FROM documents CROSS JOIN (VALUES (0), (1)) e(p)
        | WHERE doc_id % 3 <> 2 AND doc_id % 12 <> 11),
        |atom AS (
        | SELECT doc_id,
        |  'https://feeds.example.org/atom' || CAST(doc_id % 5 AS VARCHAR) ||
        |   '.xml' AS feed_url,
        |  'atom' AS feed_type, CAST(e.p AS BIGINT) AS entry_pos,
        |  'https://ex.org/e/' || CAST(doc_id % 5 AS VARCHAR) || '/' ||
        |   CAST(e.p + 1 AS VARCHAR) AS loc,
        |  'atom' AS dialect
        | FROM documents CROSS JOIN (VALUES (0), (1)) e(p)
        | WHERE doc_id % 2 = 0 AND doc_id % 5 <> 4)
        |SELECT * FROM rss UNION ALL SELECT * FROM atom""".stripMargin),

    // ---- agent-scoped fetch budget (q380 ∘ q415): each host's robots
    // quotes a FAST delay for the preferred crawler and a slow star
    // delay for everyone else; half the frontier fetches as the
    // preferred agent, half as a foreign one, and the politeness
    // scheduler folds the per-agent hints per host (max wins, default
    // when nobody opined). The oracle derives every hint from the
    // (agent, host) formula and replays the fold + window. ------------------
    QueryCase("q421_agent_delay_schedule", (s, dir) => {
      val id = col("doc_id")
      val h = id % 20
      val robots = concat(
        lit("User-agent: fastbot\nCrawl-delay: 0.25\nDisallow: /private\n\n" +
          "User-agent: *\n"),
        when(h % 5 === 0, lit("Disallow: /private"))
          .otherwise(concat(lit("Crawl-delay: "), (h % 3 + 1).cast("string"),
            lit(".5\nDisallow: /private"))))
      val agent = when(id % 2 === 0, lit("FastBot/1.0")).otherwise(lit("slowbot"))
      val frontier = graft.ops.Robots.withCrawlDelayForAgent(
        t(s, dir, "documents").select(
          concat(lit("http://host"), h.cast("string"), lit(".example.com/p/"),
            id.cast("string")).as("url"),
          (id * 7919 % 101).as("priority"),
          robots.as("robots"), agent.as("agent")),
        col("agent"))
        .select(col("url"), col("priority"), col("delay_ms"))
      Crawl.politenessScheduleWithDelays(frontier,
        defaultDelayMs = 700L, maxPerHost = 6)
    },
      // q421: hints from the (agent, host) formula — even ids select the
      // fastbot group (250 ms), odd ids fall through to star ((h%3+1).5 s,
      // absent on h%5=0) — then the q380 fold/window replay with the
      // host-level max-or-default delay joined back.
      """WITH f AS (
        | SELECT 'host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host,
        |  'http://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(doc_id * 7919 % 101 AS BIGINT) AS priority,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(250 AS BIGINT)
        |   WHEN (doc_id % 20) % 5 = 0 THEN NULL
        |   ELSE CAST(((doc_id % 20) % 3 + 1) * 1000 + 500 AS BIGINT) END AS hint
        | FROM documents),
        |d AS (SELECT host, url, max(priority) AS priority, max(hint) AS hint
        |      FROM f GROUP BY 1, 2),
        |hd AS (SELECT host, coalesce(max(hint), 700) AS delay_ms FROM d GROUP BY 1),
        |r AS (SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rn
        | FROM d)
        |SELECT r.host, r.url, r.priority, CAST(hd.delay_ms AS BIGINT) AS delay_ms,
        | CAST((rn - 1) * hd.delay_ms AS BIGINT) AS fetch_offset_ms
        |FROM r JOIN hd USING (host) WHERE rn <= 6""".stripMargin),

    // ---- the THREE-channel discovery frontier (q373 widened): anchors,
    // robots-declared sitemaps and page-declared feeds all feed one
    // frontier — a URL discovered by several channels collapses with its
    // discovery count as priority (the sitemap page{v} family overlaps
    // the anchor family by construction), robots drops /private, and the
    // politeness window schedules per host. Never-fetched sitemap s5 and
    // feed shard 3 contribute nothing (the fetch-gap rule). The oracle
    // rebuilds all three legs from the id formulas and replays
    // admission, the count fold and the window. ------------------------------
    QueryCase("q422_discovery_frontier", (s, dir) => {
      import s.implicits._
      import graft.functions.BinaryCodecs
      val id = col("doc_id")
      val pageUrl = concat(lit("https://site"), (id % 4).cast("string"),
        lit(".github.io/dir/index.html"))
      val html = concat(
        lit("<a href=\"https://h"), (id % 10).cast("string"),
        lit(".example.org/page"), (id % 25).cast("string"), lit("\">x</a>"),
        lit("<a href='https://h"), ((id + 3) % 10).cast("string"),
        lit(".example.org/private/p"), (id % 5).cast("string"), lit("'>y</a>"),
        lit("<a href=/local/l"), (id % 8).cast("string"), lit(">z</a>"),
        lit("<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed"),
        (id % 4).cast("string"), lit(".xml\">"))
      val robots = concat(
        lit("User-agent: *\nDisallow: /private\nSitemap: https://s"),
        (id % 6).cast("string"), lit(".example.com/sm.xml\n"))
      val docs = t(s, dir, "documents")
        .select(id, pageUrl.as("page_url"), html.as("html"), robots.as("robots"))
      val smFiles = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select((id % 6).as("v")).distinct()
          .where(col("v") =!= 5))
        .as[Long].map { v =>
          (s"https://s$v.example.com/sm.xml", CrawlFixtures.maybeGzip(v % 2 == 0,
            "<urlset>" +
              s"<url><loc>https://h$v.example.org/page$v</loc></url>" +
              s"<url><loc>https://h$v.example.org/sm/$v</loc></url></urlset>"))
        }.toDF("url", "payload")
      val feedFiles = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select((id % 4).as("k")).distinct()
          .where(col("k") =!= 3))
        .as[Long].map { k =>
          (s"https://site$k.github.io/feed$k.xml", CrawlFixtures.maybeGzip(k % 2 == 1,
            "<rss><channel>" +
              s"<item><link>https://h${k + 6}.example.org/feed/$k/1</link></item>" +
              s"<item><link>https://h${k + 6}.example.org/feed/$k/2</link></item>" +
              "</channel></rss>"))
        }.toDF("url", "payload")
      // Staged twice (r17 optimization): the admitted-URL frame and the
      // grouped frontier are both narrow (one URL + one count), but the
      // UNSTAGED plan carries the full three-channel discovery expression
      // tree (~430 KB formatted) into politenessSchedule's canonicalize +
      // PSL joins, and every AQE re-optimization re-walks it — measured
      // 8.6-10 s unstaged vs 3.3 s staged at sf0.1 (same results; the
      // politeness window now plans over a leaf).
      val admitted = graft.ops.Staging.stage(
        Crawl.discoveryAdmitted(docs, smFiles, feedFiles,
          lit("User-agent: *\nDisallow: /private")))
      val frontier = graft.ops.Staging.stage(
        admitted.groupBy(col("url")).agg(count(lit(1)).as("priority")))
      Crawl.politenessSchedule(frontier, delayMs = 200L, maxPerHost = 4)
    },
      // q422: all three legs from the id formulas (sitemap s5 / feed
      // shard 3 never fetched), /private dropped, discovery-count
      // priorities, the q373 window replay.
      """WITH a AS (
        | SELECT 'https://h' || CAST(doc_id % 10 AS VARCHAR) || '.example.org/page' ||
        |   CAST(doc_id % 25 AS VARCHAR) AS url FROM documents
        | UNION ALL
        | SELECT 'https://h' || CAST((doc_id + 3) % 10 AS VARCHAR) ||
        |   '.example.org/private/p' || CAST(doc_id % 5 AS VARCHAR) FROM documents
        | UNION ALL
        | SELECT 'https://site' || CAST(doc_id % 4 AS VARCHAR) || '.github.io/local/l' ||
        |   CAST(doc_id % 8 AS VARCHAR) FROM documents),
        |sm AS (
        | SELECT 'https://h' || CAST(doc_id % 6 AS VARCHAR) || '.example.org/page' ||
        |   CAST(doc_id % 6 AS VARCHAR) AS url FROM documents WHERE doc_id % 6 <> 5
        | UNION ALL
        | SELECT 'https://h' || CAST(doc_id % 6 AS VARCHAR) || '.example.org/sm/' ||
        |   CAST(doc_id % 6 AS VARCHAR) FROM documents WHERE doc_id % 6 <> 5),
        |fd AS (
        | SELECT 'https://h' || CAST(doc_id % 4 + 6 AS VARCHAR) || '.example.org/feed/' ||
        |   CAST(doc_id % 4 AS VARCHAR) || '/' || CAST(e.p + 1 AS VARCHAR) AS url
        | FROM documents CROSS JOIN (VALUES (0), (1)) e(p)
        | WHERE doc_id % 4 <> 3),
        |u AS (SELECT url FROM a UNION ALL SELECT url FROM sm
        |      UNION ALL SELECT url FROM fd),
        |adm AS (SELECT url FROM u WHERE url NOT LIKE '%/private/%'),
        |g AS (
        | SELECT regexp_extract(url, '^https://([^/]*)', 1) AS host, url,
        |  CAST(count(*) AS BIGINT) AS priority
        | FROM adm GROUP BY 1, 2),
        |r AS (
        | SELECT host, url, priority,
        |  row_number() OVER (PARTITION BY host ORDER BY priority DESC, url ASC) AS rn
        | FROM g)
        |SELECT host, url, priority, CAST((rn - 1) * 200 AS BIGINT) AS fetch_offset_ms
        |FROM r WHERE rn <= 4""".stripMargin),

    // ---- the CDX CLUSTER index (Common Crawl's secondary index): the
    // q416 line set globally sorted by SURT key via the range-
    // partitioned two-phase scan, folded into 50-line shards — first/
    // last key, line count, byte size and the shard's offset in the
    // concatenated sorted index. The oracle rebuilds every line, sorts,
    // and replays the shard arithmetic. --------------------------------------
    QueryCase("q423_cdx_cluster_idx", (s, dir) =>
      graft.ops.Warc.cdxClusterIndex(
        graft.ops.Warc.toCdxj(
          CrawlFixtures.syntheticWarcBytes(cdxHttpDocs(s, dir),
            docsPerFile = 8, gzipPerRecord = false),
          filenameCol = concat(lit("crawl-"), col("media_id"), lit(".warc"))),
        linesPerShard = 50),
      // q423: every line rebuilt (the shared q416 expression), sorted by
      // key, 50-line shard arithmetic replayed with byte-exact offsets.
      (CdxOracleCtes +
      s""",l AS (
         | SELECT surt_key, strlen($CdxLineSqlExpr) + 1 AS len
         | FROM o),
         |r AS (
         | SELECT surt_key, len,
         |  row_number() OVER (ORDER BY surt_key) AS rk,
         |  sum(len) OVER (ORDER BY surt_key ROWS UNBOUNDED PRECEDING) AS cum
         | FROM l)
         |SELECT CAST((rk - 1) // 50 AS BIGINT) AS shard_id,
         | min(surt_key) AS first_key, max(surt_key) AS last_key,
         | CAST(count(*) AS BIGINT) AS n_lines,
         | CAST(sum(len) AS BIGINT) AS shard_bytes,
         | CAST(min(cum - len) AS BIGINT) AS byte_offset
         |FROM r GROUP BY 1""".stripMargin)),

    // ---- the two-seek CONSUMER path the cluster index exists for,
    // paid end to end: a URL set (every 13≡5 doc, plus two guaranteed
    // misses) → broadcast range lookup in the cluster index → parse
    // ONLY the matching CDXJ shards → seek (filename, offset, length)
    // into the containers → decode exactly those records, digests
    // re-verified against the index's promise. Misses drop at the stage
    // that discovers them (one sorting beyond every shard range, one
    // inside the archive's host space but absent). The oracle replays the q416
    // offset arithmetic + q423 shard arithmetic and serves the body
    // straight from the documents table. ------------------------------------
    QueryCase("q424_random_access", (s, dir) => {
      import s.implicits._
      val media = graft.ops.Staging.stage(
        CrawlFixtures.syntheticWarcBytes(cdxHttpDocs(s, dir),
          docsPerFile = 8, gzipPerRecord = false).toDF())
        .as[graft.ops.Multimodal.MediaRow]
      val lines = graft.ops.Staging.stage(
        graft.ops.Warc.toCdxj(media,
          filenameCol = concat(lit("crawl-"), col("media_id"), lit(".warc"))))
      val urls = t(s, dir, "documents").where(col("doc_id") % 13 === 5)
        .select(concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
        .unionByName(Seq(
          "https://host0.example.com/p/nosuch", // in-range key, absent line
          "https://zzz-archive.example.org/q"   // beyond every shard range
        ).toDF("url"))
      graft.ops.Warc.randomAccessFetch(
        urls,
        graft.ops.Warc.cdxClusterIndex(lines, linesPerShard = 50),
        graft.ops.Warc.cdxShardFiles(lines, linesPerShard = 50),
        media.toDF().select(
          concat(lit("crawl-"), col("media_id"), lit(".warc")).as("filename"),
          col("payload")))
        .toDF()
    },
      // q424: the queried subset through the SAME offset (q416) and shard
      // (q423) arithmetic, body served from the documents table, both
      // miss URLs absent by construction; digest_ok is the reader's
      // recomputed-SHA-256 check, TRUE for every untampered record.
      (CdxOracleCtes +
      """,r AS (
        | SELECT o.*, row_number() OVER (ORDER BY surt_key) AS rk FROM o),
        |sh AS (
        | SELECT (rk - 1) // 50 AS sid, CAST(count(*) AS BIGINT) AS shard_n_lines
        | FROM r GROUP BY 1)
        |SELECT r.uri AS url, r.surt_key,
        | CAST((r.rk - 1) // 50 AS BIGINT) AS shard_id,
        | sh.shard_n_lines, r.fname AS filename,
        | CAST(r.off AS BIGINT) AS "offset", CAST(r.rec_size AS BIGINT) AS length,
        | CAST(r.status AS INT) AS status, TRUE AS digest_ok,
        | CAST(r.n - 44 AS BIGINT) AS n_body_bytes,
        | coalesce(d.text, '') AS body
        |FROM r JOIN sh ON (r.rk - 1) // 50 = sh.sid
        | JOIN documents d ON r.doc_id = d.doc_id
        |WHERE r.doc_id % 13 = 5""".stripMargin)),

    // ---- zstd content-coding (RFC 8878, the coding Chrome now sends
    // Accept-Encoding for — via the zstd-jni Spark itself ships, no
    // new dependency): plain zstd, zstd under chunked framing, and a
    // stacked gzip-then-zstd leg all decode through the same
    // outermost-first chain as gzip/deflate, with an identity control
    // row; every body comes back byte-equal to the document text. -----------
    QueryCase("q430_zstd_coding", (s, dir) => {
      import s.implicits._
      val msgs = graft.io.Spread.toDefaultParallelism(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          import graft.functions.BinaryCodecs
          val body = Option(text).getOrElse("").getBytes("UTF-8")
          def chunked(b: Array[Byte]): Array[Byte] = {
            val out = new java.io.ByteArrayOutputStream()
            b.grouped(11).foreach { c =>
              out.write((c.length.toHexString + "\r\n").getBytes("US-ASCII"))
              out.write(c)
              out.write("\r\n".getBytes("US-ASCII"))
            }
            out.write("0\r\n\r\n".getBytes("US-ASCII"))
            out.toByteArray
          }
          val (codingHdrs, wire) = (id % 4) match {
            case 0 => ("Content-Encoding: zstd\r\n", BinaryCodecs.zstd(body))
            case 1 => ("Content-Encoding: zstd\r\nTransfer-Encoding: chunked\r\n",
              chunked(BinaryCodecs.zstd(body)))
            case 2 => ("Content-Encoding: gzip, zstd\r\n",
              BinaryCodecs.zstd(BinaryCodecs.gzip(body)))
            case _ => ("", body)
          }
          val head = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
            codingHdrs + "\r\n"
          (id, head.getBytes("US-ASCII") ++ wire,
            s"https://host${id % 20}.example.com/p/$id")
        }.toDF("doc_id", "payload", "uri")
      graft.ops.Warc.httpResponses(
        graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcBytes(msgs)))
        .toDF()
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("n_headers").cast("long").as("n_headers"),
          col("content_encoding"),
          col("body_decoded"),
          col("body").cast("string").as("text_out"))
    },
      // q430: header counts and coding labels from the id routing; every
      // leg decodes (zstd is now a supported coding), so text_out is the
      // document text verbatim — the decode identity IS the check.
      """SELECT doc_id,
        | CAST(CASE doc_id % 4 WHEN 1 THEN 3 WHEN 3 THEN 1 ELSE 2 END
        |   AS BIGINT) AS n_headers,
        | CASE doc_id % 4 WHEN 0 THEN 'zstd' WHEN 1 THEN 'zstd'
        |   WHEN 2 THEN 'gzip, zstd' END AS content_encoding,
        | TRUE AS body_decoded,
        | coalesce(text, '') AS text_out
        |FROM documents""".stripMargin),

    // ---- `.warc.zst` ingest (the IIPC zstd WARC layout, one frame
    // per record): the SAME documents through the zstd container must
    // parse row-identical to the `.warc.gz` corpus — q431's oracle IS
    // q384's, shared verbatim. Frame boundaries come from the zstd
    // block-chain walk; dictionary-bearing archives quarantine rather
    // than misread. -----------------------------------------------------------
    QueryCase("q431_warc_zst_ingest", (s, dir) =>
      graft.ops.Warc.parseWarc(CrawlFixtures.syntheticWarcZst(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id").as("file_id"), col("record_idx"),
          col("warc_type"), col("target_uri"), col("n_bytes"),
          col("payload").cast("string").as("text_out")),
      // q431: the SAME oracle verbatim - the zstd container layout must
      // be invisible to parse-back (one frame per record, same rows).
      WarcIngestOracleSql),

    // ---- cross-crawl dedup on the WRITE side, full lifecycle: the
    // prior crawl's archives → digest index (metadata-sized) → a
    // recrawl whose captures changed on 5≡0 docs and grew /alt pages
    // on 11≡7 docs → emitRevisits turns every unchanged capture into a
    // body-less revisit naming the prior record → serialized to real
    // WARC files → parsed back → resolveRevisits reconstructs every
    // revisit body from the prior archive. The roundtrip identity IS
    // the oracle: each new-crawl row's body equals the current text,
    // with was_revisit true exactly on the unchanged set. ----------------------
    QueryCase("q426_revisit_emit", (s, dir) => {
      val prior = graft.ops.Staging.stage(
        graft.ops.Warc.parseWarc(
          CrawlFixtures.syntheticWarc(t(s, dir, "documents"), docsPerFile = 8))
          .toDF())
        .as[graft.ops.Warc.WarcRecordRow](
          org.apache.spark.sql.Encoders.product[graft.ops.Warc.WarcRecordRow])
      val base = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://host"), (col("doc_id") % 20).cast("string"),
          lit(".example.com/p/"), col("doc_id").cast("string")).as("url"),
        coalesce(col("text"), lit("")).as("t"))
      val captures = base.select(col("doc_id"), col("url"),
        when(col("doc_id") % 5 === 0, concat(col("t"), lit(" v2")))
          .otherwise(col("t")).cast("binary").as("payload"))
        .unionByName(base.where(col("doc_id") % 11 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("url"), lit("/alt")).as("url"),
            concat(lit("alt "), col("t")).cast("binary").as("payload")))
      val emitted = graft.ops.Warc.emitRevisits(captures,
        graft.ops.Warc.cdxDigestIndex(prior))
      val newArch = graft.ops.Warc.toWarcRecords(
        emitted.select(col("doc_id"), col("payload"), col("url").as("uri"),
          when(col("is_revisit"), lit("revisit")).otherwise(lit("response"))
            .as("warc_type"),
          col("refers_to")),
        docsPerFile = 8, recordIdPrefix = "rc2")
      graft.ops.Warc.resolveRevisits(
        prior.unionByName(graft.ops.Warc.parseWarc(newArch)))
        .where(col("record_id").startsWith("<urn:graft:rc2:"))
        .select(col("target_uri").as("url"), col("was_revisit"),
          col("payload").cast("string").as("body"))
    },
      // q426: the roundtrip identity straight from the change formulas —
      // every new-crawl capture comes back body-equal to the CURRENT
      // text (revisits reconstructed from the prior archive, changed and
      // /alt pages archived in full), was_revisit true exactly where the
      // digest was unchanged.
      """WITH base AS (
        | SELECT doc_id,
        |  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/' ||
        |   CAST(doc_id AS VARCHAR) AS url,
        |  coalesce(text, '') AS t
        | FROM documents),
        |main AS (
        | SELECT url, doc_id % 5 <> 0 AS was_revisit,
        |  CASE WHEN doc_id % 5 = 0 THEN t || ' v2' ELSE t END AS body
        | FROM base),
        |alt AS (
        | SELECT url || '/alt' AS url, FALSE AS was_revisit, 'alt ' || t AS body
        | FROM base WHERE doc_id % 11 = 7)
        |SELECT url, was_revisit, body FROM main
        |UNION ALL
        |SELECT url, was_revisit, body FROM alt""".stripMargin)
  )

  /** q416/q417's shared fixture: each document as the HTTP response
    * message a crawler archives (status from the q412 id formula,
    * `text/html`, the document text as body) under the standard
    * host/path URI formula — every CDX field derivable in SQL.
    */
  private def cdxHttpDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    t(s, dir, "documents").select(
      id,
      concat(lit("HTTP/1.1 "), (lit(200) + (id % 3) * 2).cast("string"),
        lit(" OK\r\nContent-Type: text/html\r\n\r\n"),
        coalesce(col("text"), lit(""))).cast("binary").as("payload"),
      concat(lit("https://host"), (id % 20).cast("string"),
        lit(".example.com/p/"), id.cast("string")).as("uri"))
  }

  /** q358/q359's synthetic HTML page — every feature a pure function of
    * doc_id and text so the oracle rebuilds it byte-for-byte: a head line
    * with style+script spans, a comment line, a heading, a text paragraph
    * carrying entities, a pure-link nav line, an id-dependent link-list
    * or filler line, a mixed prose+link line, and the closing tags.
    * Attribute values are unquoted (valid per the HTML spec for these
    * characters) so the fixture needs no quote-escaping in either engine.
    */
  private def syntheticHtml: Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><style>body{color:red}</style><script>var n="), id,
      lit(";</script></head>\n"),
      lit("<body><!-- hidden "), id, lit(" -->\n"),
      lit("<h1>Doc "), id, lit("</h1>\n"),
      lit("<p>"), coalesce(col("text"), lit("")),
      lit(" &amp; more &lt;raw&gt; &#39;tail&#39;</p>\n"),
      lit("<div><a href=/h>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></div>\n"),
      when(col("doc_id") % 3 === 0,
        lit("<ul><li><a href=/l1>Long link one</a></li><li><a href=/l2>Long link two</a></li></ul>\n"))
        .otherwise(lit("<p>A plain filler paragraph with no links at all.</p>\n")),
      lit("<p>Mixed line with one <a href=/m>tiny link</a> and plenty of surrounding prose to stay.</p>\n"),
      lit("</body></html>"))
  }

  /** The q416 CDXJ line rebuilt byte-for-byte as a SQL expression over
    * [[CdxOracleCtes]]'s `o` columns — shared by q416 and the q423
    * cluster-index replay so the two cannot disagree about line bytes.
    * `||` stays at line ends (the stripMargin interpolation rule).
    */
  private lazy val CdxLineSqlExpr: String =
    """surt_key || ' 20240101000000 {"url":"' || uri || '","digest":"' ||
      |  digest || '","mime":"text/html","status":"' ||
      |  CAST(status AS VARCHAR) || '","offset":"' || CAST(off AS VARCHAR) ||
      |  '","length":"' || CAST(rec_size AS VARCHAR) || '","filename":"' ||
      |  fname || '"}'""".stripMargin

  /** q416/q417's shared offset-arithmetic replay, ending in CTE
    * `o(doc_id, fid, rn, uri, surt_key, status, digest, n, rec_size,
    * off, fname)`.
    */
  private lazy val CdxOracleCtes: String =
    """WITH f AS (
      | SELECT doc_id, doc_id // 8 AS fid,
      |  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/' ||
      |   CAST(doc_id AS VARCHAR) AS uri,
      |  'com,example,host' || CAST(doc_id % 20 AS VARCHAR) || ')/p/' ||
      |   CAST(doc_id AS VARCHAR) AS surt_key,
      |  200 + (doc_id % 3) * 2 AS status,
      |  sha256(coalesce(text, '')) AS digest,
      |  44 + strlen(coalesce(text, '')) AS n
      | FROM documents),
      |sz AS (
      | SELECT *,
      |  141 + strlen(CAST(doc_id AS VARCHAR)) + strlen(uri) +
      |   strlen(CAST(n AS VARCHAR)) + n AS rec_size,
      |  row_number() OVER (PARTITION BY fid ORDER BY doc_id) AS rn
      | FROM f),
      |o AS (
      | SELECT *,
      |  146 + strlen(CAST(fid AS VARCHAR)) +
      |   coalesce(sum(rec_size) OVER (PARTITION BY fid ORDER BY doc_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
      |  'crawl-' || CAST(fid AS VARCHAR) || '.warc' AS fname
      | FROM sz)
      |""".stripMargin

  /** The `.warc` ingest parse-back derivation (warcinfo lead member +
    * per-file response rows from the id formulas) — shared VERBATIM by
    * q384 (`.warc.gz`) and q431 (`.warc.zst`): the container compression
    * layout must be invisible to parse-back.
    */
  private lazy val WarcIngestOracleSql: String =
      """WITH resp AS (
        | SELECT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id)
        |    AS BIGINT) AS record_idx,
        |  'response' AS warc_type,
        |  'https://host' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p/'
        |    || CAST(doc_id AS VARCHAR) AS target_uri,
        |  CAST(strlen(coalesce(text, '')) AS BIGINT) AS n_bytes,
        |  coalesce(text, '') AS text_out
        | FROM documents),
        |info AS (
        | SELECT DISTINCT CAST(doc_id // 8 AS BIGINT) AS file_id,
        |  CAST(0 AS BIGINT) AS record_idx, 'warcinfo' AS warc_type,
        |  CAST(NULL AS VARCHAR) AS target_uri, CAST(21 AS BIGINT) AS n_bytes,
        |  'software: graft/0.1' || chr(13) || chr(10) AS text_out
        | FROM documents)
        |SELECT * FROM info UNION ALL SELECT * FROM resp""".stripMargin

  /** The q359 line-filter replay as a reusable CTE list (expects a CTE
    * `h(doc_id, html)` upstream, emits `m(doc_id, main_text)`) — shared
    * by the q359 oracle and q365's composite so the two cannot drift.
    * Plain (non-interpolated) string: regex backslashes are single here.
    */
  private val MainContentCtes: String =
    """p1 AS (SELECT doc_id, regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS html FROM h),
      |p2 AS (SELECT doc_id, regexp_replace(html, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS html FROM p1),
      |p3 AS (SELECT doc_id, regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS html FROM p2),
      |lx AS (SELECT doc_id, string_split(html, chr(10)) AS ls FROM p3),
      |li AS (SELECT doc_id, ls, unnest(range(len(ls))) AS i FROM lx),
      |ln AS (SELECT doc_id, i, ls[CAST(i AS INT) + 1] AS line FROM li),
      |c1 AS (SELECT doc_id, i, line, regexp_replace(line, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS x FROM ln),
      |c2 AS (SELECT doc_id, i, line, regexp_replace(x, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS x FROM c1),
      |c3 AS (SELECT doc_id, i, line, regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x FROM c2),
      |c4 AS (SELECT doc_id, i, line, regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM c3),
      |c5 AS (SELECT doc_id, i, line, replace(replace(replace(replace(replace(replace(x,
      |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      |  '&apos;', ''''), '&nbsp;', ' ') AS x FROM c4),
      |c6 AS (SELECT doc_id, i, line,
      |  trim(regexp_replace(replace(x, '&amp;', '&'), '\s+', ' ', 'g')) AS clean FROM c5),
      |ck AS (SELECT doc_id, i, clean,
      |  coalesce(list_sum(list_transform(
      |    regexp_extract_all(line, '(?is)<a(?:\s[^>]*)?>(.*?)</a>', 1),
      |    a -> length(trim(regexp_replace(regexp_replace(a, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g'))))), 0) AS linkchars
      | FROM c6),
      |keep AS (SELECT doc_id, i, clean FROM ck
      | WHERE length(clean) >= 5 AND linkchars * 100 <= 50 * length(clean)),
      |m AS (SELECT doc_id, array_to_string(list(clean ORDER BY i), ' ') AS main_text
      | FROM keep GROUP BY doc_id)""".stripMargin

  /** Shared synthetic-HTML fixture CTE for q358/q359 — the byte-exact
    * SQL twin of [[syntheticHtml]].
    */
  private val HtmlFixtureCte: String =
    """d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
      |h AS (SELECT doc_id,
      |  '<html><head><style>body{color:red}</style><script>var n=' || CAST(doc_id AS VARCHAR) || ';</script></head>' || chr(10) ||
      |  '<body><!-- hidden ' || CAST(doc_id AS VARCHAR) || ' -->' || chr(10) ||
      |  '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
      |  '<p>' || t || ' &amp; more &lt;raw&gt; &#39;tail&#39;</p>' || chr(10) ||
      |  '<div><a href=/h>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></div>' || chr(10) ||
      |  (CASE WHEN doc_id % 3 = 0
      |    THEN '<ul><li><a href=/l1>Long link one</a></li><li><a href=/l2>Long link two</a></li></ul>'
      |    ELSE '<p>A plain filler paragraph with no links at all.</p>' END) || chr(10) ||
      |  '<p>Mixed line with one <a href=/m>tiny link</a> and plenty of surrounding prose to stay.</p>' || chr(10) ||
      |  '</body></html>' AS html
      | FROM d)""".stripMargin

  /** [[graft.ops.Urls.pslRules]] rendered as DuckDB VALUES rows
    * `(suffix, nlab, kind)` — generated from the SAME loaded snapshot
    * the Spark op broadcast-joins, so the q355 oracle and the op cannot
    * drift apart when the snapshot changes.
    */
  private lazy val PslRulesValues: String =
    Urls.pslRules.map { case (s, k, kind) => s"('$s',$k,$kind)" }.mkString(",")

  /** The distinct rule depths of the snapshot as VALUES rows. */
  private lazy val PslDepthsValues: String =
    Urls.pslRules.map(_._2).distinct.sorted.map(k => s"($k)").mkString(",")
}
