package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.ops.{Decontaminate, Dedup, Indexing, KMeans, Outliers, Similarity}
import graft.SparkEntry.t
import CatalogShared._

/** Vector queries over the `embeddings` table: nearest neighbours, ANN
  * indexes, product quantization, clustering, outliers and the inverted
  * indexes built beside them. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object VectorCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- array fan-out / explode (P1/J2) ---------------------------------
    QueryCase("q6_explode", (s, dir) => {
      t(s, dir, "embeddings").select(col("vec_id"), explode(col("embedding")).as("val"))
    },
      "SELECT vec_id, unnest(embedding) AS val FROM embeddings"),

    // ---- robust outlier screen: per-user activity counts vs the upper
    // Tukey fence of their event_type peer group, exact integer quartiles
    // (the scale path lowers approx_percentile accuracy — q36's exact-
    // percentile trap documented at Outliers.upperIqr). ------------------
    QueryCase("q77_outliers", (s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      Outliers.upperIqr(counts, Seq("event_type"), "n")
        .select(col("event_type"), col("user_id"), col("n"), col("q1"), col("q3"))
    },
      // q77: approx_percentile degenerates to exact discrete quantiles when
      // every group < accuracy — value-identical to quantile_disc (same
      // trick as q53).
      """WITH c AS (
        | SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
        |q AS (
        | SELECT event_type, quantile_disc(n, 0.25) AS q1, quantile_disc(n, 0.75) AS q3
        | FROM c GROUP BY 1)
        |SELECT c.event_type, user_id, n, CAST(q1 AS BIGINT) AS q1, CAST(q3 AS BIGINT) AS q3
        |FROM c JOIN q ON c.event_type = q.event_type
        |WHERE 2 * n > 2 * q3 + 3 * (q3 - q1)""".stripMargin),

    // ---- integer-lattice k-means (2 Lloyd rounds, k=8): map-only
    // assignment against a broadcast codebook + bounded-shuffle centroid
    // update, all in exact integer arithmetic (same portability trick as
    // the fixed-point PageRank) — output is the per-cluster integer
    // fingerprint (size, inertia, centroid sum). -------------------------
    QueryCase("q78_kmeans", (s, dir) => {
      KMeans.clusterStats(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iterations = 2)
    },
      // q78: full 2-round Lloyd replay in long form — same quantization as
      // q52, same init (k lowest ids), same (dist, cid) tie-break, same
      // floor-division centroid means, so every integer matches exactly.
      """WITH m AS (
        | SELECT vec_id AS id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
        | FROM embeddings),
        |qv AS (
        | SELECT id,
        |  CASE WHEN max_abs > 0
        |   THEN list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT) + 127)
        |   ELSE list_transform(embedding, x -> CAST(127 AS BIGINT)) END AS v
        | FROM m),
        |q AS (
        | SELECT id, u.d AS dim, u.x AS v FROM (
        |  SELECT id, unnest(list_transform(v, (x, i) -> struct_pack(d := i - 1, x := x))) AS u
        |  FROM qv)),
        |c0 AS (
        | SELECT dense_rank() OVER (ORDER BY id) - 1 AS cid, dim, v
        | FROM q WHERE id IN (SELECT id FROM qv ORDER BY id LIMIT 8)),
        |a1 AS (
        | SELECT id, cid FROM (
        |  SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        |  FROM (SELECT q.id, c.cid, sum((q.v - c.v) * (q.v - c.v)) AS dist
        |        FROM q JOIN c0 c ON q.dim = c.dim GROUP BY q.id, c.cid))
        | WHERE rn = 1),
        |c1 AS (
        | SELECT c.cid, c.dim, coalesce(n.v, c.v) AS v
        | FROM c0 c LEFT JOIN (
        |  SELECT a.cid, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
        |  FROM a1 a JOIN q ON a.id = q.id GROUP BY a.cid, q.dim) n
        | ON c.cid = n.cid AND c.dim = n.dim),
        |a2 AS (
        | SELECT id, cid FROM (
        |  SELECT id, cid, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        |  FROM (SELECT q.id, c.cid, sum((q.v - c.v) * (q.v - c.v)) AS dist
        |        FROM q JOIN c1 c ON q.dim = c.dim GROUP BY q.id, c.cid))
        | WHERE rn = 1),
        |c2 AS (
        | SELECT c.cid, c.dim, coalesce(n.v, c.v) AS v
        | FROM c1 c LEFT JOIN (
        |  SELECT a.cid, q.dim, CAST(sum(q.v) // count(*) AS BIGINT) AS v
        |  FROM a2 a JOIN q ON a.id = q.id GROUP BY a.cid, q.dim) n
        | ON c.cid = n.cid AND c.dim = n.dim),
        |a3 AS (
        | SELECT id, cid, CAST(dist AS BIGINT) AS dist FROM (
        |  SELECT id, cid, dist, row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
        |  FROM (SELECT q.id, c.cid, sum((q.v - c.v) * (q.v - c.v)) AS dist
        |        FROM q JOIN c2 c ON q.dim = c.dim GROUP BY q.id, c.cid))
        | WHERE rn = 1),
        |cs AS (SELECT cid, CAST(sum(v) AS BIGINT) AS c_sum FROM c2 GROUP BY cid)
        |SELECT a3.cid, count(*) AS n, CAST(sum(dist) AS BIGINT) AS inertia, cs.c_sum
        |FROM a3 JOIN cs ON a3.cid = cs.cid
        |GROUP BY a3.cid, cs.c_sum""".stripMargin),

    // ---- brute-force cosine top-k (exact ANN baseline) -------------------
    QueryCase("q19_embedding_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding")), k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      """SELECT query_id, neighbor_id, rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        | FROM embeddings c, embeddings q
        | WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 10""".stripMargin),

    // ---- LSH-bucketed ANN (scale path; recall < 1 by design). The
    // murmur-seeded hyperplanes make the neighbor set non-SQL-derivable,
    // but fully DETERMINISTIC for fixed seeds + data — so the sf0.01
    // result is pinned as a literal-VALUES oracle (q64 precedent:
    // empirically verified fixture pin, regenerate via
    // tools/pin_oracle.py if seeds/data ever change). The float cosine is
    // dropped from the compared output (engine-specific summation order);
    // rank order is deterministic (cosine desc, neighbor_id asc). --------
    QueryCase("q20_ann_lsh", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding")), k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      // q17/q20/q21: pinned-fixture oracles (q64 precedent). These
      // pipelines are deterministic for the fixed murmur seeds / stub
      // codecs + testdata but not SQL-derivable, so the verified sf0.01
      // result is pinned as literal VALUES; regenerate with
      // tools/pin_oracle.py after any seed/data change. A pin failure
      // means the hashing/bucketing/codec logic CHANGED — exactly the
      // regression this check exists to catch.
      """SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (VALUES (0,230,1),(0,264,2),(0,275,5),(0,281,4),(0,378,3),(0,410,6),(0,488,7),(1,77,6),(1,124,1),(1,200,8),(1,208,7),(1,285,2),(1,327,4),(1,392,9),(1,433,5),(1,488,3),(2,37,2),(2,63,6),(2,90,3),(2,113,9),(2,186,4),(2,338,8),(2,383,7),(2,399,5),(2,407,1),(3,11,5),(3,83,7),(3,85,4),(3,130,1),(3,158,6),(3,174,2),(3,227,10),(3,282,9),(3,291,8),(3,349,3),(4,55,10),(4,89,2),(4,181,9),(4,213,7),(4,214,6),(4,225,5),(4,228,4),(4,231,3),(4,337,8),(4,408,1),(5,201,1),(5,212,4),(5,339,3),(5,492,2),(6,101,4),(6,104,6),(6,193,7),(6,268,1),(6,310,8),(6,415,3),(6,448,5),(6,459,2),(7,114,3),(7,275,4),(7,319,1),(7,324,5),(7,407,2),(8,24,2),(8,139,5),(8,180,6),(8,198,1),(8,235,7),(8,280,3),(8,298,4),(8,432,8),(9,20,3),(9,69,4),(9,91,10),(9,144,7),(9,263,9),(9,274,2),(9,317,8),(9,340,1),(9,449,5),(9,450,6)) AS t(query_id, neighbor_id, rank)"""),

    // ---- embedding near-dup pairs (LSH-bucketed). Same pinned-fixture
    // oracle scheme as q20: deterministic murmur hyperplane buckets →
    // stable pair set at sf0.01, pinned as literal VALUES; the float
    // cosine column is dropped from the compared output. -----------------
    QueryCase("q21_embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), threshold = 0.25)
        .select(col("a_id"), col("b_id"))
    },
      """SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id FROM (VALUES (1,124),(3,130),(3,174),(4,89),(4,408),(6,268),(10,123),(10,390),(11,145),(12,147),(12,246),(12,274),(13,395),(14,298),(15,424),(17,234),(24,298),(25,92),(28,246),(28,305),(32,483),(35,487),(43,80),(43,257),(45,459),(46,419),(47,201),(47,238),(47,316),(47,482),(48,378),(49,60),(50,82),(50,356),(52,227),(53,318),(61,152),(62,111),(64,284),(64,486),(66,247),(68,240),(68,439),(69,148),(69,449),(70,374),(70,377),(78,437),(84,341),(87,340),(87,426),(88,445),(89,256),(89,337),(91,116),(93,229),(94,336),(97,444),(98,331),(100,360),(103,445),(106,119),(106,312),(108,232),(116,427),(118,299),(120,283),(122,468),(125,419),(127,266),(133,499),(134,477),(137,169),(137,299),(139,170),(139,194),(140,296),(142,232),(143,271),(147,473),(148,195),(153,455),(153,499),(154,391),(159,257),(160,283),(162,392),(164,496),(165,185),(170,194),(171,473),(172,491),(173,331),(174,255),(175,186),(178,220),(179,220),(179,435),(181,266),(186,492),(188,347),(190,230),(192,304),(192,483),(195,235),(195,317),(196,308),(197,393),(199,324),(201,428),(205,485),(211,487),(215,289),(221,373),(221,484),(222,338),(224,488),(226,371),(233,430),(234,260),(236,469),(238,344),(240,436),(241,363),(243,247),(246,478),(253,428),(254,326),(256,337),(263,437),(263,462),(266,395),(267,304),(267,431),(276,447),(291,314),(292,345),(297,498),(299,466),(312,378),(313,382),(319,479),(322,485),(323,365),(330,408),(332,339),(335,439),(338,402),(340,381),(340,435),(343,499),(368,464),(369,413),(373,425),(373,467),(373,484),(390,460),(391,468),(395,440),(426,464),(427,437),(431,462),(442,471),(478,496),(486,490)) AS t(a_id, b_id)"""),

    // ---- IVF ANN: probe nearest centroid partitions. Deterministic given
    // the fixed centroid rule (vec_id % 97 == 0), so the whole
    // assign→probe→rank pipeline is SQL-oracled; the float cosine itself is
    // dropped (engine-specific summation order), as in q19. ----------------
    QueryCase("q23_ivf_ann", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.ivfTopK(
        emb,
        emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding")),
        centroids, k = 10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      // q23: full IVF replay — nearest-centroid assignment (ties → smallest
      // centroid id, as in Similarity.ivfTopK's array_position-of-max), top-2
      // probe per query, exact rank within probed partitions. Cosine values
      // are compared only through the ordering, never as floats.
      """WITH cent AS (
        | SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id % 97 = 0),
        |assigned AS (
        | SELECT neighbor_id, embedding, c_id FROM (
        |  SELECT e.vec_id AS neighbor_id, e.embedding, c.c_id,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.c_id) AS rn
        |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
        |qprobe AS (
        | SELECT query_id, q_emb, c_id FROM (
        |  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.c_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.c_id) AS rn
        |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rn <= 2)
        |SELECT query_id, neighbor_id, rank FROM (
        | SELECT p.query_id, a.neighbor_id,
        |  row_number() OVER (PARTITION BY p.query_id
        |    ORDER BY list_cosine_similarity(p.q_emb, a.embedding) DESC, a.neighbor_id) AS rank
        | FROM qprobe p JOIN assigned a USING (c_id)
        | WHERE a.neighbor_id <> p.query_id)
        |WHERE rank <= 10""".stripMargin),

    // ---- int8 embedding quantization (ANN memory scale path); summarized
    // to exact integer stats so the oracle compares scalars, not arrays ----
    QueryCase("q52_quantize", (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.maxAbs(col("embedding")).as("max_abs"))
        .select(col("vec_id"), col("max_abs"),
          VectorFunctions.quantizeInt8(col("embedding"), col("max_abs")).as("__q"))
        .select(col("vec_id"), col("max_abs"),
          aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("__q")).as("q_min"),
          array_max(col("__q")).as("q_max"))
    },
      """WITH m AS (SELECT vec_id,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs,
        |  embedding FROM embeddings),
        | q AS (SELECT vec_id, max_abs,
        |  CASE WHEN max_abs > 0
        |   THEN list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT))
        |   ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
        | FROM m)
        |SELECT vec_id, max_abs,
        | CAST(list_sum(qv) AS BIGINT) AS q_sum,
        | list_min(qv) AS q_min, list_max(qv) AS q_max
        |FROM q""".stripMargin),

    // ---- rolling z-score anomaly flags in pure integer arithmetic over
    // a 20-row trailing window (current row excluded from its baseline). --
    QueryCase("q88_rolling_zscore", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      Outliers.rollingZ(ev, Seq("user_id"), Seq(col("ts"), col("event_id")), "cents", n = 20, z = 3)
        .select(col("user_id"), col("event_id"), col("cents"),
          col("win_sum"), col("win_sumsq"), col("is_anomaly"))
    },
      """WITH e AS (
        | SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |w AS (
        | SELECT user_id, event_id, cents,
        |  sum(cents) OVER win AS s, sum(cents * cents) OVER win AS q,
        |  count(*) OVER win AS n
        | FROM e
        | WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, cents,
        | CAST(s AS BIGINT) AS win_sum, CAST(q AS BIGINT) AS win_sumsq,
        | (20 * cents - s) * (20 * cents - s) > 9 * (20 * q - s * s) AS is_anomaly
        |FROM w WHERE n = 20""".stripMargin),

    // ---- inverted-index posting summary: term → df + first-20 posting
    // ids; presence-distinct before the explode bounds the shuffle. -------
    QueryCase("q94_inverted_index", (s, dir) =>
      Indexing.postingSummary(t(s, dir, "documents"), k = 20),
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT DISTINCT doc_id, term FROM (SELECT doc_id, unnest(w) AS term FROM tok))
        |SELECT term, count(*) AS df,
        | array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM t GROUP BY 1""".stripMargin),

    // ---- integer CUSUM changepoint per user on the event value series:
    // score and peak position exact via n-scaled deviations. --------------
    QueryCase("q99_cusum", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      Outliers.cusum(ev, Seq("user_id"), Seq(col("ts"), col("event_id")), "cents")
    },
      """WITH e AS (
        | SELECT user_id, ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |w AS (SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS t,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |  CAST(sum(cents) OVER (PARTITION BY user_id) AS BIGINT) AS tot
        | FROM e),
        |s AS (SELECT user_id, n, abs(n * cum - t * tot) AS sc, t FROM w)
        |SELECT user_id, n AS n_points, CAST(sc AS BIGINT) AS cusum_score, t AS cp_pos
        |FROM s QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY sc DESC, t ASC) = 1""".stripMargin),

    // ---- categorical presence bitmap per user: one Long mask via
    // map-side-combined bit_or + popcount. --------------------------------
    QueryCase("q110_category_bitmap", (s, dir) =>
      Indexing.categoryBitmap(t(s, dir, "events"), Seq("user_id"), "event_type",
        Seq("click", "error", "purchase", "signup", "view")),
      """WITH b AS (
        | SELECT user_id,
        |  CAST(bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |   WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 WHEN 'view' THEN 16
        |   ELSE 0 END) AS BIGINT) AS cat_mask
        | FROM events GROUP BY 1)
        |SELECT user_id, cat_mask, CAST(bit_count(cat_mask) AS BIGINT) AS n_cats
        |FROM b""".stripMargin),

    // ---- market-basket co-occurrence with exact lift: order baskets over
    // part classes (l_partkey mod 100) — basket-bounded pair join, never
    // corpus². -------------------------------------------------------------
    QueryCase("q120_cooccurrence", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), (col("l_partkey") % 100).as("part_class"))
      Indexing.coOccurrence(li, "l_orderkey", "part_class", minPairCount = 2)
    },
      """WITH p AS (
        | SELECT DISTINCT l_orderkey AS basket, l_partkey % 100 AS item FROM lineitem),
        |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM p GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS nb FROM p),
        |pr AS (
        | SELECT l.item AS a_item, r.item AS b_item, CAST(count(*) AS BIGINT) AS n_ab
        | FROM p l JOIN p r ON l.basket = r.basket AND l.item < r.item
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT a_item, b_item, n_ab, a.n_item AS n_a, b.n_item AS n_b,
        | CAST(floor(1000000 * n_ab * nb / (a.n_item * b.n_item)) AS BIGINT) AS lift_ppm
        |FROM pr JOIN ic a ON pr.a_item = a.item JOIN ic b ON pr.b_item = b.item
        |CROSS JOIN tot""".stripMargin),

    // ---- characteristic terms per document: all-integer TF-IDF surrogate,
    // ranked (tf desc, df asc) — keyword extraction, bodies never shuffle. -
    QueryCase("q121_char_terms", (s, dir) =>
      Indexing.characteristicTerms(t(s, dir, "documents"), k = 3),
      """WITH tok AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> len(w) > 0) AS w
        | FROM documents),
        |t AS (SELECT doc_id, unnest(w) AS term FROM tok),
        |f AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM f GROUP BY 1),
        |r AS (
        | SELECT f.doc_id, f.term, f.tf, d.df,
        |  CAST(row_number() OVER (PARTITION BY f.doc_id
        |    ORDER BY f.tf DESC, d.df ASC, f.term ASC) AS BIGINT) AS rank
        | FROM f JOIN d ON f.term = d.term)
        |SELECT doc_id, term, tf, df, rank FROM r WHERE rank <= 3""".stripMargin),

    // ---- multi-probe LSH ANN: queries also probe every 1-bit-flip bucket
    // per band — the recall lever that leaves the corpus index untouched.
    // Pinned-fixture oracle like q20. --------------------------------------
    QueryCase("q126_ann_multiprobe", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb,
        emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding")),
        k = 10, probeHamming = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    },
      PinnedQ126),

    // ---- ANN recall harness: recall@10 of the multi-probe index against
    // the exact baseline — the oracle recomputes the exact side by brute
    // force and re-derives recall from the pinned ANN rows. ---------------
    QueryCase("q127_ann_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.recallAt(
        Similarity.lshTopK(emb, qs, k = 10, probeHamming = 1),
        Similarity.bruteForceTopK(emb, qs, k = 10),
        k = 10)
    },
      // q127: the exact side is recomputed by brute force (same CTE as the
      // q19 oracle — already proven to agree with Spark's float ordering);
      // recall is re-derived from the pinned ANN rows, so this checks the
      // recall MATH, not just result stability.
      s"""WITH ann AS ($PinnedQ126),
        |exact AS (
        | SELECT query_id, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) WHERE rank <= 10),
        |h AS (
        | SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
        | FROM ann a JOIN exact e
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id GROUP BY 1)
        |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        | CAST(floor(1000000 * coalesce(h.n_hits, 0) / 10) AS BIGINT) AS recall_ppm
        |FROM (SELECT DISTINCT query_id FROM exact) q LEFT JOIN h USING (query_id)""".stripMargin),

    // ---- hard-negative mining for contrastive training: per query, the
    // 10 most-similar embeddings with a DIFFERENT label — exact top-k with
    // the label filter ahead of any scoring. -----------------------------
    QueryCase("q133_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb,
        emb.where(col("vec_id") < 10).select(col("vec_id").as("query_id"),
          col("embedding"), col("label")),
        k = 10)
    },
      // q133: q19's proven float-cosine replay plus the label inequality
      // (labels are non-null in the fixture; the Spark side's null-safe
      // negation agrees wherever labels exist).
      """SELECT query_id, neighbor_id, n_label, rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS n_label,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        | FROM embeddings c, embeddings q
        | WHERE q.vec_id < 10 AND c.label <> q.label)
        |WHERE rank <= 10""".stripMargin),

    // ---- SemDeDup-style blocked semantic dedup: within each label block,
    // drop vectors with a smaller-id cosine-≥0.9 neighbor. All-integer
    // threshold test (quantize → codegen'd integer dot) — engine-exact. -
    QueryCase("q142_semantic_dedup", (s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"))
        .select(col("vec_id"), col("label"), col("dropped")),
      // q142: identical quantization (round to BIGINT at scale 1024) and
      // the same all-integer threshold algebra — list_sum over BIGINT
      // products stays exact, unlike list_dot_product's double.
      """WITH q AS (
        | SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        | FROM embeddings),
        |n AS (
        | SELECT vec_id, label, qv,
        |  list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])) AS n2
        | FROM q),
        |p AS (
        | SELECT DISTINCT b.vec_id AS dropped_id
        | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id,
        |  LATERAL (SELECT list_sum(list_transform(range(1, len(a.qv)+1), i -> a.qv[i]*b.qv[i])) AS d) t
        | WHERE t.d > 0 AND t.d * t.d * 100 >= 81 * a.n2 * b.n2)
        |SELECT e.vec_id, e.label,
        | EXISTS (SELECT 1 FROM p WHERE p.dropped_id = e.vec_id) AS dropped
        |FROM embeddings e""".stripMargin),

    // ---- per-label integer embedding centroids: exact coordinate sums
    // and floor-means per (label, dim). Partial agg bounds the shuffle at
    // partitions×labels×dim — the KMeans-update cost model. -------------
    QueryCase("q145_label_centroids", (s, dir) =>
      Similarity.blockCentroids(t(s, dir, "embeddings"))
        .select(col("label"), col("dim"), col("n"), col("sum_q"), col("centroid")),
      // q145: same quantization as q142; exact integer sums; floor of the
      // double division is exact (|sum| far below 2^53).
      """WITH q AS (
        | SELECT label,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        | FROM embeddings),
        |e AS (SELECT label, unnest(range(1, len(qv)+1)) AS dim, qv FROM q),
        |v AS (SELECT label, CAST(dim AS INT) AS dim, qv[dim] AS val FROM e)
        |SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(val) AS BIGINT) AS sum_q,
        | CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS centroid
        |FROM v GROUP BY 1, 2""".stripMargin),

    // ---- median/MAD robust outlier flags on event values per type:
    // exact lower medians, integer MAD fence. -----------------------------
    QueryCase("q161_mad_outliers", (s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      Outliers.madOutliers(ev, Seq("event_type"), "cents", k = 3L)
        .select(col("event_id"), col("event_type"), col("cents"),
          col("med"), col("mad"), col("is_outlier"))
    },
      // q161: two-stage exact lower medians (min value with 2·cum ≥ tot over
      // integer counts), replayed with windows over distinct values.
      """WITH v AS (
        | SELECT event_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |c1 AS (SELECT event_type, cents, count(*) AS w FROM v GROUP BY 1, 2),
        |m1 AS (
        | SELECT event_type,
        |  min(CASE WHEN 2 * cum >= tot THEN cents END) AS med
        | FROM (
        |  SELECT event_type, cents,
        |   sum(w) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |   sum(w) OVER (PARTITION BY event_type) AS tot
        |  FROM c1)
        | GROUP BY event_type),
        |d AS (
        | SELECT v.event_id, v.event_type, v.cents, m1.med,
        |  abs(v.cents - m1.med) AS dev
        | FROM v JOIN m1 ON v.event_type = m1.event_type),
        |c2 AS (SELECT event_type, dev, count(*) AS w FROM d GROUP BY 1, 2),
        |m2 AS (
        | SELECT event_type,
        |  min(CASE WHEN 2 * cum >= tot THEN dev END) AS mad
        | FROM (
        |  SELECT event_type, dev,
        |   sum(w) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |   sum(w) OVER (PARTITION BY event_type) AS tot
        |  FROM c2)
        | GROUP BY event_type)
        |SELECT d.event_id, d.event_type, d.cents, d.med, m2.mad,
        | (d.dev > 3 * m2.mad) AS is_outlier
        |FROM d JOIN m2 ON d.event_type = m2.event_type""".stripMargin),

    // ---- reciprocal-rank fusion: suppliers ranked per nation by two
    // uncalibrated signals (account balance; shipped revenue), fused by
    // rank only — integer micro-unit RRF, top-5 per nation. --------------
    QueryCase("q168_rrf_fusion", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"),
          round(col("s_acctbal") * 100).cast("long").as("bal_cents"))
      val byBal = sup.withColumn("rnk", row_number().over(
        Window.partitionBy("s_nationkey").orderBy(col("bal_cents").desc, col("s_suppkey"))))
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
      val byRev = sup.select(col("s_suppkey"), col("s_nationkey"))
        .join(rev, Seq("s_suppkey"), "left")
        .withColumn("rev_cents", coalesce(col("rev_cents"), lit(0L)))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("s_nationkey").orderBy(col("rev_cents").desc, col("s_suppkey"))))
      Indexing.rrfFuse(Seq(byBal, byRev), "s_nationkey", "s_suppkey", "rnk", topK = 5)
        .select(col("s_nationkey"), col("s_suppkey"), col("rrf_score"),
          col("n_lists"), col("fused_rank"))
    },
      // q168: RRF replayed — per-list floor division BEFORE the sum, so the
      // fused score is order-independent; QUALIFY trims to top-5.
      """WITH sup AS (SELECT s_suppkey, s_nationkey,
        |  CAST(round(s_acctbal * 100) AS BIGINT) AS bal FROM supplier),
        |bal AS (SELECT s_nationkey, s_suppkey, row_number() OVER (
        |  PARTITION BY s_nationkey ORDER BY bal DESC, s_suppkey) AS rnk FROM sup),
        |rev0 AS (SELECT l_suppkey AS s_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        | FROM lineitem GROUP BY 1),
        |rev AS (SELECT sup.s_nationkey, sup.s_suppkey, row_number() OVER (
        |  PARTITION BY sup.s_nationkey
        |  ORDER BY coalesce(rev0.rev, 0) DESC, sup.s_suppkey) AS rnk
        | FROM sup LEFT JOIN rev0 USING (s_suppkey)),
        |u AS (SELECT s_nationkey, s_suppkey, 1000000 // (60 + rnk) AS c FROM bal
        | UNION ALL SELECT s_nationkey, s_suppkey, 1000000 // (60 + rnk) FROM rev),
        |f AS (SELECT s_nationkey, s_suppkey, CAST(sum(c) AS BIGINT) AS rrf_score,
        |  CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY 1, 2)
        |SELECT s_nationkey, s_suppkey, rrf_score, n_lists,
        | CAST(row_number() OVER (PARTITION BY s_nationkey
        |  ORDER BY rrf_score DESC, s_suppkey) AS BIGINT) AS fused_rank
        |FROM f QUALIFY fused_rank <= 5""".stripMargin),

    // ---- per-label embedding dispersion via the centroid identity:
    // exact Σ pairwise distance² from ONE linear pass — no pair join. ----
    QueryCase("q171_dispersion", (s, dir) =>
      Similarity.dispersion(t(s, dir, "embeddings"))
        .select(col("label"), col("n"), col("sum_sq_norm"),
          col("norm_sq_sum"), col("pair_dist_sum"), col("mean_pair_dist")),
      // q171: q145's quantization; the centroid identity replayed on exact
      // integer sums — floor-div on non-negative operands both sides.
      """WITH q AS (SELECT label,
        |  list_transform(embedding,
        |   x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        | FROM embeddings),
        |d AS (SELECT label, unnest(range(1, len(qv) + 1)) AS dim, qv FROM q),
        |v AS (SELECT label, dim, qv[dim] AS val FROM d),
        |per AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(val) AS BIGINT) AS s, CAST(sum(val * val) AS BIGINT) AS ss
        | FROM v GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n,
        | CAST(sum(ss) AS BIGINT) AS sum_sq_norm,
        | CAST(sum(s * s) AS BIGINT) AS norm_sq_sum,
        | CAST(2 * (max(n) * sum(ss) - sum(s * s)) AS BIGINT) AS pair_dist_sum,
        | CAST((2 * (max(n) * sum(ss) - sum(s * s))) // (max(n) * max(n)) AS BIGINT)
        |  AS mean_pair_dist
        |FROM per GROUP BY label""".stripMargin),

    // ---- k-NN label-noise audit: per query vector, the share of its 10
    // exact-cosine neighbors with a different label. ---------------------
    QueryCase("q179_knn_label_noise", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.labelDisagreement(emb, emb.where(col("vec_id") < 50), k = 10)
    },
      // q179: q19's exact-cosine ranking + label joins on the top-k rows.
      """WITH topk AS (SELECT query_id, neighbor_id FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id
        |   ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
        |    c.vec_id) AS rank
        | FROM embeddings c, embeddings q
        | WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id) WHERE rank <= 10),
        |j AS (SELECT t.query_id, ql.label AS query_label, nl.label AS nlab
        | FROM topk t JOIN embeddings nl ON nl.vec_id = t.neighbor_id
        | JOIN embeddings ql ON ql.vec_id = t.query_id)
        |SELECT query_id, query_label, CAST(count(*) AS BIGINT) AS n_neighbors,
        | CAST(count(CASE WHEN nlab <> query_label THEN 1 END) AS BIGINT)
        |  AS n_disagree,
        | CAST((1000000 * count(CASE WHEN nlab <> query_label THEN 1 END))
        |  // count(*) AS BIGINT) AS disagree_ppm
        |FROM j GROUP BY 1, 2""".stripMargin),

    // ---- integer medoid per label: the member vector nearest its mean,
    // denominator-cleared distance — broadcast S, one linear scan. -------
    QueryCase("q182_medoids", (s, dir) =>
      Similarity.medoids(t(s, dir, "embeddings")),
      // q182: q145's quantization + per-vector dots against the coordinate
      // sums; the cleared-denominator distance replayed, argmin by
      // (dist, id).
      """WITH q AS (SELECT vec_id, label, list_transform(embedding,
        |  x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        | FROM embeddings),
        |d AS (SELECT vec_id, label, unnest(range(1, len(qv) + 1)) AS dim, qv FROM q),
        |v AS (SELECT vec_id, label, dim, qv[dim] AS val FROM d),
        |s AS (SELECT label, dim, CAST(sum(val) AS BIGINT) AS sv FROM v GROUP BY 1, 2),
        |n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM q GROUP BY 1),
        |dot AS (SELECT v.vec_id, v.label,
        |  CAST(sum(v.val * v.val) AS BIGINT) AS xx,
        |  CAST(sum(v.val * s.sv) AS BIGINT) AS xs
        | FROM v JOIN s ON v.label = s.label AND v.dim = s.dim GROUP BY 1, 2),
        |ss AS (SELECT label, CAST(sum(sv * sv) AS BIGINT) AS ssq FROM s GROUP BY 1),
        |dist AS (SELECT dot.vec_id, dot.label,
        |  n.n * n.n * dot.xx - 2 * n.n * dot.xs + ss.ssq AS dnum
        | FROM dot JOIN n USING (label) JOIN ss USING (label)),
        |r AS (SELECT label, vec_id, dnum,
        |  row_number() OVER (PARTITION BY label ORDER BY dnum, vec_id) AS rk
        | FROM dist)
        |SELECT r.label, CAST(r.vec_id AS BIGINT) AS medoid_id, n.n,
        | CAST(r.dnum AS BIGINT) AS dist_num
        |FROM r JOIN n USING (label) WHERE rk = 1""".stripMargin),

    // ---- hierarchical path rollup: flag/status/ship-year subtree usage
    // report — prefix fan-out in the map, one combined aggregation. ------
    QueryCase("q191_path_rollup", (s, dir) =>
      Indexing.pathRollup(
        t(s, dir, "lineitem").select(
          concat_ws("/", col("l_returnflag"), col("l_linestatus"),
            year(col("l_shipdate"))).as("path"),
          col("l_quantity").cast("long").as("qty")),
        "path", "qty"),
      // q191: prefix explode via list_slice over 1..depth; same '/' joining.
      """WITH p AS (SELECT l_returnflag || '/' || l_linestatus || '/'
        |   || CAST(year(l_shipdate) AS VARCHAR) AS path,
        |  CAST(l_quantity AS BIGINT) AS v FROM lineitem),
        |s AS (SELECT string_split(path, '/') AS segs, v FROM p),
        |e AS (SELECT array_to_string(list_slice(segs, 1, i), '/') AS path,
        |  CAST(i AS BIGINT) AS depth, v
        | FROM s, unnest(range(1, len(segs) + 1)) AS t(i))
        |SELECT path, depth, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(v) AS BIGINT) AS total FROM e GROUP BY 1, 2""".stripMargin),

    // ---- 10%-each-side trimmed price stats per return flag: the robust
    // location estimate as a produced aggregate, rank-boundary ties
    // value-interchangeable by construction. ------------------------------
    QueryCase("q203_trimmed", (s, dir) =>
      Outliers.trimmedStats(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        Seq("l_returnflag"), "cents", trimPpm = 100000L),
      // q203: rank/count windows on one sort; boundary ties carry equal
      // values so the kept-sum is order-independent.
      """WITH b AS (SELECT l_returnflag AS g,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |r AS (SELECT g, v,
        |  CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS rk,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM b),
        |k AS (SELECT g, v, n, (n * 100000) // 1000000 AS cut, rk FROM r)
        |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
        | CAST(count(*) AS BIGINT) AS n_kept,
        | CAST(sum(v) AS BIGINT) AS trimmed_sum,
        | CAST(sum(v) // count(*) AS BIGINT) AS trimmed_mean
        |FROM k WHERE rk > cut AND rk <= n - cut GROUP BY g""".stripMargin),

    // ---- semantic decontamination: even-id corpus vectors flagged when
    // ANY odd-id (held-out) vector sits at cosine ≥ 0.9 — the paraphrase-
    // level complement of q49's exact n-gram screen. Held-out side
    // broadcast; corpus scanned once map-side, integer-exact threshold. -
    QueryCase("q206_semantic_decontaminate", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Decontaminate.semanticFlags(
        emb.where(pmod(col("vec_id"), lit(2)) === 0),
        emb.where(pmod(col("vec_id"), lit(2)) === 1))
        .select(col("vec_id"), col("n_matches"), col("contaminated"))
    },
      // q206: q142's quantized-integer cosine algebra, cross-set (even =
      // corpus, odd = held-out) instead of within-label.
      """WITH q AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qv
        | FROM embeddings),
        |n AS (
        | SELECT vec_id, qv,
        |  list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])) AS n2
        | FROM q),
        |h AS (
        | SELECT a.vec_id, CAST(count(*) AS BIGINT) AS n_matches
        | FROM n a JOIN n b ON a.vec_id % 2 = 0 AND b.vec_id % 2 = 1,
        |  LATERAL (SELECT list_sum(list_transform(range(1, len(a.qv)+1), i -> a.qv[i]*b.qv[i])) AS d) t
        | WHERE t.d > 0 AND t.d * t.d * 100 >= 81 * a.n2 * b.n2
        | GROUP BY a.vec_id)
        |SELECT e.vec_id,
        | CAST(coalesce(h.n_matches, 0) AS BIGINT) AS n_matches,
        | h.vec_id IS NOT NULL AS contaminated
        |FROM embeddings e LEFT JOIN h USING (vec_id)
        |WHERE e.vec_id % 2 = 0""".stripMargin),

    // ---- bivariate Mahalanobis scoring: (spend, payload-k) correlation
    // outliers — exact integer suff-stats broadcast onto a map-only
    // scoring scan; pinned-order double last mile. ----------------------
    QueryCase("q221_mahalanobis", (s, dir) =>
      Outliers.mahalanobis2d(
        t(s, dir, "events")
          .where(get_json_object(col("props"), "$.k").isNotNull),
        "event_id", floor(col("value")),
        get_json_object(col("props"), "$.k").cast("long")),
      // q221: HUGEINT partials convert to the same doubles as Spark's
      // longs; the scoring expression is spelled in the identical order.
      """WITH b AS (
        | SELECT event_id, CAST(floor(value) AS BIGINT) AS x,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
        | FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |s AS (
        | SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
        | FROM b),
        |m AS (
        | SELECT event_id, x, y, n,
        |  n * x - sx AS u, n * y - sy AS v,
        |  n * sxx - sx * sx AS cxx, n * syy - sy * sy AS cyy,
        |  n * sxy - sx * sy AS cxy
        | FROM b CROSS JOIN s)
        |SELECT event_id, x, y,
        | CAST(floor((1000.0 * (CAST(n - 1 AS DOUBLE)
        |   * (CAST(u AS DOUBLE) * u * cyy - 2.0 * u * v * cxy
        |      + CAST(v AS DOUBLE) * v * cxx)))
        |  / (CAST(n AS DOUBLE)
        |   * (CAST(cxx AS DOUBLE) * cyy - CAST(cxy AS DOUBLE) * cxy))) AS BIGINT)
        |  AS d2_milli
        |FROM m""".stripMargin),

    // ---- embedding hygiene audit per label: dim consistency, zero /
    // non-finite vectors, quantized-norm spread — one map-side fold
    // pass, no explode. --------------------------------------------------
    QueryCase("q274_embedding_audit", (s, dir) =>
      Similarity.embeddingAudit(t(s, dir, "embeddings")),
      // q274: same double-promoted quantization (q52 precedent), same
      // zero/non-finite flags, truncated mean.
      """WITH b AS (
        | SELECT label, len(embedding) AS dim,
        |  CAST(list_sum(list_transform(embedding,
        |   x -> CASE WHEN isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)) THEN 0
        |         ELSE CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
        |            * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) END)) AS BIGINT) AS n2,
        |  len(list_filter(embedding,
        |   x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0 AS bad
        | FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
        | CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_distinct,
        | CAST(min(dim) AS BIGINT) AS dim_min, CAST(max(dim) AS BIGINT) AS dim_max,
        | CAST(count(CASE WHEN n2 = 0 THEN 1 END) AS BIGINT) AS n_zero,
        | CAST(count(CASE WHEN bad THEN 1 END) AS BIGINT) AS n_nonfinite,
        | CAST(min(n2) AS BIGINT) AS norm2q_min, CAST(max(n2) AS BIGINT) AS norm2q_max,
        | CAST(sum(n2) // count(*) AS BIGINT) AS norm2q_mean
        |FROM b GROUP BY label""".stripMargin),

    // ---- seasonality-aware outliers: dow-median baseline per event
    // type, then the MAD fence on residuals — exact picks only. ---------
    QueryCase("q289_seasonal_outliers", (s, dir) =>
      Outliers.seasonalResidualOutliers(
        t(s, dir, "events").select(col("event_type"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("event_type"), "ts", col("cents"))
        .select(col("event_type"), col("event_id"), col("cents"), col("baseline"),
          col("residual"), col("med_residual"), col("mad"), col("is_outlier")),
      // q289: identical dow ints, lower-median picks at both levels.
      """WITH b AS (
        | SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |  ((epoch_ms(ts) // 1000 // 86400 + 4) % 7 + 7) % 7 AS dow
        | FROM events),
        |sm AS (
        | SELECT event_type, dow, min(CASE WHEN 2 * cum >= tot THEN cents END) AS baseline
        | FROM (
        |  SELECT event_type, dow, cents,
        |   sum(w) OVER (PARTITION BY event_type, dow ORDER BY cents) AS cum,
        |   sum(w) OVER (PARTITION BY event_type, dow) AS tot
        |  FROM (SELECT event_type, dow, cents, count(*) AS w FROM b GROUP BY 1, 2, 3))
        | GROUP BY 1, 2),
        |r AS (
        | SELECT b.event_type, b.event_id, b.cents, sm.baseline,
        |  b.cents - sm.baseline AS residual
        | FROM b JOIN sm ON b.event_type = sm.event_type AND b.dow = sm.dow),
        |mr AS (
        | SELECT event_type, min(CASE WHEN 2 * cum >= tot THEN residual END) AS med_residual
        | FROM (
        |  SELECT event_type, residual,
        |   sum(w) OVER (PARTITION BY event_type ORDER BY residual) AS cum,
        |   sum(w) OVER (PARTITION BY event_type) AS tot
        |  FROM (SELECT event_type, residual, count(*) AS w FROM r GROUP BY 1, 2))
        | GROUP BY 1),
        |d AS (
        | SELECT r.*, mr.med_residual, abs(r.residual - mr.med_residual) AS dev
        | FROM r JOIN mr USING (event_type)),
        |md AS (
        | SELECT event_type, min(CASE WHEN 2 * cum >= tot THEN dev END) AS mad
        | FROM (
        |  SELECT event_type, dev,
        |   sum(w) OVER (PARTITION BY event_type ORDER BY dev) AS cum,
        |   sum(w) OVER (PARTITION BY event_type) AS tot
        |  FROM (SELECT event_type, dev, count(*) AS w FROM d GROUP BY 1, 2))
        | GROUP BY 1)
        |SELECT d.event_type, d.event_id, d.cents, d.baseline, d.residual,
        | d.med_residual, md.mad,
        | CASE WHEN md.mad = 0 THEN d.dev > 0 ELSE d.dev > 3 * md.mad END AS is_outlier
        |FROM d JOIN md USING (event_type)""".stripMargin),

    // ---- inter-label centroid separation on the embeddings: truncating
    // quantized means, exact pairwise distance² over labels×dim rows. ---
    QueryCase("q293_centroid_separation", (s, dir) =>
      Similarity.centroidSeparation(t(s, dir, "embeddings")),
      // q293: same quantization and truncating per-dim means.
      """WITH q AS (
        | SELECT CAST(label AS BIGINT) AS l,
        |  generate_subscripts(embedding, 1) - 1 AS pos,
        |  CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS qv
        | FROM embeddings),
        |c AS (
        | SELECT l, pos, CAST(sum(qv) // count(*) AS BIGINT) AS c
        | FROM q GROUP BY 1, 2)
        |SELECT a.l AS label_a, b.l AS label_b, CAST(count(*) AS BIGINT) AS dim,
        | CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist_sq_q
        |FROM c a JOIN c b ON a.pos = b.pos AND a.l < b.l
        |GROUP BY 1, 2""".stripMargin),

    // ---- product-quantization codes (m=4 subspaces x k=16 sampled
    // centroids) on the int8 lattice: per (vector, subspace) the nearest
    // centroid id and the exact squared distortion.
    QueryCase("q326_pq_codes", (s, dir) =>
      Similarity.pqCodes(t(s, dir, "embeddings"), m = 4, k = 16),
      // q326/q327: the q78 int8-lattice quantization replayed, split into
      // 4 x 16-dim subspaces; codes/ADC are exact BIGINT arithmetic.
      s"""WITH $PqCodesCte
         |SELECT vec_id, s, j AS code, d2
         |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |        ORDER BY d2, j) AS rn FROM d)
         |WHERE rn = 1""".stripMargin),

    // ---- PQ asymmetric-distance top-10: the first 8 vectors query the
    // coded corpus; the ADC sum is exact Long on the shared lattice, so
    // the ranking replays bit-for-bit in the oracle.
    QueryCase("q327_pq_adc_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqAdcTopK(emb,
        emb.where(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
        m = 4, k = 16, topK = 10)
    },
      s"""WITH $PqCodesCte,
         |codes AS (
         | SELECT vec_id, s, j AS code
         | FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |         ORDER BY d2, j) AS rn FROM d)
         | WHERE rn = 1),
         |lut AS (SELECT vec_id AS query_id, s, j AS code, d2 AS qd2
         |        FROM d WHERE vec_id < 8),
         |adc AS (
         | SELECT l.query_id, c.vec_id AS neighbor_id,
         |  CAST(sum(l.qd2) AS BIGINT) AS adc_d2
         | FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
         | WHERE c.vec_id <> l.query_id
         | GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, adc_d2, rank FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY adc_d2, neighbor_id) AS rank FROM adc)
         |WHERE rank <= 10""".stripMargin),

    // ---- IVF-PQ ANN (the FAISS IndexIVFPQ layout): q23's coarse
    // centroids route, queries probe 2 lists, distance is the exact-Long
    // PQ ADC sum — both approximation layers deterministic, so the
    // result replays bit-for-bit. -------------------------------------------
    QueryCase("q336_ivfpq_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb,
        emb.where(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
        emb.where(col("vec_id") % 97 === 0).select(col("vec_id").as("centroid_id"), col("embedding")),
        m = 4, k = 16, topK = 10, nProbe = 2)
    },
      // q336: q23's coarse routing CTEs composed with the PQ chain — the
      // candidate set is the probed lists, the distance is the ADC sum.
      // (Chain shared with q360's recall oracle via IvfPqAnnCtes.)
      s"""WITH $IvfPqAnnCtes
         |SELECT query_id, neighbor_id, adc_d2, rank FROM ivfpq""".stripMargin),

    // ---- reciprocal rank fusion of the exact cosine ranking and the PQ
    // ADC ranking — hybrid retrieval without score calibration, exact
    // integer contributions. ------------------------------------------------
    QueryCase("q342_rrf_fusion", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val adc = Similarity.pqAdcTopK(emb, queries, m = 4, k = 16, topK = 10)
      Indexing.rrfFuse(Seq(exact, adc), "query_id", "neighbor_id", "rank", topK = 10)
        .select(col("query_id").cast("bigint"), col("neighbor_id").cast("bigint"),
          col("rrf_score").as("rrf_e6"), col("fused_rank").as("rank"))
    },
      // q342: the q19 cosine ranking (restricted to the 8 shared queries)
      // full-outer-joined with the q327 ADC ranking, integer RRF scores.
      s"""WITH $PqCodesCte,
         |codes AS (
         | SELECT vec_id, s, j AS code
         | FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |         ORDER BY d2, j) AS rn FROM d)
         | WHERE rn = 1),
         |lut AS (SELECT vec_id AS query_id, s, j AS code, d2 AS qd2
         |        FROM d WHERE vec_id < 8),
         |adc0 AS (
         | SELECT l.query_id, c.vec_id AS neighbor_id,
         |  CAST(sum(l.qd2) AS BIGINT) AS adc_d2
         | FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
         | WHERE c.vec_id <> l.query_id
         | GROUP BY 1, 2),
         |adcr AS (
         | SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_d2, neighbor_id) AS rank FROM adc0)
         | WHERE rank <= 10),
         |bf AS (
         | SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
         | WHERE rank <= 10),
         |fa AS (SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM bf),
         |fb AS (SELECT query_id, neighbor_id, 1000000 // (60 + rank) AS c FROM adcr),
         |f AS (
         | SELECT coalesce(fa.query_id, fb.query_id) AS query_id,
         |  coalesce(fa.neighbor_id, fb.neighbor_id) AS neighbor_id,
         |  coalesce(fa.c, 0) + coalesce(fb.c, 0) AS rrf_e6
         | FROM fa FULL JOIN fb
         |  ON fa.query_id = fb.query_id AND fa.neighbor_id = fb.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6, rank FROM (
         | SELECT *, row_number() OVER (PARTITION BY query_id
         |   ORDER BY rrf_e6 DESC, neighbor_id) AS rank FROM f)
         |WHERE rank <= 10""".stripMargin),

    // ---- truncated-RBO agreement between the exact cosine ranking and
    // the PQ ADC ranking per query — the top-weighted ANN-quality
    // metric, one C(max(ra, rb)) lookup per shared item. --------------------
    QueryCase("q344_rank_agreement", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val adc = Similarity.pqAdcTopK(emb, queries, m = 4, k = 16, topK = 10)
      Similarity.rankAgreement(exact, adc, depth = 10, pE6 = 900000L)
    },
    // q344: q342's two rankings joined on (query, item); each shared
    // item contributes the cumulative truncated-RBO weight of its max
    // rank — constants generated from the SAME Similarity.rboCumWeights.
    {
      val cum = Similarity.rboCumWeights(10, 900000L)
      val cCase = cum.zipWithIndex
        .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }
        .mkString("CASE greatest(bf.rank, adcr.rank) ", " ", " ELSE 0 END")
      s"""WITH $PqCodesCte,
         |codes AS (
         | SELECT vec_id, s, j AS code
         | FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
         |         ORDER BY d2, j) AS rn FROM d)
         | WHERE rn = 1),
         |lut AS (SELECT vec_id AS query_id, s, j AS code, d2 AS qd2
         |        FROM d WHERE vec_id < 8),
         |adc0 AS (
         | SELECT l.query_id, c.vec_id AS neighbor_id,
         |  CAST(sum(l.qd2) AS BIGINT) AS adc_d2
         | FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
         | WHERE c.vec_id <> l.query_id
         | GROUP BY 1, 2),
         |adcr AS (
         | SELECT query_id, neighbor_id, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_d2, neighbor_id) AS rank FROM adc0)
         | WHERE rank <= 10),
         |bf AS (
         | SELECT query_id, neighbor_id, rank FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
         | WHERE rank <= 10)
         |SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_shared,
         | CAST(sum($cCase) AS BIGINT) AS score_e9,
         | CAST(${cum.sum} AS BIGINT) AS max_score_e9
         |FROM bf JOIN adcr USING (query_id, neighbor_id)
         |GROUP BY 1""".stripMargin
    }),

    // ---- exact integer Gram matrix of the quantized embedding corpus
    // (upper triangle): the mergeable covariance scaffold — cells add
    // across shards, so a 100 TB corpus builds it per partition and
    // folds. ---------------------------------------------------------------
    QueryCase("q351_quantized_gram", (s, dir) =>
      Similarity.quantizedGram(t(s, dir, "embeddings")),
      // q351: the shared quantization replay ([[QuantGramCtes]]), then the
      // upper-triangle product census cell by cell.
      s"""WITH $QuantGramCtes
         |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, g, n_vectors
         |FROM gcells""".stripMargin),

    // ---- recall@10 of the IVF-PQ index (q336's exact configuration)
    // against the brute-force cosine baseline — the number a user tuning
    // nProbe/m/k actually needs: what the two approximation layers
    // (coarse routing + product quantization) cost together. ----------------
    QueryCase("q360_ivfpq_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.recallAt(
        Similarity.ivfPqTopK(emb, qs,
          emb.where(col("vec_id") % 97 === 0)
            .select(col("vec_id").as("centroid_id"), col("embedding")),
          m = 4, k = 16, topK = 10, nProbe = 2),
        Similarity.bruteForceTopK(emb, qs, k = 10),
        k = 10)
    },
      // q360: q336's full IVF-PQ chain, the q127 brute-force-cosine exact
      // side (vec_id < 8), and the recall math re-derived — this checks
      // both approximation layers' composition AND the recall arithmetic.
      s"""WITH $IvfPqAnnCtes,
         |exact AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.vec_id
         |     ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
         |  FROM embeddings c, embeddings q
         |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id) WHERE rank <= 10),
         |h AS (
         | SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ivfpq a JOIN exact e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         | CAST(floor(1000000 * coalesce(h.n_hits, 0) / 10) AS BIGINT) AS recall_ppm
         |FROM (SELECT DISTINCT query_id FROM exact) q LEFT JOIN h USING (query_id)""".stripMargin),

    // ---- recall@10 of banded-Hamming simhash retrieval (q353's 4x16
    // banding as a top-k index) against exact Hamming ranking — what the
    // band structure costs: neighbors sharing no band are unreachable. ------
    QueryCase("q361_simhash_recall", (s, dir) => {
      val hs = Dedup.simhashText(t(s, dir, "documents"))
        .select(col("id"), col("simhash").as("hash"))
      val qs = hs.where(col("id") < 8).select(col("id").as("query_id"), col("hash"))
      Similarity.recallAt(
        Dedup.hammingTopK(hs, qs, k = 10, bands = 4),
        Dedup.hammingBruteTopK(hs, qs, k = 10),
        k = 10)
    },
      // q361: banded retrieval replayed over the SAME pinned simhash table
      // q17/q353 use — band bits via arithmetic shift + mask exactly like
      // the Spark op — against exact Hamming ranking, recall re-derived.
      s"""WITH hs AS (SELECT CAST(id AS BIGINT) AS id, CAST(simhash AS BIGINT) AS h
         |  FROM ($SimhashPin) AS t(id, simhash)),
         |bb(b) AS (VALUES (0), (1), (2), (3)),
         |bq AS (SELECT id AS query_id, h AS qh, b, (h >> (b * 16)) & 65535 AS bits
         |       FROM hs CROSS JOIN bb WHERE id < 8),
         |bc AS (SELECT id, h, b, (h >> (b * 16)) & 65535 AS bits FROM hs CROSS JOIN bb),
         |cand AS (
         | SELECT DISTINCT q.query_id, c.id AS neighbor_id,
         |  bit_count(xor(q.qh, c.h)) AS hamming
         | FROM bq q JOIN bc c ON q.b = c.b AND q.bits = c.bits AND c.id <> q.query_id),
         |ann AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY hamming, neighbor_id) AS rk FROM cand) WHERE rk <= 10),
         |exact AS (
         | SELECT query_id, neighbor_id FROM (
         |  SELECT q.id AS query_id, c.id AS neighbor_id,
         |   row_number() OVER (PARTITION BY q.id
         |     ORDER BY bit_count(xor(q.h, c.h)), c.id) AS rk
         |  FROM hs q JOIN hs c ON c.id <> q.id WHERE q.id < 8) WHERE rk <= 10),
         |hh AS (
         | SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         | FROM ann a JOIN exact e
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(hh.n_hits, 0) AS BIGINT) AS n_hits,
         | CAST(floor(1000000 * coalesce(hh.n_hits, 0) / 10) AS BIGINT) AS recall_ppm
         |FROM (SELECT DISTINCT query_id FROM exact) q LEFT JOIN hh USING (query_id)""".stripMargin),

    // ---- the Gram scaffold's consumer: 4 exact-integer power-iteration
    // steps on q351's cells yield the corpus's top principal direction;
    // every vector projects onto it map-side (codegen'd int dot against
    // the direction folded in as a literal), with the Rayleigh-quotient
    // mass riding along. The oracle replays the quantization, the Gram,
    // all 4 rescaled iterations and the projection in SQL. ------------------
    QueryCase("q368_principal_projection", (s, dir) =>
      Similarity.principalProjection(t(s, dir, "embeddings")),
    // q368: full replay — the shared Gram chain, the mirror to a full
    // matrix, 4 power-iteration steps with the sign-split ±2^20 rescale
    // (operands kept nonnegative so HUGEINT // and the op's BigInt /
    // agree), then the per-vector projection and the Rayleigh quotient.
    {
      val iters = (1 to 4).map { i =>
        s""",
           |w$i AS MATERIALIZED (SELECT f.i, sum(CAST(f.g AS HUGEINT) * v${i - 1}.v) AS w
           |        FROM gfull f JOIN v${i - 1} ON v${i - 1}.i = f.j GROUP BY 1),
           |m$i AS MATERIALIZED (SELECT max(abs(w)) AS m FROM w$i),
           |v$i AS MATERIALIZED (SELECT i, CASE WHEN (SELECT m FROM m$i) = 0 THEN w
           |         WHEN w < 0 THEN -(((-w) * 1048576) // (SELECT m FROM m$i))
           |         ELSE (w * 1048576) // (SELECT m FROM m$i) END AS v FROM w$i)""".stripMargin
      }.mkString
      s"""WITH $QuantGramCtes,
         |gfull AS MATERIALIZED (SELECT i, j, g FROM gcells
         |          UNION ALL SELECT j AS i, i AS j, g FROM gcells WHERE i < j),
         |v0 AS (SELECT r.r AS i, CAST(1 AS HUGEINT) AS v FROM range(0, 64) r(r))$iters,
         |eig AS (SELECT CAST(
         |   (SELECT sum(CAST(f.g AS HUGEINT) * a.v * b.v)
         |    FROM gfull f JOIN v4 a ON a.i = f.i JOIN v4 b ON b.i = f.j)
         |   // (SELECT sum(v * v) FROM v4) AS BIGINT) AS eigenvalue_est)
         |SELECT q.vec_id, CAST(sum(q.v[CAST(d.r AS INT) + 1] * v4.v) AS BIGINT) AS score,
         | (SELECT eigenvalue_est FROM eig) AS eigenvalue_est
         |FROM gqv q CROSS JOIN range(0, 64) d(r) JOIN v4 ON v4.i = d.r
         |GROUP BY 1""".stripMargin
    })
  )

  /** Pinned sf0.01 multi-probe ANN rows (tools/pin_oracle.py) — q126's
    * oracle, and the ANN side q127's oracle re-derives recall from.
    */
  private val PinnedQ126: String =
    """SELECT CAST(query_id AS BIGINT) AS query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, CAST(rank AS BIGINT) AS rank FROM (VALUES (0,99,9),(0,165,5),(0,229,7),(0,261,8),(0,266,10),(0,334,1),(0,344,4),(0,387,2),(0,388,3),(0,415,6),(1,80,5),(1,124,2),(1,181,7),(1,203,4),(1,217,8),(1,220,3),(1,285,6),(1,373,9),(1,386,1),(1,451,10),(2,13,7),(2,37,6),(2,118,9),(2,172,1),(2,239,3),(2,407,4),(2,440,2),(2,453,10),(2,465,5),(2,468,8),(3,11,10),(3,85,9),(3,130,1),(3,174,2),(3,201,7),(3,207,4),(3,231,3),(3,283,8),(3,349,6),(3,463,5),(4,89,4),(4,280,3),(4,332,6),(4,353,7),(4,384,5),(4,395,9),(4,403,8),(4,408,2),(4,445,10),(4,496,1),(5,19,8),(5,46,5),(5,152,4),(5,157,1),(5,267,9),(5,337,7),(5,359,2),(5,361,10),(5,457,6),(5,464,3),(6,78,5),(6,82,7),(6,145,2),(6,165,9),(6,268,3),(6,315,8),(6,371,4),(6,430,1),(6,443,6),(6,459,10),(7,49,4),(7,59,5),(7,209,2),(7,214,10),(7,319,7),(7,334,3),(7,407,8),(7,418,6),(7,423,9),(7,425,1),(8,35,8),(8,39,1),(8,47,10),(8,102,5),(8,138,2),(8,196,6),(8,314,7),(8,401,9),(8,403,3),(8,494,4),(9,20,7),(9,49,1),(9,69,8),(9,107,3),(9,274,6),(9,330,4),(9,340,5),(9,386,2),(9,408,10),(9,449,9)) AS t(query_id, neighbor_id, rank)"""

  /** q351's int8 quantization + upper-triangle Gram replay as a
    * reusable CTE list ending in `gqv(vec_id, v)` and
    * `gcells(i, j, g, n_vectors)` — shared by the q351 result oracle
    * and q368's power-iteration oracle so the two cannot drift.
    */
  private lazy val QuantGramCtes: String =
    """gm AS (
      | SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      | FROM embeddings),
      |gqv AS MATERIALIZED (
      | SELECT vec_id,
      |  CASE WHEN max_abs > 0
      |   THEN list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT))
      |   ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS v
      | FROM gm),
      |gcells AS MATERIALIZED (
      | SELECT i.i AS i, j.j AS j,
      |  CAST(sum(v[CAST(i.i AS INT) + 1] * v[CAST(j.j AS INT) + 1]) AS BIGINT) AS g,
      |  CAST(count(*) AS BIGINT) AS n_vectors
      | FROM gqv CROSS JOIN range(0, 64) i(i) CROSS JOIN range(0, 64) j(j)
      | WHERE j.j >= i.i GROUP BY 1, 2)""".stripMargin

  /** q336's IVF-PQ chain (coarse routing + PQ codes + ADC ranking) as a
    * reusable CTE list ending in `ivfpq(query_id, neighbor_id, adc_d2,
    * rank ≤ 10)` — shared by the q336 result oracle and q360's recall
    * oracle so the two cannot drift.
    */
  private lazy val IvfPqAnnCtes: String =
    s"""$PqCodesCte,
       |codes AS (
       | SELECT vec_id, s, j AS code
       | FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |         ORDER BY d2, j) AS rn FROM d)
       | WHERE rn = 1),
       |lut AS (SELECT vec_id AS query_id, s, j AS code, d2 AS qd2
       |        FROM d WHERE vec_id < 8),
       |cent AS (SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id % 97 = 0),
       |assigned AS (
       | SELECT neighbor_id, c_id FROM (
       |  SELECT e.vec_id AS neighbor_id, c.c_id,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY list_cosine_similarity(e.embedding, c.embedding) DESC, c.c_id) AS rn
       |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
       |qprobe AS (
       | SELECT query_id, c_id FROM (
       |  SELECT q.vec_id AS query_id, c.c_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.c_id) AS rn
       |  FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 8) WHERE rn <= 2),
       |cand AS (SELECT p.query_id, a.neighbor_id FROM qprobe p JOIN assigned a USING (c_id)),
       |adc AS (
       | SELECT c.query_id, c.neighbor_id, CAST(sum(l.qd2) AS BIGINT) AS adc_d2
       | FROM cand c JOIN codes co ON co.vec_id = c.neighbor_id
       | JOIN lut l ON l.query_id = c.query_id AND l.s = co.s AND l.code = co.code
       | WHERE c.neighbor_id <> c.query_id GROUP BY 1, 2),
       |ivfpq AS (
       | SELECT query_id, neighbor_id, adc_d2, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_d2, neighbor_id) AS rank FROM adc)
       | WHERE rank <= 10)""".stripMargin

  /** Shared PQ CTE chain: q78's int8 quantization, the 4×16-dim subspace
    * split (embeddings are dim-64), the 16-entry sampled codebook and the
    * all-pairs lattice distances `d` the code/ADC oracles both rank.
    */
  private val PqCodesCte: String =
    """m AS (
      | SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      | FROM embeddings),
      |qv AS (
      | SELECT vec_id,
      |  CASE WHEN max_abs > 0
      |   THEN list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT))
      |   ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS v
      | FROM m),
      |sub AS (
      | SELECT vec_id, CAST(r.s AS BIGINT) AS s, v[r.s * 16 + 1 : r.s * 16 + 16] AS vs
      | FROM qv, range(0, 4) r(s)),
      |cbids AS (
      | SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
      | FROM qv ORDER BY vec_id LIMIT 16),
      |cb AS (SELECT c.j, s.s, s.vs AS cvec FROM cbids c JOIN sub s ON c.vec_id = s.vec_id),
      |d AS (
      | SELECT sub.vec_id, sub.s, CAST(cb.j AS BIGINT) AS j,
      |  CAST(list_sum(list_transform(range(1, 17),
      |    i -> (sub.vs[i] - cb.cvec[i]) * (sub.vs[i] - cb.cvec[i]))) AS BIGINT) AS d2
      | FROM sub JOIN cb ON sub.s = cb.s)""".stripMargin
}
