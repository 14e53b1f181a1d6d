package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Audit, Components, GraphMetrics, Matching, PageRank, Paths, Sampling, Scc, SpanningForest}
import graft.SparkEntry.t
import CatalogShared._

/** Graph queries: PageRank, components, cores, trusses, paths, walks,
  * SCCs and the other staged fixpoints, over graphs built from the
  * testdata tables. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object GraphCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- fixed-point integer PageRank over the customer↔supplier
    // bipartite trade graph (both directions): per-iteration = one join +
    // one agg on node ids, integer math ⇒ partitioning-independent.
    // Node ids use a disjoint even/odd encoding (2·cust / 2·supp+1) — an
    // additive offset would collide once customers outgrow it. ------------
    QueryCase("q69_pagerank", (s, dir) => {
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("d"))
        .distinct()
      // symmetrize by exploding each edge into both directions (r18): the
      // union-of-swap shape recomputed the scan+join+distinct subtree
      // TWICE inside PageRank's staging job (no ReusedExchange fires
      // across the union branches); same row multiset, one computation.
      val e = e0.select(explode(array(
          struct(col("s"), col("d")),
          struct(col("d").as("s"), col("s").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
      PageRank.ranksFixedPoint(e, "s", "d", iterations = 3)
        .select(col("id").as("node_id"), col("rank"))
    },
    // q69: 3 unrolled integer-PageRank iterations — floor division (//)
    // replays Spark's `div` exactly on non-negative ranks; integer sums
    // are order-independent so no float drift is possible.
    {
      val base =
        """WITH e0 AS (
          | SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
          | FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
          |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
          |nodes AS (SELECT DISTINCT s AS id FROM e),
          |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
      val iters = (1 to 3).map { i =>
        s""",
           |c$i AS (
           | SELECT e.d AS id, CAST(sum((r.rank * 85) // (100 * deg.outdeg)) AS BIGINT) AS c
           | FROM e JOIN r${i - 1} r ON e.s = r.id JOIN deg ON deg.s = e.s GROUP BY 1),
           |r$i AS (
           | SELECT n.id, CAST(150000 + coalesce(c$i.c, 0) AS BIGINT) AS rank
           | FROM nodes n LEFT JOIN c$i ON n.id = c$i.id)""".stripMargin
      }.mkString
      base + iters + "\nSELECT id AS node_id, rank FROM r3"
    }),

    // ---- triangle counting on the co-order part graph: two hash joins
    // count each triangle once at its u<v<w orientation; per-node
    // participation out. --------------------------------------------------
    QueryCase("q79_triangles", (s, dir) => GraphMetrics.nodeTriangles(partPairs(s, dir)),
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |tri AS (
        | SELECT e1.u AS a, e1.v AS b, e2.v AS c
        | FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |x AS (SELECT unnest([a, b, c]) AS id FROM tri)
        |SELECT id, count(*) AS n_triangles FROM x GROUP BY 1""".stripMargin),

    // ---- mode-based label propagation (2 synchronous rounds) on the same
    // co-order part graph: deterministic community labels via integer
    // neighbor tallies with a (count desc, label asc) tie order. ----------
    QueryCase("q80_label_prop", (s, dir) =>
      GraphMetrics.labelPropagation(partPairs(s, dir), rounds = 2),
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym),
        |r1 AS (
        | SELECT src AS id, label FROM (
        |  SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY n DESC, label ASC) AS rn
        |  FROM (SELECT s.src, l.label, count(*) AS n
        |        FROM sym s JOIN l0 l ON s.dst = l.id GROUP BY 1, 2))
        | WHERE rn = 1),
        |r2 AS (
        | SELECT src AS id, label FROM (
        |  SELECT src, label, row_number() OVER (PARTITION BY src ORDER BY n DESC, label ASC) AS rn
        |  FROM (SELECT s.src, l.label, count(*) AS n
        |        FROM sym s JOIN r1 l ON s.dst = l.id GROUP BY 1, 2))
        | WHERE rn = 1)
        |SELECT id, label FROM r2""".stripMargin),

    // ---- connected components over a deterministic pair graph: the
    // near-dup RESOLUTION step (pairs → clusters → keep min-id rep). The
    // fixture builds chains + stars with bridges merging group pairs, so
    // convergence requires real multi-hop propagation; DuckDB replays it
    // with a recursive transitive closure. --------------------------------
    QueryCase("q54_connected_components", (s, dir) =>
      Components.connectedComponents(docChainPairs(s, dir)),
      // q54: recursive transitive closure replays the distributed star-
      // contraction exactly — component = min reachable id per node.
      s"""WITH RECURSIVE $DocChainComponentsCte
        |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin),

    // ---- 2-hop neighborhood size on the co-order part graph: one wedge
    // join + distinct, no iteration. maxDegree=64 caps each middle node's
    // second-hop fan-out (deterministic smallest-id truncation, mirrored
    // in the oracle), bounding the wedge intermediate at 2·m·64 instead of
    // the hub-unbounded Σdeg² — the power-law scale guard. ----------------
    QueryCase("q89_khop", (s, dir) =>
      GraphMetrics.neighborhoodSize(partPairs(s, dir), maxDegree = 64),
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e),
        |mid AS (
        | SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM sym)
        | WHERE rn <= 64),
        |two AS (
        | SELECT p.src, q.dst FROM sym p JOIN mid q ON p.dst = q.src WHERE p.src <> q.dst
        | UNION SELECT src, dst FROM sym)
        |SELECT o.src AS id, CAST(o.n1 AS BIGINT) AS n_1hop, CAST(t.n2 AS BIGINT) AS n_2hop
        |FROM (SELECT src, count(*) AS n1 FROM sym GROUP BY 1) o
        | JOIN (SELECT src, count(*) AS n2 FROM two GROUP BY 1) t USING (src)""".stripMargin),

    // ---- cluster-representative election: the step AFTER near-dup
    // resolution — q54's component structure, ranked by n_chars (quality
    // proxy), emits the id→rep_id rewrite map a dedup materialization
    // applies. One join + one max-struct agg, no windows. -----------------
    QueryCase("q128_cluster_rep", (s, dir) => {
      val membership = Components.connectedComponents(docChainPairs(s, dir))
      val ranks = t(s, dir, "documents")
        .select(col("doc_id").as("id"), col("n_chars").as("rank"))
      Components.representatives(membership, ranks)
    },
      // q128: components via the same recursive closure as q54, then the
      // (rank desc, id asc) argmax replayed as a window; unranked members
      // get Long.MinValue exactly like the Spark side.
      s"""WITH RECURSIVE $DocChainComponentsCte,
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |ranked AS (
        | SELECT c.id, c.component,
        |  coalesce(d.n_chars, -9223372036854775807 - 1) AS rnk
        | FROM comp c LEFT JOIN documents d ON c.id = d.doc_id),
        |w AS (
        | SELECT component, id AS rep_id,
        |  row_number() OVER (PARTITION BY component ORDER BY rnk DESC, id) AS rn
        | FROM ranked)
        |SELECT CAST(r.id AS BIGINT) AS id, CAST(r.component AS BIGINT) AS component,
        | CAST(w.rep_id AS BIGINT) AS rep_id, r.id = w.rep_id AS is_rep
        |FROM ranked r JOIN w ON r.component = w.component AND w.rn = 1""".stripMargin),

    // ---- dedup-aware train/val/test split: near-dup families (q54's
    // components) bucket by GROUP id, never straddling splits — the
    // leakage countermeasure; singleton docs key by their own id. ---------
    QueryCase("q134_leakfree_split", (s, dir) =>
      Sampling.groupSplit(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        Components.connectedComponents(docChainPairs(s, dir)))
        .select(col("doc_id"), col("group_id"), col("split")),
      // q134: the q54 component closure + md5-bucket split on the GROUP key
      // (rows outside any component key by their own id).
      s"""WITH RECURSIVE $DocChainComponentsCte,
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |j AS (
        | SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |bk AS (SELECT doc_id, group_id, ${bucketOracle("group_id")} AS bucket FROM j)
        |SELECT doc_id, group_id,
        | CASE WHEN bucket < 204 THEN 'train' WHEN bucket < 230 THEN 'val'
        |  ELSE 'test' END AS split
        |FROM bk""".stripMargin),

    // ---- train/test contamination audit: the near-dup relation vs split
    // borders. The naive per-doc hash split leaks related pairs across
    // splits; the component-grouped split (q134) must PROVE zero. -------
    QueryCase("q139_split_leakage", (s, dir) => {
      val pairs = docChainPairs(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val grouped = Sampling.groupSplit(docs, Components.connectedComponents(pairs))
      val naiveBucket = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("long")
      val naive = docs.withColumn("split",
        when(naiveBucket < 204, lit("train")).when(naiveBucket < 230, lit("val"))
          .otherwise(lit("test")))
      Audit.splitLeakage(pairs, grouped).withColumn("method", lit("grouped"))
        .unionByName(
          Audit.splitLeakage(pairs, naive).withColumn("method", lit("naive_hash")))
        .select(col("method"), col("n_pairs"), col("cross_split_pairs"))
    },
      // q139: both split assignments replayed (naive md5 bucket of doc_id;
      // grouped bucket of the recursive-CTE component id), pairs from the
      // same edges0 relation docChainPairs builds; inner joins drop pairs
      // whose endpoint falls outside the corpus, as the Spark op does.
      s"""WITH RECURSIVE $DocChainComponentsCte,
        |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        |gs AS (
        | SELECT d.doc_id,
        |  CASE WHEN ${bucketOracle("coalesce(c.component, d.doc_id)")} < 204 THEN 'train'
        |   WHEN ${bucketOracle("coalesce(c.component, d.doc_id)")} < 230 THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |ns AS (
        | SELECT doc_id,
        |  CASE WHEN ${bucketOracle("doc_id")} < 204 THEN 'train'
        |   WHEN ${bucketOracle("doc_id")} < 230 THEN 'val'
        |   ELSE 'test' END AS split
        | FROM documents)
        |SELECT 'grouped' AS method, CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(count(CASE WHEN a.split <> b.split THEN 1 END) AS BIGINT) AS cross_split_pairs
        |FROM edges0 e JOIN gs a ON e.u = a.doc_id JOIN gs b ON e.v = b.doc_id
        |UNION ALL
        |SELECT 'naive_hash', CAST(count(*) AS BIGINT),
        | CAST(count(CASE WHEN a.split <> b.split THEN 1 END) AS BIGINT)
        |FROM edges0 e JOIN ns a ON e.u = a.doc_id JOIN ns b ON e.v = b.doc_id""".stripMargin),

    // ---- 2-core of the deterministic divisor graph (doc_id — 2·doc_id /
    // 3·doc_id): iterative peel, node-sized per-round shuffles. Oracle is
    // the pinned sf0.01 fixture (peeling isn't SQL-replayable). ----------
    QueryCase("q172_kcore", (s, dir) => {
      val ids = t(s, dir, "documents").select(col("doc_id"))
      val maxId = ids.groupBy().agg(max(col("doc_id")).as("__m"))
      val edges = ids.crossJoin(broadcast(maxId))
        .select(col("doc_id").as("a_id"), (col("doc_id") * 2).as("b_id"), col("__m"))
        .union(ids.crossJoin(broadcast(maxId))
          .select(col("doc_id").as("a_id"), (col("doc_id") * 3).as("b_id"), col("__m")))
        .where(col("a_id") > 0 && col("b_id") <= col("__m"))
        .drop("__m")
      GraphMetrics.kCore(edges, k = 2).orderBy("id")
    },
      // q172: pinned sf0.01 fixture (tools/pin_oracle.py) — the peel loop
      // is not SQL-replayable; the divisor graph and k=2 are fixed, so the
      // core is a pure function of the testdata.
      """SELECT CAST(id AS BIGINT) AS id, CAST(core_degree AS BIGINT) AS core_degree FROM (VALUES (1,2),(2,3),(3,3),(4,3),(5,2),(6,4),(7,2),(8,3),(9,3),(10,3),(11,2),(12,4),(13,2),(14,3),(15,3),(16,3),(17,2),(18,4),(19,2),(20,3),(21,3),(22,3),(23,2),(24,4),(25,2),(26,3),(27,3),(28,3),(29,2),(30,4),(31,2),(32,3),(33,3),(34,3),(35,2),(36,4),(37,2),(38,3),(39,3),(40,3),(41,2),(42,4),(43,2),(44,3),(45,3),(46,3),(47,2),(48,4),(49,2),(50,3),(51,3),(52,3),(53,2),(54,4),(55,2),(56,3),(57,3),(58,3),(59,2),(60,4),(61,2),(62,3),(63,3),(64,3),(65,2),(66,4),(67,2),(68,3),(69,3),(70,3),(71,2),(72,4),(73,2),(74,3),(75,3),(76,3),(77,2),(78,4),(79,2),(80,3),(81,3),(82,3),(83,2),(84,4),(86,2),(87,2),(88,2),(90,4),(92,2),(93,2),(94,2),(96,4),(98,2),(99,2),(100,2),(102,4),(104,2),(105,2),(106,2),(108,4),(110,2),(111,2),(112,2),(114,4),(116,2),(117,2),(118,2),(120,4),(122,2),(123,2),(124,2),(126,4),(128,2),(129,2),(130,2),(132,4),(134,2),(135,2),(136,2),(138,4),(140,2),(141,2),(142,2),(144,4),(146,2),(147,2),(148,2),(150,4),(152,2),(153,2),(154,2),(156,4),(158,2),(159,2),(160,2),(162,4),(164,2),(165,2),(166,2),(168,3),(171,2),(174,3),(177,2),(180,3),(183,2),(186,3),(189,2),(192,3),(195,2),(198,3),(201,2),(204,3),(207,2),(210,3),(213,2),(216,3),(219,2),(222,3),(225,2),(228,3),(231,2),(234,3),(237,2),(240,3),(243,2),(246,3),(249,2),(252,2),(258,2),(264,2),(270,2),(276,2),(282,2),(288,2),(294,2),(300,2),(306,2),(312,2),(318,2),(324,2),(330,2),(336,2),(342,2),(348,2),(354,2),(360,2),(366,2),(372,2),(378,2),(384,2),(390,2),(396,2),(402,2),(408,2),(414,2),(420,2),(426,2),(432,2),(438,2),(444,2),(450,2),(456,2),(462,2),(468,2),(474,2),(480,2),(486,2),(492,2),(498,2)) AS t(id, core_degree)"""),

    // ---- personalized PageRank from every-50th customer as seed: rank
    // mass = proximity to the seed set, same cached-edge loop as q69. ----
    QueryCase("q192_ppr", (s, dir) => {
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("d"))
        .distinct()
      // explode-symmetrize — same rationale as q69_pagerank (r18)
      val e = e0.select(explode(array(
          struct(col("s"), col("d")),
          struct(col("d").as("s"), col("s").as("d")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"))
      val seeds = t(s, dir, "customer").where(col("c_custkey") % 50 === 0)
        .select((col("c_custkey") * 2).as("seed"))
      PageRank.personalizedFixedPoint(e, "s", "d", seeds, "seed", iterations = 3)
        .select(col("id").as("node_id"), col("rank"))
    },
    // q192: q69's chained-CTE replay with the teleport restricted to the
    // seed set (full per-node teleport to each seed — the documented
    // integer-exact convention).
    {
      val base =
        """WITH e0 AS (
          | SELECT DISTINCT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
          | FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |e AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
          |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
          |nodes AS (SELECT DISTINCT s AS id FROM e),
          |sd AS (SELECT c_custkey * 2 AS id FROM customer WHERE c_custkey % 50 = 0),
          |ns AS (SELECT n.id, sd.id IS NOT NULL AS seed
          | FROM nodes n LEFT JOIN sd ON n.id = sd.id),
          |r0 AS (SELECT id, CAST(CASE WHEN seed THEN 1000000 ELSE 0 END AS BIGINT)
          |  AS rank FROM ns)""".stripMargin
      val iters = (1 to 3).map { i =>
        s""",
           |c$i AS (
           | SELECT e.d AS id, CAST(sum((r.rank * 85) // (100 * deg.outdeg)) AS BIGINT) AS c
           | FROM e JOIN r${i - 1} r ON e.s = r.id JOIN deg ON deg.s = e.s GROUP BY 1),
           |r$i AS (
           | SELECT ns.id,
           |  CAST(CASE WHEN ns.seed THEN 150000 ELSE 0 END
           |   + coalesce(c$i.c, 0) AS BIGINT) AS rank
           | FROM ns LEFT JOIN c$i ON ns.id = c$i.id)""".stripMargin
      }.mkString
      base + iters + "\nSELECT id AS node_id, rank FROM r3"
    }),

    // ---- item-item co-purchase graph: capped bipartite projection of
    // (user, item) purchase facts — wedge volume bounded by the cap. -----
    QueryCase("q193_copurchase", (s, dir) =>
      GraphMetrics.bipartiteProject(
        t(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"),
            get_json_object(col("props"), "$.k").cast("long").as("item")),
        "user_id", "item", maxDegree = 10),
      // q193: the cap replayed as the same row_number window; weights are
      // distinct-left counts per right pair.
      """WITH lr AS (SELECT DISTINCT user_id AS l,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS r
        | FROM events WHERE event_type = 'purchase'),
        |capped AS (SELECT l, r FROM (
        |  SELECT l, r, row_number() OVER (PARTITION BY l ORDER BY r) AS rn
        |  FROM lr) WHERE rn <= 10)
        |SELECT a.r AS a_id, b.r AS b_id, CAST(count(*) AS BIGINT) AS weight
        |FROM capped a JOIN capped b ON a.l = b.l AND a.r < b.r
        |GROUP BY 1, 2""".stripMargin),

    // ---- local clustering coefficient on the q79 co-order graph:
    // triangles over degree-pairs in exact ppm — topic-cohesion vs
    // bridge hubs. ------------------------------------------------------
    QueryCase("q199_clustering_coef", (s, dir) =>
      GraphMetrics.localClustering(partPairs(s, dir)),
      // q199: q79's triangle listing + a degree CTE; coefficient by integer
      // division (deg·(deg−1) > 0 guarded by the CASE).
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM
        | (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) GROUP BY id),
        |tri AS (
        | SELECT e1.u AS a, e1.v AS b, e2.v AS c
        | FROM e e1 JOIN e e2 ON e1.v = e2.u
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tcnt AS (SELECT id, CAST(count(*) AS BIGINT) AS t
        | FROM (SELECT unnest([a, b, c]) AS id FROM tri) GROUP BY id)
        |SELECT deg.id, deg.deg,
        | CAST(coalesce(tcnt.t, 0) AS BIGINT) AS n_triangles,
        | CAST(CASE WHEN deg.deg >= 2
        |  THEN (1000000 * 2 * coalesce(tcnt.t, 0)) // (deg.deg * (deg.deg - 1))
        |  ELSE 0 END AS BIGINT) AS clustering_ppm
        |FROM deg LEFT JOIN tcnt USING (id)""".stripMargin),

    // ---- degree assortativity of the doc-chain graph: hubs-to-hubs
    // vs hubs-to-leaves in one integer ratio, no sqrt (symmetrized
    // Pearson over edge endpoint degrees). -----------------------------
    QueryCase("q254_assortativity", (s, dir) =>
      GraphMetrics.degreeAssortativity(docChainPairs(s, dir)),
      // q254: same canonical undirected edge set as the other doc-chain
      // graph oracles; the symmetrized Pearson needs no sqrt, so the
      // ratio is a plain integer quotient in both engines.
      """WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS x, greatest(u, v) AS y FROM edges0),
        |und AS (SELECT x AS id FROM e UNION ALL SELECT y FROM e),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY 1),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(da.d * db.d) AS BIGINT) AS sjk,
        |  CAST(sum(da.d + db.d) AS BIGINT) AS sj,
        |  CAST(sum(da.d * da.d + db.d * db.d) AS BIGINT) AS sq
        | FROM e JOIN deg da ON e.x = da.id JOIN deg db ON e.y = db.id)
        |SELECT m,
        | CAST(4 * m * sjk - sj * sj AS BIGINT) AS r_num,
        | CAST(2 * m * sq - sj * sj AS BIGINT) AS r_den,
        | CASE WHEN 2 * m * sq - sj * sj = 0 THEN NULL
        |  ELSE CAST((1000000 * (4 * m * sjk - sj * sj)) // (2 * m * sq - sj * sj) AS BIGINT)
        | END AS r_ppm
        |FROM s""".stripMargin),

    // ---- common-neighbor Jaccard link scoring on the q79/q199 co-order
    // part graph: wedge-join candidates (capped), exact degrees,
    // is_edge flag — predict where the high-score non-edges are. --------
    QueryCase("q262_link_jaccard", (s, dir) =>
      GraphMetrics.linkJaccard(partPairs(s, dir), maxDegree = 64)
        .where(col("n_common") >= 2),
      // q262: same q199 co-order graph, same deterministic 64-smallest-ids
      // cap before the wedge join, exact degrees, edge flag via left join.
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |cap AS (SELECT src, dst FROM (
        | SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
        | FROM sym) WHERE rn <= 64),
        |cn AS (
        | SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS n_common
        | FROM cap a JOIN cap b ON a.src = b.src AND a.dst < b.dst
        | GROUP BY 1, 2)
        |SELECT cn.u AS a_id, cn.v AS b_id, cn.n_common,
        | da.d AS deg_a, db.d AS deg_b,
        | coalesce(ed.is_e, false) AS is_edge,
        | CAST((1000000 * cn.n_common) // (da.d + db.d - cn.n_common) AS BIGINT)
        |  AS jaccard_ppm
        |FROM cn
        |JOIN deg da ON da.id = cn.u
        |JOIN deg db ON db.id = cn.v
        |LEFT JOIN (SELECT u, v, true AS is_e FROM e) ed
        | ON ed.u = cn.u AND ed.v = cn.v
        |WHERE cn.n_common >= 2""".stripMargin),

    // ---- harmonic centrality at radius 2 on the co-order part graph:
    // q89's exact counts finished with 1/d weights. ---------------------
    QueryCase("q266_harmonic", (s, dir) =>
      GraphMetrics.harmonicCentrality2(partPairs(s, dir), maxDegree = 64),
      // q266: q89's adjacency/cap CTEs; harmonic weights in exact ppm.
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e),
        |mid AS (
        | SELECT src, dst FROM (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM sym)
        | WHERE rn <= 64),
        |two AS (
        | SELECT p.src, q.dst FROM sym p JOIN mid q ON p.dst = q.src WHERE p.src <> q.dst
        | UNION SELECT src, dst FROM sym)
        |SELECT o.src AS id, CAST(o.n1 AS BIGINT) AS n_1hop, CAST(t.n2 AS BIGINT) AS n_2hop,
        | CAST(1000000 * o.n1 + 500000 * (t.n2 - o.n1) AS BIGINT) AS harmonic2_ppm
        |FROM (SELECT src, count(*) AS n1 FROM sym GROUP BY 1) o
        | JOIN (SELECT src, count(*) AS n2 FROM two GROUP BY 1) t USING (src)""".stripMargin),

    // ---- rich-club coefficient ladder on the co-order part graph: do
    // the hub parts wire to each other. ---------------------------------
    QueryCase("q285_rich_club", (s, dir) =>
      GraphMetrics.richClub(partPairs(s, dir),
        thresholds = Seq(4L, 8L, 16L, 24L, 32L)),
      // q285: q199's graph; per-threshold edge filters through degrees.
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT id, count(*) AS d FROM
        | (SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e) GROUP BY 1),
        |th AS (SELECT unnest([4, 8, 16, 24, 32]) AS k),
        |nodes AS (
        | SELECT k, CAST(count(*) AS BIGINT) AS n_rich
        | FROM th JOIN deg ON deg.d > th.k GROUP BY 1),
        |edges AS (
        | SELECT k, CAST(count(*) AS BIGINT) AS n_edges
        | FROM th JOIN e ON true
        |  JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v
        | WHERE du.d > th.k AND dv.d > th.k GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS k, n_rich, coalesce(n_edges, 0) AS n_edges,
        | CASE WHEN n_rich < 2 THEN NULL
        |  ELSE CAST((1000000 * 2 * coalesce(n_edges, 0)) // (n_rich * (n_rich - 1))
        |   AS BIGINT) END AS phi_ppm
        |FROM nodes LEFT JOIN edges USING (k)""".stripMargin),

    // ---- integer HITS on the DIRECTED doc-chain graph: hub/authority
    // separation PageRank's single score conflates; two synchronous
    // rounds, max-normalized in exact integers (oracle unrolls both). --
    QueryCase("q303_hits", (s, dir) =>
      GraphMetrics.hits(docChainPairs(s, dir), "a_id", "b_id", iterations = 2),
      // q303: both HITS rounds unrolled — each round one in-sum + max-
      // normalize, one out-sum + max-normalize, all integer div.
      """WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |e0 AS (
        | SELECT a AS s, a + 1 AS d FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT s, d FROM e0),
        |n AS (SELECT s AS id FROM e UNION SELECT d FROM e),
        |a1 AS (SELECT n.id, coalesce(cnt.c * 1000000, 0) AS v
        | FROM n LEFT JOIN (SELECT d, count(*) AS c FROM e GROUP BY 1) cnt ON cnt.d = n.id),
        |a1n AS (SELECT id, CASE WHEN mx <= 0 THEN 0 ELSE (v * 1000000) // mx END AS v
        | FROM a1, (SELECT max(v) AS mx FROM a1)),
        |h1 AS (SELECT n.id, coalesce(t.v, 0) AS v FROM n LEFT JOIN (
        | SELECT e.s AS id, sum(a1n.v) AS v FROM e JOIN a1n ON a1n.id = e.d GROUP BY 1) t
        | ON t.id = n.id),
        |h1n AS (SELECT id, CASE WHEN mx <= 0 THEN 0 ELSE (v * 1000000) // mx END AS v
        | FROM h1, (SELECT max(v) AS mx FROM h1)),
        |a2 AS (SELECT n.id, coalesce(t.v, 0) AS v FROM n LEFT JOIN (
        | SELECT e.d AS id, sum(h1n.v) AS v FROM e JOIN h1n ON h1n.id = e.s GROUP BY 1) t
        | ON t.id = n.id),
        |a2n AS (SELECT id, CASE WHEN mx <= 0 THEN 0 ELSE (v * 1000000) // mx END AS v
        | FROM a2, (SELECT max(v) AS mx FROM a2)),
        |h2 AS (SELECT n.id, coalesce(t.v, 0) AS v FROM n LEFT JOIN (
        | SELECT e.s AS id, sum(a2n.v) AS v FROM e JOIN a2n ON a2n.id = e.d GROUP BY 1) t
        | ON t.id = n.id),
        |h2n AS (SELECT id, CASE WHEN mx <= 0 THEN 0 ELSE (v * 1000000) // mx END AS v
        | FROM h2, (SELECT max(v) AS mx FROM h2))
        |SELECT CAST(n.id AS BIGINT) AS id, CAST(a2n.v AS BIGINT) AS auth,
        | CAST(h2n.v AS BIGINT) AS hub
        |FROM n JOIN a2n ON a2n.id = n.id JOIN h2n ON h2n.id = n.id""".stripMargin),

    // ---- 5-truss of the co-order part graph: edge-level cohesion one
    // notch above q172's k-core (only edges embedded in >=3 triangles
    // within the surviving subgraph), reported as a support histogram
    // with id-sum fingerprints. Oracle is PINNED from an independent
    // driver-side reference peeler (tools/pin_ktruss.py) — peeling is
    // not expressible in one SQL pass. ---------------------------------
    QueryCase("q304_ktruss", (s, dir) =>
      GraphMetrics.kTruss(partPairs(s, dir), k = 5)
        .groupBy("support")
        .agg(count(lit(1)).as("n_edges"),
          sum(col("a_id")).as("sum_a"), sum(col("b_id")).as("sum_b")),
      // q304: pinned sf0.01 support histogram from the INDEPENDENT Python
      // reference peeler (tools/pin_ktruss.py — definition-direct, no
      // orientation tricks), making this a true cross-implementation
      // oracle; `KTrussSpec` additionally replays random graphs against a
      // Scala reference peeler.
      """SELECT CAST(support AS BIGINT) AS support, CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b
        |FROM (VALUES (3,387,259856,530024),(4,123,75720,143772),(5,11,9040,16680),
        | (6,11,10528,17364),(7,35,27840,47280),(8,1,184,1508),(10,1,120,1272))
        | AS t(support, n_edges, sum_a, sum_b)""".stripMargin),

    // ---- Borůvka minimum spanning forest of the co-order part graph
    // (weight = inverse co-order count — strong affinities are cheap),
    // reported as per-component-size invariants: every correct MSF
    // implementation agrees on edge count and total weight per
    // component even under weight ties, so the PINNED oracle (an
    // independent Python Kruskal, tools/pin_msf.py) is tie-safe. The
    // (order, part) dedup mirrors the reference's set semantics. ------
    QueryCase("q305_spanning_forest", (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val weighted = li.alias("a")
        .join(li.alias("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("a_id"), col("b.l_partkey").as("b_id"))
        .agg(expr("1000000L div count(1)").as("weight"))
      val forest = SpanningForest.boruvka(weighted)
      forest
        .join(Components.connectedComponents(forest.select(col("a_id"), col("b_id")))
          .withColumnRenamed("id", "a_id"), Seq("a_id"))
        .groupBy("component")
        .agg(count(lit(1)).as("__ne"), sum(col("weight")).as("__tw"))
        .groupBy(col("__ne").as("n_edges"))
        .agg(count(lit(1)).as("n_components"), sum(col("__tw")).as("sum_weight"))
    },
      // q305: pinned per-component-size MSF invariants from an independent
      // Python Kruskal (tools/pin_msf.py). The co-order part graph at
      // sf0.01 is one 500-node component: any correct MSF has exactly 499
      // edges totaling 400666666 — invariant under weight ties, so the
      // cross-implementation check does not depend on tie-breaking.
      """SELECT CAST(n_edges AS BIGINT) AS n_edges,
        | CAST(n_components AS BIGINT) AS n_components,
        | CAST(sum_weight AS BIGINT) AS sum_weight
        |FROM (VALUES (499,1,400666666)) AS t(n_edges, n_components, sum_weight)""".stripMargin),

    // ---- single-linkage clustering read off the Borůvka forest: weight
    // the doc-chain graph deterministically, build the MSF ONCE, cut at
    // the threshold. The oracle replays the DEFINITION instead (recursive
    // components over the graph's <=threshold edges) — the two agree by
    // the MSF minimax-path property, which holds for ANY minimum forest
    // even under weight ties, so this is a strong engine-neutral check of
    // the whole forest->threshold->components pipeline, not a pin. ------
    QueryCase("q306_single_linkage", (s, dir) => {
      val weighted = docChainPairs(s, dir)
        .withColumn("weight", (col("a_id") * 7 + col("b_id") * 13) % 100)
      SpanningForest.singleLinkage(weighted, threshold = 50)
    },
      // q306: the DEFINITION of single-linkage at the threshold — connected
      // components (recursive closure, min reachable id) of the graph
      // restricted to weight <= 50, singletons keeping their own id. The
      // Spark side answers via the Borůvka forest; agreement is the MSF
      // minimax-path property, tie-safe.
      """WITH RECURSIVE b AS (
        | SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |nodes AS (SELECT u AS id FROM edges0 UNION SELECT v FROM edges0),
        |kept0 AS (SELECT u, v FROM edges0 WHERE (u * 7 + v * 13) % 100 <= 50),
        |kept AS (SELECT u, v FROM kept0 UNION SELECT v, u FROM kept0),
        |reach(id, r) AS (
        | SELECT id, id FROM nodes
        | UNION
        | SELECT k.u, reach.r FROM kept k JOIN reach ON k.v = reach.id)
        |SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS cluster
        |FROM reach GROUP BY id""".stripMargin),

    // ---- q304's truss peel consumed at its operator-boundary aggregate:
    // only the (support, n_edges) histogram ever crosses to the caller —
    // the shape a 100 TB cohesion profile would ship. Same pinned
    // cross-implementation oracle as q304 (tools/pin_ktruss.py). --------
    QueryCase("q307_truss_histogram", (s, dir) =>
      GraphMetrics.kTrussSupportHistogram(partPairs(s, dir), k = 5),
      // q307: q304's pin projected to the histogram the aggregate variant
      // returns (same independent reference peeler, tools/pin_ktruss.py).
      """SELECT CAST(support AS BIGINT) AS support, CAST(n_edges AS BIGINT) AS n_edges
        |FROM (VALUES (3,387),(4,123),(5,11),(6,11),(7,35),(8,1),(10,1))
        | AS t(support, n_edges)""".stripMargin),

    // ---- full core decomposition of the co-order part graph: per-node
    // coreness via the distributed h-index fixpoint, reported as a
    // (coreness, n_nodes, sum_ids) histogram. Oracle is PINNED from an
    // independent sequential min-degree peel (tools/pin_coreness.py) —
    // a structurally different algorithm, so agreement is a true
    // cross-implementation check; `CorenessSpec` replays random graphs
    // against a Scala peeler. ------------------------------------------
    QueryCase("q308_coreness", (s, dir) =>
      GraphMetrics.coreDecomposition(partPairs(s, dir))
        .groupBy("coreness")
        .agg(count(lit(1)).as("n_nodes"), sum(col("id")).as("sum_ids")),
      // q308: pinned sf0.01 coreness histogram from the INDEPENDENT
      // sequential min-degree peel (tools/pin_coreness.py — Batagelj-
      // Zaversnik by definition) vs the Spark side's h-index fixpoint:
      // different algorithm, same unique decomposition.
      """SELECT CAST(coreness AS BIGINT) AS coreness, CAST(n_nodes AS BIGINT) AS n_nodes,
        | CAST(sum_ids AS BIGINT) AS sum_ids
        |FROM (VALUES (10,1,1092),(11,2,1856),(14,2,2080),(15,5,4060),(16,12,11868),
        | (17,16,13904),(18,22,17936),(19,36,33828),(20,404,412376))
        | AS t(coreness, n_nodes, sum_ids)""".stripMargin),

    // ---- Newman modularity of a block partition of the doc-chain graph
    // (community = id div 64): per-community internal edges, degree mass
    // and exact ppm contribution — the partition-quality score for
    // whatever labeling a pipeline produced. Fully SQL-replayable (the
    // oracle recomputes the definition; division forced to truncate like
    // Spark's div). -----------------------------------------------------
    QueryCase("q309_modularity", (s, dir) => {
      val e = docChainPairs(s, dir)
      val nodes = e.select(col("a_id").as("id"))
        .union(e.select(col("b_id").as("id"))).distinct()
      GraphMetrics.modularity(e, nodes.withColumn("community", expr("id div 64")))
    },
      // q309: the modularity DEFINITION replayed — per-community internal
      // edges + degree mass over the canonical doc-chain edge set, ppm
      // contribution with division forced to TRUNCATE (DuckDB's // floors;
      // Spark's div truncates — they differ on the negative contributions
      // sparse communities produce).
      """WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
        |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
        |le AS (SELECT u, v, u // 64 AS cu, v // 64 AS cv FROM e),
        |deg AS (SELECT c, count(*) AS degree_sum
        | FROM (SELECT cu AS c FROM le UNION ALL SELECT cv AS c FROM le) GROUP BY 1),
        |intl AS (SELECT cu AS c, count(*) AS n_internal FROM le WHERE cu = cv GROUP BY 1),
        |raw AS (
        | SELECT d.c, coalesce(i.n_internal, 0) AS n_internal, d.degree_sum,
        |  CAST(1000000 AS HUGEINT) *
        |   (4 * mm.m * coalesce(i.n_internal, 0) -
        |    CAST(d.degree_sum AS HUGEINT) * d.degree_sum) AS num,
        |  4 * mm.m * mm.m AS den
        | FROM deg d LEFT JOIN intl i ON i.c = d.c CROSS JOIN mm)
        |SELECT CAST(c AS BIGINT) AS community, CAST(n_internal AS BIGINT) AS n_internal,
        | CAST(degree_sum AS BIGINT) AS degree_sum,
        | CAST(CASE WHEN num < 0 THEN -((-num) // den) ELSE num // den END AS BIGINT) AS q_ppm
        |FROM raw""".stripMargin),

    // ---- exact BFS closeness from a deterministic source slice (every
    // 5th chain anchor) of the doc-chain graph: per source, reach count,
    // shortest-distance sum and integer closeness. The oracle replays
    // the BFS exactly (recursive CTE, min dist per (source, node), the
    // same depth bound) — exact distances from sampled sources is the
    // scalable closeness trade; all-pairs BFS is O(n·m). -----------------
    QueryCase("q310_closeness", (s, dir) =>
      GraphMetrics.multiSourceCloseness(
        docChainPairs(s, dir),
        t(s, dir, "documents").where(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("id")),
        maxDepth = 8),
      // q310: the BFS replayed exactly — recursive closure bounded at the
      // SAME depth as the operator, min dist per (source, node), closeness
      // from the reached set (all terms positive, so // matches div).
      """WITH RECURSIVE b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |srcs AS (SELECT doc_id AS s FROM documents WHERE doc_id % 100 = 0),
        |walk(source, node, dist) AS (
        | SELECT s, s, 0 FROM srcs
        | UNION
        | SELECT w.source, m.dst, w.dist + 1
        | FROM walk w JOIN sym m ON m.src = w.node WHERE w.dist < 8),
        |d AS (SELECT source, node, min(dist) AS dist FROM walk GROUP BY 1, 2)
        |SELECT CAST(source AS BIGINT) AS source,
        | CAST(count(*) - 1 AS BIGINT) AS n_reached,
        | CAST(sum(dist) AS BIGINT) AS sum_dist,
        | CAST(CASE WHEN sum(dist) > 0
        |  THEN ((count(*) - 1) * 1000000) // sum(dist) ELSE 0 END AS BIGINT) AS closeness_ppm
        |FROM d GROUP BY source""".stripMargin),

    // ---- time-respecting reachability over the order event graph:
    // customer→supplier edges fire on the order date, supplier→customer
    // back-edges a day later, and a chain is valid only if edge times
    // never decrease — the influence-path semantics static reachability
    // gets wrong on event data. Earliest arrival per (source, node),
    // aggregated per source. Oracle unrolls the 3-hop min-arrival DP
    // stage by stage (a naive recursive closure would carry every
    // distinct arrival per node and explode on hub suppliers). ---------
    QueryCase("q311_temporal_reach", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val fwd = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"),
          col("d").as("t"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"), (col("t") + 1).as("t")))
      val sources = o.where(col("o_custkey") % 100 === 0)
        .select((col("o_custkey") * 2).as("id")).distinct()
      GraphMetrics.temporalReachability(edges, sources, maxHops = 3)
        .groupBy("source")
        .agg(count(lit(1)).as("n_reached"), min(col("arr")).as("first_contact"),
          sum(col("arr")).as("sum_arrival"))
    },
      // q311: the 3-hop earliest-arrival DP unrolled stage by stage, each
      // stage min-folded per (source, node) — semantically identical to
      // the operator's delta-BFS (full-frontier expansion computes the
      // same per-hop minimum), and the fold keeps every stage node-sized
      // where a recursive closure would carry one row per distinct
      // arrival. The -1 floor plays Long.MinValue's role (all edge times
      // are positive epoch days, so only the comparisons matter).
      """WITH fwd AS (
        | SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
        |  CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT src, dst, t FROM fwd
        | UNION ALL SELECT dst AS src, src AS dst, t + 1 AS t FROM fwd),
        |a0 AS (SELECT DISTINCT o_custkey * 2 AS source, o_custkey * 2 AS node,
        |  CAST(-1 AS BIGINT) AS arr FROM orders WHERE o_custkey % 100 = 0),
        |c1 AS (SELECT a.source, e.dst AS node, min(e.t) AS cand
        | FROM a0 a JOIN e ON e.src = a.node AND e.t >= a.arr GROUP BY 1, 2),
        |a1 AS (SELECT coalesce(a.source, c.source) AS source, coalesce(a.node, c.node) AS node,
        |  CASE WHEN a.arr IS NULL THEN c.cand WHEN c.cand IS NULL THEN a.arr
        |       WHEN c.cand < a.arr THEN c.cand ELSE a.arr END AS arr
        | FROM a0 a FULL JOIN c1 c ON a.source = c.source AND a.node = c.node),
        |c2 AS (SELECT a.source, e.dst AS node, min(e.t) AS cand
        | FROM a1 a JOIN e ON e.src = a.node AND e.t >= a.arr GROUP BY 1, 2),
        |a2 AS (SELECT coalesce(a.source, c.source) AS source, coalesce(a.node, c.node) AS node,
        |  CASE WHEN a.arr IS NULL THEN c.cand WHEN c.cand IS NULL THEN a.arr
        |       WHEN c.cand < a.arr THEN c.cand ELSE a.arr END AS arr
        | FROM a1 a FULL JOIN c2 c ON a.source = c.source AND a.node = c.node),
        |c3 AS (SELECT a.source, e.dst AS node, min(e.t) AS cand
        | FROM a2 a JOIN e ON e.src = a.node AND e.t >= a.arr GROUP BY 1, 2),
        |a3 AS (SELECT coalesce(a.source, c.source) AS source, coalesce(a.node, c.node) AS node,
        |  CASE WHEN a.arr IS NULL THEN c.cand WHEN c.cand IS NULL THEN a.arr
        |       WHEN c.cand < a.arr THEN c.cand ELSE a.arr END AS arr
        | FROM a2 a FULL JOIN c3 c ON a.source = c.source AND a.node = c.node)
        |SELECT CAST(source AS BIGINT) AS source, CAST(count(*) AS BIGINT) AS n_reached,
        | CAST(min(arr) AS BIGINT) AS first_contact, CAST(sum(arr) AS BIGINT) AS sum_arrival
        |FROM a3 WHERE arr <> -1 GROUP BY source""".stripMargin),

    // ---- deterministic random walks (DeepWalk corpus prep) over the
    // doc-chain graph: every 100th doc starts a 4-step walk; each hop
    // picks the neighbor minimizing (md5(walk:step:nbr), nbr) — a
    // content-addressed coin flip, so the corpus is a pure function of
    // the graph and DuckDB replays every hop bit-for-bit (md5 hex
    // ordering is engine-portable, the Sampling contract). -------------
    QueryCase("q312_random_walks", (s, dir) =>
      GraphMetrics.randomWalks(
        docChainPairs(s, dir),
        t(s, dir, "documents").where(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("id")),
        steps = 4),
      // q312: every hop replayed — the per-walk argmin over
      // (md5(walk:step:nbr), nbr) is a window rank in SQL; md5 hex
      // ordering and BIGINT→string casts agree between the engines (the
      // Sampling md5-coin contract), so the whole corpus matches
      // bit-for-bit.
      """WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |w0 AS (SELECT doc_id AS walk_id, doc_id AS node FROM documents WHERE doc_id % 100 = 0),
        |s1 AS (SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
        |  ORDER BY md5(CAST(walk_id AS VARCHAR) || ':1:' || CAST(dst AS VARCHAR)), dst) AS rn
        | FROM w0 JOIN sym ON sym.src = w0.node),
        |w1 AS (SELECT walk_id, dst AS node FROM s1 WHERE rn = 1),
        |s2 AS (SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
        |  ORDER BY md5(CAST(walk_id AS VARCHAR) || ':2:' || CAST(dst AS VARCHAR)), dst) AS rn
        | FROM w1 JOIN sym ON sym.src = w1.node),
        |w2 AS (SELECT walk_id, dst AS node FROM s2 WHERE rn = 1),
        |s3 AS (SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
        |  ORDER BY md5(CAST(walk_id AS VARCHAR) || ':3:' || CAST(dst AS VARCHAR)), dst) AS rn
        | FROM w2 JOIN sym ON sym.src = w2.node),
        |w3 AS (SELECT walk_id, dst AS node FROM s3 WHERE rn = 1),
        |s4 AS (SELECT walk_id, dst, row_number() OVER (PARTITION BY walk_id
        |  ORDER BY md5(CAST(walk_id AS VARCHAR) || ':4:' || CAST(dst AS VARCHAR)), dst) AS rn
        | FROM w3 JOIN sym ON sym.src = w3.node),
        |w4 AS (SELECT walk_id, dst AS node FROM s4 WHERE rn = 1)
        |SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST(0 AS BIGINT) AS step,
        | CAST(node AS BIGINT) AS node FROM w0
        |UNION ALL SELECT walk_id, 1, node FROM w1
        |UNION ALL SELECT walk_id, 2, node FROM w2
        |UNION ALL SELECT walk_id, 3, node FROM w3
        |UNION ALL SELECT walk_id, 4, node FROM w4""".stripMargin),

    // ---- double-sweep diameter bound on the doc-chain graph from
    // anchor 20: BFS out, pivot to the farthest node (ONE row to the
    // driver), BFS back — the second eccentricity is the classic
    // diameter lower bound at 2 BFS instead of O(n·m) all-pairs. ------
    QueryCase("q313_double_sweep", (s, dir) =>
      GraphMetrics.doubleSweep(docChainPairs(s, dir), startId = 20L, maxDepth = 16),
      // q313: both sweeps replayed as bounded recursive closures (q310's
      // BFS pattern); the pivot — farthest node, ties to the smallest id
      // — is a LIMIT 1 subquery the second closure seeds from, mirroring
      // the operator's one-row driver fetch.
      """WITH RECURSIVE b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |walk1(node, dist) AS (
        | SELECT CAST(20 AS BIGINT), CAST(0 AS BIGINT)
        | UNION
        | SELECT m.dst, w.dist + 1 FROM walk1 w JOIN sym m ON m.src = w.node
        | WHERE w.dist < 16),
        |d1 AS (SELECT node, min(dist) AS dist FROM walk1 GROUP BY 1),
        |piv AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node ASC LIMIT 1),
        |walk2(node, dist) AS (
        | SELECT node, CAST(0 AS BIGINT) FROM piv
        | UNION
        | SELECT m.dst, w.dist + 1 FROM walk2 w JOIN sym m ON m.src = w.node
        | WHERE w.dist < 16),
        |d2 AS (SELECT node, min(dist) AS dist FROM walk2 GROUP BY 1)
        |SELECT CAST(20 AS BIGINT) AS start_id,
        | CAST((SELECT dist FROM piv) AS BIGINT) AS ecc_start,
        | CAST((SELECT count(*) FROM d1) AS BIGINT) AS n_reached,
        | CAST((SELECT node FROM piv) AS BIGINT) AS peripheral_id,
        | CAST((SELECT max(dist) FROM d2) AS BIGINT) AS diameter_lb""".stripMargin),

    // ---- resource-allocation link prediction over the part co-order
    // graph (same graph as q262): shared rare neighbors outweigh shared
    // hubs via the exact rational weight 1e9 div deg(w) — the RA index,
    // integer-exact where Adamic-Adar's log is not. --------------------
    QueryCase("q314_link_ra", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .where(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.alias("a")
        .join(li.alias("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("a_id"), col("b.l_partkey").as("b_id"))
      GraphMetrics.linkResourceAllocation(pairs, maxDegree = 64, minCommon = 2L)
    },
      // q314: q262's capped wedge kernel with the RA weight riding on the
      // shared-neighbor side — 1e9 // deg(w) is exact integer arithmetic
      // on both engines (true degree, computed before the cap).
      """WITH li AS (
        | SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (
        | SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        | FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e),
        |deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |capw AS (SELECT src, dst, 1000000000 // d AS w FROM (
        | SELECT s.src, s.dst, dg.d,
        |  row_number() OVER (PARTITION BY s.src ORDER BY s.dst) AS rn
        | FROM sym s JOIN deg dg ON dg.id = s.src) WHERE rn <= 64),
        |cn AS (
        | SELECT a.dst AS u, b.dst AS v, CAST(count(*) AS BIGINT) AS n_common,
        |  CAST(sum(a.w) AS BIGINT) AS ra
        | FROM capw a JOIN capw b ON a.src = b.src AND a.dst < b.dst
        | GROUP BY 1, 2)
        |SELECT cn.u AS a_id, cn.v AS b_id, cn.n_common, cn.ra AS ra_score_e9,
        | coalesce(ed.is_e, false) AS is_edge
        |FROM cn
        |LEFT JOIN (SELECT u, v, true AS is_e FROM e) ed
        | ON ed.u = cn.u AND ed.v = cn.v
        |WHERE cn.n_common >= 2""".stripMargin),

    // ---- temporal relay census over the q311 order event graph: per
    // middle node, time-respecting u→v→w pairs within a 7-day window —
    // the basic temporal motif a static 2-path count gets wrong. The
    // time predicates are FILTERS on the node-keyed hash join, so the
    // plan stays an equi-join at any scale; maxEvents = 64 caps a hub
    // supplier's in×out blow-up at 64² pairs (earliest-first, the
    // documented deterministic truncation the oracle replays). ---------
    QueryCase("q315_temporal_relay", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("d"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val fwd = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"),
          col("d").as("t"))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst"), (col("t") + 1).as("t")))
      GraphMetrics.temporalRelayCount(edges, delta = 7L, maxEvents = 64)
    },
      // q315: the capped event lists replayed with the same earliest-first
      // row_number truncation, then the relay join with identical window
      // predicates — ties inside the cap are between IDENTICAL rows, so
      // the selected multiset is deterministic on both engines.
      """WITH fwd AS (
        | SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
        |  CAST(CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT src, dst, t FROM fwd
        | UNION ALL SELECT dst AS src, src AS dst, t + 1 AS t FROM fwd),
        |inn AS (SELECT node, u, t1 FROM (
        | SELECT dst AS node, src AS u, t AS t1,
        |  row_number() OVER (PARTITION BY dst ORDER BY t, src) AS rn FROM e)
        | WHERE rn <= 64),
        |outt AS (SELECT node, w, t2 FROM (
        | SELECT src AS node, dst AS w, t AS t2,
        |  row_number() OVER (PARTITION BY src ORDER BY t, dst) AS rn FROM e)
        | WHERE rn <= 64)
        |SELECT CAST(i.node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_relays,
        | CAST(count(DISTINCT i.u) AS BIGINT) AS n_sources
        |FROM inn i JOIN outt o ON o.node = i.node
        |WHERE o.t2 > i.t1 AND o.t2 <= i.t1 + 7 AND i.u <> o.w
        |GROUP BY 1""".stripMargin),

    // ---- sampled Brandes betweenness over a runged doc-chain graph:
    // the chain plus one (a+2)—(a+5) rung per anchor, so shortest-path
    // counts genuinely exceed 1 (σ(a+2) = 2 from its anchor) and the
    // backward pass exercises the σ_v/σ_w traffic split — a pure-chain
    // graph would leave every ratio at 1 and test nothing. Sources =
    // every chain anchor; depth-4 balls cross the a%40 bridges, so
    // inter-component broker nodes (the bridge endpoints) surface with
    // the highest bc_e9, which is exactly what betweenness is FOR. ----
    QueryCase("q316_betweenness", (s, dir) => {
      val b = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("a"))
      val pairs = b.select(col("a").as("a_id"), (col("a") + 1).as("b_id"))
        .union(b.select((col("a") + 1).as("a_id"), (col("a") + 2).as("b_id")))
        .union(b.select(col("a").as("a_id"), (col("a") + 5).as("b_id")))
        .union(b.select((col("a") + 2).as("a_id"), (col("a") + 5).as("b_id")))
        .union(b.where(col("a") % 40 === 0)
          .select((col("a") + 5).as("a_id"), (col("a") + 22).as("b_id")))
      GraphMetrics.betweennessSampled(
        pairs, b.select(col("a").as("id")), maxDepth = 4)
    },
      // q316: the whole Brandes pipeline replayed level by level — forward
      // σ-counting BFS unrolled to depth 4 (σ of a new node = sum over its
      // previous-level predecessors, aggregated BEFORE the anti-join),
      // the dist(w) = dist(v)+1 shortest-path DAG, then the backward
      // dependency recurrence in HUGEINT floor division, which on these
      // all-positive values equals Spark's DECIMAL(38,0) truncating `div`
      // exactly. Levels never overlap per source (BFS dist is unique), so
      // the UNION ALL of per-level deltas is the operator's accumulated
      // frame bit-for-bit.
      """WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 2, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
        |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
        |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |l0 AS (SELECT a AS source, a AS node, CAST(1 AS BIGINT) AS sigma FROM b),
        |n1 AS (SELECT l.source, s.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
        | FROM l0 l JOIN sym s ON s.src = l.node GROUP BY 1, 2),
        |l1 AS (SELECT * FROM n1 WHERE NOT EXISTS (
        | SELECT 1 FROM l0 v WHERE v.source = n1.source AND v.node = n1.node)),
        |n2 AS (SELECT l.source, s.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
        | FROM l1 l JOIN sym s ON s.src = l.node GROUP BY 1, 2),
        |l2 AS (SELECT * FROM n2 WHERE NOT EXISTS (
        | SELECT 1 FROM (SELECT source, node FROM l0 UNION ALL SELECT source, node FROM l1) v
        | WHERE v.source = n2.source AND v.node = n2.node)),
        |n3 AS (SELECT l.source, s.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
        | FROM l2 l JOIN sym s ON s.src = l.node GROUP BY 1, 2),
        |l3 AS (SELECT * FROM n3 WHERE NOT EXISTS (
        | SELECT 1 FROM (SELECT source, node FROM l0 UNION ALL SELECT source, node FROM l1
        |   UNION ALL SELECT source, node FROM l2) v
        | WHERE v.source = n3.source AND v.node = n3.node)),
        |n4 AS (SELECT l.source, s.dst AS node, CAST(sum(l.sigma) AS BIGINT) AS sigma
        | FROM l3 l JOIN sym s ON s.src = l.node GROUP BY 1, 2),
        |l4 AS (SELECT * FROM n4 WHERE NOT EXISTS (
        | SELECT 1 FROM (SELECT source, node FROM l0 UNION ALL SELECT source, node FROM l1
        |   UNION ALL SELECT source, node FROM l2 UNION ALL SELECT source, node FROM l3) v
        | WHERE v.source = n4.source AND v.node = n4.node)),
        |vis AS (
        | SELECT source, node, 0 AS dist, sigma FROM l0
        | UNION ALL SELECT source, node, 1, sigma FROM l1
        | UNION ALL SELECT source, node, 2, sigma FROM l2
        | UNION ALL SELECT source, node, 3, sigma FROM l3
        | UNION ALL SELECT source, node, 4, sigma FROM l4),
        |dag AS (
        | SELECT v.source, v.node AS v, w.node AS w, v.dist AS dv,
        |  v.sigma AS sv, w.sigma AS sw
        | FROM vis v JOIN sym s ON s.src = v.node
        | JOIN vis w ON w.source = v.source AND w.node = s.dst AND w.dist = v.dist + 1),
        |d3 AS (SELECT source, v AS node,
        |  CAST(sum((CAST(sv AS HUGEINT) * 1000000000) // sw) AS BIGINT) AS delta
        | FROM dag WHERE dv = 3 GROUP BY 1, 2),
        |d2 AS (SELECT dag.source, dag.v AS node,
        |  CAST(sum((CAST(sv AS HUGEINT) * (1000000000 + coalesce(d3.delta, 0))) // sw)
        |   AS BIGINT) AS delta
        | FROM dag LEFT JOIN d3 ON d3.source = dag.source AND d3.node = dag.w
        | WHERE dv = 2 GROUP BY 1, 2),
        |d1 AS (SELECT dag.source, dag.v AS node,
        |  CAST(sum((CAST(sv AS HUGEINT) * (1000000000 + coalesce(d2.delta, 0))) // sw)
        |   AS BIGINT) AS delta
        | FROM dag LEFT JOIN d2 ON d2.source = dag.source AND d2.node = dag.w
        | WHERE dv = 1 GROUP BY 1, 2),
        |dd AS (SELECT * FROM d3 UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d1)
        |SELECT CAST(node AS BIGINT) AS node, CAST(sum(delta) AS BIGINT) AS bc_e9,
        | CAST(count(*) AS BIGINT) AS n_sources
        |FROM dd WHERE node <> source GROUP BY 1 HAVING sum(delta) > 0""".stripMargin),

    // ---- incremental connected components (the daily crawl increment):
    // yesterday's doc-chain clustering folded with today's new links —
    // (a+2)—(a+20) for every third anchor — WITHOUT re-reading the old
    // edge list; old components enter as min-id stars, so the merge is
    // bit-identical to recomputing from scratch (the oracle does exactly
    // that over the union graph). ---------------------------------------
    QueryCase("q319_incremental_components", (s, dir) => {
      val prev = Components.connectedComponents(docChainPairs(s, dir))
      val fresh = t(s, dir, "documents").where(col("doc_id") % 60 === 0)
        .select((col("doc_id") + 2).as("a_id"), (col("doc_id") + 20).as("b_id"))
      Components.mergeIncrement(prev, fresh)
    },
      // q319: the incremental merge is DEFINED as equality with a from-
      // scratch recompute, so the oracle computes components of the UNION
      // graph (chains + a%40 bridges + the new a%60 links) directly — the
      // q54 closure with one extra edge family.
      """WITH RECURSIVE b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
        |edges0 AS (
        | SELECT a AS u, a + 1 AS v FROM b
        | UNION ALL SELECT a + 1, a + 2 FROM b
        | UNION ALL SELECT a, a + 5 FROM b
        | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0
        | UNION ALL SELECT a + 2, a + 20 FROM b WHERE a % 60 = 0),
        |edges AS (
        | SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
        |nodes AS (SELECT DISTINCT u AS id FROM edges),
        |reach(id, r) AS (
        | SELECT id, id FROM nodes
        | UNION
        | SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id)
        |SELECT id, min(r) AS component FROM reach GROUP BY id""".stripMargin),

    // ---- strongly connected components of the directed doc-id graph
    // (sccPairs: 3-cycles + high->low halving bridges + a DAG tail).
    // The decreasing bridges make every cycle's min node a root in the
    // FIRST coloring round — the fixture exercises trim, coloring and
    // backward reach without the adversarial chain-of-SCCs depth.
    QueryCase("q324_scc", (s, dir) =>
      Scc.stronglyConnected(sccPairs(s, dir)),
      // q324/q325: recursive transitive closure of the directed sccPairs
      // graph; SCC label = min over mutually-reachable peers (cycle nodes
      // reach themselves through the cycle, singletons fall back to id).
      s"""WITH RECURSIVE $SccClosureCte
         |SELECT n.id,
         | CAST(least(coalesce(min(m.peer), n.id), n.id) AS BIGINT) AS component
         |FROM nodes n LEFT JOIN mut m ON n.id = m.id
         |GROUP BY n.id""".stripMargin),

    // ---- condensation DAG of the same graph: SCCs contracted to their
    // canonical min-id node, one row per ordered pair with the exact
    // crossing-edge count.
    QueryCase("q325_scc_condensation", (s, dir) =>
      Scc.condensationEdges(sccPairs(s, dir)),
      s"""WITH RECURSIVE $SccClosureCte,
         |scc AS (
         | SELECT n.id, least(coalesce(min(m.peer), n.id), n.id) AS comp
         | FROM nodes n LEFT JOIN mut m ON n.id = m.id GROUP BY n.id)
         |SELECT CAST(sa.comp AS BIGINT) AS src_scc,
         | CAST(sb.comp AS BIGINT) AS dst_scc,
         | CAST(count(*) AS BIGINT) AS n_edges
         |FROM e0 JOIN scc sa ON e0.src = sa.id JOIN scc sb ON e0.dst = sb.id
         |WHERE sa.comp <> sb.comp GROUP BY 1, 2""".stripMargin),

    // ---- longest-path layering of the halving DAG (dagPairs: strictly
    // decreasing edges, depth grows log with the id range): the
    // topological-schedule / critical-path primitive. ---------------------
    QueryCase("q328_dag_layers", (s, dir) =>
      Scc.dagLayers(dagPairs(s, dir)),
      // q328: longest path = max depth over ALL walks ending at a node; the
      // recursive walk table is bounded by nodes × depth (UNION dedups).
      """WITH RECURSIVE b AS (
        | SELECT doc_id AS n FROM documents WHERE doc_id % 10 = 0 AND doc_id > 0),
        |e0 AS (
        | SELECT n AS src, n // 2 AS dst FROM b
        | UNION ALL SELECT n, n - 30 FROM b WHERE n % 40 = 0),
        |e AS (SELECT DISTINCT src, dst FROM e0),
        |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        |walk(id, d) AS (
        | SELECT id, CAST(0 AS BIGINT) FROM nodes
        | UNION
        | SELECT e.dst, ww.d + 1 FROM walk ww JOIN e ON e.src = ww.id)
        |SELECT id, CAST(max(d) AS BIGINT) AS layer FROM walk GROUP BY id""".stripMargin),

    // ---- multi-source weighted shortest paths (Bellman-Ford rounds)
    // over the event graph with per-edge costs 1..7. -----------------------
    QueryCase("q340_weighted_sssp", (s, dir) => {
      val e = t(s, dir, "events").select(
        (col("user_id") % 300).as("src"), (col("event_id") % 300).as("dst"),
        (col("event_id") % 7 + 1).as("w"))
      Paths.weightedSssp(e, s.range(4).toDF("id"))
    },
      // q340: bounded-cost recursive walk enumeration (all true shortest
      // distances on this dense mod-300 graph sit far below the 50 bound),
      // then min per (source, node).
      """WITH RECURSIVE e0 AS (
        | SELECT user_id % 300 AS src, event_id % 300 AS dst,
        |  event_id % 7 + 1 AS w
        | FROM events),
        |e AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
        |      FROM e0 WHERE src <> dst GROUP BY 1, 2),
        |walk(source, node, d) AS (
        | SELECT s.s, s.s, CAST(0 AS BIGINT)
        | FROM (VALUES (0), (1), (2), (3)) s(s)
        | UNION
        | SELECT ww.source, e.dst, ww.d + e.w
        | FROM walk ww JOIN e ON e.src = ww.node WHERE ww.d + e.w <= 50)
        |SELECT CAST(source AS BIGINT) AS source, CAST(node AS BIGINT) AS node,
        | CAST(min(d) AS BIGINT) AS dist
        |FROM walk GROUP BY 1, 2""".stripMargin),

    // ---- greedy weighted matching over the event pair graph: the
    // record-linkage assignment step; oracle = pinned sequential greedy
    // (tools/pin_matching.py, the q304/q305 fixture-pin pattern). ----------
    QueryCase("q341_greedy_matching", (s, dir) => {
      val e = t(s, dir, "events").select(
        (col("user_id") % 120).as("a_id"), (col("event_id") % 120).as("b_id"),
        (col("event_id") % 97 + 1).as("w"))
      Matching.greedyMatching(e)
    },
    // q341: pinned sequential-greedy matching over the derived sf0.01
    // event graph (regenerate: python3 tools/pin_matching.py) — the
    // q304/q305 independent-reference fixture-pin pattern;
    // PathsAndMatchingSpec carries the generalization burden (random
    // graphs vs an in-memory sequential greedy).
    // q341: FULL iterative replay (upgraded r13 from the pinned VALUES):
    // locally-minimal-edge rounds unrolled generously — each round takes
    // every edge that is the (w,u,v)-minimal incident edge of BOTH its
    // endpoints, then drops matched vertices; once the edge table
    // empties, the remaining rounds are no-ops, so over-unrolling is
    // harmless while under-unrolling fails loudly as missing rows.
    // MATERIALIZED for the same 2^N-inlining reason as q345.
    // tools/pin_matching.py remains as an independent third derivation.
    {
      val nRounds = 24
      val rounds = (1 to nRounds).map { r =>
        val prev = if (r == 1) "e0" else s"e${r - 1}"
        s"""nom$r AS MATERIALIZED (
           | SELECT node, w, u, v FROM (
           |  SELECT node, w, u, v,
           |   row_number() OVER (PARTITION BY node ORDER BY w, u, v) AS rn
           |  FROM (SELECT u AS node, w, u, v FROM $prev
           |        UNION ALL SELECT v AS node, w, u, v FROM $prev))
           | WHERE rn = 1),
           |t$r AS MATERIALIZED (
           | SELECT e.u, e.v, e.w FROM $prev e
           | JOIN nom$r a ON a.node = e.u AND a.w = e.w AND a.u = e.u AND a.v = e.v
           | JOIN nom$r b ON b.node = e.v AND b.w = e.w AND b.u = e.u AND b.v = e.v),
           |e$r AS MATERIALIZED (
           | SELECT * FROM $prev
           | WHERE u NOT IN (SELECT u AS node FROM t$r UNION SELECT v FROM t$r)
           |  AND v NOT IN (SELECT u AS node FROM t$r UNION SELECT v FROM t$r))""".stripMargin
      }.mkString(",\n")
      val sel = (1 to nRounds).map(r => s"SELECT u, v, w FROM t$r")
        .mkString("\n UNION ALL ")
      s"""WITH raw AS (SELECT user_id % 120 AS a, event_id % 120 AS b,
         |  event_id % 97 + 1 AS w FROM events),
         |e0 AS MATERIALIZED (
         | SELECT least(a, b) AS u, greatest(a, b) AS v, min(w) AS w
         | FROM raw WHERE least(a, b) <> greatest(a, b)
         | GROUP BY 1, 2),
         |$rounds
         |SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
         | CAST(w AS BIGINT) AS w
         |FROM ($sel)""".stripMargin
    }),

    // ---- node2vec-biased walks on the doc-chain graph (q312's corpus
    // primitive with the p/q search bias): weights (1, 2, 4) =
    // node2vec p=2, q=1/2 — outward-exploring. The weighted integer
    // race keeps every hop a pure function of the graph, so DuckDB
    // replays the whole biased corpus bit-for-bit. ---------------------------
    QueryCase("q347_node2vec_walks", (s, dir) =>
      GraphMetrics.node2vecWalks(
        docChainPairs(s, dir),
        t(s, dir, "documents").where(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("id")),
        steps = 4, returnWeight = 1L, nearWeight = 2L, farWeight = 4L),
    // q347: the q312 hop-by-hop replay with the node2vec class weights —
    // each step classifies every candidate by distance to the PREVIOUS
    // node (return / near / far via a left join on the symmetric edge
    // list) and ranks by (md5₃₂ // weight, id), the operator's exact
    // integer race.
    {
      def u(i: Int) = hexPrefixOracle(
        s"md5(CAST(walk_id AS VARCHAR) || ':$i:' || CAST(dst AS VARCHAR))", 8)
      val stepCtes = (1 to 4).map { i =>
        s"""c$i AS (SELECT w.walk_id, w.prev, w.node, s.dst
           |  FROM w${i - 1} w JOIN sym s ON s.src = w.node),
           |f$i AS (SELECT c.walk_id, c.node, c.dst,
           |  CASE WHEN c.dst = c.prev THEN 1
           |       WHEN a.src IS NOT NULL THEN 2 ELSE 4 END AS wgt
           |  FROM c$i c LEFT JOIN sym a ON a.src = c.prev AND a.dst = c.dst),
           |r$i AS (SELECT walk_id, node, dst, row_number() OVER (PARTITION BY walk_id
           |  ORDER BY (${u(i)}) // wgt, dst) AS rn FROM f$i),
           |w$i AS (SELECT walk_id, node AS prev, dst AS node FROM r$i WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
         |edges0 AS (
         | SELECT a AS u, a + 1 AS v FROM b
         | UNION ALL SELECT a + 1, a + 2 FROM b
         | UNION ALL SELECT a, a + 5 FROM b
         | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
         |e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v FROM edges0),
         |sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
         |w0 AS (SELECT doc_id AS walk_id, doc_id AS prev, doc_id AS node
         |       FROM documents WHERE doc_id % 100 = 0),
         |$stepCtes
         |SELECT CAST(walk_id AS BIGINT) AS walk_id, CAST(0 AS BIGINT) AS step,
         | CAST(node AS BIGINT) AS node FROM w0
         |UNION ALL SELECT walk_id, 1, node FROM w1
         |UNION ALL SELECT walk_id, 2, node FROM w2
         |UNION ALL SELECT walk_id, 3, node FROM w3
         |UNION ALL SELECT walk_id, 4, node FROM w4""".stripMargin
    }),

    // ---- WEIGHTED PageRank on q69's trade graph with co-order
    // multiplicity as the edge weight (the DISTINCT dropped into a
    // count): rank splits proportionally over out-weights, decimal-exact
    // per-edge products. ----------------------------------------------------
    QueryCase("q352_weighted_pagerank", (s, dir) => {
      // Edge weight = co-order multiplicity. The operator's own weight
      // FOLD (groupBy(s,d).sum(w)) computes exactly that count when each
      // join row enters as w=1 — so the caller-side groupBy+count that
      // used to precede the explode was a second full exchange producing
      // the same table (r18: one Exchange+HashAggregate pair instead of
      // two in the staged edge build; w values identical by sum(1)=count).
      val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("s"), (col("l_suppkey") * 2 + 1).as("d"),
          lit(1L).as("w"))
      // explode-symmetrize — same rationale as q69_pagerank (r18); the
      // per-row weight rides along unchanged in both directions
      val e = e0.select(explode(array(
          struct(col("s"), col("d"), col("w")),
          struct(col("d").as("s"), col("s").as("d"), col("w")))).as("e"))
        .select(col("e.s").as("s"), col("e.d").as("d"), col("e.w").as("w"))
      PageRank.weightedRanksFixedPoint(e, "s", "d", "w", iterations = 3)
        .select(col("id").as("node_id"), col("rank"))
    },
    // q352: the q69 unroll with weights — per-edge product in HUGEINT
    // (mirrors the op's decimal(38,0)), floor-div by 100·wsum.
    {
      val base =
        """WITH e0 AS (
          | SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d,
          |  CAST(count(*) AS BIGINT) AS w
          | FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
          |e AS (SELECT s, d, w FROM e0 UNION ALL SELECT d AS s, s AS d, w FROM e0),
          |ws AS (SELECT s, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
          |nodes AS (SELECT DISTINCT s AS id FROM e),
          |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM nodes)""".stripMargin
      val iters = (1 to 3).map { i =>
        s""",
           |c$i AS (
           | SELECT e.d AS id,
           |  CAST(sum((CAST(r.rank AS HUGEINT) * 85 * e.w) // (100 * ws.wsum)) AS BIGINT) AS c
           | FROM e JOIN r${i - 1} r ON e.s = r.id JOIN ws ON ws.s = e.s GROUP BY 1),
           |r$i AS (
           | SELECT n.id, CAST(150000 + coalesce(c$i.c, 0) AS BIGINT) AS rank
           | FROM nodes n LEFT JOIN c$i ON n.id = c$i.id)""".stripMargin
      }.mkString
      base + iters + "\nSELECT id AS node_id, rank FROM r3"
    })
  )

  /** Co-order part pairs — the deterministic synthetic graph shared by the
    * triangle (q79) and label-propagation (q80) queries: parts appearing
    * in the same order are linked, filtered to every 4th part key to keep
    * the bench-scale pair count bounded.
    */
  private def partPairs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").where(col("l_partkey") % 4 === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    li.alias("a").hint("shuffle_hash")
      .join(li.alias("b").hint("shuffle_hash"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("a_id"), col("b.l_partkey").as("b_id"))
  }

  /** Deterministic halving DAG for q328, from doc ids: n → n div 2 for
    * every positive 10th id (chains of depth ~log₂ of the id range) plus
    * n → n−30 cross edges every 40th id. Every edge strictly decreases,
    * so acyclicity holds by construction at every scale.
    */
  private def dagPairs(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "documents")
      .where(col("doc_id") % 10 === 0 && col("doc_id") > 0)
      .select(col("doc_id").as("n"))
    b.select(col("n").as("src"), expr("n div 2").as("dst"))
      .union(b.where(col("n") % 40 === 0)
        .select(col("n").as("src"), (col("n") - 30).as("dst")))
  }

  /** Deterministic DIRECTED graph for the SCC queries, derived from doc
    * ids so the oracle rebuilds it in SQL: every 10th id anchors a
    * 3-cycle {n, n+1, n+2}; every 20th id bridges DOWNWARD n → n/2
    * (high-to-low, so no chain-of-SCCs peel depth builds up); every
    * 30th id grows a pure-DAG tail n+2 → n+5 → n+7 (trim food).
    */
  private def sccPairs(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "documents").where(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("n"))
    b.select(col("n").as("src"), (col("n") + 1).as("dst"))
      .union(b.select((col("n") + 1).as("src"), (col("n") + 2).as("dst")))
      .union(b.select((col("n") + 2).as("src"), col("n").as("dst")))
      .union(b.where(col("n") % 20 === 0 && col("n") > 0)
        .select(col("n").as("src"), expr("n div 2").as("dst")))
      .union(b.where(col("n") % 30 === 0)
        .select((col("n") + 2).as("src"), (col("n") + 5).as("dst")))
      .union(b.where(col("n") % 30 === 0)
        .select((col("n") + 5).as("src"), (col("n") + 7).as("dst")))
  }

  /** The deterministic doc-id chain graph shared by q54 and q128: edges
    * between arithmetic neighbors of every 20th doc id — engine-neutral
    * (the oracle rebuilds it in SQL), with multi-node components and
    * occasional bridges (`a % 40` rows).
    */
  private def docChainPairs(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "documents").where(col("doc_id") % 20 === 0)
      .select(col("doc_id").as("a"))
    b.select(col("a").as("a_id"), (col("a") + 1).as("b_id"))
      .union(b.select((col("a") + 1).as("a_id"), (col("a") + 2).as("b_id")))
      .union(b.select(col("a").as("a_id"), (col("a") + 5).as("b_id")))
      .union(b.where(col("a") % 40 === 0)
        .select((col("a") + 5).as("a_id"), (col("a") + 22).as("b_id")))
  }

  /** Shared recursive-closure CTE body for the [[docChainPairs]] graph —
    * q54's oracle aggregates it to components; q128's extends it with the
    * representative election. (Callers prepend `WITH RECURSIVE `.)
    */
  private val DocChainComponentsCte: String =
    """b AS (
      | SELECT doc_id AS a FROM documents WHERE doc_id % 20 = 0),
      |edges0 AS (
      | SELECT a AS u, a + 1 AS v FROM b
      | UNION ALL SELECT a + 1, a + 2 FROM b
      | UNION ALL SELECT a, a + 5 FROM b
      | UNION ALL SELECT a + 5, a + 22 FROM b WHERE a % 40 = 0),
      |edges AS (
      | SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
      |nodes AS (SELECT DISTINCT u AS id FROM edges),
      |reach(id, r) AS (
      | SELECT id, id FROM nodes
      | UNION
      | SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id)""".stripMargin

  /** Shared closure CTE for the [[sccPairs]] graph (callers prepend
    * `WITH RECURSIVE `): e0 = the derived directed edges, reach = the
    * transitive closure, mut = mutually-reachable pairs.
    */
  private val SccClosureCte: String =
    """b AS (SELECT doc_id AS n FROM documents WHERE doc_id % 10 = 0),
      |e0 AS (
      | SELECT n AS src, n + 1 AS dst FROM b
      | UNION ALL SELECT n + 1, n + 2 FROM b
      | UNION ALL SELECT n + 2, n FROM b
      | UNION ALL SELECT n, n // 2 FROM b WHERE n % 20 = 0 AND n > 0
      | UNION ALL SELECT n + 2, n + 5 FROM b WHERE n % 30 = 0
      | UNION ALL SELECT n + 5, n + 7 FROM b WHERE n % 30 = 0),
      |nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)),
      |e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
      |reach(a, d) AS (
      | SELECT src, dst FROM e
      | UNION
      | SELECT r.a, e.dst FROM reach r JOIN e ON r.d = e.src),
      |mut AS (
      | SELECT r1.a AS id, r1.d AS peer
      | FROM reach r1 JOIN reach r2 ON r1.a = r2.d AND r1.d = r2.a)""".stripMargin
}
