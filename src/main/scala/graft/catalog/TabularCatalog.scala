package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.expressions.ZOrder
import graft.ops.{AsOfJoin, Association, Attribution, Audit, Cdc, Cohort, Correlate, Enrich, Eval, Funnel, FuzzyJoin, GeoGrid, IntervalJoin, Metrics, Reshape, RuntimeFilter, Sampling, Scd, Sessionize, Sketch, Skyline, SkewJoin, Survivorship, TableDiff, TimeSeries, Transitions, Trend}
import graft.SparkEntry.{gridRadiusPoints, t}
import CatalogShared._

/** Tabular and ETL queries: aggregation, joins, windows, sessions,
  * time series, change data, sampling, audits and sketches over the
  * TPC-H and `events` tables. One [[QueryCase]] per query, in query-number
  * blocks as they were added.
  */
private[graft] object TabularCatalog {

  val cases: Seq[QueryCase] = Seq(
    // ---- aggregation (A1/A3/A5): TPC-H-Q1-shaped pricing summary --------
    QueryCase("q1_pricing_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // integer units (quantities are integral) → exact, order-independent
          // sums AND an int64-vs-float64 dtype match with the DuckDB oracle
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
            .as("sum_disc_price_cents"),
          count(lit(1)).as("cnt"))
    },
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // ---- conditional counts (A3) ----------------------------------------
    QueryCase("q2_conditional_counts", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count_if(col("event_type") === "error").as("error_count"),
          count_if(col("event_type") === "click").as("click_count"),
          count_if(col("event_type") === "signup").as("signup_count"),
          count(lit(1)).as("n_events"))
    },
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'error') AS error_count,
        | count(*) FILTER (WHERE event_type = 'click') AS click_count,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup_count,
        | count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),

    // ---- zero-fill universe (A4) ----------------------------------------
    QueryCase("q3_zero_fill", (s, dir) => {
      val events = t(s, dir, "events")
      val purchases = events.where(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("purchase_count"))
      events.select(col("user_id")).distinct()
        .join(purchases, Seq("user_id"), "left")
        .na.fill(0L, Seq("purchase_count"))
    },
      """SELECT u.user_id, coalesce(p.purchase_count, 0) AS purchase_count
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN (SELECT user_id, count(*) AS purchase_count FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id) p
        |ON u.user_id = p.user_id""".stripMargin),

    // ---- enrichment lookup join (J1) via the Enrich operator -------------
    QueryCase("q4_enrich_join", (s, dir) => {
      val orders = t(s, dir, "orders")
      val mapping = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), struct(col("c_name"), col("c_mktsegment")).as("value"))
      Enrich(orders, mapping, "o_custkey")
    },
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
        | o.o_orderdate, o.o_orderpriority, c.c_name, c.c_mktsegment
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),

    // ---- three-way correlation join + agg (J4+A3). Lineitem is partially
    // aggregated to per-order (cnt, revenue) BEFORE the join — the classic
    // push-agg-below-join: the fact-table shuffle carries one narrow row
    // per order instead of every line item, and customer broadcast-joins. --
    QueryCase("q5_threeway_join", (s, dir) => {
      val perOrder = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("__cnt"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
            .as("__rev"))
      perOrder
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("__cnt")).as("n_items"), sum(col("__rev")).as("revenue_cents"))
    },
      """SELECT c_mktsegment, count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // ---- last-write-wins dedup by explicit sequence (J5/A6) --------------
    QueryCase("q7_last_write_wins", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(struct(col("o_orderkey"), col("o_totalprice")), col("o_orderkey")).as("last"))
        .select(
          col("o_custkey"),
          col("last.o_orderkey").as("last_orderkey"),
          col("last.o_totalprice").as("last_totalprice"))
    },
      """SELECT o_custkey, o_orderkey AS last_orderkey, o_totalprice AS last_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
        |      FROM orders)
        |WHERE rn = 1""".stripMargin),

    // ---- sessionization, reference A2 reset semantics (A2/O1) ------------
    QueryCase("q8_sessionize", (s, dir) => {
      Sessionize.pairedDurations(
        t(s, dir, "events"), "user_id", unix_millis(col("ts")),
        Seq(col("ts"), col("event_id")), "event_type", "view", "purchase")
        .groupBy(col("user_id"))
        .agg(sum(col("duration")).as("session_ms"), count(lit(1)).as("n_sessions"))
    },
      """WITH e AS (SELECT user_id, ts, epoch_ms(ts) AS t, event_type, event_id FROM events),
        | m AS (SELECT user_id, t, event_type,
        |   max(CASE WHEN event_type = 'view' THEN t END) OVER
        |     (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_start,
        |   max(CASE WHEN event_type = 'purchase' THEN t END) OVER
        |     (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_end
        |  FROM e)
        |SELECT user_id, CAST(sum(t - last_start) AS BIGINT) AS session_ms, count(*) AS n_sessions
        |FROM m
        |WHERE event_type = 'purchase' AND last_start IS NOT NULL
        |  AND (last_end IS NULL OR last_start > last_end)
        |GROUP BY user_id""".stripMargin),

    // ---- per-key ordered scan / window sort (O1) -------------------------
    QueryCase("q9_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"), col("event_type").as("first_event_type"))
    },
      """SELECT user_id, event_id AS first_event_id, event_type AS first_event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events)
        |WHERE rn = 1""".stripMargin),

    // ---- timestamp math (P5/P6) ------------------------------------------
    QueryCase("q10_ts_span", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          (max(unix_millis(col("ts"))) - min(unix_millis(col("ts")))).as("span_ms"),
          count(lit(1)).as("n_events"))
    },
      """SELECT user_id, max(epoch_ms(ts)) - min(epoch_ms(ts)) AS span_ms, count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),

    // ---- JSON scalar extraction (dynamic-schema surface) -----------------
    QueryCase("q11_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k_value"))
    },
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value FROM events"),

    // ---- Z-order (Morton) encoding: the multi-dimensional clustering
    // key, as a native codegen expression (ZOrder.cluster uses it to
    // range-partition the write layout). Inputs masked to 16 bits here so
    // the oracle's BIGINT shift chain can replay the identical math. -----
    QueryCase("q68_zorder", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          ZOrder.interleave(col("l_partkey") % lit(65536L), col("l_suppkey") % lit(65536L))
            .as("zval"))
    },
      // q68: the 16-bit Morton spread chain in BIGINT (no hex literals in
      // the oracle engine; constants are 0x00FF00FF / 0x0F0F0F0F /
      // 0x33333333 / 0x55555555 in decimal). For 16-bit inputs this equals
      // the expression's 32-bit chain (ZOrderSpec pins the identity).
      """WITH a AS (
        | SELECT l_orderkey, l_linenumber,
        |  l_partkey % 65536 AS x, l_suppkey % 65536 AS y FROM lineitem),
        |b AS (SELECT l_orderkey, l_linenumber,
        |  ((x | (x << 8)) & 16711935) AS x, ((y | (y << 8)) & 16711935) AS y FROM a),
        |c AS (SELECT l_orderkey, l_linenumber,
        |  ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y FROM b),
        |d AS (SELECT l_orderkey, l_linenumber,
        |  ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y FROM c),
        |e AS (SELECT l_orderkey, l_linenumber,
        |  ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y FROM d)
        |SELECT l_orderkey, l_linenumber, CAST(x | (y << 1) AS BIGINT) AS zval FROM e""".stripMargin),

    // ---- CDC changelog apply: base ⊕ (upserts+deletes) → next snapshot.
    // The changelog collapses to last-change-per-key BEFORE touching the
    // base, so the join shuffle carries one narrow row per changed key,
    // not one per change. ------------------------------------------------
    QueryCase("q70_cdc_merge", (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("long").as("balance_cents"))
      val changes = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          when(col("o_orderstatus") === "P", lit("D")).otherwise(lit("U")).as("op"),
          round(col("o_totalprice") * 100).cast("long").as("balance_cents"))
      Cdc.applyChangelog(base, changes, "c_custkey", "o_orderkey", "op", Seq("balance_cents"))
    },
      // q70: arg_max twice with the same ordering ≡ Spark's single
      // max_by(struct) — unique o_orderkey makes both deterministic.
      """WITH last AS (
        | SELECT o_custkey AS c_custkey,
        |  arg_max(CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END, o_orderkey) AS op,
        |  arg_max(CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey) AS ch_cents,
        |  count(*) AS n_changes
        | FROM orders GROUP BY 1),
        |b AS (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS b_cents FROM customer)
        |SELECT coalesce(b.c_custkey, l.c_custkey) AS c_custkey,
        | coalesce(l.ch_cents, b.b_cents) AS balance_cents,
        | CAST(coalesce(l.n_changes, 0) AS BIGINT) AS n_changes
        |FROM b FULL OUTER JOIN last l ON b.c_custkey = l.c_custkey
        |WHERE l.op IS NULL OR l.op <> 'D'""".stripMargin),

    // ---- hopping (sliding) window aggregation: size 2h / slide 1h, each
    // event expands map-side into its two covering windows, then a plain
    // hash agg on (window, type) — no state, no sort. --------------------
    QueryCase("q71_sliding_window", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("w.start")).as("w_start_ms"), col("event_type"), col("n"))
    },
      // q71: a 2h/1h hopping window covers each event at exactly
      // {trunc_hour(ts), trunc_hour(ts) − 1h} — the union replays Spark's
      // epoch-aligned window() expansion.
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
        |w AS (
        | SELECT h AS ws, event_type FROM e
        | UNION ALL
        | SELECT h - INTERVAL 1 HOUR AS ws, event_type FROM e)
        |SELECT epoch_ms(ws) AS w_start_ms, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin),

    // ---- bloom-filter runtime filter: fact rows pruned map-side against
    // the dim key set before the exact semi-join (Spark's own bloom
    // expressions). No false negatives ⇒ result is exactly the semi-join;
    // the pre-filter only cuts the fact-side shuffle volume. --------------
    QueryCase("q72_bloom_prune", (s, dir) => {
      val dim = t(s, dir, "supplier").where(col("s_nationkey") < 5)
      RuntimeFilter.bloomSemiJoin(t(s, dir, "lineitem"), dim, "l_suppkey", "s_suppkey",
        expectedItems = 4096)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    },
      // q72: the bloom pre-filter is an exact no-op on the result — the
      // oracle is the plain semi-join.
      """SELECT l_suppkey, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey < 5)
        |GROUP BY 1""".stripMargin),

    // ---- ranking family: rank / percent_rank / cume_dist / ntile within
    // nation — partitioned windows, so no global single-reducer sort (the
    // global-ordering variant is q40's bounded top-k). ntile/row-number
    // take an id tiebreak for a total order; rank/percent_rank/cume_dist
    // are value-based and tie-stable. Long casts keep driver dtypes
    // aligned with DuckDB's BIGINT window outputs. ------------------------
    QueryCase("q73_ranks", (s, dir) => {
      val rev = t(s, dir, "lineitem").groupBy(col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val j = rev.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      val byVal = Window.partitionBy(col("s_nationkey")).orderBy(col("rev_cents"))
      val total = Window.partitionBy(col("s_nationkey")).orderBy(col("rev_cents"), col("l_suppkey"))
      j.select(col("s_nationkey"), col("l_suppkey"), col("rev_cents"),
        rank().over(byVal).cast("long").as("rnk"),
        percent_rank().over(byVal).as("pct_rank"),
        cume_dist().over(byVal).as("cdist"),
        ntile(4).over(total).cast("long").as("quartile"))
    },
      """WITH rev AS (
        | SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        | FROM lineitem GROUP BY 1)
        |SELECT s_nationkey, l_suppkey, rev_cents,
        | rank() OVER v AS rnk,
        | percent_rank() OVER v AS pct_rank,
        | cume_dist() OVER v AS cdist,
        | ntile(4) OVER (PARTITION BY s_nationkey ORDER BY rev_cents, l_suppkey) AS quartile
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WINDOW v AS (PARTITION BY s_nationkey ORDER BY rev_cents)""".stripMargin),

    // ---- ordered funnel: staged min-after-previous aggregation (k narrow
    // shuffles for k steps, one row per entity each — no window sort, no
    // per-entity state; the A2 start/end pairing generalized to chains). --
    QueryCase("q75_funnel", (s, dir) => {
      Funnel.counts(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
    },
      // q75: the same staged min-after-previous chain; count(t_i) counts
      // completers because t_i is null for entities stuck before step i.
      """WITH s1 AS (
        | SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        | SELECT s1.user_id, min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
        | FROM s1 LEFT JOIN events e
        |  ON e.user_id = s1.user_id AND e.event_type = 'click'
        | GROUP BY 1),
        |s3 AS (
        | SELECT s2.user_id, min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
        | FROM s2 LEFT JOIN events e
        |  ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        | GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, count(t1) AS n_entities FROM s1
        |UNION ALL
        |SELECT 2, 'click', count(t2) FROM s2
        |UNION ALL
        |SELECT 3, 'purchase', count(t3) FROM s3""".stripMargin),

    // ---- throttle-dedup (debounce): drop same-key events closer than the
    // gap to their predecessor — one window, lag-based, full codegen. ----
    QueryCase("q76_debounce", (s, dir) => {
      TimeSeries.debounce(t(s, dir, "events"), Seq("user_id", "event_type"), "ts",
        minGapMs = 60000L, tiebreaks = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("ts")).as("ts_ms"))
    },
      """SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms FROM (
        | SELECT *, lag(epoch_ms(ts)) OVER (
        |   PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
        | FROM events)
        |WHERE prev IS NULL OR epoch_ms(ts) - prev >= 60000""".stripMargin),

    // ---- per-supplier revenue trend: least-squares slope as exact
    // integer (numerator, denominator, sign) — regr_slope without float
    // merge-order drift; one narrow two-level aggregation. ---------------
    QueryCase("q81_linear_trend", (s, dir) => {
      val monthly = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate"))).cast("long").as("xm"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("y"))
      Trend.linear(monthly, Seq("l_suppkey"), col("xm"), col("y"))
    },
      """WITH m AS (
        | SELECT l_suppkey,
        |  CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS xm,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y
        | FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, count(*) AS n,
        | CAST(count(*) * sum(xm * y) - sum(xm) * sum(y) AS BIGINT) AS slope_num,
        | CAST(count(*) * sum(xm * xm) - sum(xm) * sum(xm) AS BIGINT) AS slope_den,
        | CAST(sign(count(*) * sum(xm * y) - sum(xm) * sum(y)) AS BIGINT) AS trend
        |FROM m GROUP BY 1""".stripMargin),

    // ---- navigation window functions: per-user first/last/2nd event via
    // one partitioned sort, collapsed to a single row per user. ----------
    QueryCase("q82_nav_windows", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"),
          first(col("event_type")).over(wf).as("first_type"),
          last(col("event_type")).over(wf).as("last_type"),
          nth_value(col("event_id"), 2).over(wf).as("second_event_id"),
          row_number().over(w).as("__rn"))
        .where(col("__rn") === 1)
        .drop("__rn")
    },
      """SELECT user_id, first_type, last_type, second_event_id FROM (
        | SELECT user_id,
        |  first_value(event_type) OVER wf AS first_type,
        |  last_value(event_type) OVER wf AS last_type,
        |  nth_value(event_id, 2) OVER wf AS second_event_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events
        | WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |WHERE rn = 1""".stripMargin),

    // ---- SCD type-2 history: ordered change log → validity intervals,
    // one shuffle, both windows on one sort. epoch-ms integers out so the
    // cross-engine compare never sees timestamp dtype drift. --------------
    QueryCase("q65_scd2", (s, dir) => {
      Scd.history(t(s, dir, "events"), "user_id", "ts", Seq("event_type"), Seq("event_id"))
        .select(col("user_id"), unix_millis(col("valid_from")).as("valid_from_ms"),
          unix_millis(col("valid_to")).as("valid_to_ms"),
          col("event_type"), col("is_current"))
    },
      // q65: identical lag/lead change detection. CAST(ts AS TIMESTAMP)
      // floors DuckDB's ns-precision read to µs exactly like our scan does.
      """WITH e AS (
        | SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (
        | SELECT user_id, ts, event_id, event_type,
        |  (event_type IS DISTINCT FROM lag(event_type)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS chg
        | FROM e),
        |k AS (SELECT user_id, ts, event_id, event_type FROM x WHERE chg)
        |SELECT user_id, epoch_ms(ts) AS valid_from_ms,
        | epoch_ms(lead(ts) OVER w) AS valid_to_ms, event_type,
        | (lead(ts) OVER w IS NULL) AS is_current
        |FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // ---- native session_window aggregation: gap-based sessions as a
    // plain merging aggregate (the batch twin of streaming sessionize). --
    QueryCase("q66_session_window", (s, dir) => {
      Sessionize.sessionWindows(t(s, dir, "events"), "user_id", "ts", "30 minutes")
        .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"), col("n_events"))
    },
      // q66: gaps-and-islands replay of session_window — break STRICTLY
      // after prev + gap: the engine merges an event landing exactly on the
      // session close (inclusive merge, pinned by TemporalOpsSpec).
      """WITH e AS (
        | SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |        OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        | SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, epoch_ms(min(ts)) AS start_ms,
        | epoch_ms(max(ts)) + 1800000 AS end_ms, CAST(count(*) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin),

    // ---- bucketized point-in-interval join: non-equi range match turned
    // into a bucket equi-join + exact filter (no nested-loop against a
    // large interval set). ------------------------------------------------
    QueryCase("q67_interval_join", (s, dir) => {
      val iv = t(s, dir, "orders").where(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderdate").as("iv_start"),
          (col("o_orderdate") + expr("INTERVAL 2 DAYS")).as("iv_end"))
      val pts = t(s, dir, "lineitem").where(col("l_orderkey") % 10 === 0)
        .select(col("l_shipdate"))
      IntervalJoin.pointsInIntervals(iv, "iv_start", "iv_end", pts, "l_shipdate", 2 * 86400L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_points"))
    },
      // q67: plain inequality join — the oracle pays the O(n·m) plan our
      // bucketized equi-join avoids.
      """WITH iv AS (
        | SELECT o_orderkey, o_orderdate AS s, o_orderdate + INTERVAL 2 DAY AS e
        | FROM orders WHERE o_orderkey % 100 = 0),
        |pt AS (SELECT l_shipdate FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_points
        |FROM iv JOIN pt ON pt.l_shipdate >= iv.s AND pt.l_shipdate < iv.e
        |GROUP BY 1""".stripMargin),

    // ---- weighted deterministic sampling: keep orders with probability
    // proportional to price (clamped) — the corpus-reweighting primitive,
    // md5-coin-flipped so DuckDB replays the exact selected set. ---------
    QueryCase("q63_weighted_sample", (s, dir) => {
      Sampling.weighted(t(s, dir, "orders"), "o_orderkey",
        col("o_totalprice") / 500000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      // q63: identical md5-bucket coin and clamped-weight threshold.
      s"""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE ${bucketOracle("o_orderkey")} <
        |  ceil(least(greatest(o_totalprice / 500000.0, 0.0), 1.0) * 256)""".stripMargin),

    // ---- time-series regularization: per-customer monthly spine, gap
    // months zero-filled, last-observation-carried-forward value. Spine
    // generated per key with sequence() (bounded by the key's own span —
    // no global-calendar cross join). ------------------------------------
    QueryCase("q62_gap_fill", (s, dir) => {
      val filled = TimeSeries.gapFillMonthlyCounts(
        t(s, dir, "orders"), "o_custkey", "o_orderdate",
        round(col("o_totalprice") * 100).cast("long"))
        .withColumn("__v", when(col("n_obs") > 0, col("cents")))
      TimeSeries.forwardFill(filled, "o_custkey", "month", "__v")
        .select(col("o_custkey"), date_format(col("month"), "yyyy-MM").as("month"),
          col("n_obs"), col("cents"), col("__v").as("last_cents"))
    },
      // q62: generate_series replays sequence(); last_value IGNORE NULLS
      // replays last(ignoreNulls) over the same frame.
      """WITH m AS (
        | SELECT o_custkey, date_trunc('month', o_orderdate) AS month,
        |  count(*) AS n, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2),
        |sp AS (
        | SELECT o_custkey, unnest(generate_series(date_trunc('month', min(o_orderdate)),
        |   date_trunc('month', max(o_orderdate)), INTERVAL 1 MONTH)) AS month
        | FROM orders GROUP BY o_custkey),
        |j AS (
        | SELECT sp.o_custkey, sp.month,
        |  coalesce(m.n, 0) AS n_obs, coalesce(m.cents, 0) AS cents,
        |  CASE WHEN m.n > 0 THEN m.cents END AS v
        | FROM sp LEFT JOIN m ON sp.o_custkey = m.o_custkey AND sp.month = m.month)
        |SELECT o_custkey, strftime(month, '%Y-%m') AS month,
        | CAST(n_obs AS BIGINT) AS n_obs, CAST(cents AS BIGINT) AS cents,
        | CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY month
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS last_cents
        |FROM j""".stripMargin),

    // ---- quota sampling: exactly n rows per stratum, selected in md5(id)
    // order — deterministic corpus-composition caps (per domain/language/
    // source). md5 hex ordering is engine-portable, so DuckDB replays the
    // exact selected set. -------------------------------------------------
    QueryCase("q58_quota_sample", (s, dir) => {
      Sampling.exactPerGroup(t(s, dir, "orders"), "o_orderpriority", "o_orderkey", n = 40)
        .select(col("o_orderkey"), col("o_orderpriority"))
    },
      // q58: same md5-hex selection order; row_number ties impossible
      // (distinct keys → distinct digests).
      """SELECT o_orderkey, o_orderpriority FROM (
        | SELECT o_orderkey, o_orderpriority,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS rk
        | FROM orders) WHERE rk <= 40""".stripMargin),

    // ---- anti join: orders with no deeply-discounted line item -----------
    QueryCase("q25_anti_join", (s, dir) => {
      t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem").where(col("l_discount") > 0.05),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)""".stripMargin),

    // ---- semi join: orders with a deeply-discounted line item ------------
    QueryCase("q26_semi_join", (s, dir) => {
      t(s, dir, "orders")
        .join(
          t(s, dir, "lineitem").where(col("l_discount") > 0.05),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)""".stripMargin),

    // ---- rollup: subtotals + grand total in one pass ---------------------
    QueryCase("q27_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // ---- lag window: max inter-event gap per user ------------------------
    QueryCase("q28_lag_gap", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("__gap", unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("__gap")).as("max_gap_ms"), count(lit(1)).as("n_events"))
    },
      """WITH g AS (SELECT user_id,
        |  epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        | FROM events)
        |SELECT user_id, max(gap) AS max_gap_ms, count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin),

    // ---- top-k per group: 3 highest-value orders per market segment ------
    QueryCase("q30_topk_per_group", (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"), col("o_totalprice"))
    },
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        | SELECT c_mktsegment, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3""".stripMargin),

    // ---- histogram binning: order-value distribution ---------------------
    QueryCase("q31_histogram", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin, count(*) AS n_orders
        |FROM orders GROUP BY 1""".stripMargin),

    // ---- data-quality profile: nulls / distincts / bounds in one pass ----
    QueryCase("q32_profile", (s, dir) => {
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        count_distinct(col("o_custkey")).as("n_customers"),
        count_if(col("o_orderstatus").isNull).as("null_status"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    },
      """SELECT count(*) AS n_rows,
        | count(DISTINCT o_custkey) AS n_customers,
        | count(*) FILTER (WHERE o_orderstatus IS NULL) AS null_status,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders""".stripMargin),

    // ---- as-of join: most recent view at-or-before each purchase ---------
    // (single-shuffle union+window AsOfJoin operator; oracle is DuckDB's
    // native ASOF JOIN — gap_ms is tie-insensitive by construction)
    QueryCase("q33_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"))
      AsOfJoin.backward(purchases, views, "user_id", "ts", "v_ts", Seq("v_ts"))
        .select(col("event_id"), col("user_id"),
          (unix_millis(col("ts")) - unix_millis(col("v_ts"))).as("gap_ms"))
    },
      """SELECT p.event_id, p.user_id, epoch_ms(p.ts) - epoch_ms(v.ts) AS gap_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin),

    // ---- range-band join: broadcast inequality join onto a tiny dim ------
    QueryCase("q34_range_band", (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("budget", 0L, 100000L), ("mid", 100000L, 250000L),
        ("premium", 250000L, 400000L), ("luxury", 400000L, 1000000L))
        .toDF("band", "lo", "hi")
      t(s, dir, "orders")
        .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    },
      """SELECT band, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |JOIN (VALUES ('budget', 0, 100000), ('mid', 100000, 250000),
        |             ('premium', 250000, 400000), ('luxury', 400000, 1000000)) b(band, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band""".stripMargin),

    // ---- cumulative window: running revenue per customer -----------------
    QueryCase("q35_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("running_cents"))
    },
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS running_cents
        |FROM orders""".stripMargin),

    // ---- exact quartiles per priority class ------------------------------
    // (integer cents → the linear interpolation a + (b-a)*frac is exact in
    // doubles at frac ∈ {0, .25, .5, .75}, so Spark percentile() and DuckDB
    // quantile_cont() agree bit-for-bit)
    // SCALE CAVEAT: exact percentile buffers every group's values in the
    // aggregation buffer — at 100 TB each priority group's cents column
    // sits on a single reducer. Kept for oracle parity with quantile_cont;
    // the scale path is q53_quartiles_approx (bounded GK sketch).
    QueryCase("q36_quartiles", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(cents, 0.25)").as("p25"),
          expr("percentile(cents, 0.5)").as("p50"),
          expr("percentile(cents, 0.75)").as("p75"),
          count(lit(1)).as("n_orders"))
    },
      """WITH c AS (SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderpriority,
        | quantile_cont(cents, 0.25) AS p25,
        | quantile_cont(cents, 0.5) AS p50,
        | quantile_cont(cents, 0.75) AS p75,
        | count(*) AS n_orders
        |FROM c GROUP BY o_orderpriority""".stripMargin),

    // ---- approx quartiles: the 100 TB path. GK sketch, O(accuracy) memory
    // per group however large the group; one pass, mergeable partials. With
    // group cardinality below `accuracy` the sketch's rank error ε·n < 1,
    // so the result is EXACTLY the discrete quantile (partitioning-
    // independent) and DuckDB quantile_disc oracles it value-exact; above
    // it (e.g. the sf0.1 bench) answers degrade gracefully to ±ε·n ranks. -
    QueryCase("q53_quartiles_approx", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("approx_percentile(cents, array(0.25, 0.5, 0.75), 10000)").as("q"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"),
          col("q").getItem(0).as("p25"),
          col("q").getItem(1).as("p50"),
          col("q").getItem(2).as("p75"),
          col("n_orders"))
    },
      // q53: at sf0.01 every group is smaller than the sketch accuracy, so
      // approx_percentile is exactly the discrete quantile — quantile_disc
      // reproduces it value-for-value (verified empirically, 15/15 cells).
      """WITH c AS (SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderpriority,
        | quantile_disc(cents, 0.25) AS p25,
        | quantile_disc(cents, 0.5) AS p50,
        | quantile_disc(cents, 0.75) AS p75,
        | count(*) AS n_orders
        |FROM c GROUP BY o_orderpriority""".stripMargin),

    // ---- set ops: intersect / except / union in one result ---------------
    QueryCase("q37_setops", (s, dir) => {
      val ev = t(s, dir, "events")
      val viewers = ev.where(col("event_type") === "view").select("user_id").distinct()
      val buyers = ev.where(col("event_type") === "purchase").select("user_id").distinct()
      viewers.intersect(buyers).withColumn("rel", lit("both"))
        .union(viewers.except(buyers).withColumn("rel", lit("view_only")))
    },
      """WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        | p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, 'both' AS rel FROM (SELECT user_id FROM v INTERSECT SELECT user_id FROM p)
        |UNION ALL
        |SELECT user_id, 'view_only' AS rel FROM (SELECT user_id FROM v EXCEPT SELECT user_id FROM p)""".stripMargin),

    // ---- pivot: event-type counts as columns (A3 is a fixed 3-way pivot;
    // this is the general form with an explicit value list — never pivot on
    // discovered values at scale, that's an extra pass + unstable schema) --
    QueryCase("q38_pivot", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
    },
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'view') AS view,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin),

    // ---- cube: all grouping-set combinations + grouping_id ---------------
    QueryCase("q39_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    },
      """SELECT o_orderpriority, o_orderstatus,
        | GROUPING(o_orderpriority, o_orderstatus) AS gid,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin),

    // ---- global top-k: TakeOrderedAndProject, not a full sort ------------
    QueryCase("q40_global_topk", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // ---- calendar rollup: revenue per month (date_trunc + format) --------
    QueryCase("q41_monthly_revenue", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
    },
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders GROUP BY 1""".stripMargin),

    // ---- salted skew join: same result set as the plain join oracle, but
    // the hot key spreads across nSalts reducers --------------------------
    QueryCase("q42_salted_join", (s, dir) => {
      SkewJoin.salted(t(s, dir, "lineitem"), t(s, dir, "orders"), "l_orderkey", "o_orderkey",
          saltCols = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    },
      """SELECT o_orderpriority, count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // ---- approx distinct (HLL++) next to exact. The raw sketch estimate is
    // engine-specific, so the oracled surface is the exact count plus the
    // sketch's error CONTRACT (|approx−exact| ≤ 5%·exact ⇔ rsd spec) as a
    // boolean the oracle pins to TRUE; OpsSpec additionally asserts the
    // ±5% bound on the raw estimate. ---------------------------------------
    QueryCase("q43_approx_distinct", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id")).as("__approx"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("approx_within_5pct"))
    },
      // q43: the raw HLL estimate is engine-specific; the oracled contract is
      // the exact count plus "estimate within the 5% rsd spec" pinned TRUE.
      """SELECT event_type,
        | count(DISTINCT user_id) AS exact_users,
        | TRUE AS approx_within_5pct
        |FROM events GROUP BY event_type""".stripMargin),

    // ---- VARIANT (Spark 4): the true dynamic-schema surface — parse once,
    // extract typed fields lazily (vs q11's per-path get_json_object) ------
    QueryCase("q45_variant", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"), parse_json(col("props")).as("__v"))
        .select(col("event_id"),
          try_variant_get(col("__v"), "$.k", "long").as("k_value"))
    },
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_value
        |FROM events""".stripMargin),

    // ---- range-frame window: trailing 7-day revenue per customer ---------
    // (RANGE frame over epoch seconds — value-based, not row-based)
    QueryCase("q46_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("__epoch"))
        .rangeBetween(-7L * 24 * 3600, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("__epoch", unix_timestamp(col("o_orderdate")))
        .withColumn("trailing_7d_cents",
          sum(round(col("o_totalprice") * 100).cast("long")).over(w))
        .groupBy(col("o_custkey"))
        .agg(max(col("trailing_7d_cents")).as("peak_7d_cents"))
    },
      """WITH t AS (SELECT o_custkey, epoch(o_orderdate) AS e,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, max(trailing_7d_cents) AS peak_7d_cents FROM (
        |  SELECT o_custkey,
        |   CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY e
        |     RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_7d_cents
        |  FROM t) GROUP BY o_custkey""".stripMargin),

    // ---- deterministic stratified sampling: md5-bucket membership is a
    // pure function of the id — reproducible at any parallelism, map-only,
    // no RNG state (vs sampleBy's seed/partitioning dependence) ------------
    QueryCase("q48_stratified_sample", (s, dir) => {
      Sampling.stratified(t(s, dir, "events"), "event_type", "event_id",
          Map("view" -> 0.1, "click" -> 0.5))
        .select(col("event_id"), col("user_id"), col("event_type"))
    },
      s"""SELECT event_id, user_id, event_type FROM events
        |WHERE ${bucketOracle("event_id")}
        |  < CASE event_type WHEN 'view' THEN ${Sampling.threshold(0.1)}
        |                    WHEN 'click' THEN ${Sampling.threshold(0.5)}
        |                    ELSE 256 END""".stripMargin),

    // ---- arbitrary GROUPING SETS (beyond rollup/cube's fixed lattices):
    // one pass, Expand feeds a single hash agg ----------------------------
    QueryCase("q51_grouping_sets", (s, dir) => {
      val o = t(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    },
      """SELECT o_orderstatus, o_orderpriority,
        | GROUPING(o_orderstatus, o_orderpriority) AS gid,
        | count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin),

    // ---- cohort retention: first-activity-period cohorts × age, one
    // window shuffle on the entity key, no join. --------------------------
    QueryCase("q83_cohort_retention", (s, dir) =>
      Cohort.retention(t(s, dir, "orders"), "o_custkey",
        year(col("o_orderdate")) * 12 + month(col("o_orderdate"))),
      """WITH o AS (
        | SELECT o_custkey,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
        | FROM orders),
        |c AS (SELECT o_custkey, m, min(m) OVER (PARTITION BY o_custkey) AS cohort FROM o)
        |SELECT cohort, m - cohort AS age,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active
        |FROM c GROUP BY 1, 2""".stripMargin),

    // ---- first-order Markov transitions over per-user event sequences:
    // the lag-window sort + two narrow count aggs. ------------------------
    QueryCase("q85_transitions", (s, dir) =>
      Transitions.matrix(t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id"))),
      """WITH p AS (
        | SELECT event_type AS to_state,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_state
        | FROM events),
        |n AS (SELECT from_state, to_state, count(*) AS n FROM p
        |      WHERE from_state IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_state, sum(n) AS total FROM n GROUP BY 1)
        |SELECT n.from_state, n.to_state, CAST(n.n AS BIGINT) AS n,
        | CAST(floor(1000000 * n.n / t.total) AS BIGINT) AS p_ppm
        |FROM n JOIN t USING (from_state)""".stripMargin),

    // ---- blocked fuzzy match (entity resolution): (noun, adjective-
    // initial) blocking key + codegen levenshtein verify — Σ|block|²
    // comparisons instead of all-pairs. -----------------------------------
    QueryCase("q86_fuzzy_block", (s, dir) =>
      // Even-key slice: the 2-word vocab yields only ~64 blocks, so the
      // candidate-pair count is quadratic in table size (~3M pairs at
      // sf0.1 unsliced) — the slice keeps the bench query's work
      // representative without drowning it in pair output. Blocks here
      // are BALANCED, so saltBuckets stays 1 (the grid salt is for
      // skewed blocks; measured neutral-to-negative on uniform ones).
      FuzzyJoin.selfPairs(t(s, dir, "part").where(col("p_partkey") % 2 === 0),
        "p_partkey", "p_name",
        concat_ws("|", split(col("p_name"), " ")(1), substring(split(col("p_name"), " ")(0), 1, 1)),
        maxDist = 3),
      """WITH p AS (
        | SELECT p_partkey AS id, p_name AS name,
        |  string_split(p_name, ' ')[2] || '|' || substring(string_split(p_name, ' ')[1], 1, 1) AS block
        | FROM part WHERE p_partkey % 2 = 0)
        |SELECT a.id AS a_id, b.id AS b_id, a.name AS a_name, b.name AS b_name,
        | CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM p a JOIN p b ON a.block = b.block AND a.id < b.id
        | AND abs(length(a.name) - length(b.name)) <= 3
        |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin),

    // ---- keyed snapshot reconciliation: added/removed/changed + column
    // mask from one full outer join. Both snapshots derive
    // deterministically from `orders` so the oracle replays them. ---------
    QueryCase("q91_table_diff", (s, dir) => {
      val base = t(s, dir, "orders").select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"), col("o_orderstatus"))
      val oldSnap = base.where(col("o_orderkey") % 7 =!= 0)
      val newSnap = base.where(col("o_orderkey") % 11 =!= 0)
        .withColumn("cents",
          when(col("o_orderkey") % 5 === 0, col("cents") + 1000).otherwise(col("cents")))
      TableDiff.diff(oldSnap, newSnap, Seq("o_orderkey"), Seq("cents", "o_orderstatus"))
    },
      """WITH base AS (
        | SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderstatus
        | FROM orders),
        |o AS (SELECT *, TRUE AS in_old FROM base WHERE o_orderkey % 7 <> 0),
        |n AS (
        | SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 5 = 0 THEN cents + 1000 ELSE cents END AS cents,
        |  o_orderstatus, TRUE AS in_new
        | FROM base WHERE o_orderkey % 11 <> 0),
        |j AS (
        | SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  o.in_old, n.in_new,
        |  concat_ws(',',
        |   CASE WHEN o.cents IS DISTINCT FROM n.cents THEN 'cents' END,
        |   CASE WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'o_orderstatus' END
        |  ) AS cc
        | FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey,
        | CASE WHEN in_old IS NULL THEN 'added'
        |      WHEN in_new IS NULL THEN 'removed'
        |      WHEN cc <> '' THEN 'changed' END AS change,
        | CASE WHEN in_old IS NOT NULL AND in_new IS NOT NULL THEN cc ELSE '' END AS changed_cols
        |FROM j
        |WHERE in_old IS NULL OR in_new IS NULL OR cc <> ''""".stripMargin),

    // ---- last-touch attribution: purchases as-of-joined back to the
    // latest preceding click/view (7-day lookback), revenue rolled up per
    // touch channel — one AsOfJoin shuffle + one narrow agg. --------------
    QueryCase("q92_attribution", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_millis(col("ts")).as("p_ms"),
          round(col("value") * 100).cast("long").as("revenue_cents"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("event_type").as("touch_type"), unix_millis(col("ts")).as("t_ms"))
      AsOfJoin.backward(purchases, touches, "user_id", "p_ms", "t_ms",
          Seq("touch_id", "touch_type", "t_ms"), inner = true, tieBreak = Seq("touch_id"))
        .where(col("p_ms") - col("t_ms") <= 7L * 86400 * 1000)
        .groupBy("touch_type")
        .agg(count(lit(1)).as("n_purchases"), sum("revenue_cents").as("attributed_cents"))
    },
      """WITH p AS (
        | SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS p_ms,
        |  CAST(round(value * 100) AS BIGINT) AS revenue_cents
        | FROM events WHERE event_type = 'purchase'),
        |t AS (
        | SELECT user_id, event_id AS touch_id, event_type AS touch_type, epoch_ms(ts) AS t_ms
        | FROM events WHERE event_type IN ('click', 'view')),
        |j AS (
        | SELECT p.purchase_id, p.p_ms, p.revenue_cents, t.touch_type, t.t_ms,
        |  row_number() OVER (PARTITION BY p.user_id, p.purchase_id
        |                     ORDER BY t.t_ms DESC, t.touch_id DESC) AS rn
        | FROM p JOIN t ON p.user_id = t.user_id AND t.t_ms <= p.p_ms)
        |SELECT touch_type, count(*) AS n_purchases,
        | CAST(sum(revenue_cents) AS BIGINT) AS attributed_cents
        |FROM j WHERE rn = 1 AND p_ms - t_ms <= 604800000 GROUP BY 1""".stripMargin),

    // ---- share-of-total (ratio-to-report): nation revenue as ppm of its
    // region — agg-below-join, broadcast dims, window over 25 rows. -------
    QueryCase("q95_share_of_total", (s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val dims = t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      val perNation = perCust
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "r_name").agg(sum("cents").as("nation_cents"))
      val w = Window.partitionBy(col("r_name"))
      perNation
        .withColumn("region_cents", sum(col("nation_cents")).over(w))
        .withColumn("share_ppm",
          floor(lit(1000000L) * col("nation_cents") / col("region_cents")))
    },
      """WITH pc AS (
        | SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        | FROM orders GROUP BY 1),
        |pn AS (
        | SELECT n_name, r_name, CAST(sum(cents) AS BIGINT) AS nation_cents
        | FROM pc
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY 1, 2)
        |SELECT n_name, r_name, nation_cents,
        | CAST(sum(nation_cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
        | CAST(floor(1000000 * nation_cents /
        |            sum(nation_cents) OVER (PARTITION BY r_name)) AS BIGINT) AS share_ppm
        |FROM pn""".stripMargin),

    // ---- declarative data-quality audit: completeness + uniqueness +
    // range checks in ONE scan, pivoted to one row per check. -------------
    QueryCase("q96_quality_audit", (s, dir) =>
      Audit.constraints(t(s, dir, "orders"),
        notNullCols = Seq("o_custkey", "o_orderdate"),
        uniqueCols = Seq("o_orderkey"),
        ranges = Seq(("o_totalprice_cents",
          round(col("o_totalprice") * 100).cast("long"), 0L, 100000000L))),
      """WITH a AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v3,
        |  CAST(sum(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) < 0
        |                  OR CAST(round(o_totalprice * 100) AS BIGINT) > 100000000
        |                THEN 1 ELSE 0 END) AS BIGINT) AS v4
        | FROM orders)
        |SELECT 'not_null' AS "check", 'o_custkey' AS "column", v1 AS violations, n AS n_rows, v1 = 0 AS pass FROM a
        |UNION ALL
        |SELECT 'not_null', 'o_orderdate', v2, n, v2 = 0 FROM a
        |UNION ALL
        |SELECT 'unique', 'o_orderkey', v3, n, v3 = 0 FROM a
        |UNION ALL
        |SELECT 'range', 'o_totalprice_cents', v4, n, v4 = 0 FROM a""".stripMargin),

    // ---- order-independent replication checksum per group: 40-bit md5
    // fingerprints combined by SUM and XOR — partitioning-invariant. ------
    QueryCase("q97_group_checksum", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Audit.groupChecksum(li, Seq("l_returnflag"),
        Seq("l_orderkey", "l_linenumber", "qty", "cents"))
    }, {
      val row = "concat_ws('|', l_orderkey, l_linenumber, qty, cents)"
      s"""WITH li AS (
         | SELECT l_returnflag, l_orderkey, l_linenumber,
         |  CAST(l_quantity AS BIGINT) AS qty,
         |  CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         | FROM lineitem),
         |fp AS (SELECT l_returnflag,
         |  CAST(${hexPrefixOracle(s"md5($row)", 10)} AS BIGINT) AS f FROM li)
         |SELECT l_returnflag, count(*) AS n_rows,
         | CAST(sum(f) AS BIGINT) AS checksum_sum,
         | CAST(bit_xor(f) AS BIGINT) AS checksum_xor
         |FROM fp GROUP BY 1""".stripMargin
    }),

    // ---- exact lower weighted median (price weighted by quantity) via a
    // cumulative-weight window over pre-aggregated distinct values. -------
    QueryCase("q98_weighted_median", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      Metrics.weightedMedian(li, Seq("l_returnflag"), "cents", "qty")
    },
      """WITH pv AS (
        | SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        | FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |  CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS BIGINT) AS cum,
        |  CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        | FROM pv)
        |SELECT l_returnflag,
        | CAST(min(CASE WHEN 2 * cum >= tot THEN cents END) AS BIGINT) AS weighted_median,
        | CAST(max(tot) AS BIGINT) AS total_weight
        |FROM c GROUP BY 1""".stripMargin),

    // ---- one-pass sufficient statistics (n, Σx, Σy, Σx², Σxy, Σy²) for
    // covariance/correlation per group — dollars not cents for Σy² room. --
    QueryCase("q100_suffstats", (s, dir) =>
      Metrics.suffStats(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_quantity"), round(col("l_extendedprice"))),
      """SELECT l_returnflag, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_x,
        | CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_y,
        | CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_xx,
        | CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_xy,
        | CAST(sum(CAST(round(l_extendedprice) AS BIGINT) * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_yy
        |FROM lineitem GROUP BY 1""".stripMargin),

    // ---- 2-D skyline over per-part aggregates (minimize best price,
    // maximize total quantity) — bucketed local frontiers, then global. ---
    QueryCase("q101_skyline", (s, dir) => {
      val perPart = t(s, dir, "lineitem").groupBy(col("l_partkey"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("min_cents"),
          sum(col("l_quantity").cast("long")).as("total_qty"))
      Skyline.frontier2d(perPart, "min_cents", "total_qty")
    },
      """WITH p AS (
        | SELECT l_partkey,
        |  CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS min_cents,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        | FROM lineitem GROUP BY 1)
        |SELECT a.l_partkey, a.min_cents, a.total_qty FROM p a
        |WHERE NOT EXISTS (
        | SELECT 1 FROM p b
        | WHERE b.min_cents <= a.min_cents AND b.total_qty >= a.total_qty
        |  AND (b.min_cents < a.min_cents OR b.total_qty > a.total_qty))""".stripMargin),

    // ---- equi-depth histogram: 10 equal-frequency price buckets per
    // return flag; unique tiebreak keys make ntile engine-portable. -------
    QueryCase("q102_equidepth", (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_orderkey"), col("l_linenumber"))
      Metrics.equiDepth(li, Seq("l_returnflag"), "cents",
        Seq(col("l_orderkey"), col("l_linenumber")), k = 10)
    },
      """WITH li AS (
        | SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |  l_orderkey, l_linenumber
        | FROM lineitem),
        |b AS (SELECT l_returnflag, cents,
        |  CAST(ntile(10) OVER (PARTITION BY l_returnflag
        |                       ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS bucket
        | FROM li)
        |SELECT l_returnflag, bucket, CAST(min(cents) AS BIGINT) AS lo,
        | CAST(max(cents) AS BIGINT) AS hi, count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin),

    // ---- sorted-neighborhood blocking: rank-adjacent candidate pairs
    // within digit-prefix blocks of the customer names. -------------------
    QueryCase("q104_sorted_neighborhood", (s, dir) =>
      FuzzyJoin.sortedNeighborhood(t(s, dir, "customer"), "c_custkey", "c_name",
        substring(col("c_name"), 10, 4), w = 2),
      """WITH r AS (
        | SELECT c_custkey AS id, c_name AS name, substring(c_name, 10, 4) AS block,
        |  CAST(row_number() OVER (PARTITION BY substring(c_name, 10, 4)
        |                          ORDER BY c_name, c_custkey) AS BIGINT) AS rk
        | FROM customer)
        |SELECT a.block, a.id AS a_id, b.id AS b_id, a.name AS a_name, b.name AS b_name,
        | b.rk - a.rk AS rank_gap, CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM r a JOIN r b
        | ON a.block = b.block AND b.rk > a.rk AND b.rk <= a.rk + 2""".stripMargin),

    // ---- top session paths: first 6 ordered event types per user as an
    // `a->b` string, counted across users. --------------------------------
    QueryCase("q105_session_paths", (s, dir) =>
      Transitions.topPaths(t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")), maxSteps = 6),
      """WITH r AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '->' ORDER BY rn) AS path
        | FROM r WHERE rn <= 6 GROUP BY 1)
        |SELECT path, count(*) AS n_keys FROM p GROUP BY 1""".stripMargin),

    // ---- RFM segmentation of customers by their orders: one narrow agg
    // + quintile scores with unique tiebreaks. ----------------------------
    QueryCase("q106_rfm", (s, dir) =>
      Cohort.rfm(t(s, dir, "orders"), "o_custkey", col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long"), k = 5),
      """WITH per AS (
        | SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |  count(*) AS frequency,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        | FROM orders GROUP BY 1),
        |base AS (SELECT o_custkey, frequency, monetary_cents,
        |  CAST(date_diff('day', last_d, (SELECT max(last_d) FROM per)) AS BIGINT) AS recency_days
        | FROM per)
        |SELECT o_custkey, frequency, monetary_cents, recency_days,
        | CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_bucket,
        | CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_bucket,
        | CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_bucket
        |FROM base""".stripMargin),

    // ---- survivorship merge over a sparse synthetic change log derived
    // from orders: latest non-null per field, one hash agg, no sort. ------
    QueryCase("q107_survivorship", (s, dir) => {
      val log = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 3 =!= 0, col("o_orderstatus")).as("status"),
        when(col("o_orderkey") % 4 =!= 0,
          round(col("o_totalprice") * 100).cast("long")).as("cents"))
      Survivorship.merge(log, Seq("o_custkey"), col("seq"), Seq("status", "cents"))
    },
      """WITH log AS (
        | SELECT o_custkey, o_orderkey AS seq,
        |  CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus END AS status,
        |  CASE WHEN o_orderkey % 4 <> 0 THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS cents
        | FROM orders)
        |SELECT o_custkey, count(*) AS n_records, CAST(max(seq) AS BIGINT) AS last_seq,
        | arg_max(status, CASE WHEN status IS NOT NULL THEN seq END) AS status,
        | CAST(arg_max(cents, CASE WHEN cents IS NOT NULL THEN seq END) AS BIGINT) AS cents
        |FROM log GROUP BY 1""".stripMargin),

    // ---- month-over-month revenue growth per order priority: lag window
    // on monthly integer sums; ratio is one exact-int double division. ----
    QueryCase("q108_mom_growth", (s, dir) => {
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      TimeSeries.periodGrowth(monthly, Seq("o_orderpriority"), "month", "cents")
    },
      """WITH m AS (
        | SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        | FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, month, cents,
        | lag(cents) OVER w AS prev_value,
        | cents - lag(cents) OVER w AS delta,
        | CASE WHEN lag(cents) OVER w > 0
        |      THEN CAST(cents - lag(cents) OVER w AS DOUBLE) / lag(cents) OVER w
        | END AS growth
        |FROM m WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month)""".stripMargin),

    // ---- run-length encoding (gaps-and-islands) of each user's event-
    // type stream: double-row_number islands on one exchange. -------------
    QueryCase("q109_runs", (s, dir) =>
      TimeSeries.runs(t(s, dir, "events"), Seq("user_id"),
        Seq(col("ts"), col("event_id")), "event_type"),
      """WITH r AS (
        | SELECT user_id, event_type,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn,
        |  row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rns
        | FROM events)
        |SELECT user_id, event_type, CAST(min(rn) AS BIGINT) AS start_pos,
        | CAST(max(rn) AS BIGINT) AS end_pos, count(*) AS run_len
        |FROM r GROUP BY user_id, event_type, rn - rns""".stripMargin),

    // ---- melt (wide→long): three measure columns to (variable, value)
    // rows via the native Expand — map-only, one scan, no union. ----------
    QueryCase("q111_melt", (s, dir) => {
      val wide = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        round(col("l_discount") * 1000000).cast("long").as("disc_ppm"))
      Reshape.melt(wide, Seq("l_orderkey", "l_linenumber"),
        Seq("qty", "price_cents", "disc_ppm"))
    },
      """WITH b AS (
        | SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |  CAST(round(l_discount * 1000000) AS BIGINT) AS disc_ppm
        | FROM lineitem)
        |SELECT l_orderkey, l_linenumber, 'qty' AS variable, qty AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price_cents', price_cents FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'disc_ppm', disc_ppm FROM b""".stripMargin),

    // ---- time-weighted average of each user's value series: exact
    // integer value·duration sums from one lead window. -------------------
    QueryCase("q112_twa", (s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_millis(col("ts")).as("ms"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      TimeSeries.timeWeighted(ev, Seq("user_id"), "ms", "cents",
        tiebreaks = Seq("event_id"))
    },
      """WITH e AS (
        | SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |d AS (SELECT user_id, cents,
        |  lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) - ms AS dur
        | FROM e)
        |SELECT user_id, CAST(sum(cents * dur) AS BIGINT) AS weighted_sum,
        | CAST(sum(dur) AS BIGINT) AS total_ms,
        | CASE WHEN sum(dur) > 0
        |      THEN CAST(CAST(sum(cents * dur) AS BIGINT) AS DOUBLE) / CAST(sum(dur) AS BIGINT)
        | END AS twa
        |FROM d WHERE dur IS NOT NULL GROUP BY 1""".stripMargin),

    // ---- nearest-event join: each purchase to its closest click/view in
    // EITHER direction — one union, one sort, two window frames. ----------
    QueryCase("q114_nearest_event", (s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_millis(col("ts")).as("p_ms"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("touch_id"),
          col("event_type").as("touch_type"), unix_millis(col("ts")).as("t_ms"))
      AsOfJoin.nearest(purchases, touches, "user_id", "p_ms", "t_ms",
        Seq("touch_id", "touch_type"), inner = true, tieBreak = Seq("touch_id"))
    },
      """WITH p AS (
        | SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS p_ms
        | FROM events WHERE event_type = 'purchase'),
        |t AS (
        | SELECT user_id, event_id AS touch_id, event_type AS touch_type, epoch_ms(ts) AS t_ms
        | FROM events WHERE event_type IN ('click', 'view')),
        |b AS (SELECT * FROM (
        | SELECT p.purchase_id, t.touch_id, t.touch_type, t.t_ms,
        |  row_number() OVER (PARTITION BY p.purchase_id
        |                     ORDER BY t.t_ms DESC, t.touch_id DESC) AS rn
        | FROM p JOIN t ON p.user_id = t.user_id AND t.t_ms <= p.p_ms) WHERE rn = 1),
        |f AS (SELECT * FROM (
        | SELECT p.purchase_id, t.touch_id, t.touch_type, t.t_ms,
        |  row_number() OVER (PARTITION BY p.purchase_id
        |                     ORDER BY t.t_ms ASC, t.touch_id ASC) AS rn
        | FROM p JOIN t ON p.user_id = t.user_id AND t.t_ms > p.p_ms) WHERE rn = 1),
        |j AS (SELECT p.user_id, p.purchase_id, p.p_ms,
        |  b.touch_id AS b_id, b.touch_type AS b_type, b.t_ms AS b_ms,
        |  f.touch_id AS f_id, f.touch_type AS f_type, f.t_ms AS f_ms,
        |  (b.touch_id IS NOT NULL AND
        |   (f.touch_id IS NULL OR p.p_ms - b.t_ms <= f.t_ms - p.p_ms)) AS use_b
        | FROM p
        |  LEFT JOIN b ON p.purchase_id = b.purchase_id
        |  LEFT JOIN f ON p.purchase_id = f.purchase_id
        | WHERE b.touch_id IS NOT NULL OR f.touch_id IS NOT NULL)
        |SELECT user_id, purchase_id, p_ms,
        | CASE WHEN use_b THEN b_id ELSE f_id END AS touch_id,
        | CASE WHEN use_b THEN b_type ELSE f_type END AS touch_type,
        | CAST(CASE WHEN use_b THEN p_ms - b_ms ELSE f_ms - p_ms END AS BIGINT) AS nearest_dist
        |FROM j""".stripMargin),

    // ---- join-key skew profile: top-20 heaviest l_suppkey values with
    // share + cumulative share — one combined count agg + TakeOrdered. ----
    QueryCase("q116_key_skew", (s, dir) =>
      Audit.keySkew(t(s, dir, "lineitem"), "l_suppkey", topN = 20),
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |top AS (SELECT l_suppkey, n FROM c ORDER BY n DESC, l_suppkey LIMIT 20)
        |SELECT CAST(row_number() OVER win AS BIGINT) AS rank, l_suppkey, n,
        | CAST(floor(1000000 * n / total) AS BIGINT) AS share_ppm,
        | CAST(floor(1000000 * sum(n) OVER win / total) AS BIGINT) AS cum_share_ppm
        |FROM top, t
        |WINDOW win AS (ORDER BY n DESC, l_suppkey ROWS UNBOUNDED PRECEDING)""".stripMargin),

    // ---- Fellegi–Sunter agreement scoring over (nation, segment) blocks:
    // integer log-odds weights, null-safe field agreement, codegen'd
    // scoring inside the blocked equi-join. -------------------------------
    QueryCase("q118_agreement", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        col("c_nationkey"), col("c_mktsegment"),
        (round(col("c_acctbal") * 100).cast("long") % 10).as("bal_digit"),
        (col("c_acctbal") > 0).as("bal_pos"),
        substring(col("c_name"), 18, 1).as("name_last"))
      FuzzyJoin.agreementPairs(c, "c_custkey",
        struct(col("c_nationkey"), col("c_mktsegment")),
        Seq(("bal_digit", 5L, 1L), ("bal_pos", 1L, 1L), ("name_last", 3L, 2L)),
        minScore = 3L)
    },
      """WITH c AS (
        | SELECT c_custkey, c_nationkey, c_mktsegment,
        |  CAST(round(c_acctbal * 100) AS BIGINT) % 10 AS bal_digit,
        |  c_acctbal > 0 AS bal_pos,
        |  substring(c_name, 18, 1) AS name_last
        | FROM customer)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | a.bal_digit AS a_bal_digit, b.bal_digit AS b_bal_digit,
        | a.bal_pos AS a_bal_pos, b.bal_pos AS b_bal_pos,
        | a.name_last AS a_name_last, b.name_last AS b_name_last,
        | CAST((CASE WHEN a.bal_digit IS NOT DISTINCT FROM b.bal_digit THEN 5 ELSE -1 END)
        |  + (CASE WHEN a.bal_pos IS NOT DISTINCT FROM b.bal_pos THEN 1 ELSE -1 END)
        |  + (CASE WHEN a.name_last IS NOT DISTINCT FROM b.name_last THEN 3 ELSE -2 END) AS BIGINT) AS score,
        | ((CASE WHEN a.bal_digit IS NOT DISTINCT FROM b.bal_digit THEN 5 ELSE -1 END)
        |  + (CASE WHEN a.bal_pos IS NOT DISTINCT FROM b.bal_pos THEN 1 ELSE -1 END)
        |  + (CASE WHEN a.name_last IS NOT DISTINCT FROM b.name_last THEN 3 ELSE -2 END)) >= 3 AS is_match
        |FROM c a JOIN c b
        | ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        |  AND a.c_custkey < b.c_custkey""".stripMargin),

    // ---- incremental aggregate maintenance: signed delta merge into a
    // per-customer (count, sum) view — fact data never re-read. -----------
    QueryCase("q123_delta_agg", (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = o.where(col("o_orderkey") % 7 =!= 0)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_v"))
      val deltas = o.where(col("o_orderkey") % 7 === 0).withColumn("op", lit("I"))
        .unionByName(o.where(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 11 === 0)
          .withColumn("op", lit("D")))
      Cdc.mergeAggregate(base, deltas, Seq("o_custkey"), "cents", "op")
    },
      // q123: the oracle aggregates the post-merge survivor set directly —
      // base (%7<>0) minus deletes (%11=0) plus inserts (%7=0).
      """WITH o AS (
        | SELECT o_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |s AS (
        | SELECT * FROM o
        | WHERE o_orderkey % 7 = 0 OR (o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0))
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(cents) AS BIGINT) AS sum_v
        |FROM s GROUP BY 1""".stripMargin),

    // ---- pre-flight join cardinality estimate on the events self-join:
    // exact Σ n(k)² from two count aggs, never the join itself. -----------
    QueryCase("q124_join_estimate", (s, dir) => {
      val ev = t(s, dir, "events")
      Audit.joinEstimate(ev, "user_id", ev, "user_id", topN = 15)
    },
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
        |per AS (SELECT key, n AS n_left, n AS n_right, n * n AS est_rows FROM c),
        |t AS (SELECT CAST(sum(est_rows) AS BIGINT) AS total FROM per),
        |top AS (SELECT * FROM per ORDER BY est_rows DESC, key LIMIT 15)
        |SELECT CAST(row_number() OVER win AS BIGINT) AS rank, key, n_left, n_right, est_rows,
        | CAST(floor(1000000 * est_rows / total) AS BIGINT) AS est_share_ppm
        |FROM top, t
        |WINDOW win AS (ORDER BY est_rows DESC, key ROWS UNBOUNDED PRECEDING)""".stripMargin),

    // ---- k-anonymity audit over (user_id, event_type) quasi-identifiers:
    // equivalence classes an attacker could single out (< k members). -----
    QueryCase("q152_k_anonymity", (s, dir) =>
      Audit.kAnonymity(t(s, dir, "events"), Seq("user_id", "event_type"), k = 8L)
        .select(col("user_id"), col("event_type"), col("group_size")),
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS group_size
        |FROM events GROUP BY user_id, event_type
        |HAVING count(*) < 8""".stripMargin),

    // ---- temporal split with a 2-day embargo before the 2024-01-24 cut:
    // per-user counts on each side + the cross-presence leak list. --------
    QueryCase("q155_embargo_split", (s, dir) =>
      Sampling.temporalEmbargoSplit(t(s, dir, "events"), "user_id", "ts",
          "2024-01-24 00:00:00", embargoSeconds = 2L * 86400)
        .select(col("user_id"), col("n_train"), col("n_test"),
          col("n_embargo"), col("cross_presence")),
      """SELECT user_id,
        | CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00')
        |   AS BIGINT) AS n_train,
        | CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24 00:00:00')
        |   AS BIGINT) AS n_test,
        | CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
        |   AND ts < TIMESTAMP '2024-01-24 00:00:00') AS BIGINT) AS n_embargo,
        | (count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-22 00:00:00') > 0
        |  AND count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-24 00:00:00') > 0)
        |  AS cross_presence
        |FROM events GROUP BY user_id""".stripMargin),

    // ---- one-pass pairwise sufficient statistics over four lineitem
    // features — the exact-integer input to a correlation matrix. ---------
    QueryCase("q157_suffstats_matrix", (s, dir) =>
      Metrics.suffStatsMatrix(t(s, dir, "lineitem"), Seq(
        "qty" -> col("l_quantity"),
        "price_dollars" -> round(col("l_extendedprice")),
        "discount_pct" -> round(col("l_discount") * 100),
        "tax_pct" -> round(col("l_tax") * 100))),
      // q157: the same six sums per pair, computed directly; dollar/percent
      // units keep every Σx² far inside BIGINT.
      """WITH f AS (
        | SELECT CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice) AS BIGINT) AS price_dollars,
        |  CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
        |  CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
        | FROM lineitem)
        |SELECT 'qty' AS x_name, 'price_dollars' AS y_name,
        | CAST(count(*) AS BIGINT) AS n, CAST(sum(qty) AS BIGINT) AS sum_x,
        | CAST(sum(price_dollars) AS BIGINT) AS sum_y,
        | CAST(sum(qty*qty) AS BIGINT) AS sum_xx,
        | CAST(sum(qty*price_dollars) AS BIGINT) AS sum_xy,
        | CAST(sum(price_dollars*price_dollars) AS BIGINT) AS sum_yy FROM f
        |UNION ALL SELECT 'qty', 'discount_pct', CAST(count(*) AS BIGINT),
        | CAST(sum(qty) AS BIGINT), CAST(sum(discount_pct) AS BIGINT),
        | CAST(sum(qty*qty) AS BIGINT), CAST(sum(qty*discount_pct) AS BIGINT),
        | CAST(sum(discount_pct*discount_pct) AS BIGINT) FROM f
        |UNION ALL SELECT 'qty', 'tax_pct', CAST(count(*) AS BIGINT),
        | CAST(sum(qty) AS BIGINT), CAST(sum(tax_pct) AS BIGINT),
        | CAST(sum(qty*qty) AS BIGINT), CAST(sum(qty*tax_pct) AS BIGINT),
        | CAST(sum(tax_pct*tax_pct) AS BIGINT) FROM f
        |UNION ALL SELECT 'price_dollars', 'discount_pct', CAST(count(*) AS BIGINT),
        | CAST(sum(price_dollars) AS BIGINT), CAST(sum(discount_pct) AS BIGINT),
        | CAST(sum(price_dollars*price_dollars) AS BIGINT),
        | CAST(sum(price_dollars*discount_pct) AS BIGINT),
        | CAST(sum(discount_pct*discount_pct) AS BIGINT) FROM f
        |UNION ALL SELECT 'price_dollars', 'tax_pct', CAST(count(*) AS BIGINT),
        | CAST(sum(price_dollars) AS BIGINT), CAST(sum(tax_pct) AS BIGINT),
        | CAST(sum(price_dollars*price_dollars) AS BIGINT),
        | CAST(sum(price_dollars*tax_pct) AS BIGINT),
        | CAST(sum(tax_pct*tax_pct) AS BIGINT) FROM f
        |UNION ALL SELECT 'discount_pct', 'tax_pct', CAST(count(*) AS BIGINT),
        | CAST(sum(discount_pct) AS BIGINT), CAST(sum(tax_pct) AS BIGINT),
        | CAST(sum(discount_pct*discount_pct) AS BIGINT),
        | CAST(sum(discount_pct*tax_pct) AS BIGINT),
        | CAST(sum(tax_pct*tax_pct) AS BIGINT) FROM f""".stripMargin),

    // ---- referential-integrity audit across the TPC-H-ish FK graph:
    // anti-join on projected keys only. -----------------------------------
    QueryCase("q163_fk_orphans", (s, dir) =>
      Audit.fkOrphans(Seq(
        ("lineitem.l_orderkey->orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        ("orders.o_custkey->customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"),
        ("lineitem.l_partkey->part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        ("customer.c_nationkey->nation", t(s, dir, "customer"), "c_nationkey",
          t(s, dir, "nation"), "n_nationkey"))),
      """SELECT 'lineitem.l_orderkey->orders' AS relation,
        | CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT) AS n_orphans,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | count(*) FILTER (WHERE o.o_orderkey IS NULL) = 0 AS pass
        |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_orderkey IS NOT NULL
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        | CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
        | CAST(count(*) AS BIGINT),
        | count(*) FILTER (WHERE c.c_custkey IS NULL) = 0
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_custkey IS NOT NULL
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        | CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT),
        | CAST(count(*) AS BIGINT),
        | count(*) FILTER (WHERE p.p_partkey IS NULL) = 0
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE l.l_partkey IS NOT NULL
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        | CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT),
        | CAST(count(*) AS BIGINT),
        | count(*) FILTER (WHERE n.n_nationkey IS NULL) = 0
        |FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_nationkey IS NOT NULL""".stripMargin),

    // ---- Benford first-digit census of order totals in cents. -----------
    QueryCase("q164_benford", (s, dir) =>
      Metrics.benfordDigits(
        t(s, dir, "orders").select(
          round(col("o_totalprice") * 100).cast("long").as("cents")),
        "cents"),
      """WITH v AS (
        | SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |d AS (
        | SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM v WHERE cents > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
        |SELECT digit, n,
        | CAST((1000000 * n) // (SELECT sum(n) FROM c) AS BIGINT) AS share_ppm
        |FROM c""".stripMargin),

    // ---- recency-decayed activity score: dyadic-weight bounded-lag EMA
    // over each user's event series — newest row weighs 2^7. -------------
    QueryCase("q173_decay_score", (s, dir) =>
      TimeSeries.decayedScore(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id"), Seq(col("ts"), col("event_id")), "cents")
        .select(col("user_id"), col("decayed_score"), col("n_obs")),
      // q173: the dyadic-weight lag chain replayed; WHERE rn = n keeps each
      // user's latest row only.
      """WITH e AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |w AS (SELECT user_id,
        |  row_number() OVER win AS rn, count(*) OVER (PARTITION BY user_id) AS n,
        |  v * 128 + coalesce(lag(v, 1) OVER win, 0) * 64
        |   + coalesce(lag(v, 2) OVER win, 0) * 32
        |   + coalesce(lag(v, 3) OVER win, 0) * 16
        |   + coalesce(lag(v, 4) OVER win, 0) * 8
        |   + coalesce(lag(v, 5) OVER win, 0) * 4
        |   + coalesce(lag(v, 6) OVER win, 0) * 2
        |   + coalesce(lag(v, 7) OVER win, 0) AS score
        | FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(score AS BIGINT) AS decayed_score,
        | CAST(n AS BIGINT) AS n_obs FROM w WHERE rn = n""".stripMargin),

    // ---- U-shaped multi-touch attribution: touches before each user's
    // first purchase share 10000 bp (4000/2000-split/4000), one window
    // shuffle on the user key, integer credit only. ----------------------
    QueryCase("q178_position_attribution", (s, dir) =>
      Attribution.positionBased(
        t(s, dir, "events"),
        "user_id", Seq(col("ts"), col("event_id")), "event_id",
        isTouch = col("event_type").isin("view", "click"),
        isConversion = col("event_type") === "purchase"),
      // q178: first purchase per user via rn=1; row-value (ts, id)
      // comparison ≡ Spark's struct ordering; the U-split replayed in
      // integer basis points.
      """WITH f AS (SELECT user_id, event_id, ts, event_type FROM events),
        |conv AS (SELECT user_id, ts AS cts, event_id AS cid FROM (
        |  SELECT user_id, ts, event_id, row_number() OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM f WHERE event_type = 'purchase') WHERE rn = 1),
        |t AS (SELECT f.user_id, f.event_id, f.ts FROM f
        | JOIN conv ON f.user_id = conv.user_id
        | WHERE f.event_type IN ('view', 'click')
        |  AND (f.ts, f.event_id) < (conv.cts, conv.cid)),
        |r AS (SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS BIGINT) AS position,
        |  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n FROM t)
        |SELECT user_id, event_id, position, n AS n_touches,
        | CAST(CASE WHEN n = 1 THEN 10000 WHEN n = 2 THEN 5000
        |  WHEN position = 1 OR position = n THEN 4000
        |  ELSE 2000 // (n - 2)
        |   + CASE WHEN position - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
        |  END AS BIGINT) AS weight_bp
        |FROM r""".stripMargin),

    // ---- calibration table for an md5-derived score vs the purchase
    // outcome: 10 equal-width bins, one bins-sized counter shuffle. ------
    QueryCase("q181_calibration", (s, dir) =>
      Metrics.calibrationBins(
        t(s, dir, "events").select(
          expr("(conv(substring(md5(cast(event_id as string)), 1, 5), 16, 10)" +
            " * 1000000L) div 1048576L").as("score_ppm"),
          col("event_type")),
        "score_ppm", col("event_type") === "purchase"),
      // q181: 5-hex-digit md5 prefix → ppm score (the q48 bucket trick at
      // finer grain); equal-width binning replayed in BIGINT.
      s"""WITH s AS (SELECT
        |  (${hexPrefixOracle("md5(CAST(event_id AS VARCHAR))", 5)}
        |   * 1000000) // 1048576 AS score_ppm,
        |  event_type = 'purchase' AS pos FROM events),
        |b AS (SELECT least(9, (10 * score_ppm) // 1000000) AS bin,
        |  score_ppm, pos FROM s)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(CASE WHEN pos THEN 1 END) AS BIGINT) AS n_pos,
        | CAST((1000000 * count(CASE WHEN pos THEN 1 END)) // count(*) AS BIGINT)
        |  AS pos_rate_ppm,
        | CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm
        |FROM b GROUP BY 1""".stripMargin),

    // ---- stratified 5-fold CV assignment: md5 round-robin within each
    // event type; fold sizes differ by ≤1 per stratum. -------------------
    QueryCase("q183_strat_folds", (s, dir) =>
      Sampling.stratifiedFolds(t(s, dir, "events"), Seq("event_type"), "event_id", k = 5)
        .select(col("event_id"), col("event_type"), col("fold")),
      // q183: md5 round-robin within stratum — fold is a pure function of
      // (id, stratum, k).
      """SELECT event_id, event_type,
        | CAST((row_number() OVER (PARTITION BY event_type
        |  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) - 1) % 5 AS BIGINT)
        |  AS fold
        |FROM events""".stripMargin),

    // ---- deterministic popularity-ranked negative sampling over the
    // purchase interactions: 4 md5-derived draws per positive, user
    // history anti-joined away. ------------------------------------------
    QueryCase("q185_neg_sampling", (s, dir) =>
      Sampling.popularityNegatives(
        t(s, dir, "events").where(col("event_type") === "purchase")
          .select(col("user_id"), col("props").as("item")),
        "user_id", "item", k = 4),
      // q185: md5 draws replayed digit-by-digit; anti-join via NOT EXISTS.
      s"""WITH pos AS (SELECT DISTINCT user_id, props AS item FROM events
        |  WHERE event_type = 'purchase'),
        |ir AS (SELECT item, CAST(row_number() OVER (
        |  ORDER BY count(*) DESC, item) AS BIGINT) AS rnk FROM pos GROUP BY item),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ir),
        |d AS (SELECT pos.user_id, pos.item, t.draw,
        |  1 + (${hexPrefixOracle("md5(concat_ws('|', pos.user_id, pos.item, t.draw))", 8)}
        |   % nn.n) AS rnk
        | FROM pos, nn, unnest([1, 2, 3, 4]) AS t(draw))
        |SELECT d.user_id, d.item, CAST(d.draw AS BIGINT) AS draw,
        | ir.item AS neg_item
        |FROM d JOIN ir USING (rnk)
        |WHERE NOT EXISTS (SELECT 1 FROM pos p2
        | WHERE p2.user_id = d.user_id AND p2.item = ir.item)""".stripMargin),

    // ---- churn labels at a fixed cutoff with a 3-day lookback: future-
    // blind by construction (post-cutoff rows never aggregate). ----------
    QueryCase("q186_churn_labels", (s, dir) =>
      TimeSeries.churnLabels(t(s, dir, "events"), "user_id", "ts",
        cutoff = "2024-01-25 00:00:00", windowSec = 3L * 86400),
      // q186: the future-blind filter, then max/count per user; epoch-ms
      // floors agree (ns→µs→ms ≡ ns→ms for positive epochs).
      """WITH e AS (SELECT user_id, ts FROM events
        |  WHERE ts <= TIMESTAMP '2024-01-25 00:00:00'),
        |a AS (SELECT user_id, CAST(max(epoch_ms(ts)) AS BIGINT) AS last_seen_ms,
        |  CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY 1)
        |SELECT user_id, last_seen_ms, n_events,
        | CAST((epoch_ms(TIMESTAMP '2024-01-25 00:00:00') - last_seen_ms) // 1000
        |  AS BIGINT) AS gap_sec,
        | CAST(CASE WHEN last_seen_ms <=
        |   epoch_ms(TIMESTAMP '2024-01-25 00:00:00') - 259200000
        |  THEN 1 ELSE 0 END AS BIGINT) AS churned
        |FROM a""".stripMargin),

    // ---- survival labels: seconds to each user's next purchase, 7-day
    // horizon, censoring explicit — one reverse-running-min window. ------
    QueryCase("q187_time_to_event", (s, dir) =>
      TimeSeries.timeToEvent(t(s, dir, "events"), "user_id", "ts", "event_id",
        isTarget = col("event_type") === "purchase", horizonSec = 7L * 86400)
        .select(col("user_id"), col("event_id"), col("tte_sec"), col("censored")),
      // q187: the strictly-after frame replayed verbatim; epoch-ms floors
      // agree across the ns→µs→ms chain.
      """WITH w AS (SELECT user_id, event_id,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ms,
        |  epoch_ms(ts) AS ms FROM events)
        |SELECT user_id, event_id,
        | CASE WHEN next_ms IS NULL OR (next_ms - ms) // 1000 > 604800 THEN NULL
        |  ELSE CAST((next_ms - ms) // 1000 AS BIGINT) END AS tte_sec,
        | CAST(CASE WHEN next_ms IS NULL OR (next_ms - ms) // 1000 > 604800
        |  THEN 1 ELSE 0 END AS BIGINT) AS censored
        |FROM w""".stripMargin),

    // ---- exact two-sample KS drift between returnflag A and R price
    // distributions: supremum found in cross-multiplied integers. --------
    QueryCase("q188_ks_drift", (s, dir) =>
      Metrics.ksStatistic(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "l_returnflag", "cents", "A", "R"),
      // q188: merged-domain ECDF running sums; the supremum compared in
      // cross-multiplied integers, ppm only at the end.
      """WITH b AS (SELECT l_returnflag AS g,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        | FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |pv AS (SELECT v,
        |  CAST(count(CASE WHEN g = 'A' THEN 1 END) AS BIGINT) AS ca,
        |  CAST(count(CASE WHEN g = 'R' THEN 1 END) AS BIGINT) AS cb
        | FROM b GROUP BY v),
        |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
        |  sum(cb) OVER (ORDER BY v) AS cumb FROM pv),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb FROM pv)
        |SELECT t.na AS n_a, t.nb AS n_b,
        | CAST(max(abs(c.cuma * t.nb - c.cumb * t.na)) AS BIGINT) AS d_num,
        | CAST((1000000 * max(abs(c.cuma * t.nb - c.cumb * t.na)))
        |  // (t.na * t.nb) AS BIGINT) AS ks_ppm
        |FROM c, t GROUP BY t.na, t.nb""".stripMargin),

    // ---- deterministic bucket-bootstrap error bar on the mean price:
    // 32 md5 buckets → bucket-mean spread, all integer. ------------------
    QueryCase("q189_bucket_bootstrap", (s, dir) =>
      Metrics.bucketBootstrap(
        t(s, dir, "lineitem").select(
          (col("l_orderkey") * 100 + col("l_linenumber")).as("rid"),
          round(col("l_extendedprice") * 100).cast("long").as("cents")),
        "rid", "cents", buckets = 32),
      // q189: 4-hex md5 bucket mod 32 replayed digit-by-digit; floor-mean
      // per bucket, scalar spread.
      s"""WITH b AS (SELECT
        |  ${hexPrefixOracle("md5(CAST(l_orderkey * 100 + l_linenumber AS VARCHAR))", 4)}
        |   % 32 AS bk,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |per AS (SELECT bk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(v) AS BIGINT) AS s FROM b GROUP BY bk),
        |m AS (SELECT n, s, s // n AS mean FROM per)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_buckets,
        | CAST(sum(s) // sum(n) AS BIGINT) AS global_mean,
        | CAST(min(mean) AS BIGINT) AS bucket_mean_min,
        | CAST(max(mean) AS BIGINT) AS bucket_mean_max,
        | CAST(max(mean) - min(mean) AS BIGINT) AS spread
        |FROM m""".stripMargin),

    // ---- DAU / trailing-7-day WAU / stickiness: the rolling distinct
    // via bounded activity fan-out, never a sliding distinct window. -----
    QueryCase("q190_active_users", (s, dir) =>
      Cohort.activeUsers(t(s, dir, "events"), "user_id", "ts", windowDays = 7),
      // q190: the trailing window replayed as a range join over observed
      // activity days; day out as a string.
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY d),
        |w AS (SELECT d1.d, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
        | FROM days d1 JOIN act a ON a.d BETWEEN d1.d - 6 AND d1.d GROUP BY d1.d)
        |SELECT strftime(days.d, '%Y-%m-%d') AS day, days.dau, w.wau,
        | CAST((1000000 * days.dau) // w.wau AS BIGINT) AS stickiness_ppm
        |FROM days JOIN w USING (d)""".stripMargin),

    // ---- exact ROC AUC per event type: does the amount predict a high
    // payload k? Tie-aware Mann–Whitney over distinct-cent counts — the
    // window walks score cardinality, never rows. ------------------------
    QueryCase("q195_auc", (s, dir) =>
      Eval.rocAuc(
        t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"), col("props")),
        "event_type", "cents",
        get_json_object(col("props"), "$.k").cast("long") >= 50),
      // q195: per-distinct-score (pos, neg) counts → running negatives-
      // below window → 2U in integers; ppm by integer division.
      """WITH b AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS s,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |   THEN 1 ELSE 0 END AS pos FROM events),
        |ps AS (SELECT g, s, CAST(sum(pos) AS BIGINT) AS p,
        |  CAST(count(*) - sum(pos) AS BIGINT) AS q FROM b GROUP BY g, s),
        |c AS (SELECT g, p, q, CAST(coalesce(sum(q) OVER (PARTITION BY g
        |  ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |  AS BIGINT) AS qlt FROM ps),
        |a AS (SELECT g, CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(q) AS BIGINT) AS n_neg,
        |  CAST(sum(p * (2 * qlt + q)) AS BIGINT) AS u2 FROM c GROUP BY g)
        |SELECT g AS event_type, n_pos, n_neg,
        | CASE WHEN n_pos > 0 AND n_neg > 0
        |  THEN CAST((1000000 * u2) // (2 * n_pos * n_neg) AS BIGINT)
        | END AS auc_ppm
        |FROM a""".stripMargin),

    // ---- chi-square mix drift, per-cell decomposition: event-type
    // distribution early vs late half of the month — the integer
    // residual d = o·N − r·c carries all the precision. ------------------
    QueryCase("q197_chisq_drift", (s, dir) =>
      Eval.chiSquareCells(
        t(s, dir, "events").select(col("event_type"),
          when(col("ts") < lit("2024-01-16").cast("timestamp"), lit("early"))
            .otherwise(lit("late")).as("period")),
        "event_type", "period"),
      // q197: cell counts → marginals → integer residual d = o·N − r·c;
      // the single double-precision step has identical shape in both
      // engines (IEEE-deterministic).
      """WITH b AS (SELECT event_type AS r,
        |  CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'early' ELSE 'late'
        |  END AS c FROM events),
        |cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o
        | FROM b GROUP BY r, c),
        |rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rn FROM cells GROUP BY r),
        |ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS cn FROM cells GROUP BY c),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells)
        |SELECT cells.r AS event_type, cells.c AS period, cells.o,
        | CAST((1000000 * rt.rn * ct.cn) // n.nn AS BIGINT) AS e_ppm,
        | CAST(floor(1000000.0
        |   * CAST(cells.o * n.nn - rt.rn * ct.cn AS DOUBLE)
        |   * CAST(cells.o * n.nn - rt.rn * ct.cn AS DOUBLE)
        |   / CAST(n.nn * rt.rn * ct.cn AS DOUBLE)) AS BIGINT) AS chi2_micro
        |FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN n""".stripMargin),

    // ---- mean reciprocal rank of the first purchase in each user's
    // ts-ordered stream, per user-id cohort: misses score 0 and stay in
    // the denominator (documented convention). ---------------------------
    QueryCase("q198_mrr", (s, dir) =>
      Eval.meanReciprocalRank(
        t(s, dir, "events").select((col("user_id") % 10).as("cohort"),
          col("user_id"), col("ts"), col("event_id"), col("event_type")),
        "cohort", "user_id", "ts", "event_id",
        col("event_type") === "purchase"),
      // q198: row_number per (cohort, user) stream → first-hit rank →
      // integer reciprocal ppm; misses stay in the cohort denominator.
      """WITH b AS (SELECT user_id % 10 AS cohort, user_id, ts, event_id,
        |  event_type = 'purchase' AS hit FROM events),
        |rn AS (SELECT cohort, user_id, hit, row_number() OVER (
        |  PARTITION BY cohort, user_id ORDER BY ts, event_id) AS rn FROM b),
        |fh AS (SELECT cohort, user_id, CAST(min(rn) AS BIGINT) AS rank
        | FROM rn WHERE hit GROUP BY 1, 2),
        |act AS (SELECT cohort, CAST(count(DISTINCT user_id) AS BIGINT)
        |  AS n_actors FROM b GROUP BY 1),
        |h AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_hit,
        |  CAST(sum(1000000 // rank) AS BIGINT) AS rrs FROM fh GROUP BY 1)
        |SELECT act.cohort, act.n_actors,
        | CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        | CAST(coalesce(h.rrs, 0) // act.n_actors AS BIGINT) AS mrr_ppm
        |FROM act LEFT JOIN h USING (cohort)""".stripMargin),

    // ---- seasonal-naive backtest: day-of-week profile trained before
    // Jan 22 scores the rest of the month; integer MAE + signed bias. ----
    QueryCase("q200_seasonal_backtest", (s, dir) =>
      TimeSeries.seasonalBacktest(
        t(s, dir, "events").select(col("event_type"), col("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        "event_type", "ts", "cents", "2024-01-22 00:00:00"),
      // q200: dow is only a grouping key (Spark 1-7 vs DuckDB 0-6 is a
      // bijection — same classes); floor-means on non-negative cents,
      // sign-split bias.
      """WITH b AS (SELECT event_type AS k, dayofweek(ts) AS dow,
        |  CAST(round(value * 100) AS BIGINT) AS y,
        |  ts < TIMESTAMP '2024-01-22 00:00:00' AS tr FROM events),
        |prof AS (SELECT k, dow, CAST(sum(y) // count(*) AS BIGINT) AS fc
        | FROM b WHERE tr GROUP BY 1, 2),
        |fb AS (SELECT k, CAST(sum(y) // count(*) AS BIGINT) AS fca,
        |  CAST(count(*) AS BIGINT) AS n_train FROM b WHERE tr GROUP BY 1),
        |te AS (SELECT b.k, b.y - coalesce(prof.fc, fb.fca) AS err, fb.n_train
        | FROM b LEFT JOIN prof ON b.k = prof.k AND b.dow = prof.dow
        | JOIN fb ON b.k = fb.k WHERE NOT b.tr)
        |SELECT k AS event_type, n_train, CAST(count(*) AS BIGINT) AS n_test,
        | CAST(sum(abs(err)) AS BIGINT) AS sae,
        | CAST(sum(abs(err)) // count(*) AS BIGINT) AS mae,
        | CAST(CASE WHEN sum(err) >= 0 THEN sum(err) // count(*)
        |  ELSE -((-sum(err)) // count(*)) END AS BIGINT) AS bias
        |FROM te GROUP BY 1, 2""".stripMargin),

    // ---- l-diversity audit over (nation, segment) quasi-classes with a
    // bucketed balance as the sensitive value: the homogeneity-attack
    // gate k-anonymity alone misses. -------------------------------------
    QueryCase("q201_l_diversity", (s, dir) =>
      Audit.lDiversity(
        t(s, dir, "customer").select(col("c_nationkey"), col("c_mktsegment"),
          (abs(round(col("c_acctbal") * 100).cast("long")) % 7).as("bal_class")),
        Seq("c_nationkey", "c_mktsegment"), "bal_class", l = 5),
      // q201: two-level aggregation; distinct sensitive values per class =
      // first-level row count (NULL would be its own class).
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |  abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 7 AS bal_class
        | FROM customer),
        |lv AS (SELECT c_nationkey, c_mktsegment, bal_class, count(*) AS n
        | FROM b GROUP BY 1, 2, 3)
        |SELECT c_nationkey, c_mktsegment,
        | CAST(sum(n) AS BIGINT) AS group_size,
        | CAST(count(*) AS BIGINT) AS n_sensitive,
        | CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS BIGINT) AS violates
        |FROM lv GROUP BY 1, 2""".stripMargin),

    // ---- gains / cumulative-lift table per event type: score deciles
    // (event_id total order) vs the high-k label — WHERE the score earns
    // its AUC. ------------------------------------------------------------
    QueryCase("q202_gains", (s, dir) =>
      Eval.gainsTable(
        t(s, dir, "events").select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_id"), col("props")),
        "event_type", "cents", "event_id",
        get_json_object(col("props"), "$.k").cast("long") >= 50, buckets = 10),
      // q202: ntile over the (score DESC, event_id) total order — both
      // engines give the first buckets the extras; cumulative lift by
      // integer division.
      """WITH b AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS s, event_id,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |   THEN 1 ELSE 0 END AS pos FROM events),
        |r AS (SELECT g, pos, CAST(ntile(10) OVER (PARTITION BY g
        |  ORDER BY s DESC, event_id) AS BIGINT) AS bk FROM b),
        |a AS (SELECT g, bk, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(pos) AS BIGINT) AS n_pos FROM r GROUP BY 1, 2),
        |c AS (SELECT g, bk, n, n_pos,
        |  CAST(sum(n) OVER (PARTITION BY g ORDER BY bk) AS BIGINT) AS cum_n,
        |  CAST(sum(n_pos) OVER (PARTITION BY g ORDER BY bk) AS BIGINT) AS cum_pos,
        |  CAST(sum(n) OVER (PARTITION BY g) AS BIGINT) AS tn,
        |  CAST(sum(n_pos) OVER (PARTITION BY g) AS BIGINT) AS tp FROM a)
        |SELECT g AS event_type, bk AS bucket, n, n_pos, cum_n, cum_pos,
        | CASE WHEN tp > 0
        |  THEN CAST((1000000 * cum_pos * tn) // (cum_n * tp) AS BIGINT)
        | END AS lift_ppm
        |FROM c""".stripMargin),

    // ---- difference-in-differences on a 2×2 (odd users × post-Jan-16):
    // four cell aggregates + the floor-mean DiD estimate in one row. ------
    QueryCase("q204_did", (s, dir) =>
      Cohort.diffInDiff(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        col("user_id") % 2 === 1,
        col("ts") >= lit("2024-01-16").cast("timestamp"), "cents"),
      // q204: one conditional-aggregation pass; did from the four floored
      // means (the documented publish-then-subtract convention).
      """WITH b AS (SELECT user_id % 2 = 1 AS t,
        |  ts >= TIMESTAMP '2024-01-16' AS p,
        |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |a AS (SELECT
        |  CAST(count(CASE WHEN t AND NOT p THEN 1 END) AS BIGINT) AS n_t_pre,
        |  CAST(coalesce(sum(CASE WHEN t AND NOT p THEN v END), 0) AS BIGINT) AS s_t_pre,
        |  CAST(count(CASE WHEN t AND p THEN 1 END) AS BIGINT) AS n_t_post,
        |  CAST(coalesce(sum(CASE WHEN t AND p THEN v END), 0) AS BIGINT) AS s_t_post,
        |  CAST(count(CASE WHEN NOT t AND NOT p THEN 1 END) AS BIGINT) AS n_c_pre,
        |  CAST(coalesce(sum(CASE WHEN NOT t AND NOT p THEN v END), 0) AS BIGINT) AS s_c_pre,
        |  CAST(count(CASE WHEN NOT t AND p THEN 1 END) AS BIGINT) AS n_c_post,
        |  CAST(coalesce(sum(CASE WHEN NOT t AND p THEN v END), 0) AS BIGINT) AS s_c_post
        | FROM b),
        |m AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  s_t_pre // n_t_pre AS m_t_pre, s_t_post // n_t_post AS m_t_post,
        |  s_c_pre // n_c_pre AS m_c_pre, s_c_post // n_c_post AS m_c_post
        | FROM a WHERE n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        | CAST(m_t_pre AS BIGINT) AS m_t_pre, CAST(m_t_post AS BIGINT) AS m_t_post,
        | CAST(m_c_pre AS BIGINT) AS m_c_pre, CAST(m_c_post AS BIGINT) AS m_c_post,
        | CAST((m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS BIGINT) AS did
        |FROM m""".stripMargin),

    // ---- column-level drift between two snapshots (even/odd orderkey
    // halves of lineitem): per column, (rows, nulls, distinct, min, max,
    // sum) from each side — one full-scan agg per snapshot, unpivoted to
    // a columns-count-sized report. ------------------------------------
    QueryCase("q208_column_drift", (s, dir) => {
      val li = t(s, dir, "lineitem")
      Audit.columnDrift(
        li.where(pmod(col("l_orderkey"), lit(2)) === 0),
        li.where(pmod(col("l_orderkey"), lit(2)) === 1),
        Seq("l_quantity", "l_partkey", "l_suppkey", "l_linenumber"))
    },
    // q208: the per-column profile replayed per snapshot half and joined.
    {
      def side(tag: String, parity: Int) =
        Seq("l_quantity", "l_partkey", "l_suppkey", "l_linenumber").map(c =>
          s"""SELECT '$c' AS column_name,
             | CAST(count(*) AS BIGINT) AS n_$tag,
             | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$tag,
             | CAST(count(DISTINCT $c) AS BIGINT) AS distinct_$tag,
             | CAST(min($c) AS BIGINT) AS min_$tag,
             | CAST(max($c) AS BIGINT) AS max_$tag,
             | CAST(sum($c) AS BIGINT) AS sum_$tag
             |FROM lineitem WHERE l_orderkey % 2 = $parity""".stripMargin)
          .mkString("(", ") UNION ALL (", ")")
      s"""SELECT * FROM (${side("a", 0)}) pa JOIN (${side("b", 1)}) pb USING (column_name)"""
    }),

    // ---- inter-arrival-time histogram per event type: successive
    // per-user gaps, 60 s bins capped at 10 — per-key window (never
    // global) + one narrow (type, bucket) hash agg. ---------------------
    QueryCase("q209_interarrival", (s, dir) =>
      TimeSeries.interArrivalHistogram(
        t(s, dir, "events"), "user_id", "event_type", "ts",
        widthSec = 60L, maxBucket = 10L, tieCols = Seq("event_id")),
      // q209: identical gap pairing — per-user lag over (epoch_ms, event_id).
      """WITH g AS (
        | SELECT event_type, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev
        | FROM events)
        |SELECT event_type,
        | CAST(least((ms - prev) // 60000, 10) AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n
        |FROM g WHERE prev IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // ---- grid-blocked planar radius join: all point pairs within 1000
    // units on a 100k×100k plane, exact integer distances; coordinates
    // are a deterministic quadratic scatter of the customer key (a linear
    // scatter collapses pairwise distances onto the Δkey lattice —
    // engine-replayable test scaffolding; real callers pass real
    // coordinates). -----------------------------------------------------
    QueryCase("q213_grid_radius_join", (s, dir) =>
      GeoGrid.radiusPairs(gridRadiusPoints(t(s, dir, "customer"), lit(0L)),
        "id", col("x"), col("y"), radius = 1000L),
      // q213: brute-force quadratic reference — the grid blocking must
      // change nothing but the plan. All-integer distances.
      """WITH p AS (
        | SELECT CAST(c_custkey AS BIGINT) AS id,
        |  (CAST(c_custkey AS BIGINT) * CAST(c_custkey AS BIGINT) * 7919
        |   + CAST(c_custkey AS BIGINT) * 104729) % 100003 AS x,
        |  (CAST(c_custkey AS BIGINT) * CAST(c_custkey AS BIGINT) * 6983
        |   + CAST(c_custkey AS BIGINT) * 92821) % 99991 AS y
        | FROM customer)
        |SELECT a.id AS a_id, b.id AS b_id,
        | (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 1000000""".stripMargin),

    // ---- 1-Wasserstein drift between click and view value
    // distributions on a milli-unit grid — exact-integer earth-mover
    // complement to q188's KS supremum; same rankedPrefixSum scan shape.
    QueryCase("q214_emd_drift", (s, dir) =>
      Metrics.wassersteinDrift(t(s, dir, "events"), "event_type",
        floor(col("value") * 1000).cast("long"), "click", "view"),
      // q214: running ECDF-gap window over the merged milli-value grid;
      // lead() supplies the grid step, the max value's gap is identically
      // zero so dropping it is exact.
      """WITH v AS (
        | SELECT CAST(floor(value * 1000) AS BIGINT) AS v,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
        | FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b FROM v),
        |c AS (
        | SELECT t.n_a, t.n_b,
        |  sum(v.ca * t.n_b - v.cb * t.n_a) OVER (ORDER BY v.v ROWS UNBOUNDED PRECEDING) AS cum,
        |  lead(v.v) OVER (ORDER BY v.v) - v.v AS dv
        | FROM v CROSS JOIN t)
        |SELECT n_a, n_b,
        | CAST(sum(dv * abs(cum)) AS BIGINT) AS emd_num,
        | CAST((1000 * sum(dv * abs(cum))) // (n_a * n_b) AS BIGINT) AS w1_milli
        |FROM c WHERE dv IS NOT NULL
        |GROUP BY n_a, n_b""".stripMargin),

    // ---- Theil–Sen robust trend per user: lower-median of pairwise
    // value-vs-time slopes (cents per second ×10⁶) — outlier-immune where
    // q81's least squares is not. Group-keyed pair join, per-group rank
    // window; Σ_g n_g² pairs is the estimator's intrinsic cost. ----------
    QueryCase("q215_theil_sen", (s, dir) =>
      Trend.theilSen(t(s, dir, "events"), Seq("user_id"),
        unix_micros(col("ts")), floor(col("value") * 100).cast("long"),
        scale = 1000000000000L),
      // q215: identical pair grid, identical ⌊scale·Δy/Δx⌋ double divide,
      // identical lower-median rank pick — all deterministic.
      """WITH e AS (
        | SELECT user_id, epoch_us(ts) AS x,
        |  CAST(floor(value * 100) AS BIGINT) AS y
        | FROM events),
        |p AS (
        | SELECT a.user_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
        |  CAST(floor((1000000000000 * (b.y - a.y)) / (b.x - a.x)) AS BIGINT) AS slope
        | FROM e a JOIN e b ON a.user_id = b.user_id AND a.x < b.x),
        |r AS (
        | SELECT user_id, slope,
        |  row_number() OVER (PARTITION BY user_id ORDER BY slope, x1, y1, x2, y2) AS rk,
        |  count(*) OVER (PARTITION BY user_id) AS n_pairs
        | FROM p)
        |SELECT user_id, CAST(n_pairs AS BIGINT) AS n_pairs, slope AS slope_scaled
        |FROM r WHERE rk = (n_pairs + 1) // 2""".stripMargin),

    // ---- t-closeness audit (k-anon → l-diversity → THIS): per
    // (mktsegment, nation) class, ordered-EMD distance between the
    // class's acctbal-bucket distribution and the global one, exact
    // cross-multiplied integers. ----------------------------------------
    QueryCase("q216_t_closeness", (s, dir) =>
      Audit.tCloseness(t(s, dir, "customer"), Seq("c_mktsegment", "c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long")),
      // q216: zero-filled class×bucket grid (missing buckets still move the
      // cumulative gap), cross-multiplied ordered EMD, all integer.
      """WITH c AS (
        | SELECT c_mktsegment, c_nationkey,
        |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS b
        | FROM customer),
        |cls AS (SELECT c_mktsegment, c_nationkey, count(*) AS n_rows FROM c GROUP BY 1, 2),
        |g AS (SELECT b, count(*) AS gb FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(gb) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m FROM g),
        |grid AS (
        | SELECT cls.c_mktsegment, cls.c_nationkey, cls.n_rows, g.b, g.gb, t.n, t.m,
        |  coalesce(cb.cnt, 0) AS cb
        | FROM cls CROSS JOIN g CROSS JOIN t
        | LEFT JOIN (SELECT c_mktsegment, c_nationkey, b, count(*) AS cnt
        |            FROM c GROUP BY 1, 2, 3) cb
        |  ON cb.c_mktsegment = cls.c_mktsegment
        |  AND cb.c_nationkey = cls.c_nationkey AND cb.b = g.b),
        |cum AS (
        | SELECT c_mktsegment, c_nationkey, n_rows, m, n,
        |  abs(n * sum(cb) OVER w - n_rows * sum(gb) OVER w) AS gap
        | FROM grid
        | WINDOW w AS (PARTITION BY c_mktsegment, c_nationkey
        |              ORDER BY b ROWS UNBOUNDED PRECEDING))
        |SELECT c_mktsegment, c_nationkey,
        | CAST(n_rows AS BIGINT) AS n_rows, m AS m_buckets,
        | CAST(sum(gap) AS BIGINT) AS t_num,
        | CASE WHEN m < 2 THEN NULL
        |  ELSE CAST((1000000 * sum(gap)) // ((m - 1) * n * n_rows) AS BIGINT)
        | END AS t_ppm
        |FROM cum GROUP BY c_mktsegment, c_nationkey, n_rows, m, n""".stripMargin),

    // ---- per-user value peaks: strict local maxima over a ±3-row
    // neighborhood in event order — per-key frames only, never global. --
    QueryCase("q218_peaks", (s, dir) =>
      TimeSeries.peaks(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"),
          round(col("value") * 100).cast("long").as("cents")),
        "user_id", Seq(col("ms"), col("event_id")), "event_id",
        col("cents"), w = 3),
      // q218: identical ±3-row frames; max over an empty frame is NULL and
      // count is 0 in both engines, so boundary semantics agree.
      """WITH e AS (
        | SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events),
        |w AS (
        | SELECT user_id, event_id, c,
        |  max(c) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lm,
        |  max(c) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS rm,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS nl,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS nr
        | FROM e)
        |SELECT user_id, event_id, c AS value,
        | CAST(nl AS BIGINT) AS n_before, CAST(nr AS BIGINT) AS n_after
        |FROM w
        |WHERE (lm IS NULL OR c > lm) AND (rm IS NULL OR c > rm)""".stripMargin),

    // ---- CUPED variance-reduced A/B readout: per-user pre-metric (view
    // spend) soaks variance out of the post-metric (purchase spend);
    // arms by user-id parity. Integer suff-stats, pinned-order doubles
    // only in the last mile. --------------------------------------------
    QueryCase("q219_cuped", (s, dir) => {
      val cents = round(col("value") * 100).cast("long")
      val per = t(s, dir, "events").groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", cents).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", cents).otherwise(0L)).as("y"))
      Eval.cuped(per, pmod(col("user_id"), lit(2)) === 1, col("x"), col("y"))
    },
      // q219: integer suff-stats (HUGEINT partials convert to the same
      // doubles as Spark's longs), then the pinned-order double last mile.
      """WITH per AS (
        | SELECT user_id,
        |  sum(CASE WHEN event_type = 'view'
        |   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
        |  sum(CASE WHEN event_type = 'purchase'
        |   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        | FROM events GROUP BY 1),
        |s AS (
        | SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx,
        |  sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_t,
        |  sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS sxt,
        |  sum(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS syt
        | FROM per),
        |d AS (
        | SELECT n_t, n - n_t AS n_c,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
        |  syt / n_t - (sy - syt) / (n - n_t) AS dy,
        |  sxt / n_t - (sx - sxt) / (n - n_t) AS dx
        | FROM s)
        |SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        | CAST(floor(1000000.0 * theta) AS BIGINT) AS theta_micro,
        | CAST(floor(1000000.0 * dy) AS BIGINT) AS effect_raw_micro,
        | CAST(floor(1000000.0 * (dy - theta * dx)) AS BIGINT) AS effect_cuped_micro
        |FROM d""".stripMargin),

    // ---- discrete hazard table over purchase "durations": per event
    // time, risk-set size via one descending rankedPrefixSum — the
    // Kaplan–Meier ingredients as exact integers. -----------------------
    QueryCase("q220_hazard_table", (s, dir) =>
      TimeSeries.hazardTable(
        t(s, dir, "events").where(col("event_type") === "purchase"),
        floor(col("value")),
        get_json_object(col("props"), "$.k").cast("long") >= 50),
      // q220: suffix risk-set via a DESC running count; (1e6·d)//n_risk is
      // non-negative, so // and div agree.
      """WITH base AS (
        | SELECT CAST(floor(value) AS BIGINT) AS t,
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |   THEN 1 ELSE 0 END AS ev
        | FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT t, count(*) AS c, sum(ev) AS d FROM base GROUP BY 1),
        |r AS (SELECT t, d,
        |  sum(c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_risk
        | FROM p)
        |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
        | CAST((1000000 * d) // n_risk AS BIGINT) AS hazard_ppm
        |FROM r WHERE d > 0""".stripMargin),

    // ---- dow×hour activity heatmap per event type: engine-neutral
    // integer calendar math, one bounded agg + broadcast share join. ----
    QueryCase("q222_activity_heatmap", (s, dir) =>
      TimeSeries.activityProfile(t(s, dir, "events"), "event_type", "ts"),
      // q222: engine-neutral epoch calendar math (dayofweek builtins
      // disagree on origin/range across engines).
      """WITH c AS (
        | SELECT event_type,
        |  ((epoch_ms(ts) // 1000 // 86400) + 4) % 7 AS dow,
        |  (epoch_ms(ts) // 1000 % 86400) // 3600 AS hour
        | FROM events),
        |g AS (SELECT event_type, dow, hour, count(*) AS n FROM c GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, sum(n) AS tot FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
        | CAST(n AS BIGINT) AS n, CAST((1000000 * n) // tot AS BIGINT) AS share_ppm
        |FROM g JOIN t USING (event_type)""".stripMargin),

    // ---- per-user rolling lower-median smoothing over the trailing 5
    // events — deterministic element pick, per-key frames only. ---------
    QueryCase("q223_rolling_median", (s, dir) =>
      TimeSeries.rollingMedian(
        t(s, dir, "events").select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"),
          round(col("value") * 100).cast("long").as("cents")),
        "user_id", Seq(col("ms"), col("event_id")), "event_id",
        col("cents"), w = 4),
      // q223: quantile_disc(0.5) over a ROWS frame IS the lower median —
      // verified against the element-at pick on ramp-up and even frames.
      """WITH e AS (
        | SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CAST(round(value * 100) AS BIGINT) AS c
        | FROM events)
        |SELECT user_id, event_id, c AS value,
        | quantile_disc(c, 0.5) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS med,
        | CAST(count(*) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_win
        |FROM e""".stripMargin),

    // ---- peak concurrency per event type over [ts, ts+dur) synthetic
    // sessions (dur = ⌊value⌋+1 s): sweep-line deltas + per-key running
    // sum — never an interval self-join. --------------------------------
    QueryCase("q224_max_concurrency", (s, dir) => {
      val start = expr("unix_millis(ts) div 1000")
      TimeSeries.maxConcurrency(
        t(s, dir, "events").withColumn("__start", start)
          .withColumn("__end", start + floor(col("value")).cast("long") + lit(1L)),
        "event_type", col("__start"), col("__end"))
    },
      // q224: same sweep line — per-timestamp nets FIRST (half-open
      // same-instant handoff), then the running max.
      """WITH iv AS (
        | SELECT event_type, epoch_ms(ts) // 1000 AS s,
        |  epoch_ms(ts) // 1000 + CAST(floor(value) AS BIGINT) + 1 AS e
        | FROM events),
        |d AS (
        | SELECT event_type, s AS t, 1 AS dd FROM iv
        | UNION ALL
        | SELECT event_type, e AS t, -1 AS dd FROM iv),
        |net AS (SELECT event_type, t, sum(dd) AS net FROM d GROUP BY 1, 2),
        |run AS (
        | SELECT event_type,
        |  sum(net) OVER (PARTITION BY event_type ORDER BY t
        |   ROWS UNBOUNDED PRECEDING) AS run
        | FROM net)
        |SELECT r.event_type, CAST(max(r.run) AS BIGINT) AS max_concurrent,
        | CAST(min(c.n) AS BIGINT) AS n_intervals
        |FROM run r JOIN (SELECT event_type, count(*) AS n FROM events GROUP BY 1) c
        | USING (event_type)
        |GROUP BY r.event_type""".stripMargin),

    // ---- Goh–Barabási burstiness per user over inter-event gaps:
    // metronome −1 … Poisson 0 … bursts → 1; exact long suff-stats,
    // pinned-order double last mile. ------------------------------------
    QueryCase("q226_burstiness", (s, dir) =>
      TimeSeries.burstiness(t(s, dir, "events"), "user_id", "ts",
        tieCols = Seq("event_id")),
      // q226: identical gap pairing and the identical clamped-variance
      // double pipeline (sqrt of a clamp is engine-safe).
      """WITH g AS (
        | SELECT user_id, epoch_ms(ts) // 1000 AS s,
        |  lag(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id
        |   ORDER BY epoch_ms(ts) // 1000, event_id) AS prev
        | FROM events),
        |st AS (
        | SELECT user_id, count(*) AS n_gaps,
        |  sum(s - prev) AS sum_gap, sum((s - prev) * (s - prev)) AS sum_gap2
        | FROM g WHERE prev IS NOT NULL GROUP BY 1),
        |mm AS (
        | SELECT user_id, n_gaps, sum_gap, sum_gap2,
        |  sum_gap / n_gaps AS mu,
        |  sqrt(greatest(sum_gap2 / n_gaps - (sum_gap / n_gaps) * (sum_gap / n_gaps), 0.0)) AS sd
        | FROM st)
        |SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        | CAST(sum_gap AS BIGINT) AS sum_gap, CAST(sum_gap2 AS BIGINT) AS sum_gap2,
        | CASE WHEN sd + mu = 0.0 THEN NULL
        |  ELSE CAST(floor(1000000.0 * (sd - mu) / (sd + mu)) AS BIGINT) END AS b_micro
        |FROM mm""".stripMargin),

    // ---- multiplicative seasonal index per event type and day-of-month
    // (the corpus spans one month): cell mean vs type mean in ppm; one
    // agg + 30-cell broadcast. ------------------------------------------
    QueryCase("q227_seasonal_index", (s, dir) =>
      TimeSeries.seasonalIndex(t(s, dir, "events"), "event_type",
        dayofmonth(col("ts")), round(col("value") * 100)),
      // q227: day() is proleptic-Gregorian-identical across engines for
      // modern dates; the ratio is one pinned-order double divide.
      """WITH cells AS (
        | SELECT event_type, CAST(day(ts) AS BIGINT) AS season,
        |  count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents
        | FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(n) AS nt, sum(sum_cents) AS st FROM cells GROUP BY 1)
        |SELECT c.event_type, c.season, CAST(c.n AS BIGINT) AS n,
        | CAST(c.sum_cents AS BIGINT) AS sum_cents,
        | CAST(floor((1000000.0 * c.sum_cents * t.nt) / (c.n * t.st)) AS BIGINT) AS index_ppm
        |FROM cells c JOIN tot t USING (event_type)""".stripMargin),

    // ---- Q–Q table click vs view: exact lower-quantile element picks
    // at nine levels — WHERE the distributions diverge, complementing
    // q188's KS supremum and q214's EMD mass. ---------------------------
    QueryCase("q228_qq_table", (s, dir) =>
      Metrics.qqTable(t(s, dir, "events"), "event_type",
        round(col("value") * 100), "click", "view"),
      // q228: identical lower-quantile rank formula; ties among equal
      // values can permute row identity but never the picked value.
      """WITH r AS (
        | SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY CAST(round(value * 100) AS BIGINT)) AS rk,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events WHERE event_type IN ('click', 'view')),
        |l AS (SELECT unnest([1, 5, 10, 25, 50, 75, 90, 95, 99]) AS p),
        |t AS (SELECT l.p, r.g, r.v FROM l JOIN r ON r.rk = (l.p * (r.n - 1)) // 100 + 1)
        |SELECT p,
        | CAST(max(CASE WHEN g = 'click' THEN v END) AS BIGINT) AS q_a,
        | CAST(max(CASE WHEN g = 'view' THEN v END) AS BIGINT) AS q_b,
        | CAST(max(CASE WHEN g = 'click' THEN v END)
        |  - max(CASE WHEN g = 'view' THEN v END) AS BIGINT) AS gap
        |FROM t GROUP BY 1""".stripMargin),

    // ---- L-moment profile per event type: exact rank-weighted P-sums,
    // integer λ2/λ3 numerators, floor-ppm L-CV and L-skewness. ----------
    QueryCase("q229_l_moments", (s, dir) =>
      Metrics.lMoments(t(s, dir, "events"), Seq("event_type"),
        floor(col("value"))),
      // q229: identical rank-weighted P-sums ((i−1)(i−2) is even, so the
      // // is exact) and the identical pinned double ratio chains.
      """WITH r AS (
        | SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY CAST(floor(value) AS BIGINT)) AS i
        | FROM events),
        |s AS (
        | SELECT event_type, count(*) AS n, sum(v) AS p0,
        |  sum((i - 1) * v) AS p1,
        |  sum((((i - 1) * (i - 2)) // 2) * v) AS p2
        | FROM r GROUP BY 1),
        |m AS (
        | SELECT event_type, n, p0, p1, p2,
        |  2 * p1 - (n - 1) * p0 AS l2_num,
        |  12 * p2 - 6 * (n - 2) * p1 + (n - 1) * (n - 2) * p0 AS l3_num
        | FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(p0 AS BIGINT) AS p0,
        | CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
        | CAST(l2_num AS BIGINT) AS l2_num, CAST(l3_num AS BIGINT) AS l3_num,
        | CASE WHEN n < 2 OR p0 = 0 THEN NULL
        |  ELSE CAST(floor((1000000.0 * (l2_num / (n - 1))) / p0) AS BIGINT) END AS t2_ppm,
        | CASE WHEN n < 3 OR l2_num = 0 THEN NULL
        |  ELSE CAST(floor((1000000.0 * (l3_num / (n - 2))) / l2_num) AS BIGINT) END AS t3_ppm
        |FROM m""".stripMargin),

    // ---- sliding event-type trigrams per user: higher-order sequence
    // mining between q85's pairs and q105's prefix paths. ---------------
    QueryCase("q230_path_trigrams", (s, dir) =>
      Transitions.ngrams(t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")), k = 3),
      // q230: one window spec, two leads — identical tie-broken order.
      """WITH s AS (
        | SELECT user_id, event_type AS s1,
        |  lead(event_type, 1) OVER w AS s2,
        |  lead(event_type, 2) OVER w AS s3
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT s1, s2, s3, count(*) AS n FROM s WHERE s3 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT s1, s2, s3, CAST(n AS BIGINT) AS n,
        | CAST((1000000 * n) // tot AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t""".stripMargin),

    // ---- classical moment profile per event type: exact power sums,
    // pinned-order skew/kurtosis milli — q229's parametric sibling. -----
    QueryCase("q232_moments", (s, dir) =>
      Metrics.momentStats(t(s, dir, "events"), Seq("event_type"),
        floor(col("value"))),
      // q232: identical pinned central-moment and ratio chains (mu ≡ s1/n
      // recomputed inline is the identical double).
      """WITH b AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS v FROM events),
        |s AS (
        | SELECT event_type, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2,
        |  sum(v * v * v) AS s3, sum(v * v * v * v) AS s4
        | FROM b GROUP BY 1),
        |m AS (
        | SELECT event_type, n, s1, s2, s3, s4,
        |  s1 / n AS mu,
        |  s2 / n - (s1 / n) * (s1 / n) AS m2,
        |  s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |  s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |   + 6.0 * ((s1 / n) * (s1 / n)) * (s2 / n)
        |   - 3.0 * ((s1 / n) * (s1 / n)) * ((s1 / n) * (s1 / n)) AS m4
        | FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s1 AS BIGINT) AS s1,
        | CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3, CAST(s4 AS BIGINT) AS s4,
        | CAST(floor(1000.0 * mu) AS BIGINT) AS mean_milli,
        | CAST(floor(1000.0 * m2) AS BIGINT) AS var_milli,
        | CASE WHEN m2 <= 0.0 THEN NULL
        |  ELSE CAST(floor(1000.0 * (m3 / (sqrt(m2) * m2))) AS BIGINT) END AS skew_milli,
        | CASE WHEN m2 <= 0.0 THEN NULL
        |  ELSE CAST(floor(1000.0 * (m4 / (m2 * m2) - 3.0)) AS BIGINT) END AS kurt_milli
        |FROM m""".stripMargin),

    // ---- Gini concentration of spend per event type over the value
    // distribution itself (q119 is over category counts): rank-weighted
    // closed form, exact integers. --------------------------------------
    QueryCase("q233_value_gini", (s, dir) =>
      Metrics.valueGini(t(s, dir, "events"), Seq("event_type"),
        floor(col("value"))),
      // q233: rank-weighted Gini closed form; ties permute equal values
      // only, so Σi·v is stable.
      """WITH r AS (
        | SELECT event_type, CAST(floor(value) AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY CAST(floor(value) AS BIGINT)) AS i
        | FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(v) AS BIGINT) AS sum_value,
        | CAST(2 * sum(i * v) - (count(*) + 1) * sum(v) AS BIGINT) AS gini_num,
        | CAST(count(*) * sum(v) AS BIGINT) AS gini_den,
        | CASE WHEN count(*) * sum(v) = 0 THEN NULL
        |  ELSE CAST((1000000 * (2 * sum(i * v) - (count(*) + 1) * sum(v)))
        |   // (count(*) * sum(v)) AS BIGINT) END AS gini_ppm
        |FROM r GROUP BY 1""".stripMargin),

    // ---- Lorenz curve at decile resolution per event type: cumulative
    // spend share by population slice — q233's curve. -------------------
    QueryCase("q234_lorenz_deciles", (s, dir) =>
      Metrics.lorenzDeciles(t(s, dir, "events"), Seq("event_type"),
        round(col("value") * 100)),
      // q234: identical rank→bucket formula and cumulative share windows.
      """WITH r AS (
        | SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY event_type
        |   ORDER BY CAST(round(value * 100) AS BIGINT)) AS i,
        |  count(*) OVER (PARTITION BY event_type) AS n
        | FROM events),
        |b AS (
        | SELECT event_type, ((i - 1) * 10) // n AS bucket,
        |  count(*) AS n_rows, sum(v) AS sum_value
        | FROM r GROUP BY 1, 2),
        |c AS (
        | SELECT event_type, bucket, n_rows, sum_value,
        |  sum(sum_value) OVER (PARTITION BY event_type ORDER BY bucket
        |   ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(sum_value) OVER (PARTITION BY event_type) AS tot
        | FROM b)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        | CAST(n_rows AS BIGINT) AS n_rows, CAST(sum_value AS BIGINT) AS sum_value,
        | CASE WHEN tot = 0 THEN NULL
        |  ELSE CAST((1000000 * cum) // tot AS BIGINT) END AS cum_value_ppm
        |FROM c""".stripMargin),

    // ---- activity-rank movers: users ranked by event count in each
    // month half, two range-partitioned rankings joined — the trending
    // diff without a sampled top-N. -------------------------------------
    QueryCase("q235_rank_movers", (s, dir) =>
      Trend.rankMovers(t(s, dir, "events"), "user_id",
        when(dayofmonth(col("ts")) <= 15, lit("p1")).otherwise(lit("p2")),
        "p1", "p2"),
      // q235: two per-period rankings over (count DESC, item) — the
      // two-phase denseIds path reproduces exactly this total order.
      """WITH c AS (
        | SELECT CASE WHEN day(ts) <= 15 THEN 'p1' ELSE 'p2' END AS p,
        |  user_id AS item, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |ra AS (SELECT item, n AS n_a,
        |  row_number() OVER (ORDER BY n DESC, item) AS rank_a
        | FROM c WHERE p = 'p1'),
        |rb AS (SELECT item, n AS n_b,
        |  row_number() OVER (ORDER BY n DESC, item) AS rank_b
        | FROM c WHERE p = 'p2')
        |SELECT item, CAST(n_a AS BIGINT) AS n_a, CAST(rank_a AS BIGINT) AS rank_a,
        | CAST(n_b AS BIGINT) AS n_b, CAST(rank_b AS BIGINT) AS rank_b,
        | CAST(rank_a - rank_b AS BIGINT) AS rank_delta
        |FROM ra JOIN rb USING (item)""".stripMargin),

    // ---- weekly pulse check: lag-7 autocorrelation of per-type daily
    // counts from exact suff-stats. -------------------------------------
    QueryCase("q236_autocorr", (s, dir) =>
      TimeSeries.dailyAutocorrelation(t(s, dir, "events"), "event_type", "ts",
        lagDays = 7),
      // q236: identical day integers, observed-pair join, pinned r chain.
      """WITH d AS (
        | SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day, count(*) AS c
        | FROM events GROUP BY 1, 2),
        |p AS (
        | SELECT a.event_type, a.c AS x, b.c AS y
        | FROM d a JOIN d b ON a.event_type = b.event_type AND b.day = a.day + 7),
        |s AS (
        | SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        | FROM p GROUP BY 1)
        |SELECT event_type, CAST(7 AS BIGINT) AS lag_days, CAST(n AS BIGINT) AS n_pairs,
        | CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
        |  ELSE CAST(floor((1000000.0 * (n * sxy - sx * sy))
        |   / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) AS BIGINT)
        | END AS r_ppm
        |FROM s""".stripMargin),

    // ---- p10/p50/p90 daily value envelope: exact element picks per
    // integer day; days partition richly. -------------------------------
    QueryCase("q238_daily_bands", (s, dir) =>
      TimeSeries.dailyBands(t(s, dir, "events"), "ts",
        round(col("value") * 100)),
      // q238: identical day integers and lower-quantile rank picks.
      """WITH r AS (
        | SELECT epoch_ms(ts) // 1000 // 86400 AS day,
        |  CAST(round(value * 100) AS BIGINT) AS v,
        |  row_number() OVER (PARTITION BY epoch_ms(ts) // 1000 // 86400
        |   ORDER BY CAST(round(value * 100) AS BIGINT)) AS rk,
        |  count(*) OVER (PARTITION BY epoch_ms(ts) // 1000 // 86400) AS n
        | FROM events)
        |SELECT day, CAST(max(n) AS BIGINT) AS n,
        | CAST(max(CASE WHEN rk = ((10 * (n - 1)) // 100) + 1 THEN v END) AS BIGINT) AS p10,
        | CAST(max(CASE WHEN rk = ((50 * (n - 1)) // 100) + 1 THEN v END) AS BIGINT) AS p50,
        | CAST(max(CASE WHEN rk = ((90 * (n - 1)) // 100) + 1 THEN v END) AS BIGINT) AS p90
        |FROM r GROUP BY 1""".stripMargin),

    // ---- conversion lift per event type vs global (payload k ≥ 50 as
    // the flag): cross-multiplied all-integer rates. --------------------
    QueryCase("q239_segment_lift", (s, dir) =>
      Audit.segmentLift(t(s, dir, "events"), Seq("event_type"),
        get_json_object(col("props"), "$.k").cast("long") >= 50),
      // q239: cross-multiplied lift keeps every comparison in integers.
      """WITH s AS (
        | SELECT event_type, count(*) AS n_rows,
        |  sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |   THEN 1 ELSE 0 END) AS n_flagged
        | FROM events GROUP BY 1),
        |g AS (SELECT sum(n_rows) AS n, sum(n_flagged) AS k FROM s)
        |SELECT event_type, CAST(n_rows AS BIGINT) AS n_rows,
        | CAST(n_flagged AS BIGINT) AS n_flagged,
        | CAST((1000000 * n_flagged) // n_rows AS BIGINT) AS rate_ppm,
        | CAST((1000000 * k) // n AS BIGINT) AS global_rate_ppm,
        | CASE WHEN k = 0 THEN NULL
        |  ELSE CAST((1000000 * n_flagged * n) // (n_rows * k) AS BIGINT) END AS lift_ppm
        |FROM s CROSS JOIN g""".stripMargin),

    // ---- sample-ratio-mismatch gate on the parity assignment: distinct
    // units per arm, exact milli chi-square. ----------------------------
    QueryCase("q240_srm_check", (s, dir) =>
      Eval.srmCheck(t(s, dir, "events"), "user_id",
        pmod(col("user_id"), lit(2)) === 1),
      // q240: distinct units first (exposure-event double-counting is the
      // classic SRM false alarm), then the exact milli chi-square.
      """WITH u AS (
        | SELECT DISTINCT user_id,
        |  CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS t
        | FROM events),
        |s AS (SELECT sum(t) AS n_t, sum(1 - t) AS n_c FROM u)
        |SELECT CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
        | CAST((1000 * (n_t - n_c) * (n_t - n_c)) // (n_t + n_c) AS BIGINT) AS chisq_milli,
        | ((1000 * (n_t - n_c) * (n_t - n_c)) // (n_t + n_c)) >= 3841 AS srm_suspect
        |FROM s""".stripMargin),

    // ---- blocking-key cost profile for q211's key: block-size classes
    // with their candidate-pair mass — the pre-join planner read. -------
    QueryCase("q242_block_profile", (s, dir) =>
      FuzzyJoin.blockProfile(t(s, dir, "customer"),
        substring(col("c_name"), 1, 16)),
      // q242: identical binary-digit size classes and pair mass.
      """WITH b AS (
        | SELECT substr(c_name, 1, 16) AS blk, count(*) AS sz
        | FROM customer GROUP BY 1)
        |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS size_class,
        | CAST(count(*) AS BIGINT) AS n_blocks,
        | CAST(sum(sz) AS BIGINT) AS n_rows,
        | CAST(sum((sz * (sz - 1)) // 2) AS BIGINT) AS n_pairs
        |FROM b GROUP BY 1""".stripMargin),

    // ---- dwell time per state: inter-event gaps attributed to the
    // earlier event's type — how long each state HOLDS, where q85
    // counts what follows. ----------------------------------------------
    QueryCase("q243_time_in_state", (s, dir) =>
      TimeSeries.timeInState(t(s, dir, "events"), "user_id", "event_type",
        "ts", tieCols = Seq("event_id")),
      // q243: identical gap pairing (per-user lead over seconds + id) and
      // earlier-state attribution.
      """WITH g AS (
        | SELECT event_type AS state, epoch_ms(ts) // 1000 AS s,
        |  lead(epoch_ms(ts) // 1000) OVER (PARTITION BY user_id
        |   ORDER BY epoch_ms(ts) // 1000, event_id) AS nxt
        | FROM events)
        |SELECT state, CAST(count(*) AS BIGINT) AS n_intervals,
        | CAST(sum(nxt - s) AS BIGINT) AS total_sec,
        | CAST((1000 * sum(nxt - s)) // count(*) AS BIGINT) AS mean_sec_milli
        |FROM g WHERE nxt IS NOT NULL GROUP BY 1""".stripMargin),

    // ---- longest consecutive-day streak per user: gaps-and-islands
    // over distinct active days, no iteration. --------------------------
    QueryCase("q244_daily_streaks", (s, dir) =>
      TimeSeries.longestStreak(t(s, dir, "events"), "user_id", "ts"),
      // q244: day − row_number anchors consecutive runs; distinct days
      // first so multi-event days count once.
      """WITH d AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 1000 // 86400 AS day
        | FROM events),
        |r AS (
        | SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS anchor
        | FROM d),
        |runs AS (SELECT user_id, anchor, count(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        | CAST(max(len) AS BIGINT) AS longest_streak,
        | CAST(count(*) AS BIGINT) AS n_streaks
        |FROM runs GROUP BY 1""".stripMargin),

    // ---- D1/D7 return rates by first-active day: the growth activation
    // read at day grain (q83 is the period-grain triangle). -------------
    QueryCase("q247_cohort_returns", (s, dir) =>
      Cohort.dailyReturns(t(s, dir, "events"), "user_id", "ts"),
      // q247: identical UTC day integers, distinct days, per-user min.
      """WITH d AS (
        | SELECT DISTINCT user_id AS u, epoch_ms(ts) // 1000 // 86400 AS day
        | FROM events),
        |f AS (SELECT u, min(day) AS first FROM d GROUP BY 1),
        |per AS (
        | SELECT d.u, f.first,
        |  max(CASE WHEN d.day = f.first + 1 THEN 1 ELSE 0 END) AS d1,
        |  max(CASE WHEN d.day > f.first AND d.day <= f.first + 7 THEN 1 ELSE 0 END) AS d7
        | FROM d JOIN f USING (u) GROUP BY 1, 2)
        |SELECT first AS cohort_day, CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(d1) AS BIGINT) AS n_d1, CAST(sum(d7) AS BIGINT) AS n_d7,
        | CAST((1000000 * sum(d1)) // count(*) AS BIGINT) AS d1_ppm,
        | CAST((1000000 * sum(d7)) // count(*) AS BIGINT) AS d7_ppm
        |FROM per GROUP BY 1""".stripMargin),

    // ---- whale check: the event share of the top 1% of users, exact
    // cut through the range-partitioned ranking. ------------------------
    QueryCase("q248_power_share", (s, dir) =>
      Cohort.powerUserShare(t(s, dir, "events"), "user_id", pctPpm = 10000L),
      // q248: identical (count DESC, user) total order and ⌊n·pct⌋ cut.
      """WITH c AS (SELECT user_id AS u, count(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT u, n, row_number() OVER (ORDER BY n DESC, u) AS rk FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(n) AS BIGINT) AS n_events FROM c),
        |k AS (SELECT greatest(1, (n_users * 10000) // 1000000) AS top_users FROM t)
        |SELECT t.n_users, t.n_events, CAST(k.top_users AS BIGINT) AS top_users,
        | CAST((SELECT sum(n) FROM r WHERE rk <= k.top_users) AS BIGINT) AS top_events,
        | CAST((1000000 * (SELECT sum(n) FROM r WHERE rk <= k.top_users)) // t.n_events AS BIGINT)
        |  AS share_ppm
        |FROM t CROSS JOIN k""".stripMargin),

    // ---- fulfillment lead time per order priority: order date → first
    // ship date in exact day integers, with mean and exact p50/p90
    // element picks (per-priority windows). -----------------------------
    QueryCase("q249_fulfillment_lag", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ship = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("__ship"))
      val lags = t(s, dir, "orders")
        .join(ship, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(col("__ship"), col("o_orderdate")).cast("long").as("__d"))
      val w = Window.partitionBy(col("priority")).orderBy(col("__d"))
      lags
        .withColumn("__rk", row_number().over(w).cast("long"))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("priority"))))
        .groupBy(col("priority"))
        .agg(count(lit(1)).as("n_orders"),
          expr("(1000L * sum(__d)) div count(1)").as("mean_days_milli"),
          max(when(col("__rk") === expr("((50 * (__n - 1)) div 100) + 1"), col("__d"))).as("p50_days"),
          max(when(col("__rk") === expr("((90 * (__n - 1)) div 100) + 1"), col("__d"))).as("p90_days"))
    },
      // q249: date subtraction is exact day integers in both engines;
      // identical lower-quantile rank picks.
      """WITH s AS (SELECT l_orderkey, min(l_shipdate) AS ship FROM lineitem GROUP BY 1),
        |l AS (
        | SELECT o.o_orderpriority AS priority,
        |  CAST(date_diff('day', o.o_orderdate, s.ship) AS BIGINT) AS d
        | FROM orders o JOIN s ON o.o_orderkey = s.l_orderkey),
        |r AS (
        | SELECT priority, d,
        |  row_number() OVER (PARTITION BY priority ORDER BY d) AS rk,
        |  count(*) OVER (PARTITION BY priority) AS n
        | FROM l)
        |SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST((1000 * sum(d)) // count(*) AS BIGINT) AS mean_days_milli,
        | CAST(max(CASE WHEN rk = ((50 * (n - 1)) // 100) + 1 THEN d END) AS BIGINT) AS p50_days,
        | CAST(max(CASE WHEN rk = ((90 * (n - 1)) // 100) + 1 THEN d END) AS BIGINT) AS p90_days
        |FROM r GROUP BY 1""".stripMargin),

    // ---- return rate by part brand: lineitem⋈part with exact ppm
    // return shares — the classic fact⋈dim quality rollup. --------------
    QueryCase("q250_brand_returns", (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          count_if(col("l_returnflag") === "R").as("n_returned"))
        .withColumn("return_ppm", expr("(1000000L * n_returned) div n_items")),
      // q250: plain fact⋈dim rollup with integer ppm shares.
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
        | CAST((1000000 * sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)) // count(*) AS BIGINT)
        |  AS return_ppm
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),

    // ---- Mann–Kendall monotone-trend test per event type over the
    // DAILY count series: all-integer S and pair count, floor-ppm
    // tau-a; the pair join runs on the days-sized aggregate. -----------
    QueryCase("q251_mann_kendall", (s, dir) =>
      Trend.mannKendall(
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_millis(ts) div 1000 div 86400").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c")),
        Seq("event_type"), col("day"), col("c")),
      // q251: identical day integers; the explicit Spark floor-division
      // branches match DuckDB's flooring //.
      """WITH d AS (
        | SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |p AS (
        | SELECT a.event_type,
        |  CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
        |  CAST(count(*) AS BIGINT) AS pairs
        | FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
        | GROUP BY 1),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1)
        |SELECT n.event_type, n.n,
        | CAST(coalesce(p.s_stat, 0) AS BIGINT) AS s_stat,
        | CAST(coalesce(p.pairs, 0) AS BIGINT) AS pairs,
        | CASE WHEN coalesce(p.pairs, 0) = 0 THEN NULL
        |  ELSE CAST((1000000 * p.s_stat) // p.pairs AS BIGINT)
        | END AS tau_ppm
        |FROM n LEFT JOIN p ON n.event_type = p.event_type""".stripMargin),

    // ---- Kruskal–Wallis k-sample rank test per event type: does the
    // metric's distribution differ across the day-of-week slices —
    // ×2-integer midranks, pinned-double H, floor-milli. ---------------
    QueryCase("q252_kruskal_wallis", (s, dir) =>
      Eval.kruskalWallis(
        t(s, dir, "events")
          .select(col("event_type"),
            expr("pmod(unix_millis(ts) div 1000 div 86400 + 4, 7)").as("dow"),
            round(col("value") * 100).cast("long").as("cents")),
        Seq("event_type"), col("dow"), col("cents")),
      // q252: ×2 midranks stay integer in both engines
      // (2·rank + ties − 1); H's double arithmetic is spelled in the
      // identical operation order so the floor-milli values agree.
      """WITH b AS (
        | SELECT event_type,
        |  (epoch_ms(ts) // 1000 // 86400 + 4) % 7 AS dow,
        |  CAST(round(value * 100) AS BIGINT) AS cents
        | FROM events),
        |r AS (
        | SELECT event_type, dow, cents,
        |  rank() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
        |  count(*) OVER (PARTITION BY event_type, cents) AS ct
        | FROM b),
        |ps AS (
        | SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nj,
        |  CAST(sum(2 * rk + ct - 1) AS BIGINT) AS r2j
        | FROM r GROUP BY 1, 2),
        |pg AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(nj) AS BIGINT) AS n,
        |  sum(CAST(r2j AS DOUBLE) * r2j / nj) AS sr
        | FROM ps GROUP BY 1),
        |t AS (
        | SELECT event_type, CAST(sum(ct * ct * ct - ct) AS BIGINT) AS tie3
        | FROM (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS ct
        |       FROM b GROUP BY 1, 2) GROUP BY 1)
        |SELECT pg.event_type, pg.k, pg.n,
        | CASE WHEN pg.n < 2 OR pg.k < 2 THEN NULL
        |  ELSE CAST(floor(1000.0 * (3.0 * sr / (n * (n + 1)) - 3.0 * (n + 1))) AS BIGINT)
        | END AS h_milli,
        | CASE WHEN pg.n < 2 OR pg.k < 2
        |   OR 1.0 - tie3 / (CAST(n AS DOUBLE) * n * n - n) <= 0.0 THEN NULL
        |  ELSE CAST(floor(1000.0 * (3.0 * sr / (n * (n + 1)) - 3.0 * (n + 1)) /
        |   (1.0 - tie3 / (CAST(n AS DOUBLE) * n * n - n))) AS BIGINT)
        | END AS h_adj_milli
        |FROM pg JOIN t ON pg.event_type = t.event_type""".stripMargin),

    // ---- market-basket association rules over order⋈part baskets:
    // exact pair/item counts, truncated ppm support/confidence and
    // milli lift; pair expansion bounded by order size. ----------------
    QueryCase("q253_assoc_rules", (s, dir) =>
      Association.rules(t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"), minPairCount = 2L),
      // q253: identical distinct (basket, item) projection and integer
      // truncated quotients in both engines.
      """WITH i AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem),
        |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM i GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM i),
        |p AS (
        | SELECT a.it AS item_a, c.it AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        | FROM i a JOIN i c ON a.b = c.b AND a.it < c.it
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b, p.n_ab,
        | ca.c AS n_a, cb.c AS n_b, nb.n_baskets,
        | CAST((1000000 * p.n_ab) // nb.n_baskets AS BIGINT) AS support_ppm,
        | CAST((1000000 * p.n_ab) // ca.c AS BIGINT) AS conf_a_b_ppm,
        | CAST((1000000 * p.n_ab) // cb.c AS BIGINT) AS conf_b_a_ppm,
        | CAST((1000 * nb.n_baskets * p.n_ab) // (ca.c * cb.c) AS BIGINT) AS lift_milli
        |FROM p JOIN ic ca ON p.item_a = ca.it
        | JOIN ic cb ON p.item_b = cb.it CROSS JOIN nb""".stripMargin),

    // ---- landing-zone type sniffing over deterministically
    // string-ified event fields: anchored-regex class per value, one
    // melted hash agg — int/json/datetime/bool/other all exercised. ----
    QueryCase("q255_type_sniff", (s, dir) =>
      Audit.typeSniff(
        t(s, dir, "events").select(
          col("event_id").cast("string").as("c_id"),
          col("event_type").as("c_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("c_ts"),
          col("props").as("c_props"),
          when(pmod(col("user_id"), lit(2)) === 0, "true").otherwise("false").as("c_flag"),
          when(col("value") < 50, round(col("value") * 100).cast("long").cast("string"))
            .as("c_mixed")),
        Seq("c_id", "c_type", "c_ts", "c_props", "c_flag", "c_mixed")),
      // q255: the same anchored regexes (syntax valid in both Java regex
      // and RE2 with identical semantics); precedence order is the CASE
      // order; strftime mirrors date_format's literal pattern.
      """WITH src AS (
        | SELECT CAST(event_id AS VARCHAR) AS c_id,
        |  event_type AS c_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
        |  props AS c_props,
        |  CASE WHEN user_id % 2 = 0 THEN 'true' ELSE 'false' END AS c_flag,
        |  CASE WHEN value < 50 THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) END AS c_mixed
        | FROM events),
        |m AS (
        | SELECT column_name, v FROM (
        |  SELECT unnest(['c_id','c_type','c_ts','c_props','c_flag','c_mixed']) AS column_name,
        |   unnest([c_id, c_type, c_ts, c_props, c_flag, c_mixed]) AS v
        |  FROM src)),
        |c AS (
        | SELECT column_name,
        |  CASE WHEN v IS NULL THEN 'null'
        |   WHEN v = '' THEN 'empty'
        |   WHEN regexp_matches(v, '^[+-]?[0-9]+$') THEN 'int'
        |   WHEN regexp_matches(v, '^[+-]?[0-9]+\.[0-9]+$') THEN 'float'
        |   WHEN lower(v) IN ('true', 'false') THEN 'bool'
        |   WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') THEN 'date'
        |   WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}[ T][0-9]{2}:[0-9]{2}:[0-9]{2}(\.[0-9]+)?$') THEN 'datetime'
        |   WHEN regexp_matches(v, '^\{.*\}$') THEN 'json'
        |   ELSE 'other' END AS inferred
        | FROM m)
        |SELECT column_name, inferred, CAST(count(*) AS BIGINT) AS n
        |FROM c GROUP BY 1, 2""".stripMargin),

    // ---- best lead/lag between event-type daily curves: ±7-day lag
    // fan-out on the days-sized table, pinned-double r, one row per
    // pair with the argmax lag. ----------------------------------------
    QueryCase("q256_lead_lag", (s, dir) =>
      TimeSeries.leadLagCorrelation(t(s, dir, "events"), "event_type", "ts",
        maxLagDays = 7),
      // q256: identical day integers, suff stats and pinned
      // divide-and-sqrt order as q236; the argmax window's tie order is
      // total (r desc, |lag|, lag).
      """WITH d AS (
        | SELECT event_type AS g, epoch_ms(ts) // 1000 // 86400 AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |l AS (SELECT CAST(x AS BIGINT) AS lag FROM range(-7, 8) t(x)),
        |j AS (
        | SELECT a.g AS g_a, b.g AS g_b, l.lag,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(a.c) AS BIGINT) AS sx, CAST(sum(b.c) AS BIGINT) AS sy,
        |  CAST(sum(a.c * b.c) AS BIGINT) AS sxy,
        |  CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
        |  CAST(sum(b.c * b.c) AS BIGINT) AS syy
        | FROM d a CROSS JOIN l JOIN d b ON a.day + l.lag = b.day AND a.g < b.g
        | GROUP BY 1, 2, 3),
        |v AS (
        | SELECT g_a, g_b, lag, n_pairs,
        |  CAST(floor(1000000.0 * (n_pairs * sxy - sx * sy) /
        |   (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE)))) AS BIGINT) AS r_ppm
        | FROM j
        | WHERE n_pairs * sxx - sx * sx > 0 AND n_pairs * syy - sy * sy > 0)
        |SELECT g_a, g_b, CAST(lag AS BIGINT) AS best_lag, n_pairs, r_ppm FROM (
        | SELECT *, row_number() OVER (PARTITION BY g_a, g_b
        |   ORDER BY r_ppm DESC, abs(lag), lag) AS rn FROM v)
        |WHERE rn = 1""".stripMargin),

    // ---- monthly revenue trend per nation WITH fit quality: exact
    // integer slope parts plus sqrt-free R² (squared Pearson) ppm.
    // Revenue in WHOLE dollars, not cents: Σy² must stay under 2⁶³ and
    // monthly-nation revenue in cents squared would pass it at sf ≥ 0.1.
    QueryCase("q257_trend_fit", (s, dir) =>
      Trend.linearFit(
        t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nation"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("m"))
          .agg(sum(floor(col("o_totalprice")).cast("long")).as("rev")),
        Seq("nation"), col("m"), col("rev")),
      // q257: integer slope parts; R² is the squared Pearson — no sqrt —
      // with the one double division in the identical operation order.
      """WITH mrev AS (
        | SELECT c.c_nationkey AS nation,
        |  year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
        |  CAST(sum(CAST(floor(o.o_totalprice) AS BIGINT)) AS BIGINT) AS rev
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1, 2),
        |s AS (
        | SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(m) AS BIGINT) AS sx, CAST(sum(rev) AS BIGINT) AS sy,
        |  CAST(sum(m * rev) AS BIGINT) AS sxy,
        |  CAST(sum(m * m) AS BIGINT) AS sxx,
        |  CAST(sum(rev * rev) AS BIGINT) AS syy
        | FROM mrev GROUP BY 1)
        |SELECT nation, n,
        | CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        | CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        | CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL
        |  ELSE CAST(floor(1000000.0 * (n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |   (CAST(n * sxx - sx * sx AS DOUBLE) * (n * syy - sy * sy))) AS BIGINT)
        | END AS r2_ppm
        |FROM s""".stripMargin),

    // ---- SAX words over per-user daily activity: PAA means of 4-day
    // windows binned against fixed milli breakpoints — whole-series
    // shape as a short string, per-key windows only. --------------------
    QueryCase("q258_sax", (s, dir) =>
      TimeSeries.saxSymbols(
        t(s, dir, "events")
          .select(col("user_id"),
            expr("unix_millis(ts) div 1000 div 86400").as("day"))
          .groupBy(col("user_id"), col("day"))
          .agg(count(lit(1)).as("c")),
        Seq("user_id"), Seq(col("day")), col("c"),
        w = 4, breakpointsMilli = Seq(1500L, 2500L, 4000L)),
      // q258: identical day integers, (rank-1)//4 window ids, (1000·Σ)//n
      // PAA truncation, same breakpoint counts, ordered string_agg word.
      """WITH d AS (
        | SELECT user_id, epoch_ms(ts) // 1000 // 86400 AS day, count(*) AS c
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT user_id, c,
        |  (row_number() OVER (PARTITION BY user_id ORDER BY day) - 1) // 4 AS win
        | FROM d),
        |p AS (
        | SELECT user_id, win, (1000 * sum(c)) // count(*) AS paa,
        |  count(*) AS n
        | FROM r GROUP BY 1, 2),
        |s AS (
        | SELECT user_id, win, n,
        |  chr(97 + CASE WHEN paa >= 1500 THEN 1 ELSE 0 END
        |   + CASE WHEN paa >= 2500 THEN 1 ELSE 0 END
        |   + CASE WHEN paa >= 4000 THEN 1 ELSE 0 END) AS sym
        | FROM p)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_windows,
        | CAST(sum(n) AS BIGINT) AS n_points,
        | string_agg(sym, '' ORDER BY win) AS sax_word
        |FROM s GROUP BY 1""".stripMargin),

    // ---- Gini–Simpson behavioral diversity per user over event types:
    // exact rational diversity + effective-category count. --------------
    QueryCase("q259_simpson", (s, dir) =>
      Metrics.simpsonDiversity(t(s, dir, "events"), Seq("user_id"),
        col("event_type")),
      // q259: rational diversity — both engines truncate the div.
      """WITH c AS (
        | SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2),
        |s AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_categories,
        |  CAST(sum(n) AS BIGINT) AS n_rows, CAST(sum(n * n) AS BIGINT) AS s2
        | FROM c GROUP BY 1)
        |SELECT user_id, n_categories, n_rows,
        | CAST((1000000 * (n_rows * n_rows - s2)) // (n_rows * n_rows) AS BIGINT)
        |  AS gini_simpson_ppm,
        | CAST((1000 * n_rows * n_rows) // s2 AS BIGINT) AS effective_cats_milli
        |FROM s""".stripMargin),

    // ---- Average Precision @ 20 of the per-type user ranking against
    // the deterministic id%3 relevance rule: per-term truncated-ppm
    // P@i, one per-query window. ---------------------------------------
    QueryCase("q261_avg_precision", (s, dir) =>
      Eval.averagePrecision(
        t(s, dir, "events").groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n")),
        Seq("event_type"), Seq(col("n").desc, col("user_id")),
        pmod(col("user_id"), lit(3)) === 0, k = 20),
      // q261: identical (count DESC, user) total order, per-term truncated
      // ppm precision, one more truncation for the mean — both by spec.
      """WITH c AS (
        | SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT event_type, user_id, n,
        |  CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS rel,
        |  row_number() OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS rn
        | FROM c),
        |t AS (
        | SELECT *, sum(rel) OVER (PARTITION BY event_type ORDER BY rn) AS relcnt
        | FROM r WHERE rn <= 20)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_ranked,
        | CAST(sum(rel) AS BIGINT) AS n_rel,
        | CASE WHEN sum(rel) = 0 THEN NULL ELSE
        |  CAST(sum(CASE WHEN rel = 1 THEN (1000000 * relcnt) // rn ELSE 0 END)
        |   // least(sum(rel), 20) AS BIGINT) END AS ap_ppm
        |FROM t GROUP BY 1""".stripMargin),

    // ---- co-missingness matrix over sparse derived attributes: does
    // payload-k, purchase flag, and the id-cohort tag vanish together —
    // one single-row agg, stack-melted. ---------------------------------
    QueryCase("q263_conull", (s, dir) =>
      Audit.coMissingness(
        t(s, dir, "events").select(
          when(get_json_object(col("props"), "$.k").cast("long") % 2 === 0,
            get_json_object(col("props"), "$.k").cast("long")).as("k_even"),
          when(col("event_type") === "purchase", lit(1L)).as("purchase_flag"),
          when(col("user_id") % 5 === 0, col("user_id")).as("cohort_tag")),
        Seq("k_even", "purchase_flag", "cohort_tag")),
      // q263: same sparse derivations; three pair rows via UNION ALL over
      // one aggregate row.
      """WITH d AS (
        | SELECT
        |  CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 = 0
        |   THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k_even,
        |  CASE WHEN event_type = 'purchase' THEN 1 END AS purchase_flag,
        |  CASE WHEN user_id % 5 = 0 THEN user_id END AS cohort_tag
        | FROM events),
        |a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN k_even IS NULL THEN 1 END) AS BIGINT) AS nk,
        |  CAST(count(CASE WHEN purchase_flag IS NULL THEN 1 END) AS BIGINT) AS np,
        |  CAST(count(CASE WHEN cohort_tag IS NULL THEN 1 END) AS BIGINT) AS nc,
        |  CAST(count(CASE WHEN k_even IS NULL AND purchase_flag IS NULL THEN 1 END) AS BIGINT) AS bkp,
        |  CAST(count(CASE WHEN k_even IS NULL AND cohort_tag IS NULL THEN 1 END) AS BIGINT) AS bkc,
        |  CAST(count(CASE WHEN purchase_flag IS NULL AND cohort_tag IS NULL THEN 1 END) AS BIGINT) AS bpc
        | FROM d),
        |p AS (
        | SELECT 'k_even' AS col_a, 'purchase_flag' AS col_b, n, nk AS null_a, np AS null_b, bkp AS both_null FROM a
        | UNION ALL
        | SELECT 'k_even', 'cohort_tag', n, nk, nc, bkc FROM a
        | UNION ALL
        | SELECT 'purchase_flag', 'cohort_tag', n, np, nc, bpc FROM a)
        |SELECT col_a, col_b, n AS n_rows, null_a, null_b, both_null,
        | CAST((1000000 * both_null) // n AS BIGINT) AS conull_ppm,
        | CASE WHEN null_a = 0 OR null_b = 0 THEN NULL
        |  ELSE CAST((1000 * both_null * n) // (null_a * null_b) AS BIGINT)
        | END AS lift_milli
        |FROM p""".stripMargin),

    // ---- weekly stickiness (mean-DAU / WAU): one distinct triple pass,
    // engine-neutral week/day integers. ---------------------------------
    QueryCase("q264_stickiness", (s, dir) =>
      Cohort.stickiness(t(s, dir, "events"), "user_id", "ts"),
      // q264: identical epoch-day/week integers and distinct-triple base.
      """WITH t AS (
        | SELECT DISTINCT (epoch_ms(ts) // 1000 // 86400) // 7 AS week,
        |  epoch_ms(ts) // 1000 // 86400 AS day, user_id AS a
        | FROM events),
        |d AS (SELECT week, day, count(*) AS dau FROM t GROUP BY 1, 2),
        |w AS (SELECT week, count(*) AS nd, sum(dau) AS sd FROM d GROUP BY 1),
        |u AS (SELECT week, count(DISTINCT a) AS wau FROM t GROUP BY 1)
        |SELECT CAST(w.week AS BIGINT) AS week, CAST(nd AS BIGINT) AS n_active_days,
        | CAST(wau AS BIGINT) AS wau, CAST(sd // nd AS BIGINT) AS mean_dau,
        | CAST((1000000 * sd) // (nd * wau) AS BIGINT) AS stickiness_ppm
        |FROM w JOIN u USING (week)""".stripMargin),

    // ---- exact audience overlap between event-type segments: Jaccard +
    // overlap coefficient per pair, actor-keyed self-join. --------------
    QueryCase("q267_audience_overlap", (s, dir) =>
      Cohort.audienceOverlap(t(s, dir, "events"), "event_type", "user_id"),
      // q267: distinct (segment, actor) base, actor-keyed pair counts.
      """WITH sa AS (SELECT DISTINCT event_type AS s, user_id AS a FROM events),
        |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM sa GROUP BY 1),
        |i AS (
        | SELECT x.s AS seg_a, y.s AS seg_b, CAST(count(*) AS BIGINT) AS n_common
        | FROM sa x JOIN sa y ON x.a = y.a AND x.s < y.s GROUP BY 1, 2)
        |SELECT seg_a, seg_b, za.n AS size_a, zb.n AS size_b, n_common,
        | CAST((1000000 * n_common) // (za.n + zb.n - n_common) AS BIGINT) AS jaccard_ppm,
        | CAST((1000000 * n_common) // least(za.n, zb.n) AS BIGINT) AS overlap_ppm
        |FROM i JOIN sz za ON za.s = seg_a JOIN sz zb ON zb.s = seg_b""".stripMargin),

    // ---- daily OHLC candles per event type over value cents: exact
    // first/last picks on a pinned total order. --------------------------
    QueryCase("q270_ohlc", (s, dir) =>
      TimeSeries.ohlc(
        t(s, dir, "events")
          .select(col("event_type"), col("ts"), col("event_id"),
            round(col("value") * 100).cast("long").as("cents"),
            unix_millis(col("ts")).as("ms")),
        Seq("event_type"), expr("unix_millis(ts) div 1000 div 86400"),
        Seq(col("ms"), col("event_id")), col("cents")),
      // q270: identical (ms, event_id) total order and first/last picks.
      """WITH r AS (
        | SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS period,
        |  CAST(round(value * 100) AS BIGINT) AS v, epoch_ms(ts) AS ms, event_id
        | FROM events),
        |w AS (
        | SELECT event_type, period, v,
        |  row_number() OVER (PARTITION BY event_type, period ORDER BY ms, event_id) AS rn,
        |  count(*) OVER (PARTITION BY event_type, period) AS n
        | FROM r)
        |SELECT event_type, CAST(period AS BIGINT) AS period,
        | CAST(count(*) AS BIGINT) AS volume,
        | CAST(max(CASE WHEN rn = 1 THEN v END) AS BIGINT) AS open,
        | CAST(max(v) AS BIGINT) AS high, CAST(min(v) AS BIGINT) AS low,
        | CAST(max(CASE WHEN rn = n THEN v END) AS BIGINT) AS close
        |FROM w GROUP BY 1, 2""".stripMargin),

    // ---- orders→lineitem fan-out profile: exact p50/p90 children per
    // order off the histogram prefix-sum, one-row report. ----------------
    QueryCase("q271_fanout", (s, dir) =>
      Audit.fanoutProfile(t(s, dir, "lineitem"), col("l_orderkey")),
      // q271: same histogram prefix-sum and lower-element percentile picks.
      """WITH c AS (SELECT l_orderkey, count(*) AS f FROM lineitem GROUP BY 1),
        |h AS (SELECT f, count(*) AS nk FROM c GROUP BY 1),
        |r AS (SELECT f, nk, sum(nk) OVER (ORDER BY f) AS cum FROM h),
        |t AS (SELECT sum(nk) AS ks, sum(f * nk) AS rs, max(f) AS mx FROM h)
        |SELECT CAST(ks AS BIGINT) AS n_keys, CAST(rs AS BIGINT) AS n_rows,
        | CAST(mx AS BIGINT) AS max_fanout,
        | CAST(min(CASE WHEN cum >= ((50 * (ks - 1)) // 100) + 1 THEN f END) AS BIGINT)
        |  AS p50_fanout,
        | CAST(min(CASE WHEN cum >= ((90 * (ks - 1)) // 100) + 1 THEN f END) AS BIGINT)
        |  AS p90_fanout,
        | CAST((1000 * rs) // ks AS BIGINT) AS mean_fanout_milli
        |FROM r, t GROUP BY ks, rs, mx""".stripMargin),

    // ---- single least-SSE changepoint over each event type's daily
    // count series: binary segmentation's first cut, all-integer costs,
    // deterministic argmin. ----------------------------------------------
    QueryCase("q273_changepoint", (s, dir) =>
      TimeSeries.varianceChangepoint(
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_millis(ts) div 1000 div 86400").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c")),
        Seq("event_type"), Seq(col("day")), col("c")),
      // q273: same prefix-sum windows, same truncating per-segment SSE,
      // same (cost, k) argmin order.
      """WITH d AS (
        | SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day, count(*) AS c
        | FROM events GROUP BY 1, 2),
        |p AS (
        | SELECT event_type, c,
        |  count(*) OVER wk AS k, sum(c) OVER wk AS s, sum(c * c) OVER wk AS q,
        |  count(*) OVER wt AS n, sum(c) OVER wt AS st, sum(c * c) OVER wt AS qt
        | FROM d
        | WINDOW wk AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wt AS (PARTITION BY event_type)),
        |c2 AS (
        | SELECT *, (1000 * q - (1000 * s * s) // k)
        |   + (1000 * (qt - q) - (1000 * (st - s) * (st - s)) // (n - k)) AS cost
        | FROM p WHERE k < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cost, k) AS rn
        | FROM c2)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS best_k,
        | CAST(cost AS BIGINT) AS split_sse_milli,
        | CAST(1000 * qt - (1000 * st * st) // n AS BIGINT) AS total_sse_milli,
        | CAST((1000 * qt - (1000 * st * st) // n) - cost AS BIGINT) AS gain_milli
        |FROM r WHERE rn = 1""".stripMargin),

    // ---- cohort LTV curve over orders: first-order cohort month, age,
    // active counts, exact cumulative revenue per cohort member. --------
    QueryCase("q277_ltv_curve", (s, dir) =>
      Cohort.ltvCurve(
        t(s, dir, "orders"),
        "o_custkey",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"),
        round(col("o_totalprice") * 100).cast("long")),
      // q277: identical month ints, min-cohort join, per-cohort cumsum.
      """WITH b AS (
        | SELECT o_custkey AS c, year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS amt
        | FROM orders),
        |co AS (SELECT c, min(m) AS cohort_month FROM b GROUP BY 1),
        |sz AS (SELECT cohort_month, CAST(count(*) AS BIGINT) AS cohort_size
        | FROM co GROUP BY 1),
        |ag AS (
        | SELECT co.cohort_month, b.m - co.cohort_month AS age_months,
        |  CAST(count(DISTINCT b.c) AS BIGINT) AS n_active,
        |  CAST(sum(b.amt) AS BIGINT) AS revenue_cents
        | FROM b JOIN co ON b.c = co.c GROUP BY 1, 2),
        |cum AS (
        | SELECT *, sum(revenue_cents) OVER (PARTITION BY cohort_month
        |   ORDER BY age_months ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS cum_revenue_cents
        | FROM ag)
        |SELECT CAST(cohort_month AS BIGINT) AS cohort_month,
        | CAST(age_months AS BIGINT) AS age_months, n_active, revenue_cents,
        | cohort_size, CAST(cum_revenue_cents AS BIGINT) AS cum_revenue_cents,
        | CAST((1000 * cum_revenue_cents) // (100 * cohort_size) AS BIGINT)
        |  AS cum_rev_per_user_milli
        |FROM cum JOIN sz USING (cohort_month)""".stripMargin),

    // ---- floor-at-zero credit balance per user: purchases draw 3×,
    // everything else accrues — the sequential clamp as two windows
    // (Skorokhod reflection), plus the lost-to-floor shortfall. ---------
    QueryCase("q278_clamped_balance", (s, dir) =>
      TimeSeries.clampedBalance(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
            when(col("event_type") === "purchase",
              lit(-3L) * floor(col("value")).cast("long"))
              .otherwise(floor(col("value")).cast("long")).as("d")),
        Seq("user_id"), Seq(col("ms"), col("event_id")), col("d"))
        .select(col("user_id"), col("event_id"), col("delta"), col("balance"),
          col("shortfall")),
      // q278: the reflection identity layered as stacked window passes on
      // the same (ms, event_id) order.
      """WITH d AS (
        | SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |  CASE WHEN event_type = 'purchase'
        |   THEN -3 * CAST(floor(value) AS BIGINT)
        |   ELSE CAST(floor(value) AS BIGINT) END AS delta
        | FROM events),
        |s AS (
        | SELECT user_id, event_id, ms, delta, sum(delta) OVER w AS rs
        | FROM d WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |r AS (
        | SELECT user_id, event_id, ms, delta, rs, min(rs) OVER w AS rmin
        | FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |b AS (
        | SELECT user_id, event_id, ms, delta,
        |  rs - least(CAST(0 AS BIGINT), rmin) AS balance
        | FROM r),
        |f AS (
        | SELECT *, coalesce(lag(balance) OVER (PARTITION BY user_id
        |   ORDER BY ms, event_id), 0) AS prev
        | FROM b)
        |SELECT user_id, event_id, delta, CAST(balance AS BIGINT) AS balance,
        | CAST(CASE WHEN delta < 0 THEN balance - prev - delta ELSE 0 END AS BIGINT)
        |  AS shortfall
        |FROM f""".stripMargin),

    // ---- net/gross revenue retention per month over orders: lag-1
    // customer self-join from the prior-month base. ---------------------
    QueryCase("q279_revenue_retention", (s, dir) =>
      Cohort.revenueRetention(
        t(s, dir, "orders"),
        "o_custkey",
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long"),
        round(col("o_totalprice") * 100).cast("long")),
      // q279: lag-1 month self-join from the base side, min() caps GRR.
      """WITH m AS (
        | SELECT o_custkey AS c, year(o_orderdate) * 12 + month(o_orderdate) AS m,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
        | FROM orders GROUP BY 1, 2),
        |j AS (
        | SELECT p.m + 1 AS month, p.rev AS base, c.rev AS cur
        | FROM m p LEFT JOIN m c ON c.c = p.c AND c.m = p.m + 1)
        |SELECT CAST(month AS BIGINT) AS month,
        | CAST(count(*) AS BIGINT) AS n_base_customers,
        | CAST(sum(base) AS BIGINT) AS base_cents,
        | CAST(sum(CASE WHEN cur IS NULL THEN 0 ELSE least(base, cur) END) AS BIGINT)
        |  AS retained_cents,
        | CAST(sum(coalesce(cur, 0)) AS BIGINT) AS carried_cents,
        | CAST(count(CASE WHEN cur IS NULL THEN 1 END) AS BIGINT) AS n_churned,
        | CAST((1000000 * sum(CASE WHEN cur IS NULL THEN 0 ELSE least(base, cur) END))
        |  // sum(base) AS BIGINT) AS grr_ppm,
        | CAST((1000000 * sum(coalesce(cur, 0))) // sum(base) AS BIGINT) AS nrr_ppm
        |FROM j GROUP BY 1""".stripMargin),

    // ---- weekly growth accounting over events: new / retained /
    // resurrected / churned + quick ratio. ------------------------------
    QueryCase("q280_growth_accounting", (s, dir) =>
      Cohort.growthAccounting(t(s, dir, "events"), "user_id", "ts"),
      // q280: identical epoch-week ints, per-user lag/lead/min windows.
      """WITH wk AS (
        | SELECT DISTINCT user_id AS a, epoch_ms(ts) // 1000 // 86400 // 7 AS week
        | FROM events),
        |t AS (
        | SELECT a, week,
        |  min(week) OVER (PARTITION BY a) AS fw,
        |  lag(week) OVER (PARTITION BY a ORDER BY week) AS pw,
        |  lead(week) OVER (PARTITION BY a ORDER BY week) AS nw
        | FROM wk),
        |st AS (
        | SELECT week,
        |  CAST(count(CASE WHEN week = fw THEN 1 END) AS BIGINT) AS n_new,
        |  CAST(count(CASE WHEN pw = week - 1 THEN 1 END) AS BIGINT) AS n_retained,
        |  CAST(count(CASE WHEN week <> fw AND (pw IS NULL OR pw < week - 1) THEN 1 END)
        |   AS BIGINT) AS n_resurrected,
        |  CAST(count(*) AS BIGINT) AS n_active
        | FROM t GROUP BY 1),
        |ch AS (
        | SELECT week + 1 AS week, CAST(count(*) AS BIGINT) AS n_churned
        | FROM t WHERE nw IS NULL OR nw > week + 1 GROUP BY 1)
        |SELECT CAST(week AS BIGINT) AS week,
        | coalesce(n_new, 0) AS n_new, coalesce(n_retained, 0) AS n_retained,
        | coalesce(n_resurrected, 0) AS n_resurrected,
        | coalesce(n_active, 0) AS n_active, coalesce(n_churned, 0) AS n_churned,
        | CASE WHEN coalesce(n_churned, 0) = 0 THEN NULL
        |  ELSE CAST((1000 * (coalesce(n_new, 0) + coalesce(n_resurrected, 0)))
        |   // n_churned AS BIGINT) END AS quick_ratio_milli
        |FROM st FULL OUTER JOIN ch USING (week)""".stripMargin),

    // ---- interval-overlap join: order fulfillment windows × a sampled
    // incident grid — bucket equi-join, first-shared-cell dedup-free
    // matching, exact overlap micros. -----------------------------------
    QueryCase("q281_interval_overlap", (s, dir) => {
      val a = t(s, dir, "orders").where(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("a_id"), col("o_orderdate").as("a_start"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("a_end"))
      val b = t(s, dir, "orders").where(col("o_orderkey") % 70 === 0)
        .select(col("o_orderkey").as("b_id"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("b_start"),
          (col("o_orderdate") + expr("INTERVAL 4 DAYS")).as("b_end"))
      IntervalJoin.overlapPairs(a, "a_start", "a_end", b, "b_start", "b_end",
          bucketWidthSec = 3 * 86400L)
        .select(col("a_id"), col("b_id"), col("overlap_micros"))
    },
      // q281: a plain inequality join is exact at oracle scale — the
      // bucket-grid path must produce the identical pair set.
      """WITH a AS (
        | SELECT o_orderkey AS a_id, o_orderdate AS a_start,
        |  o_orderdate + INTERVAL 3 DAY AS a_end
        | FROM orders WHERE o_orderkey % 50 = 0),
        |b AS (
        | SELECT o_orderkey AS b_id, o_orderdate + INTERVAL 1 DAY AS b_start,
        |  o_orderdate + INTERVAL 4 DAY AS b_end
        | FROM orders WHERE o_orderkey % 70 = 0)
        |SELECT a_id, b_id,
        | CAST(epoch_us(least(a_end, b_end)) - epoch_us(greatest(a_start, b_start))
        |  AS BIGINT) AS overlap_micros
        |FROM a JOIN b ON a_start < b_end AND b_start < a_end""".stripMargin),

    // ---- rolling 7-point regression slope of each type's daily count
    // series: one frame window, exact integer suff-stats. ---------------
    QueryCase("q282_rolling_slope", (s, dir) =>
      TimeSeries.rollingSlope(
        t(s, dir, "events")
          .select(col("event_type"),
            expr("unix_millis(ts) div 1000 div 86400").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("c")),
        Seq("event_type"), col("day"), col("c"), w = 7),
      // q282: one frame window, identical suff-stat arithmetic.
      """WITH d AS (
        | SELECT event_type, epoch_ms(ts) // 1000 // 86400 AS day, count(*) AS c
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(c AS BIGINT) AS c,
        | CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        | CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |  ELSE CAST((1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT)
        | END AS slope_milli,
        | CAST(n AS BIGINT) AS n_window
        |FROM (
        | SELECT event_type, day, c,
        |  count(*) OVER w AS n, sum(day) OVER w AS sx, sum(c) OVER w AS sy,
        |  sum(day * c) OVER w AS sxy, sum(day * day) OVER w AS sxx
        | FROM d
        | WINDOW w AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))""".stripMargin),

    // ---- k-anonymity cell suppression (the release transform next to
    // q152's audit): small quasi classes null out, flagged. -------------
    QueryCase("q283_k_suppress", (s, dir) =>
      Audit.kSuppress(
        t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            expr("cast(get_json_object(props, '$.k') as bigint) div 10").as("k_band"),
            pmod(col("user_id"), lit(25)).as("cohort")),
        Seq("event_type", "k_band", "cohort"), k = 4),
      // q283: count-join replicate; suppressed rows null their quasi cells.
      """WITH b AS (
        | SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_band,
        |  user_id % 25 AS cohort
        | FROM events),
        |c AS (SELECT event_type, k_band, cohort, count(*) AS gs
        | FROM b GROUP BY 1, 2, 3)
        |SELECT CASE WHEN gs >= 4 THEN b.event_type END AS event_type,
        | CAST(CASE WHEN gs >= 4 THEN b.k_band END AS BIGINT) AS k_band,
        | CAST(CASE WHEN gs >= 4 THEN b.cohort END AS BIGINT) AS cohort,
        | event_id, gs < 4 AS suppressed
        |FROM b JOIN c ON b.event_type IS NOT DISTINCT FROM c.event_type
        | AND b.k_band IS NOT DISTINCT FROM c.k_band
        | AND b.cohort IS NOT DISTINCT FROM c.cohort""".stripMargin),

    // ---- unordered activation funnel: did each user ever view, click
    // AND purchase — and how long did the full set take. ----------------
    QueryCase("q284_set_completion", (s, dir) =>
      Funnel.setCompletion(t(s, dir, "events"), "user_id", col("event_type"),
        "ts", Seq("view", "click", "purchase")),
      // q284: per-(user, step) min-ts then user-level span, same seconds.
      """WITH f AS (
        | SELECT user_id, event_type AS step,
        |  min(epoch_ms(ts) // 1000) AS t
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')
        | GROUP BY 1, 2),
        |u AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps_seen,
        |  max(t) AS tl, min(t) AS tf
        | FROM f GROUP BY 1)
        |SELECT user_id, n_steps_seen, n_steps_seen = 3 AS completed,
        | CAST(CASE WHEN n_steps_seen = 3 THEN tl - tf END AS BIGINT) AS span_seconds
        |FROM u""".stripMargin),

    // ---- mix-shift decomposition of the purchase rate between month
    // halves, by event-type segment: traffic-mix vs per-segment rate. ---
    QueryCase("q287_mix_shift", (s, dir) =>
      Metrics.mixShift(
        t(s, dir, "events")
          .withColumn("half", when(dayofmonth(col("ts")) <= 15, "h1").otherwise("h2")),
        "event_type", col("half"), "h1", "h2",
        get_json_object(col("props"), "$.k").cast("long") >= 50),
      // q287: per-segment truncation exactly as specified in the op.
      """WITH b AS (
        | SELECT event_type AS segment,
        |  CASE WHEN day(ts) <= 15 THEN 'h1' ELSE 'h2' END AS p,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 AS ok
        | FROM events),
        |s AS (
        | SELECT segment,
        |  CAST(count(CASE WHEN p = 'h1' THEN 1 END) AS BIGINT) AS n_a,
        |  CAST(count(CASE WHEN p = 'h1' AND ok THEN 1 END) AS BIGINT) AS pos_a,
        |  CAST(count(CASE WHEN p = 'h2' THEN 1 END) AS BIGINT) AS n_b,
        |  CAST(count(CASE WHEN p = 'h2' AND ok THEN 1 END) AS BIGINT) AS pos_b
        | FROM b GROUP BY 1),
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM s),
        |e AS (
        | SELECT segment, n_a, pos_a, n_b, pos_b,
        |  (1000000 * n_a) // ta AS share_a_ppm,
        |  (1000000 * n_b) // tb AS share_b_ppm,
        |  CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * pos_a) // n_a END AS rate_a_ppm,
        |  CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * pos_b) // n_b END AS rate_b_ppm
        | FROM s, t)
        |SELECT segment, n_a, pos_a, n_b, pos_b,
        | CAST(share_a_ppm AS BIGINT) AS share_a_ppm,
        | CAST(share_b_ppm AS BIGINT) AS share_b_ppm,
        | CAST(rate_a_ppm AS BIGINT) AS rate_a_ppm,
        | CAST(rate_b_ppm AS BIGINT) AS rate_b_ppm,
        | CAST(((share_b_ppm - share_a_ppm) * rate_a_ppm) // 1000000 AS BIGINT)
        |  AS mix_effect_ppm,
        | CAST((share_b_ppm * (rate_b_ppm - rate_a_ppm)) // 1000000 AS BIGINT)
        |  AS rate_effect_ppm
        |FROM e""".stripMargin),

    // ---- ABC classification of parts by lineitem revenue: labeled
    // working-set split off the range-partitioned cumulative curve. -----
    QueryCase("q288_abc_class", (s, dir) =>
      Metrics.abcClassification(
        t(s, dir, "lineitem"),
        "l_partkey",
        round(col("l_extendedprice") * 100).cast("long")),
      // q288: descending cumulative curve, before-the-key class cuts.
      """WITH s AS (
        | SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |  AS BIGINT) AS v
        | FROM lineitem GROUP BY 1),
        |r AS (
        | SELECT l_partkey, v,
        |  row_number() OVER (ORDER BY v DESC, l_partkey) AS rank,
        |  sum(v) OVER (ORDER BY v DESC, l_partkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM s),
        |t AS (SELECT sum(v) AS tot FROM s)
        |SELECT l_partkey, v AS value, CAST(rank AS BIGINT) AS rank,
        | CAST((1000000 * cum) // tot AS BIGINT) AS cum_share_ppm,
        | CASE WHEN (1000000 * (cum - v)) // tot < 800000 THEN 'A'
        |  WHEN (1000000 * (cum - v)) // tot < 950000 THEN 'B'
        |  ELSE 'C' END AS abc_class
        |FROM r, t""".stripMargin),

    // ---- spend-decile migration between month halves: two denseIds
    // rankings, full-outer flow matrix with −1 entry/exit rows. ---------
    QueryCase("q290_decile_migration", (s, dir) =>
      Cohort.decileMigration(
        t(s, dir, "events"),
        "user_id",
        when(dayofmonth(col("ts")) <= 15, "p1").otherwise("p2"),
        "p1", "p2",
        round(col("value") * 100).cast("long")),
      // q290: identical (value desc, user) total orders and decile rule.
      """WITH v AS (
        | SELECT CASE WHEN day(ts) <= 15 THEN 'p1' ELSE 'p2' END AS p,
        |  user_id AS a, sum(CAST(round(value * 100) AS BIGINT)) AS v
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT p, a,
        |  row_number() OVER (PARTITION BY p ORDER BY v DESC, a) AS rk,
        |  count(*) OVER (PARTITION BY p) AS n
        | FROM v),
        |d AS (SELECT p, a, (10 * (rk - 1)) // n AS dec FROM r),
        |da AS (SELECT a, dec FROM d WHERE p = 'p1'),
        |db AS (SELECT a, dec FROM d WHERE p = 'p2')
        |SELECT CAST(coalesce(da.dec, -1) AS BIGINT) AS decile_a,
        | CAST(coalesce(db.dec, -1) AS BIGINT) AS decile_b,
        | CAST(count(*) AS BIGINT) AS n_actors
        |FROM da FULL OUTER JOIN db USING (a) GROUP BY 1, 2""".stripMargin),

    // ---- SLO compliance + burn rate per event type: "error" events
    // spend the 99% budget; rolling 7-day windows. ----------------------
    QueryCase("q291_slo_burn", (s, dir) =>
      TimeSeries.sloBurn(
        t(s, dir, "events").withColumn("__src", col("user_id") % 2),
        Seq("__src"), "ts", col("event_type") =!= "error",
        windowDays = 7, objectivePpm = 990000L)
        .withColumnRenamed("__src", "src"),
      // q291: identical day ints, rolling 7-row frame, one truncation per
      // ratio.
      """WITH d AS (
        | SELECT user_id % 2 AS src, epoch_ms(ts) // 1000 // 86400 AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN event_type <> 'error' THEN 1 END) AS BIGINT) AS n_good
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT src, day, n, n_good,
        |  sum(n) OVER w AS window_n, sum(n_good) OVER w AS window_good
        | FROM d WINDOW w AS (PARTITION BY src ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(src AS BIGINT) AS src, CAST(day AS BIGINT) AS day, n, n_good,
        | CAST(window_n AS BIGINT) AS window_n,
        | CAST(window_good AS BIGINT) AS window_good,
        | CAST((1000000 * window_good) // window_n AS BIGINT) AS compliance_ppm,
        | CAST((1000 * (1000000 - (1000000 * window_good) // window_n)) // 10000
        |  AS BIGINT) AS burn_rate_milli
        |FROM r""".stripMargin),

    // ---- candidate-key discovery over lineitem: which column subsets
    // actually identify rows — one Expand agg, stack-melted. ------------
    QueryCase("q292_candidate_keys", (s, dir) =>
      Audit.candidateKeys(t(s, dir, "lineitem"), Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_partkey", "l_suppkey"),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))),
      // q292: the same subsets as distinct struct counts.
      """WITH a AS (
        | SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS d0,
        |  CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d1,
        |  CAST(count(DISTINCT (l_partkey, l_suppkey)) AS BIGINT) AS d2,
        |  CAST(count(DISTINCT (l_orderkey, l_partkey, l_suppkey)) AS BIGINT) AS d3
        | FROM lineitem),
        |p AS (
        | SELECT 'l_orderkey' AS columns, n, d0 AS n_distinct FROM a
        | UNION ALL SELECT 'l_orderkey,l_linenumber', n, d1 FROM a
        | UNION ALL SELECT 'l_partkey,l_suppkey', n, d2 FROM a
        | UNION ALL SELECT 'l_orderkey,l_partkey,l_suppkey', n, d3 FROM a)
        |SELECT columns, n AS n_rows, n_distinct,
        | CAST((1000000 * n_distinct) // n AS BIGINT) AS uniqueness_ppm,
        | CAST(n - n_distinct AS BIGINT) AS n_collisions
        |FROM p""".stripMargin),

    // ---- burst detection: 3 same-type events from one user inside 10
    // minutes — per-user rollup of completed bursts. --------------------
    QueryCase("q294_bursts", (s, dir) =>
      TimeSeries.bursts(t(s, dir, "events"), Seq("user_id"), col("event_type"),
          "ts", k = 3, windowSec = 600L)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_if(col("is_burst_end")).as("n_bursts")),
      // q294: identical epoch-ms lag rule, same burst-end flags.
      """WITH r AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms,
        |  lag(epoch_ms(ts), 2) OVER (PARTITION BY user_id, event_type
        |   ORDER BY epoch_ms(ts)) AS lag_ms
        | FROM events)
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(CASE WHEN lag_ms IS NOT NULL AND ms - lag_ms <= 600000
        |  THEN 1 END) AS BIGINT) AS n_bursts
        |FROM r GROUP BY 1, 2""".stripMargin),

    // ---- per-user silence audit over 2-day threshold: longest gap,
    // silence count, silent-now flag at the corpus horizon. -------------
    QueryCase("q298_silences", (s, dir) =>
      TimeSeries.silences(t(s, dir, "events"), Seq("user_id"), "ts",
        thresholdDays = 2L),
      // q298: identical day ints, per-key lag gaps, horizon cross join.
      """WITH d AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 1000 // 86400 AS day FROM events),
        |h AS (SELECT max(day) AS horizon FROM d),
        |g AS (
        | SELECT user_id, day,
        |  day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
        | FROM d)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_active_days,
        | CAST(max(day) AS BIGINT) AS last_seen_day,
        | CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_days,
        | CAST(count(CASE WHEN gap > 2 THEN 1 END) AS BIGINT) AS n_silences,
        | max(h.horizon) - max(day) > 2 AS silent_now
        |FROM g, h GROUP BY user_id""".stripMargin),

    // ---- order-header vs line-sum reconciliation in whole cents
    // against the deterministic 7/10ths rule baked into the check:
    // headers never equal line sums in this synthetic data, so the
    // mismatch distribution itself is the verified output. --------------
    QueryCase("q299_reconcile", (s, dir) =>
      Audit.reconcileTotals(
        t(s, dir, "orders"), "o_orderkey",
        round(col("o_totalprice") * 100).cast("long"),
        t(s, dir, "lineitem"), "l_orderkey",
        round(col("l_extendedprice") * 100).cast("long"),
        tolerancePpm = 800000L),
      // q299: same cent amounts, left join from the header side.
      """WITH s AS (
        | SELECT l_orderkey, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |  AS BIGINT) AS cs
        | FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey,
        | CAST(round(o.o_totalprice * 100) AS BIGINT) AS parent_amount,
        | CAST(coalesce(s.cs, 0) AS BIGINT) AS child_sum,
        | CAST(round(o.o_totalprice * 100) AS BIGINT) - coalesce(s.cs, 0) AS diff,
        | CAST(CASE WHEN CAST(round(o.o_totalprice * 100) AS BIGINT) = 0
        |  THEN CASE WHEN coalesce(s.cs, 0) = 0 THEN 0 ELSE 1000000 END
        |  ELSE (1000000 * abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
        |   - coalesce(s.cs, 0))) // abs(CAST(round(o.o_totalprice * 100) AS BIGINT))
        | END AS BIGINT) AS mismatch_ppm,
        | CASE WHEN CAST(round(o.o_totalprice * 100) AS BIGINT) = 0
        |  THEN coalesce(s.cs, 0) = 0
        |  ELSE (1000000 * abs(CAST(round(o.o_totalprice * 100) AS BIGINT)
        |   - coalesce(s.cs, 0))) // abs(CAST(round(o.o_totalprice * 100) AS BIGINT))
        |   <= 800000 END AS reconciled
        |FROM orders o LEFT JOIN s ON s.l_orderkey = o.o_orderkey""".stripMargin),

    // ---- q291's SLO burn on CALENDAR days: the input keeps only every
    // third day (guaranteed gaps), so the densified path materializes
    // zero-event days and the 7-day window ages on wall-clock, not on
    // active rows — the semantics q291's active-days frame cannot give
    // a sparse series. -------------------------------------------------
    QueryCase("q301_slo_calendar", (s, dir) =>
      TimeSeries.sloBurn(
        t(s, dir, "events")
          .withColumn("__src", col("user_id") % 2)
          .where(expr("unix_millis(cast(ts as timestamp)) div 1000 div 86400 % 3") === 0),
        Seq("__src"), "ts", col("event_type") =!= "error",
        windowDays = 7, objectivePpm = 990000L, calendarDays = true)
        .withColumnRenamed("__src", "src"),
      // q301: q291 densified to calendar days — per-src day range via
      // generate_series, zero-filled, same 7-row frame (now = 7 calendar
      // days by construction).
      """WITH d AS (
        | SELECT user_id % 2 AS src, epoch_ms(ts) // 1000 // 86400 AS day,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN event_type <> 'error' THEN 1 END) AS BIGINT) AS n_good
        | FROM events
        | WHERE (epoch_ms(ts) // 1000 // 86400) % 3 = 0
        | GROUP BY 1, 2),
        |sp AS (SELECT src, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |cal AS (
        | SELECT src, unnest(generate_series(d0, d1)) AS day FROM sp),
        |base AS (
        | SELECT cal.src, cal.day, coalesce(d.n, 0) AS n, coalesce(d.n_good, 0) AS n_good
        | FROM cal LEFT JOIN d ON d.src = cal.src AND d.day = cal.day),
        |r AS (
        | SELECT src, day, n, n_good,
        |  sum(n) OVER w AS window_n, sum(n_good) OVER w AS window_good
        | FROM base WINDOW w AS (PARTITION BY src ORDER BY day
        |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT CAST(src AS BIGINT) AS src, CAST(day AS BIGINT) AS day,
        | CAST(n AS BIGINT) AS n, CAST(n_good AS BIGINT) AS n_good,
        | CAST(window_n AS BIGINT) AS window_n,
        | CAST(window_good AS BIGINT) AS window_good,
        | CAST((1000000 * window_good) // window_n AS BIGINT) AS compliance_ppm,
        | CAST((1000 * (1000000 - (1000000 * window_good) // window_n)) // 10000
        |  AS BIGINT) AS burn_rate_milli
        |FROM r""".stripMargin),

    // ---- the flagship three-way correlate through the SALTED skew path
    // (per-row salt on the hot-trace join, span side replicated): the
    // result multiset must equal the plain plan's exactly — this query
    // keeps that identity under the hash oracle, not just a unit test. --
    QueryCase("q302_skew_correlate", (s, dir) => {
      val ev = t(s, dir, "orders").select(
        col("o_custkey").cast("string").as("clientId"),
        col("o_orderkey").cast("string").as("traceId"))
      val spans = t(s, dir, "lineitem")
        .select(col("l_orderkey").cast("string").as("traceId"),
          concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("spanId"))
        .groupBy("traceId").agg(collect_list(struct(col("spanId"))).as("spans"))
      val logs = t(s, dir, "lineitem").select(
        concat_ws("_", col("l_orderkey"), col("l_linenumber")).as("spanId"),
        col("l_returnflag").as("eventType"))
      Correlate.skewSafe(ev, spans, logs)
        .groupBy("clientId")
        .agg(count(lit(1)).as("n_correlated"),
          count_if(col("logEventType") === "R").as("n_returned"))
    },
      // q302: the salted plan must produce the PLAIN inner-join multiset —
      // the oracle is the unsalted three-way join, aggregated per client.
      """WITH ev AS (
        | SELECT CAST(o_custkey AS VARCHAR) AS clientId,
        |  CAST(o_orderkey AS VARCHAR) AS traceId FROM orders),
        |sp AS (
        | SELECT CAST(l_orderkey AS VARCHAR) AS traceId,
        |  CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS spanId
        | FROM lineitem),
        |lg AS (
        | SELECT CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR) AS spanId,
        |  l_returnflag AS eventType FROM lineitem)
        |SELECT ev.clientId, CAST(count(*) AS BIGINT) AS n_correlated,
        | CAST(count(CASE WHEN lg.eventType = 'R' THEN 1 END) AS BIGINT) AS n_returned
        |FROM ev JOIN sp ON ev.traceId = sp.traceId JOIN lg ON sp.spanId = lg.spanId
        |GROUP BY 1""".stripMargin),

    // ---- Bradley–Terry preference strengths over supplier duels: each
    // order's first two line items stage a head-to-head (bigger quantity
    // wins, ties to the smaller player id), 100 players via suppkey%100,
    // two MM iterations in scaled truncating integers — the
    // preference-data curation primitive, replayed by the oracle with
    // the iterations unrolled. --------------------------------------------
    QueryCase("q320_bradley_terry", (s, dir) => {
      val li = t(s, dir, "lineitem").where(col("l_linenumber") <= 2)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_suppkey") % 100).as("p"), col("l_quantity").cast("long").as("q"))
      val a = li.where(col("l_linenumber") === 1)
        .select(col("l_orderkey").as("ok"), col("p").as("pa"), col("q").as("qa"))
      val b = li.where(col("l_linenumber") === 2)
        .select(col("l_orderkey").as("ok"), col("p").as("pb"), col("q").as("qb"))
      val aWins = col("qa") > col("qb") ||
        (col("qa") === col("qb") && col("pa") < col("pb"))
      val duels = a.join(b, Seq("ok")).where(col("pa") =!= col("pb"))
        .select(when(aWins, col("pa")).otherwise(col("pb")).as("winner"),
          when(aWins, col("pb")).otherwise(col("pa")).as("loser"))
      Eval.bradleyTerry(duels, iterations = 2)
    },
      // q320: both MM iterations unrolled — denominator terms and the
      // win/denominator quotient in HUGEINT floor division (= Spark's
      // truncating DECIMAL `div` on these all-positive values), each round
      // closed by the same max-normalization with its ε-floor of 1.
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey % 100 AS p,
        |  CAST(l_quantity AS BIGINT) AS q FROM lineitem WHERE l_linenumber <= 2),
        |a AS (SELECT l_orderkey AS ok, p AS pa, q AS qa FROM li WHERE l_linenumber = 1),
        |b AS (SELECT l_orderkey AS ok, p AS pb, q AS qb FROM li WHERE l_linenumber = 2),
        |duel AS (SELECT
        |  CASE WHEN qa > qb OR (qa = qb AND pa < pb) THEN pa ELSE pb END AS w,
        |  CASE WHEN qa > qb OR (qa = qb AND pa < pb) THEN pb ELSE pa END AS l
        | FROM a JOIN b USING (ok) WHERE pa <> pb),
        |dct AS (SELECT w, l, CAST(count(*) AS BIGINT) AS c FROM duel GROUP BY 1, 2),
        |sym AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS n FROM (
        | SELECT w AS i, l AS j, c FROM dct UNION ALL SELECT l, w, c FROM dct)
        | GROUP BY 1, 2),
        |stats AS (SELECT g.i, CAST(coalesce(wn.wins, 0) AS BIGINT) AS wins, g.games
        | FROM (SELECT i, CAST(sum(n) AS BIGINT) AS games FROM sym GROUP BY 1) g
        | LEFT JOIN (SELECT w AS i, CAST(sum(c) AS BIGINT) AS wins FROM dct GROUP BY 1) wn
        |  ON wn.i = g.i),
        |s0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM stats),
        |d1 AS (SELECT sym.i,
        |  CAST(sum((CAST(n AS HUGEINT) * 1000000 * 1000000) // (si.s + sj.s)) AS BIGINT) AS d
        | FROM sym JOIN s0 si ON si.i = sym.i JOIN s0 sj ON sj.i = sym.j GROUP BY 1),
        |r1 AS (SELECT stats.i, greatest(CAST(1 AS BIGINT),
        |  CAST((CAST(wins AS HUGEINT) * 1000000 * 1000000) // d AS BIGINT)) AS s
        | FROM stats JOIN d1 ON d1.i = stats.i),
        |s1 AS (SELECT i, greatest(CAST(1 AS BIGINT),
        |  CAST((CAST(s AS HUGEINT) * 1000000) // (SELECT max(s) FROM r1) AS BIGINT)) AS s
        | FROM r1),
        |d2 AS (SELECT sym.i,
        |  CAST(sum((CAST(n AS HUGEINT) * 1000000 * 1000000) // (si.s + sj.s)) AS BIGINT) AS d
        | FROM sym JOIN s1 si ON si.i = sym.i JOIN s1 sj ON sj.i = sym.j GROUP BY 1),
        |r2 AS (SELECT stats.i, greatest(CAST(1 AS BIGINT),
        |  CAST((CAST(wins AS HUGEINT) * 1000000 * 1000000) // d AS BIGINT)) AS s
        | FROM stats JOIN d2 ON d2.i = stats.i),
        |s2 AS (SELECT i, greatest(CAST(1 AS BIGINT),
        |  CAST((CAST(s AS HUGEINT) * 1000000) // (SELECT max(s) FROM r2) AS BIGINT)) AS s
        | FROM r2)
        |SELECT s2.i AS id, s2.s AS strength_e6, stats.wins, stats.games
        |FROM s2 JOIN stats ON stats.i = s2.i""".stripMargin),

    // ---- DBSCAN on the q213 synthetic point cloud (eps=2500, minPts=4:
    // ~3 expected eps-neighbors at sf0.01 — a real core/border/noise
    // mix); grid-blocked eps-graph, components over cores only,
    // min-label border election keeps it a pure function of the input.
    QueryCase("q330_dbscan", (s, dir) =>
      GeoGrid.dbscan(gridRadiusPoints(t(s, dir, "customer"), lit(0L)),
        "id", col("x"), col("y"), eps = 2500L, minPts = 4),
      // q330: all-pairs eps-graph is fine at oracle scale; clusters replay
      // as the q54-idiom min-closure over the core-core subgraph.
      """WITH RECURSIVE p AS (
        | SELECT CAST(c_custkey AS BIGINT) AS id,
        |  (CAST(c_custkey AS BIGINT) * CAST(c_custkey AS BIGINT) * 7919
        |   + CAST(c_custkey AS BIGINT) * 104729) % 100003 AS x,
        |  (CAST(c_custkey AS BIGINT) * CAST(c_custkey AS BIGINT) * 6983
        |   + CAST(c_custkey AS BIGINT) * 92821) % 99991 AS y
        | FROM customer),
        |pr AS (
        | SELECT a.id AS a_id, b.id AS b_id FROM p a JOIN p b ON a.id < b.id
        |  AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 6250000),
        |deg AS (SELECT id, count(*) AS nn FROM
        | (SELECT a_id AS id FROM pr UNION ALL SELECT b_id FROM pr) GROUP BY 1),
        |core AS (SELECT p.id FROM p LEFT JOIN deg USING (id)
        |         WHERE coalesce(nn, 0) + 1 >= 4),
        |ce0 AS (SELECT a_id AS u, b_id AS v FROM pr
        |        WHERE a_id IN (SELECT id FROM core) AND b_id IN (SELECT id FROM core)),
        |ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0),
        |reach(id, r) AS (
        | SELECT id, id FROM core
        | UNION
        | SELECT ce.u, reach.r FROM ce JOIN reach ON ce.v = reach.id),
        |clab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
        |adj AS (SELECT a_id AS id, b_id AS nb FROM pr UNION ALL SELECT b_id, a_id FROM pr),
        |border AS (
        | SELECT adj.id, min(cl.cluster) AS cluster
        | FROM adj JOIN clab cl ON adj.nb = cl.id
        | WHERE adj.id NOT IN (SELECT id FROM core) GROUP BY adj.id)
        |SELECT id, CAST(cluster AS BIGINT) AS cluster, 'core' AS kind FROM clab
        |UNION ALL SELECT id, CAST(cluster AS BIGINT), 'border' FROM border
        |UNION ALL SELECT id, CAST(-1 AS BIGINT), 'noise' FROM p
        | WHERE id NOT IN (SELECT id FROM clab)
        |   AND id NOT IN (SELECT id FROM border)""".stripMargin),

    // ---- Poisson bootstrap over line-item quantities: 32 one-pass
    // replicates (each row enters replicate r Poisson(1)-many times via
    // the md5 contract), per-replicate count+sum = the CI inputs for the
    // mean quantity. --------------------------------------------------------
    QueryCase("q331_bootstrap_sums", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_quantity").cast("long").as("v"))
      Sampling.poissonBootstrap(li, "id", "v", replicates = 32)
    },
    // q331: the Poisson(1) draw replayed from the shared cumulative
    // thresholds (Sampling.PoissonCum — ONE source for both engines).
    {
      val u = hexPrefixOracle("md5(id || ':' || CAST(replicate AS VARCHAR))", 8)
      val kCase = Sampling.PoissonCum.zipWithIndex.reverse
        .map { case (t, i) => s"WHEN u >= $t THEN ${i + 1}" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""WITH li AS (
         | SELECT CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS id,
         |  CAST(l_quantity AS BIGINT) AS v
         | FROM lineitem),
         |x AS (SELECT id, v, r.r AS replicate FROM li, range(0, 32) r(r)),
         |uu AS (SELECT replicate, v, $u AS u FROM x),
         |k AS (SELECT replicate, v, $kCase AS k FROM uu)
         |SELECT replicate, CAST(sum(k) AS BIGINT) AS n_rows,
         | CAST(sum(k * v) AS BIGINT) AS sum_value
         |FROM k GROUP BY 1""".stripMargin
    }),

    // ---- deterministic HLL cardinality profile of l_partkey: md5-fixed
    // registers (b=6), the raw estimator in exact fixed point, and the
    // true distinct count beside it as the accuracy audit. ----------------
    QueryCase("q332_hll_profile", (s, dir) =>
      Sketch.hllProfile(t(s, dir, "lineitem"), "l_partkey", b = 6),
    // q332: the md5-fixed HLL replayed register by register; the rank is
    // the same descending comparison chain the operator codegens.
    {
      val u = hexPrefixOracle("md5(CAST(l_partkey AS VARCHAR))", 8)
      val rankCase = (1 to 26)
        .map(r => s"WHEN w >= ${1L << (26 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 27 END")
      s"""WITH uu AS (SELECT $u AS u FROM lineitem),
         |s AS (SELECT u // 67108864 AS bucket, u % 67108864 AS w FROM uu),
         |r AS (SELECT bucket, max($rankCase) AS register FROM s GROUP BY 1),
         |z AS (SELECT g.b AS bucket, coalesce(r.register, 0) AS register
         |      FROM range(0, 64) g(b) LEFT JOIN r ON g.b = r.bucket),
         |agg AS (SELECT count(*) AS m,
         |  sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS n_zero_registers,
         |  sum(CAST(1 AS BIGINT) << (27 - register)) AS s_num FROM z)
         |SELECT CAST(m AS BIGINT) AS m,
         | CAST(n_zero_registers AS BIGINT) AS n_zero_registers,
         | CAST(s_num AS BIGINT) AS s_num,
         | CAST((CAST(709340 AS BIGINT) * 4096 * (CAST(1 AS BIGINT) << 27))
         |   // s_num AS BIGINT) AS est_e6,
         | (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) FROM lineitem) AS n_exact
         |FROM agg""".stripMargin
    }),

    // ---- KMV bottom-k distinct profile of the same column: the sketch
    // with union AND intersection algebra, next to HLL for comparison. ----
    QueryCase("q333_kmv_distinct", (s, dir) =>
      Sketch.kmvProfile(t(s, dir, "lineitem"), "l_partkey", k = 256), {
      val u = hexPrefixOracle("md5(CAST(l_partkey AS VARCHAR))", 8)
      s"""WITH uu AS (SELECT DISTINCT $u AS u FROM lineitem),
         |bottom AS (SELECT u FROM uu ORDER BY u LIMIT 256),
         |a AS (SELECT count(*) AS n_in, max(u) AS kth FROM bottom),
         |e AS (SELECT count(*) AS n_exact FROM uu)
         |SELECT CAST(256 AS BIGINT) AS k,
         | CAST(CASE WHEN n_in < 256 THEN 0 ELSE kth END AS BIGINT) AS kth_min,
         | CAST(CASE WHEN n_in < 256 THEN n_exact
         |      ELSE (255 * 4294967296) // kth END AS BIGINT) AS est,
         | CAST(n_exact AS BIGINT) AS n_exact
         |FROM a, e""".stripMargin
    }),

    // ---- count-min frequency estimates for the 20 busiest customers:
    // 4x512 salted counters, estimate = min over rows — upper-bounds the
    // exact count structurally. -------------------------------------------
    QueryCase("q334_count_min", (s, dir) =>
      Sketch.countMinTopK(t(s, dir, "orders"), "o_custkey",
        rows = 4, width = 512, topK = 20), {
      val ub = hexPrefixOracle("md5(value || ':' || CAST(r AS VARCHAR))", 8)
      s"""WITH v AS (SELECT CAST(o_custkey AS VARCHAR) AS value FROM orders),
         |fan AS (SELECT value, r.r AS r FROM v, range(0, 4) r(r)),
         |cells AS (SELECT r, $ub % 512 AS b, count(*) AS c
         |          FROM fan GROUP BY 1, 2),
         |top AS (SELECT value, count(*) AS n_exact FROM v GROUP BY 1
         |        ORDER BY n_exact DESC, value ASC LIMIT 20),
         |tr AS (SELECT value, n_exact,
         |  row_number() OVER (ORDER BY n_exact DESC, value ASC) AS rank FROM top),
         |j AS (SELECT value, n_exact, rank, r.r AS r, $ub % 512 AS b
         |      FROM tr, range(0, 4) r(r))
         |SELECT j.value, CAST(j.n_exact AS BIGINT) AS n_exact,
         | CAST(min(c.c) AS BIGINT) AS cm_est, CAST(j.rank AS BIGINT) AS rank
         |FROM j JOIN cells c ON j.r = c.r AND j.b = c.b
         |GROUP BY 1, 2, 4""".stripMargin
    }),

    // ---- Bloom membership audit: every-7th-customer watchlist probed by
    // all ordering customers; 2048 bits / 4 hashes sized to show a real,
    // replayable false-positive rate. --------------------------------------
    QueryCase("q335_bloom_audit", (s, dir) =>
      Sketch.bloomAudit(t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer").where(col("c_custkey") % 7 === 0), "c_custkey",
        bits = 2048, hashes = 4), {
      def bitOf(vExpr: String, hExpr: String) =
        hexPrefixOracle(s"md5($vExpr || '#' || CAST($hExpr AS VARCHAR))", 8) + " % 2048"
      s"""WITH m AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS v
         |           FROM customer WHERE c_custkey % 7 = 0),
         |bitset AS (SELECT DISTINCT ${bitOf("m.v", "h.h")} AS bit
         |           FROM m, range(0, 4) h(h)),
         |p AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v FROM orders),
         |pm AS (SELECT p.v, CASE WHEN m.v IS NOT NULL THEN 1 ELSE 0 END AS is_m
         |       FROM p LEFT JOIN m ON p.v = m.v),
         |hits AS (SELECT pm.v, pm.is_m, count(*) AS nh
         | FROM pm, range(0, 4) h(h)
         | WHERE (${bitOf("pm.v", "h.h")}) IN (SELECT bit FROM bitset)
         | GROUP BY 1, 2),
         |pos AS (SELECT count(*) AS n_positive, coalesce(sum(is_m), 0) AS n_true
         |        FROM hits WHERE nh = 4),
         |tot AS (SELECT count(*) AS n_probed, sum(is_m) AS n_member_probed FROM pm)
         |SELECT CAST(n_probed AS BIGINT) AS n_probed,
         | CAST(n_member_probed AS BIGINT) AS n_member_probed,
         | CAST(n_positive AS BIGINT) AS n_positive,
         | CAST(n_positive - n_true AS BIGINT) AS n_false_positive,
         | CAST((1000000 * (n_positive - n_true))
         |   // greatest(n_probed - n_member_probed, 1) AS BIGINT) AS fp_ppm
         |FROM pos, tot""".stripMargin
    }),

    // ---- Benford first-digit audit of order totals (floor to integer
    // units first — double-to-int casts round differently across
    // engines, floor does not). --------------------------------------------
    QueryCase("q339_benford", (s, dir) =>
      Audit.benford(
        t(s, dir, "orders").select(floor(col("o_totalprice")).cast("long").as("v")), "v"),
    // q339: shared Audit.BenfordPpm constants; floor() before the digit
    // (double→int CASTs round half-even in the oracle engine, floor is
    // engine-neutral).
    {
      val probs = Audit.BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders),
         |d AS (SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |  count(*) AS n FROM v WHERE v > 0 GROUP BY 1),
         |bp AS (SELECT * FROM (VALUES $probs) t(digit, benford_ppm)),
         |tot AS (SELECT sum(n) AS tot FROM d)
         |SELECT CAST(bp.digit AS BIGINT) AS digit,
         | CAST(coalesce(d.n, 0) AS BIGINT) AS n,
         | CAST(bp.benford_ppm AS BIGINT) AS benford_ppm,
         | CAST((1000000 * coalesce(d.n, 0)) // greatest(tot.tot, 1) AS BIGINT) AS share_ppm,
         | CAST((1000000 * coalesce(d.n, 0)) // greatest(tot.tot, 1)
         |   - bp.benford_ppm AS BIGINT) AS dev_ppm
         |FROM bp LEFT JOIN d ON bp.digit = d.digit, tot""".stripMargin
    }),

    // ---- per-group HLL: approximate distinct users per event type with
    // the exact count beside it — the grouped-sketch usage pattern. --------
    QueryCase("q343_hll_by_group", (s, dir) =>
      Sketch.hllByGroup(t(s, dir, "events"), "event_type", "user_id", b = 6),
    // q343: q332's register/estimator arithmetic keyed by event_type;
    // empty registers enter as (64 - present)·2^27.
    {
      val u = hexPrefixOracle("md5(CAST(user_id AS VARCHAR))", 8)
      val rankCase = (1 to 26)
        .map(r => s"WHEN w >= ${1L << (26 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 27 END")
      s"""WITH uu AS (SELECT event_type AS grp, $u AS u FROM events),
         |s AS (SELECT grp, u // 67108864 AS bucket, u % 67108864 AS w FROM uu),
         |r AS (SELECT grp, bucket, max($rankCase) AS register FROM s GROUP BY 1, 2),
         |a AS (SELECT grp, count(*) AS present,
         |      sum(CAST(1 AS BIGINT) << (27 - register)) AS sp FROM r GROUP BY 1),
         |e AS (SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact
         |      FROM events GROUP BY 1)
         |SELECT a.grp AS "group",
         | CAST(64 - present AS BIGINT) AS n_zero_registers,
         | CAST((64 - present) * (CAST(1 AS BIGINT) << 27) + sp AS BIGINT) AS s_num,
         | CAST((CAST(709340 AS BIGINT) * 4096 * (CAST(1 AS BIGINT) << 27))
         |   // ((64 - present) * (CAST(1 AS BIGINT) << 27) + sp) AS BIGINT) AS est_e6,
         | CAST(n_exact AS BIGINT) AS n_exact
         |FROM a JOIN e USING (grp)""".stripMargin
    }),

    // ---- the MERGEABLE HLL path on its own (q332 carries an exact
    // audit column; this is the sketch-only 100 TB claim): registers
    // built independently over the even- and odd-orderkey halves of
    // lineitem, folded by per-register max, estimated WITHOUT any
    // corpus-sized pass after the two register builds. ---------------------
    QueryCase("q346_hll_merge", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = Sketch.hllRegisters(li.where(col("l_orderkey") % 2 === 0), "l_partkey", b = 6)
      val b = Sketch.hllRegisters(li.where(col("l_orderkey") % 2 === 1), "l_partkey", b = 6)
      Sketch.hllEstimate(Sketch.hllMerge(a, b), b = 6)
    },
    // q346: the register MERGE replayed — per-half registers, folded by
    // greatest, then the q332 estimator over the merged set (the oracle
    // replays the merge itself, not the mathematically-equal whole-table
    // build, so the mergeable path is what's being checked).
    {
      val u = hexPrefixOracle("md5(CAST(l_partkey AS VARCHAR))", 8)
      val rankCase = (1 to 26)
        .map(r => s"WHEN w >= ${1L << (26 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 27 END")
      s"""WITH uu AS (SELECT l_orderkey % 2 AS h, $u AS u FROM lineitem),
         |s AS (SELECT h, u // 67108864 AS bucket, u % 67108864 AS w FROM uu),
         |r AS (SELECT h, bucket, max($rankCase) AS register FROM s GROUP BY 1, 2),
         |za AS (SELECT g.b AS bucket, coalesce(r.register, 0) AS register
         |       FROM range(0, 64) g(b) LEFT JOIN r ON g.b = r.bucket AND r.h = 0),
         |zb AS (SELECT g.b AS bucket, coalesce(r.register, 0) AS register
         |       FROM range(0, 64) g(b) LEFT JOIN r ON g.b = r.bucket AND r.h = 1),
         |mz AS (SELECT za.bucket, greatest(za.register, zb.register) AS register
         |       FROM za JOIN zb USING (bucket)),
         |agg AS (SELECT count(*) AS m,
         |  sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS n_zero_registers,
         |  sum(CAST(1 AS BIGINT) << (27 - register)) AS s_num FROM mz)
         |SELECT CAST(m AS BIGINT) AS m,
         | CAST(n_zero_registers AS BIGINT) AS n_zero_registers,
         | CAST(s_num AS BIGINT) AS s_num,
         | CAST((CAST(709340 AS BIGINT) * 4096 * (CAST(1 AS BIGINT) << 27))
         |   // s_num AS BIGINT) AS est_e6
         |FROM agg""".stripMargin
    }),

    // ---- bottom-k quantile sketch (the DISTRIBUTION member of the
    // mergeable-sketch family): price quantiles estimated from the
    // hash-sampled k-row frame, AND re-derived through an actual
    // two-shard merge — est_merged comes from union + re-bottom-k over
    // the supplier-parity split, so matching the oracle (which replays
    // only the direct path) proves the merge algebra loses nothing. --------
    QueryCase("q367_kmv_quantiles", (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        col("l_suppkey"))
      val qs = Seq(10000L, 250000L, 500000L, 750000L, 990000L)
      val direct = Sketch.quantileSketch(li, "rid", "cents", k = 512)
      val merged = Sketch.quantileMerge(
        Sketch.quantileSketch(li.where(col("l_suppkey") % 2 === 0), "rid", "cents", k = 512),
        Sketch.quantileSketch(li.where(col("l_suppkey") % 2 === 1), "rid", "cents", k = 512),
        k = 512)
      Sketch.quantileEstimate(direct, qs)
        .join(Sketch.quantileEstimate(merged, qs)
          .select(col("q_ppm"), col("est").as("est_merged")), Seq("q_ppm"))
    },
    // q367: the direct bottom-k replay (hash, take the k smallest by
    // (u, v), rank by (v, u), lower empirical quantile); est_merged is
    // asserted equal to the direct estimate — bottom-k of a union is the
    // bottom-k of the parts' bottom-ks, so the op's merge path must land
    // on the same rows.
    {
      val u = hexPrefixOracle("md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR))", 8)
      s"""WITH s AS (SELECT $u AS u,
         |  CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
         |b AS (SELECT u, v FROM s ORDER BY u, v LIMIT 512),
         |r AS (SELECT v, u, row_number() OVER (ORDER BY v, u) AS rn,
         |  CAST(count(*) OVER () AS BIGINT) AS n_sample FROM b),
         |q AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm FROM (VALUES
         |  (10000), (250000), (500000), (750000), (990000)) t(q_ppm))
         |SELECT q.q_ppm, r.v AS est, r.n_sample, r.v AS est_merged
         |FROM q JOIN r ON r.rn = greatest(1, (q.q_ppm * r.n_sample + 999999) // 1000000)""".stripMargin
    })
  )
}
