package graft.catalog

import graft.catalog.Shared._
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Relational and event analytics over the TPC-H-style and events tables:
  * joins, grouping, windows, profiling and layout. */
object RelationalQueries {

  /** Shared Morton-spread CTE chain: expects a prior CTE `t0` exposing
    * `a0`/`b0` (32-bit-masked dimensions) plus passthrough columns;
    * yields `z` with the interleaved code as `zv`. Constants are the
    * classic mask-shift ladder, identical to InterleaveBits' codegen. */
  private val DuckMortonSpread: String =
    """t1 AS (SELECT *,
      |  (a0 | (a0 << 16)) & 281470681808895 AS a1,
      |  (b0 | (b0 << 16)) & 281470681808895 AS b1 FROM t0),
      |t2 AS (SELECT *,
      |  (a1 | (a1 << 8)) & 71777214294589695 AS a2,
      |  (b1 | (b1 << 8)) & 71777214294589695 AS b2 FROM t1),
      |t3 AS (SELECT *,
      |  (a2 | (a2 << 4)) & 1085102592571150095 AS a3,
      |  (b2 | (b2 << 4)) & 1085102592571150095 AS b3 FROM t2),
      |t4 AS (SELECT *,
      |  (a3 | (a3 << 2)) & 3689348814741910323 AS a4,
      |  (b3 | (b3 << 2)) & 3689348814741910323 AS b4 FROM t3),
      |t5 AS (SELECT *,
      |  (a4 | (a4 << 1)) & 6148914691236517205 AS a5,
      |  (b4 | (b4 << 1)) & 6148914691236517205 AS b5 FROM t4),
      |z AS (SELECT *, a5 | (b5 << 1) AS zv FROM t5)""".stripMargin

  /** One per-column profile leg for the documents-profile oracle. */
  private def duckProfileLeg(c: String): String =
    s"""SELECT '$c' AS col_name,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  CAST(min($c) AS VARCHAR) AS min_v,
       |  CAST(max($c) AS VARCHAR) AS max_v
       |FROM documents"""

  val queries: Seq[Query] = Seq(
    // Hive-style partitioned parquet sink + partition-PRUNED re-scan: the
    // scan's PartitionFilters eliminate every non-matching lang directory
    // before any file is opened (asserted in SourcesSpec) — at 100 TB
    // that's the difference between reading one partition and the corpus.
    Query("partitioned_lang_stats", ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_partdir_").toString
      reapAtExit(tmp)
      Tables.documents(s, dir).select("doc_id", "lang", "text")
        .write.mode("overwrite").partitionBy("lang").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("lang").isin("en", "es"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    }), Oracle(
      // the round trip through the partitioned sink is lossless, so the
      // oracle reads the original table directly
      """SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM documents WHERE lang IN ('en', 'es')
        |GROUP BY 1 ORDER BY lang""".stripMargin)),
    // --- relational breadth (SURVEY.md §2.3 absent categories, built new) ---
    Query("pricing_summary", (Relational.pricingSummary _), Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        |  round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        |  round(avg(l_quantity),6) AS avg_qty,
        |  round(avg(l_extendedprice),6) AS avg_price,
        |  round(avg(l_discount),6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    Query("top_revenue_orders", (Relational.topRevenueOrders _), Oracle(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS rev
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY 1,2 ORDER BY rev DESC, l_orderkey LIMIT 10""".stripMargin)),
    Query("region_revenue", (Relational.regionRevenue _), Oracle(
      """SELECT n_name,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS rev
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY rev DESC, n_name""".stripMargin)),
    // the SQL frontend end-to-end: temp-view catalog + spark.sql text;
    // Catalyst plans it exactly like the DataFrame form (same pushdown,
    // same broadcasts) — asserted equivalent here by its own oracle
    Query("sql_frontend_revenue", ((s, dir) => {
      graft.sources.Views.register(s, dir)
      // revenue summed in per-row-rounded integer cents: double sums
      // reduce in partition order and can differ in the last ulp right
      // at a .005 rounding boundary — integer sums cannot
      s.sql("""
        SELECT c_mktsegment,
               CAST(year(o_orderdate) AS INT) AS yr,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                   AS BIGINT)) AS rev_cents,
               count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
        ORDER BY 1, 2""")
    }), Oracle(
      """SELECT c_mktsegment,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
        |    AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("order_priority", (Relational.orderPriority _), Oracle(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("top_orders_per_customer", (Relational.topOrdersPerCustomer _), Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),
    Query("running_customer_spend", (Relational.runningCustomerSpend _), Oracle(
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  round(sum(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2)
        |    AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("order_status_stats", (Relational.orderStatusStats _), Oracle(
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice),2) AS total_price,
        |  round(avg(o_totalprice),4) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("rollup_revenue", (Relational.rollupRevenue _), Oracle(
      """SELECT coalesce(r_name,'ALL') AS region_name,
        |  coalesce(n_name,'ALL') AS nation_name,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS rev
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin)),
    Query("modest_customers", (Relational.modestCustomers _), Oracle(
      """SELECT custkey FROM (
        |  SELECT DISTINCT o_custkey AS custkey FROM orders
        |  EXCEPT
        |  SELECT DISTINCT o_custkey AS custkey FROM orders
        |  WHERE o_totalprice > 300000.0) t
        |ORDER BY custkey""".stripMargin)),
    Query("repeat_customers", (Relational.repeatCustomers _), Oracle(
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE year(o_orderdate) = 1995
        |  INTERSECT
        |  SELECT o_custkey AS custkey FROM orders
        |  WHERE year(o_orderdate) = 2000) t
        |ORDER BY custkey""".stripMargin)),
    Query("customers_without_orders", (Relational.customersWithoutOrders _), Oracle(
      """SELECT n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate < TIMESTAMP '1996-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("big_spenders", (Relational.bigSpenders _), Oracle(
      """SELECT c_custkey, c_name, total_spend, n_orders FROM (
        |  SELECT o_custkey, round(sum(o_totalprice),2) AS total_spend,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1 HAVING round(sum(o_totalprice),2) > 1000000.0) t
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spend DESC, c_custkey""".stripMargin)),
    Query("events_json_stats", (Relational.eventsJsonStats _), Oracle(
      """SELECT event_type, n, sum_k,
        |  CAST(sum_k AS DOUBLE) / n AS avg_k
        |FROM (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |  FROM events GROUP BY 1) t
        |ORDER BY 1""".stripMargin)),
    Query("events_variant_stats", (Relational.eventsVariantStats _), Oracle(
      // the VARIANT-typed extraction must agree with string extraction;
      // min/max stay INTEGER (Spark int), only the sum needs the BIGINT cast
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
        |    AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("events_hourly", (Relational.eventsHourly _), Oracle(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value),2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),
    // --- event-sequence analytics (telemetry views) ---
    Query("funnel_counts", (EventAnalytics.funnelCounts _), Oracle(
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        |SELECT 1 AS stage, 'view' AS stage_name,
        |  CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
        |UNION ALL SELECT 2, 'view>click',
        |  CAST((SELECT count(*) FROM c) AS BIGINT)
        |UNION ALL SELECT 3, 'view>click>purchase',
        |  CAST((SELECT count(*) FROM p) AS BIGINT)
        |ORDER BY stage""".stripMargin)),
    Query("retention_cohorts", (EventAnalytics.retentionCohorts _), Oracle(
      // integer week indexes (day-diff DIV 7): engine-portable, no
      // week-of-year calendar semantics
      """WITH e AS (
        |  SELECT user_id,
        |    date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) // 7
        |      AS week
        |  FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT f.cohort_week, e.week - f.cohort_week
        |    AS week_offset, e.user_id
        |  FROM e JOIN f USING (user_id))
        |SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT)
        |  AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Query("resample_ffill", (EventAnalytics.resampleForwardFill _), Oracle(
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    date_diff('day', TIMESTAMP '2024-01-01 00:00:00', ts) AS day,
        |    ts, value
        |  FROM events),
        |byday AS (
        |  SELECT user_id, day, value AS obs FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, day
        |      ORDER BY ts DESC, event_id DESC) AS rn FROM e) t
        |  WHERE rn = 1),
        |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
        |grid AS (
        |  SELECT u.user_id, g.day
        |  FROM (SELECT DISTINCT user_id FROM byday) u, span,
        |    LATERAL (SELECT unnest(generate_series(d0, d1)) AS day) g),
        |filled AS (
        |  SELECT g.user_id, g.day, b.obs,
        |    last_value(b.obs IGNORE NULLS) OVER (
        |      PARTITION BY g.user_id ORDER BY g.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
        |  FROM grid g LEFT JOIN byday b
        |    ON g.user_id = b.user_id AND g.day = b.day)
        |SELECT user_id, day, round(f, 6) AS value,
        |  CAST(CASE WHEN obs IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS observed
        |FROM filled WHERE f IS NOT NULL
        |ORDER BY user_id, day""".stripMargin)),
    Query("part_brand_revenue", (Relational.partBrandRevenue _), Oracle(
      """SELECT p_brand,
        |  round(sum(l_extendedprice*(1-l_discount)),2) AS rev,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY rev DESC, p_brand LIMIT 10""".stripMargin)),
    Query("nation_coverage", (Relational.nationCoverage _), Oracle(
      """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_suppliers
        |                 FROM supplier GROUP BY 1) s
        |  ON c.c_nationkey = s.s_nationkey
        |ORDER BY nationkey""".stripMargin)),
    Query("above_average_orders", (Relational.aboveAverageOrders _), Oracle(
      """SELECT o_orderstatus, count(*) AS n_above,
        |  round(min(o_totalprice), 2) AS min_above
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("scd2_customer_priority", (Incremental.scd2CustomerPriority _), Oracle(
      // same gaps-and-islands shape; version numbering is deterministic
      // because o_orderkey breaks orderdate ties in every window
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |numbered AS (
        |  SELECT *, CAST(sum(CASE WHEN prev IS NULL
        |        OR prev <> o_orderpriority THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version
        |  FROM flagged),
        |islands AS (
        |  SELECT o_custkey AS custkey, version,
        |    min(o_orderpriority) AS priority,
        |    min(o_orderdate) AS vf_ts,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM numbered GROUP BY 1, 2)
        |SELECT custkey, version, priority,
        |  strftime(vf_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  coalesce(strftime(lead(vf_ts) OVER (PARTITION BY custkey
        |      ORDER BY version), '%Y-%m-%d %H:%M:%S'),
        |    '9999-12-31 00:00:00') AS valid_to,
        |  n_orders
        |FROM islands ORDER BY custkey, version""".stripMargin)),
    Query("event_priority_stats", (Incremental.eventPriorityStats _), Oracle(
      // the same islands derivation, joined point-in-time onto events
      """WITH flagged AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |    lag(o_orderpriority) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_orderdate, o_orderkey)),
        |numbered AS (
        |  SELECT *, CAST(sum(CASE WHEN prev IS NULL
        |        OR prev <> o_orderpriority THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY o_custkey
        |            ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version
        |  FROM flagged),
        |islands AS (
        |  SELECT o_custkey AS custkey, version,
        |    min(o_orderpriority) AS priority,
        |    min(o_orderdate) AS vf_ts
        |  FROM numbered GROUP BY 1, 2),
        |dim AS (
        |  SELECT custkey, priority, vf_ts,
        |    lead(vf_ts) OVER (PARTITION BY custkey ORDER BY version)
        |      AS vt_ts
        |  FROM islands)
        |SELECT d.priority, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events e JOIN dim d
        |  ON e.user_id = d.custkey AND e.ts >= d.vf_ts
        |  AND (d.vt_ts IS NULL OR e.ts < d.vt_ts)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("cascade_delete_audit", (Relational.cascadeDeleteAudit _), Oracle(
      """WITH doomed AS (
        |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        |dorders AS (
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_custkey IN (SELECT k FROM doomed)),
        |c AS (
        |  SELECT 'customer' AS tbl,
        |    (SELECT count(*) FROM customer) AS nb, count(*) AS na,
        |    coalesce(CAST(sum(c_custkey) AS BIGINT), 0) AS ks
        |  FROM customer WHERE c_custkey NOT IN (SELECT k FROM doomed)),
        |e AS (
        |  SELECT 'events' AS tbl,
        |    (SELECT count(*) FROM events) AS nb, count(*) AS na,
        |    coalesce(CAST(sum(event_id) AS BIGINT), 0) AS ks
        |  FROM events WHERE user_id NOT IN (SELECT k FROM doomed)),
        |o AS (
        |  SELECT 'orders' AS tbl,
        |    (SELECT count(*) FROM orders) AS nb, count(*) AS na,
        |    coalesce(CAST(sum(o_orderkey) AS BIGINT), 0) AS ks
        |  FROM orders WHERE o_custkey NOT IN (SELECT k FROM doomed)),
        |l AS (
        |  SELECT 'lineitem' AS tbl,
        |    (SELECT count(*) FROM lineitem) AS nb, count(*) AS na,
        |    coalesce(CAST(sum(l_orderkey) AS BIGINT), 0) AS ks
        |  FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT k FROM dorders))
        |SELECT tbl, CAST(nb AS BIGINT) AS n_before,
        |  CAST(na AS BIGINT) AS n_after,
        |  CAST(nb - na AS BIGINT) AS n_purged,
        |  ks AS key_sum_after
        |FROM (SELECT * FROM c UNION ALL SELECT * FROM e
        |      UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l) u
        |ORDER BY tbl""".stripMargin)),
    Query("heavy_hitter_gate", ((s, dir) =>
      Grouping.heavyHitterGate(s, dir, k = 64)), Oracle(
      // the sketch itself is not ANSI-expressible; n_tokens/n_heavy are
      // exact recomputations and the flags assert containment + the
      // deterministic MG error bound (see Grouping.heavyHitterGate)
      s"""WITH w AS (SELECT lower(word) AS word FROM ($DuckTokens) t
         |           WHERE regexp_matches(word, '\\S')),
         |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c)
         |SELECT n_tokens,
         |  (SELECT count(*) FROM c, n n2 WHERE cnt * 65 > n2.n_tokens)
         |    AS n_heavy,
         |  1 AS containment_ok, 1 AS bound_ok
         |FROM n""".stripMargin)),
    // --- as-of join (operator Spark lacks; composed, not ported) ---
    Query("asof_event_order", ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, dir)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      AsOfJoin.asOfBackward(ev, "user_id", "ts", ord, "o_custkey", "o_orderdate")
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("asof.o_orderkey").as("o_orderkey"),
          col("asof.o_totalprice").as("o_totalprice"))
    }), Oracle(
      """SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  o.o_orderkey, o.o_totalprice
        |FROM events e
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
        |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON true
        |ORDER BY e.event_id""".stripMargin)),
    // same semantics through the native physical operator (plans.AsOfJoinExec)
    Query("asof_event_order_native", ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val ord = Tables.orders(s, dir)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
      AsOfJoin.asOfBackwardNative(ev, "user_id", "ts",
          ord, "o_custkey", "o_orderdate", rightTieBreak = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("o_orderkey"), col("o_totalprice"))
    }), Oracle(
      """SELECT e.event_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  o.o_orderkey, o.o_totalprice
        |FROM events e
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
        |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1) o ON true
        |ORDER BY e.event_id""".stripMargin)),
    // --- range join (binned interval-point equi-join rewrite) ---
    Query("shipped_in_order_window", (RangeJoin.shipmentsInOrderWindow _), Oracle(
      """SELECT o_orderkey, count(l.l_shipdate) AS n_shipped
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 1 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // interval-interval overlap (binned, first-instant dedup bin)
    Query("concurrent_sessions", ((s, dir) =>
      RangeJoin.concurrentSessions(s, dir, "30 minutes")), Oracle(
      // same session construction as user_sessions (proven equivalent to
      // session_window there), then the exact overlap self-join the binned
      // operator must reproduce; durations are integer second diffs
      """WITH e AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_id
        |  FROM e),
        |sess AS (
        |  SELECT user_id, sess_id, min(ts) AS st,
        |    max(ts) + INTERVAL 30 MINUTE AS en
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |  count(*) AS n_session_pairs,
        |  CAST(sum(date_diff('second', greatest(a.st, b.st),
        |                     least(a.en, b.en))) AS BIGINT)
        |    AS overlap_seconds
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.st < b.en AND b.st < a.en
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // --- explicit salting (skew fallback when AQE split isn't enough) ---
    Query("skewed_user_segment_stats", ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id").as("custkey"), col("value"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      SkewJoin.saltedEquiJoin(ev, cust, "custkey", saltBuckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"))
        .orderBy("c_mktsegment")
    }), Oracle(
      """SELECT c_mktsegment, count(*) AS n_events,
        |  round(sum(value),2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // --- grouping/ranking breadth + stats ---
    Query("top_event_per_user", (Grouping.topEventPerUser _), Oracle(
      """SELECT user_id, event_id, event_type, round(value,6) AS value, rn
        |FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 1 ORDER BY user_id""".stripMargin)),
    Query("cube_order_stats", (Grouping.cubeOrderStats _), Oracle(
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        |  coalesce(o_orderpriority,'ALL') AS priority,
        |  count(*) AS n_orders, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY 1,2""".stripMargin)),
    Query("lineitem_stats", (Grouping.lineitemStats _), Oracle(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5),4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price,
        |  round(stddev_samp(l_quantity),4) AS sd_qty,
        |  round(corr(l_quantity, l_extendedprice),4) AS corr_qty_price,
        |  round(avg(l_discount),6) AS avg_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("user_sessions", ((s, dir) => Grouping.userSessions(s, dir, "30 minutes")),
      Oracle(
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_id
        |  FROM e)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |    AS session_end,
        |  count(*) AS n_events, round(sum(value),2) AS session_value
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin)),
    Query("events_type_pivot", (Grouping.eventsTypePivot _), Oracle(
      """SELECT hour(ts) AS hod,
        |  coalesce(round(sum(value) FILTER (WHERE event_type='click'),2),0.0)
        |    AS click,
        |  coalesce(round(sum(value) FILTER (WHERE event_type='error'),2),0.0)
        |    AS error,
        |  coalesce(round(sum(value) FILTER (WHERE event_type='purchase'),2),0.0)
        |    AS purchase,
        |  coalesce(round(sum(value) FILTER (WHERE event_type='signup'),2),0.0)
        |    AS signup,
        |  coalesce(round(sum(value) FILTER (WHERE event_type='view'),2),0.0)
        |    AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("events_type_unpivot", (Grouping.eventsTypeUnpivot _), Oracle(
      """WITH agg AS (
        |  SELECT hour(ts) AS hod, event_type, round(sum(value),2) AS v
        |  FROM events GROUP BY 1,2),
        |hours AS (SELECT DISTINCT hour(ts) AS hod FROM events),
        |types AS (SELECT unnest(['click','error','purchase','signup','view'])
        |          AS event_type)
        |SELECT h.hod, t.event_type, coalesce(a.v, 0.0) AS sum_value
        |FROM hours h CROSS JOIN types t
        |LEFT JOIN agg a ON a.hod = h.hod AND a.event_type = t.event_type
        |ORDER BY 1,2""".stripMargin)),
    Query("order_grouping_sets", (Grouping.orderGroupingSets _), Oracle(
      """SELECT coalesce(o_orderstatus,'ALL') AS status,
        |  coalesce(o_orderpriority,'ALL') AS priority,
        |  coalesce(CAST(year(o_orderdate) AS VARCHAR),'ALL') AS o_year,
        |  count(*) AS n_orders, round(sum(o_totalprice),2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, year(o_orderdate)),
        |                        (o_orderpriority), ())
        |ORDER BY 1,2,3""".stripMargin)),
    Query("rolling_7d_revenue", (Grouping.rolling7dRevenue _), Oracle(
      """WITH daily AS (
        |  SELECT l_shipdate AS ship_date,
        |    round(sum(CAST(l_extendedprice*(1-l_discount)
        |                   AS DECIMAL(18,4))),2)::DOUBLE AS day_rev
        |  FROM lineitem GROUP BY 1)
        |SELECT strftime(ship_date, '%Y-%m-%d') AS ship_day, day_rev,
        |  round(sum(day_rev) OVER (ORDER BY ship_date
        |    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW),2)
        |    AS rev_7d
        |FROM daily ORDER BY 1""".stripMargin)),
    Query("order_gaps_quartiles", (Grouping.orderGapsQuartiles _), Oracle(
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  coalesce(CAST(date_diff('day',
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |                           ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS INTEGER), -1) AS gap_days,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
        |    AS spend_quartile
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Query("order_rank_stats", (Grouping.orderRankStats _), Oracle(
      """SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |  round(o_totalprice, 2) AS price,
        |  round(percent_rank() OVER w_asc, 6) AS price_pct_rank,
        |  round(cume_dist() OVER w_asc, 6) AS price_cume_dist,
        |  first_value(o_orderkey) OVER w_desc AS top_order
        |FROM orders
        |WINDOW
        |  w_asc AS (PARTITION BY o_custkey
        |            ORDER BY o_totalprice, o_orderkey),
        |  w_desc AS (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY custkey, orderkey""".stripMargin)),
    Query("robust_price_stats", (Grouping.robustPriceStats _), Oracle(
      // medians doubled-then-cast stay exact over integers (interpolation
      // is always .0/.5); the 3x-MAD test is a pure BIGINT comparison
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag,
        |    CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS med2
        |  FROM c GROUP BY 1),
        |d AS (
        |  SELECT c.l_returnflag, abs(2 * cents - med2) AS dev2, med2
        |  FROM c JOIN m USING (l_returnflag)),
        |md AS (
        |  SELECT l_returnflag,
        |    CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1)
        |SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  min(d.med2) AS med2, min(md.mad4) AS mad4,
        |  CAST(sum(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("user_event_type_sets", (Grouping.userEventTypeSets _), Oracle(
      """SELECT user_id,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type)
        |    AS event_types,
        |  count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // sketch tier (HLL++/GK percentiles), checked through the bounds
    // gate (r17 consolidation: algorithm-specific estimates can't
    // hash-match another engine; the gate runs the SAME sketches and
    // pins them inside their error budgets next to exact SQL values)
    Query("approx_stats_bounds", (Grouping.approxStatsBounds _), Oracle(
      // exact sides recomputed, sketch estimates asserted within budget
      // (see Grouping.approxStatsBounds)
      """SELECT l_returnflag, count(*) AS n,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  1 AS parts_ok, 1 AS median_ok, 1 AS p90_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // --- data layout (Z-order multi-dimensional clustering) ---
    Query("zorder_bucket_stats", (Layout.zorderBucketStats _), Oracle(
      // the Morton interleave re-derived in pure SQL bit-twiddling (the
      // classic mask-shift spread, one CTE per step)
      s"""WITH t0 AS (
        |  SELECT l_partkey, l_suppkey,
        |    l_partkey & 4294967295 AS a0,
        |    l_suppkey & 4294967295 AS b0
        |  FROM lineitem),
        |$DuckMortonSpread
        |SELECT zv // 65536 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
        |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
        |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("zorder_scaled_stats", (Layout.zorderScaledStats _), Oracle(
      // same spread, over dimensions first range-scaled onto [0, 2^16)
      // with the same integer affine map as Layout.scaledZ
      s"""WITH b AS (
        |  SELECT min(l_orderkey) AS xmin, max(l_orderkey) AS xmax,
        |    min(l_partkey) AS ymin, max(l_partkey) AS ymax
        |  FROM lineitem),
        |t0 AS (
        |  SELECT l_orderkey, l_partkey,
        |    ((l_orderkey - xmin) * 65535) // greatest(xmax - xmin, 1)
        |      AS a0,
        |    ((l_partkey - ymin) * 65535) // greatest(ymax - ymin, 1)
        |      AS b0
        |  FROM lineitem, b),
        |$DuckMortonSpread
        |SELECT zv // 16777216 AS bucket, CAST(count(*) AS BIGINT) AS cnt,
        |  min(l_orderkey) AS min_ord, max(l_orderkey) AS max_ord,
        |  min(l_partkey) AS min_part, max(l_partkey) AS max_part
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),
    // --- data profiling (pre-training corpus audit) ---
    Query("documents_profile", (Profile.documentsProfile _), Oracle(
      s"""SELECT * FROM (
         |${Seq("doc_id", "text", "lang", "source", "n_chars")
             .map(duckProfileLeg).mkString("\nUNION ALL\n")}
         |) p ORDER BY col_name""".stripMargin)),
    Query("price_histogram", ((s, dir) => Profile.priceHistogram(s, dir)), Oracle(
      """WITH c AS (
        |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |  FROM lineitem),
        |b AS (SELECT min(cents) AS cmin, max(cents) AS cmax FROM c)
        |SELECT least((cents - cmin) * 32 // greatest(cmax - cmin + 1, 1),
        |         31) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM c, b GROUP BY 1 ORDER BY 1""".stripMargin)),
    Query("fk_integrity_audit", (Profile.fkIntegrityAudit _), Oracle {
      def leg(name: String, child: String, fk: String,
              parent: String, pk: String): String =
        s"""SELECT '$name' AS edge,
           |  CAST(count(*) AS BIGINT) AS n_child,
           |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_orphans,
           |  CAST(count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$fk END)
           |    AS BIGINT) AS n_orphan_keys
           |FROM $child c
           |LEFT JOIN (SELECT DISTINCT $pk FROM $parent) p
           |  ON c.$fk = p.$pk""".stripMargin
      Seq(
        leg("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        leg("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        leg("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        leg("lineitem->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        leg("customer->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        leg("supplier->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        leg("nation->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        leg("events->customer", "events", "user_id",
          "customer", "c_custkey"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) a ORDER BY edge")
    }),
    Query("spend_deciles", (Profile.spendDeciles _), Oracle(
      """WITH sp AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS spend_cents
        |  FROM orders GROUP BY 1),
        |d AS (SELECT spend_cents,
        |        CAST(ntile(10) OVER (ORDER BY spend_cents, o_custkey)
        |          AS INTEGER) AS decile
        |      FROM sp)
        |SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |  min(spend_cents) AS lo_cents, max(spend_cents) AS hi_cents,
        |  CAST(sum(spend_cents) AS BIGINT) AS sum_cents
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),
    // --- entity resolution (blocked edit-distance matching) ---
    Query("fuzzy_part_match", (FuzzyMatch.fuzzyPartMatch _), Oracle(
      """WITH n AS (SELECT DISTINCT p_name FROM part
        |           WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS a, b.p_name AS b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM n a, n b
        |WHERE a.p_name < b.p_name
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY a, b""".stripMargin)),
    // --- sequence + collocation statistics ---
    Query("event_transitions", (EventAnalytics.eventTransitions _), Oracle(
      """WITH seq AS (
        |  SELECT user_id, event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        |      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS src_total
        |      FROM c GROUP BY 1)
        |SELECT c.src, c.dst, c.cnt,
        |  CAST(c.cnt * 1000000 // t.src_total AS BIGINT) AS p_millionths
        |FROM c JOIN t ON c.src = t.src
        |ORDER BY 1, 2""".stripMargin)),
    // --- migration validation (engine-portable checksums) ---
    Query("corpus_checksums", (Profile.corpusChecksums _), Oracle {
      def leg(tbl: String, cols: String): String =
        s"""SELECT '$tbl' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(coalesce(bit_xor(CAST('0x' ||
           |    substr(md5(concat_ws('|', $cols)), 1, 14) AS BIGINT)), 0)
           |    AS BIGINT) AS xor56
           |FROM $tbl""".stripMargin
      def cents(c: String) = s"CAST(round($c * 100, 0) AS BIGINT)"
      Seq(
        leg("region", "r_regionkey, r_name"),
        leg("nation", "n_nationkey, n_name, n_regionkey"),
        leg("customer", s"c_custkey, c_name, c_nationkey, " +
          s"${cents("c_acctbal")}, c_mktsegment"),
        leg("supplier",
          s"s_suppkey, s_name, s_nationkey, ${cents("s_acctbal")}"),
        leg("part", s"p_partkey, p_name, p_brand, p_type, p_size, " +
          s"${cents("p_retailprice")}"),
        leg("orders", s"o_orderkey, o_custkey, o_orderstatus, " +
          s"${cents("o_totalprice")}, epoch_us(o_orderdate), " +
          s"o_orderpriority"),
        leg("lineitem", s"l_orderkey, l_linenumber, l_partkey, " +
          s"l_suppkey, CAST(l_quantity AS BIGINT), " +
          s"${cents("l_extendedprice")}, epoch_us(l_shipdate)"),
        leg("documents", "doc_id, lang, source, n_chars, text"),
        leg("events", "event_id, user_id, event_type, epoch_us(ts)"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) a ORDER BY tbl")
    }),
    // --- ANSI set operations (INTERSECT / EXCEPT / UNION) ---
    Query("nation_part_overlap", ((s, dir) => Relational.nationPartOverlap(s, dir)),
      Oracle(
      """WITH pa AS (
        |  SELECT DISTINCT l.l_partkey FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_1'),
        |pb AS (
        |  SELECT DISTINCT l.l_partkey FROM lineitem l
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_2')
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pb) AS n_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT * FROM pa INTERSECT SELECT * FROM pb) i) AS n_both,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT * FROM pa EXCEPT SELECT * FROM pb) x) AS n_only_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT * FROM pa UNION SELECT * FROM pb) u) AS n_union""".stripMargin)),
  )
}
