package graft.ops

import graft.QuerySpec

/** The extended relational and event-analytics queries, each with the
  * DuckDB SQL that checks it. */
object RelationalExtQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q47_stats_agg", (s, d) => RelationalExt.statsAgg(s, d),
      """SELECT l_returnflag,
        | round(stddev_samp(l_extendedprice), 4) AS sd_price,
        | round(var_samp(l_quantity), 4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q48_grouping_sets", (s, d) => RelationalExt.groupingSetsAgg(s, d),
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        | count(*) AS n,
        | round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),
    QuerySpec("q49_window_nav", (s, d) => RelationalExt.windowNav(s, d),
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | first_value(o_orderdate) OVER w2 AS first_date,
        | last_value(o_orderdate) OVER w2 AS last_date,
        | nth_value(o_totalprice, 2) OVER w2 AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin),
    QuerySpec("q50_ntile", (s, d) => RelationalExt.ntileStats(s, d),
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | ${TextOps.roundAtSql("percent_rank() OVER w", 6)} AS pct_rank,
        | ${TextOps.roundAtSql("cume_dist() OVER w", 6)} AS cum_dist
        |FROM lineitem WHERE l_suppkey < 5
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)""".stripMargin),
    QuerySpec("q51_regexp_funcs", (s, d) => RelationalExt.regexpFuncs(s, d),
      """SELECT c_custkey,
        | regexp_extract(c_name, '([0-9]+)', 1) AS cust_digits,
        | len(regexp_extract_all(c_name, '[0-9]')) AS n_digits,
        | regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
        | CAST(CASE WHEN regexp_matches(c_name, '00[0-4]$') THEN 1 ELSE 0 END AS BIGINT) AS ends_low
        |FROM customer""".stripMargin),
    QuerySpec("q52_intersect_all", (s, d) => RelationalExt.intersectAllKeys(s, d),
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT ALL
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000""".stripMargin),
    QuerySpec("q53_count_distinct", (s, d) => RelationalExt.countDistinctAgg(s, d),
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part,
        | count(DISTINCT concat_ws('_', l_orderkey, l_linenumber)) AS n_lines,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // q54: DuckDB's HLL produces different estimates, so the raw
    // sketch values can never hash-match — instead the Spark side
    // emits exact counts plus in-plan |approx−exact| ≤ 5% flags, and
    // the oracle asserts those flags are literally TRUE beside its own
    // exact counts: a drifting sketch becomes a hash mismatch.
    QuerySpec("q54_approx_distinct", (s, d) => RelationalExt.approxDistinct(s, d),
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part,
        | TRUE AS supp_within_5pct,
        | TRUE AS part_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q55_agg_filter", (s, d) => RelationalExt.aggFilterClause(s, d),
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        | count(*) FILTER (WHERE l_tax = 0) AS n_taxfree,
        | round(sum(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS rev_bulk,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q56_histogram", (s, d) => RelationalExt.histogram(s, d),
      """SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bin,
        | count(*) AS n,
        | round(min(l_extendedprice), 2) AS bin_min,
        | round(max(l_extendedprice), 2) AS bin_max
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("q57_sample_hash", (s, d) => RelationalExt.sampleHash(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')""".stripMargin),
    QuerySpec("q58_sliding_window", (s, d) => RelationalExt.slidingWindow(s, d),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |wins AS (
        |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS win_start,
        |         value
        |  FROM e)
        |SELECT win_start, count(*) AS n, round(sum(value), 2) AS total
        |FROM wins GROUP BY win_start""".stripMargin),
    QuerySpec("q63_array_funcs", (s, d) => RelationalExt.arrayFuncs(s, d),
      """WITH w AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
        |  FROM documents)
        |SELECT doc_id,
        | len(list_distinct(words)) AS n_uniq,
        | array_to_string(list_slice(list_sort(list_distinct(words)), 1, 5), ',') AS first5,
        | CAST(CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END AS BIGINT) AS has_the,
        | list_aggregate(words, 'max') AS max_word
        |FROM w""".stripMargin),
    QuerySpec("q64_map_funcs", (s, d) => RelationalExt.mapFuncs(s, d),
      """SELECT event_id,
        | len(json_keys(props)) AS n_keys,
        | array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted,
        | json_extract_string(props, '$.k') AS k_val
        |FROM events""".stripMargin),
    QuerySpec("q65_explode_outer", (s, d) => RelationalExt.explodeOuter(s, d),
      """SELECT doc_id,
        | unnest(CASE WHEN len(a) = 0 THEN [NULL] ELSE a END) AS num
        |FROM (SELECT doc_id, regexp_extract_all(text, '[0-9]+') AS a
        |      FROM documents) t""".stripMargin),
    QuerySpec("q66_union_by_name", (s, d) => RelationalExt.unionByNameMixed(s, d),
      """SELECT c_custkey AS key, c_acctbal AS bal, 'cust' AS src FROM customer
        |UNION ALL BY NAME
        |SELECT 'supp' AS src, s_suppkey AS key FROM supplier""".stripMargin),
    QuerySpec("q67_date_arith", (s, d) => RelationalExt.dateArith(s, d),
      """SELECT o_orderkey,
        | CAST(o_orderdate AS DATE) + 30 AS due_date,
        | last_day(CAST(o_orderdate AS DATE)) AS month_end,
        | date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
        | CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
        | CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
        | CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        |FROM orders""".stripMargin),
    QuerySpec("q68_salted_join", (s, d) => RelationalExt.saltedJoinAgg(s, d),
      """SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
        | round(sum(l_extendedprice), 2) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin),
    QuerySpec("q69_lateral_topn", (s, d) => RelationalExt.lateralTopN(s, d),
      """SELECT n_name, t.s_name, t.s_acctbal
        |FROM nation n,
        |LATERAL (SELECT s_name, s_acctbal FROM supplier s
        |         WHERE s.s_nationkey = n.n_nationkey
        |         ORDER BY s_acctbal DESC, s_name LIMIT 2) t""".stripMargin),
    QuerySpec("q70_left_outer", (s, d) => RelationalExt.leftOuterJoin(s, d),
      """SELECT c_custkey, c_mktsegment,
        | count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice), 0.0), 2) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin),
    QuerySpec("q71_full_outer", (s, d) => RelationalExt.fullOuterJoin(s, d),
      """WITH o AS (SELECT o_custkey AS key, count(*) AS n_big_orders
        |           FROM orders WHERE o_totalprice > 400000 GROUP BY 1),
        |     c AS (SELECT c_custkey AS key, c_acctbal FROM customer
        |           WHERE c_acctbal > 9000)
        |SELECT coalesce(o.key, c.key) AS key,
        | coalesce(o.n_big_orders, 0) AS n_big_orders,
        | CAST(CASE WHEN c.c_acctbal IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_rich
        |FROM o FULL OUTER JOIN c ON o.key = c.key""".stripMargin),
    QuerySpec("q72_cross_join", (s, d) => RelationalExt.crossJoinDims(s, d),
      "SELECT n_name, r_name FROM nation CROSS JOIN region"),
    QuerySpec("q73_in_list", (s, d) => RelationalExt.inListFilter(s, d),
      """SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderstatus IN ('F', 'P')""".stripMargin),
    QuerySpec("q74_range_frame", (s, d) => RelationalExt.rangeFrame(s, d),
      """SELECT l_suppkey, l_orderkey, l_linenumber, day_num, l_extendedprice,
        | round(sum(l_extendedprice) OVER (
        |   PARTITION BY l_suppkey ORDER BY day_num
        |   RANGE BETWEEN 7 PRECEDING AND CURRENT ROW), 2) AS rev_7d
        |FROM (SELECT l_suppkey, l_orderkey, l_linenumber,
        |        date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS day_num,
        |        l_extendedprice
        |      FROM lineitem WHERE l_suppkey < 5) t""".stripMargin),
    QuerySpec("q79_null_semantics", (s, d) => RelationalExt.nullSemantics(s, d),
      """SELECT o_orderkey,
        | nullif(o_orderstatus, 'O') AS status_non_open,
        | coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        | CAST(CASE WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM
        |                 nullif(o_orderpriority, o_orderpriority)
        |           THEN 1 ELSE 0 END AS BIGINT) AS is_open_nullsafe,
        | CAST(CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN 1 ELSE 0 END AS BIGINT) AS null_flag
        |FROM orders""".stripMargin),
    // q82: hash-deterministic stratified sampling — the oracle checks
    // exact sample membership (seeded-random sampleBy never could).
    QuerySpec("q82_stratified_sample", (s, d) => RelationalExt.stratifiedSample(s, d),
      """SELECT l_orderkey, l_linenumber, l_returnflag
        |FROM lineitem
        |WHERE ('0x' || substr(md5(concat_ws('_', l_orderkey, l_linenumber)), 1, 4))::BIGINT % 1000
        |      < CASE l_returnflag WHEN 'A' THEN 200 WHEN 'N' THEN 50
        |                          WHEN 'R' THEN 500 ELSE 0 END""".stripMargin),
    // q93: q54's flag pattern — DataSketches HLL estimates can't
    // hash-match DuckDB's sketch, so the gate carries exact counts +
    // TRUE bounds flags; the union row is 'ALL'.
    QuerySpec("q93_sketch_merge", (s, d) => RelationalExt.sketchMerge(s, d),
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS within_5pct
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS within_5pct
        |FROM events""".stripMargin),
    // q100: q54's flag pattern again — the sketch's merge order (and
    // hence its exact value) follows partitioning, so the gate carries
    // the exact quantiles plus TRUE envelope flags; a sketch drifting
    // past its rank-error bound turns into a hash mismatch
    QuerySpec("q100_approx_quantiles", (s, d) => RelationalExt.approxQuantiles(s, d),
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | TRUE AS p25_in_bound,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | TRUE AS p50_in_bound,
        | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        | TRUE AS p75_in_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // q117: the same chained min-over-filter stages; the scalar
    // subqueries are the one-row stage counts
    QuerySpec("q117_funnel", (s, d) => RelationalExt.funnel(s, d),
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        | (SELECT count(*) FROM c) AS n_click,
        | (SELECT count(*) FROM p) AS n_purchase""".stripMargin),
    // q118: same collapse → cohort-min → triangle count; week offsets
    // are exact multiples of 7 days (both sides week-truncate first)
    QuerySpec("q118_cohort_retention", (s, d) => RelationalExt.cohortRetention(s, d),
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
        |  FROM events),
        |coh AS (
        |  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM act)
        |SELECT cohort_week,
        | CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        | count(*) AS n_active
        |FROM coh GROUP BY 1, 2""".stripMargin),
    // q121: the from-scratch aggregation over ALL events — the
    // incremental state merge must be indistinguishable from it
    QuerySpec("q121_incremental_rollup", (s, d) => RelationalExt.incrementalRollup(s, d),
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        | count(*) AS n, round(sum(value), 2) AS total,
        | round(sum(value), 2) / count(*) AS avg_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    // q122: the same six constraints as scalar aggregates
    QuerySpec("q122_quality_audit", (s, d) => RelationalExt.qualityAudit(s, d),
      """WITH li AS (
        |  SELECT
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 60 THEN 1 ELSE 0 END) AS qty_range,
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS ship_null,
        |    sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_pos
        |  FROM lineitem),
        |ord AS (
        |  SELECT count(*) - count(DISTINCT o_orderkey) AS okey_dup,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS tprice_pos
        |  FROM orders),
        |fk AS (
        |  SELECT count(*) AS cust_fk FROM orders o
        |  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_custkey IS NULL)
        |SELECT 'lineitem_quantity_in_1_60' AS check_name, CAST(qty_range AS BIGINT) AS n_violations FROM li
        |UNION ALL SELECT 'lineitem_shipdate_not_null', CAST(ship_null AS BIGINT) FROM li
        |UNION ALL SELECT 'lineitem_price_positive', CAST(price_pos AS BIGINT) FROM li
        |UNION ALL SELECT 'orders_orderkey_unique', CAST(okey_dup AS BIGINT) FROM ord
        |UNION ALL SELECT 'orders_totalprice_positive', CAST(tprice_pos AS BIGINT) FROM ord
        |UNION ALL SELECT 'orders_custkey_references_customer', cust_fk FROM fk""".stripMargin),
    QuerySpec("q123_column_stats", (s, d) => RelationalExt.columnStats(s, d),
      """WITH w AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS qty_nulls,
        |    count(DISTINCT l_quantity) AS qty_ndv,
        |    CAST(min(l_quantity) AS DOUBLE) AS qty_min,
        |    CAST(max(l_quantity) AS DOUBLE) AS qty_max,
        |    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS price_nulls,
        |    count(DISTINCT l_extendedprice) AS price_ndv,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS price_min,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS price_max,
        |    sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS disc_nulls,
        |    count(DISTINCT l_discount) AS disc_ndv,
        |    CAST(min(l_discount) AS DOUBLE) AS disc_min,
        |    CAST(max(l_discount) AS DOUBLE) AS disc_max
        |  FROM lineitem)
        |SELECT n_rows, 'l_quantity' AS column_name, CAST(qty_nulls AS BIGINT) AS n_nulls,
        | qty_ndv AS ndv, qty_min AS min_d, qty_max AS max_d FROM w
        |UNION ALL SELECT n_rows, 'l_extendedprice', CAST(price_nulls AS BIGINT),
        | price_ndv, price_min, price_max FROM w
        |UNION ALL SELECT n_rows, 'l_discount', CAST(disc_nulls AS BIGINT),
        | disc_ndv, disc_min, disc_max FROM w""".stripMargin),
    // q124: exact NDV + literal TRUE — the sketch side never reaches
    // the oracle, only its envelope verdict does
    QuerySpec("q124_column_stats_sketch", (s, d) => RelationalExt.columnStatsSketch(s, d),
      """SELECT 'l_quantity' AS column_name,
        | count(DISTINCT l_quantity) AS ndv, TRUE AS in_envelope FROM lineitem
        |UNION ALL SELECT 'l_extendedprice',
        | count(DISTINCT l_extendedprice), TRUE FROM lineitem
        |UNION ALL SELECT 'l_discount',
        | count(DISTINCT l_discount), TRUE FROM lineitem""".stripMargin),
    // q133: identical window + tie-break
    QuerySpec("q133_event_transitions", (s, d) => RelationalExt.eventTransitions(s, d),
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),
    // q142: identical quantize geometry (floor of the double ratio —
    // see ZOrder.quantize's exactness argument) and the generated
    // 16-term interleave on both engines
    QuerySpec("q142_zorder_keys", (s, d) => RelationalExt.zOrderKeysOrders(s, d),
      s"""WITH d AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS o_days
        |  FROM orders),
        |m AS (SELECT max(o_custkey) AS mc, max(o_days) AS md FROM d),
        |q AS (
        |  SELECT o_orderkey, o_custkey, o_days,
        |    CAST(floor(CAST(o_custkey * 65536 AS DOUBLE) / (mc + 1)) AS BIGINT) AS xq,
        |    CAST(floor(CAST(o_days * 65536 AS DOUBLE) / (md + 1)) AS BIGINT) AS yq
        |  FROM d, m)
        |SELECT o_orderkey, o_custkey, o_days,
        |  ${graft.functions.ZOrder.zValueSql("xq", "yq")} AS zkey
        |FROM q""".stripMargin),
    // q145: same missing-value definition and (ts, event_id)-ordered
    // IGNORE NULLS frame; the fill copies a double, no arithmetic
    QuerySpec("q145_locf_impute", (s, d) => RelationalExt.locfImpute(s, d),
      """SELECT event_id, user_id,
        | (CASE WHEN event_type = 'error' THEN NULL ELSE value END) IS NULL
        |   AS was_missing,
        | last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END
        |   IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM events""".stripMargin),
    // q123: the same one-pass stats, unpivoted by UNION ALL
    // q157: integer-exact equal-width bins, Laplace-smoothed
    // proportions, fixed left-to-right PSI chain (see sourceDrift)
    QuerySpec("q157_source_drift", (s, d) => RelationalExt.sourceDrift(s, d),
      """WITH g AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
        |b AS (SELECT source,
        |        ((n_chars - g.mn) * 10) // (g.mx - g.mn + 1) AS bin
        |      FROM documents, g),
        |s AS (SELECT source,
        |        count(*) FILTER (bin = 0) AS c0,
        |        count(*) FILTER (bin = 1) AS c1,
        |        count(*) FILTER (bin = 2) AS c2,
        |        count(*) FILTER (bin = 3) AS c3,
        |        count(*) FILTER (bin = 4) AS c4,
        |        count(*) FILTER (bin = 5) AS c5,
        |        count(*) FILTER (bin = 6) AS c6,
        |        count(*) FILTER (bin = 7) AS c7,
        |        count(*) FILTER (bin = 8) AS c8,
        |        count(*) FILTER (bin = 9) AS c9,
        |        count(*) AS n_src
        |      FROM b GROUP BY source),
        |e AS (SELECT
        |       count(*) FILTER (bin = 0) AS e0,
        |       count(*) FILTER (bin = 1) AS e1,
        |       count(*) FILTER (bin = 2) AS e2,
        |       count(*) FILTER (bin = 3) AS e3,
        |       count(*) FILTER (bin = 4) AS e4,
        |       count(*) FILTER (bin = 5) AS e5,
        |       count(*) FILTER (bin = 6) AS e6,
        |       count(*) FILTER (bin = 7) AS e7,
        |       count(*) FILTER (bin = 8) AS e8,
        |       count(*) FILTER (bin = 9) AS e9,
        |       count(*) AS n_tot
        |      FROM b)
        |SELECT source, n_src AS n_docs,
        | floor((((CAST(c0 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e0 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c0 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e0 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c1 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e1 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c1 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e1 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c2 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e2 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c2 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e2 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c3 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e3 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c3 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e3 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c4 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e4 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c4 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e4 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c5 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e5 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c5 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e5 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c6 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e6 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c6 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e6 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c7 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e7 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c7 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e7 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c8 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e8 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c8 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e8 + 1 AS DOUBLE) / (n_tot + 10)))
        | + ((CAST(c9 + 1 AS DOUBLE) / (n_src + 10)) - (CAST(e9 + 1 AS DOUBLE) / (n_tot + 10))) * ln((CAST(c9 + 1 AS DOUBLE) / (n_src + 10)) / (CAST(e9 + 1 AS DOUBLE) / (n_tot + 10)))) * 1000000 + 0.5) / 1000000 AS psi
        |FROM s, e""".stripMargin),
    // q174: exact hourly counts -> per-type mean and textbook
    // variance from exact Σx/Σx² (no engine stddev function — their
    // conventions differ) -> z with the sd=0 guard
    QuerySpec("q174_event_rate_anomaly", (s, d) => RelationalExt.eventRateAnomaly(s, d),
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    CAST(sum(n_events) AS DOUBLE) / count(*) AS mu,
        |    CASE WHEN count(*) <= 1 THEN 0.0
        |         ELSE sqrt((CAST(sum(n_events * n_events) AS DOUBLE) -
        |          CAST(sum(n_events) AS DOUBLE) * CAST(sum(n_events) AS DOUBLE) / count(*)) /
        |         (count(*) - 1)) END AS sd
        |  FROM h GROUP BY event_type)
        |SELECT h.event_type, h.hour, h.n_events,
        |  round(CASE WHEN s.sd = 0.0 THEN 0.0
        |             ELSE (CAST(h.n_events AS DOUBLE) - s.mu) / s.sd END, 6) AS z,
        |  CASE WHEN s.sd = 0.0 THEN FALSE
        |       ELSE abs((CAST(h.n_events AS DOUBLE) - s.mu) / s.sd) >= 2.0 END AS is_anomaly
        |FROM h JOIN s ON s.event_type = h.event_type
        |ORDER BY h.event_type, h.hour""".stripMargin),
    // q183: q117's stage CTEs with the 1-hour conversion window on
    // each step; stack mirrored as UNION ALL, rates round(n/prev, 4)
    QuerySpec("q183_funnel_windowed", (s, d) => RelationalExt.funnelWindowed(s, d),
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    AND e.ts <= v.t_view + INTERVAL 1 HOUR GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    AND e.ts <= c.t_click + INTERVAL 1 HOUR GROUP BY 1),
        |n AS (SELECT (SELECT count(*) FROM v) AS nv,
        |             (SELECT count(*) FROM c) AS nc,
        |             (SELECT count(*) FROM p) AS np)
        |SELECT '1_view' AS stage, nv AS n_users, CAST(1.0 AS DOUBLE) AS conv_from_prev FROM n
        |UNION ALL
        |SELECT '2_click', nc, round(CAST(nc AS DOUBLE) / nv, 4) FROM n
        |UNION ALL
        |SELECT '3_purchase', np, round(CAST(np AS DOUBLE) / nc, 4) FROM n
        |ORDER BY stage""".stripMargin),
    // q185: rank-and-select at ceil(p·n) — discrete selection of an
    // observed value, no interpolation arithmetic to disagree on
    QuerySpec("q185_daily_percentiles", (s, d) => RelationalExt.dailyValuePercentiles(s, d),
      """WITH b AS (
        |  SELECT event_id, event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value
        |  FROM events),
        |r AS (
        |  SELECT event_type, day, value,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type, day) AS n
        |  FROM b)
        |SELECT event_type, day, CAST(max(n) AS BIGINT) AS n_events,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT) THEN value END) AS p95
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin),
    // q186: LOCF carry of the last click ts over (ts, event_id) order,
    // purchases filtered afterwards, 1h attribution flag
    QuerySpec("q186_attribution", (s, d) => RelationalExt.lastTouchAttribution(s, d),
      """WITH w AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    last(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t_click
        |  FROM events)
        |SELECT event_id, user_id, ts, t_click,
        |  (t_click IS NOT NULL AND t_click >= ts - INTERVAL 1 HOUR) AS attributed
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin),
    // q187: distinct (user, day) expanded to its 7 covered days for
    // the trailing distinct count; window days without an anchor day
    // in the data are excluded (semi join)
    QuerySpec("q187_dau_wau", (s, d) => RelationalExt.dauWau(s, d),
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM active GROUP BY day),
        |cover AS (
        |  SELECT a.user_id, CAST(a.day + INTERVAL (j) DAY AS DATE) AS day
        |  FROM active a, (SELECT unnest(range(7)) AS j) r),
        |wau AS (
        |  SELECT c.day, count(DISTINCT c.user_id) AS wau FROM cover c
        |  WHERE c.day IN (SELECT day FROM active) GROUP BY c.day)
        |SELECT w.day, coalesce(d.dau, 0) AS dau, w.wau,
        |  round(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau, 4) AS stickiness
        |FROM wau w LEFT JOIN dau d ON d.day = w.day
        |ORDER BY w.day""".stripMargin),
    // q188: roster as a list, retention via NOT IN, the clean flag
    // re-derived from the modulo predicate — both engines assert TRUE
    QuerySpec("q188_deletion_audit", (s, d) => RelationalExt.deletionAudit(s, d),
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |roster AS (SELECT DISTINCT user_id FROM ev WHERE user_id % 50 = 0),
        |del AS (
        |  SELECT day, count(*) AS n_delete FROM ev
        |  WHERE user_id IN (SELECT user_id FROM roster) GROUP BY day),
        |ret AS (
        |  SELECT day, count(*) AS n_retain,
        |    sum(CASE WHEN user_id % 50 = 0 THEN 1 ELSE 0 END) AS n_leaked
        |  FROM ev WHERE user_id NOT IN (SELECT user_id FROM roster) GROUP BY day)
        |SELECT r.day, coalesce(d.n_delete, 0) AS n_delete, r.n_retain,
        |  (r.n_leaked = 0) AS clean
        |FROM ret r LEFT JOIN del d ON d.day = r.day
        |ORDER BY r.day""".stripMargin),
    // q189: boundaries at the exact observed rank-⌈i·n/k⌉ values;
    // bucket = first boundary ≥ v (list_position on the flag list —
    // a different mechanism than Spark's fold computing the same int)
    QuerySpec("q189_equidepth_hist", (s, d) => RelationalExt.equiDepthHistogram(s, d), {
      val ranks = (1 to 8).map(i =>
        s"rn = CAST(ceil((n * CAST($i AS DOUBLE)) / 8) AS BIGINT)").mkString(" OR ")
      s"""WITH o AS (SELECT o_totalprice AS v FROM orders),
        |n AS (SELECT count(*) AS n FROM o),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM o),
        |b AS (SELECT rn, max(v) AS bound FROM r, n
        |      WHERE $ranks GROUP BY rn),
        |bl AS (SELECT list(bound ORDER BY rn) AS bounds FROM b),
        |a AS (
        |  SELECT CAST(coalesce(
        |    list_position(list_transform(bl.bounds, bd -> o.v <= bd), true) - 1,
        |    7) AS INTEGER) AS bucket
        |  FROM o, bl)
        |SELECT bucket, count(*) AS n_rows FROM a
        |GROUP BY bucket ORDER BY bucket""".stripMargin
    }),
    // q190: the q21 quality CTE; all five regression sums fold in
    // doc_id order; slope/intercept/r2 as fixed IEEE trees
    QuerySpec("q190_group_regression", (s, d) => RelationalExt.groupRegression(s, d),
      s"""WITH q AS (SELECT doc_id, source,
        |  CAST(n_chars AS DOUBLE) AS x,
        | ${TextOps.roundAtSql(
             "least(nc / 500.0, 1.0) * 0.5 + " +
             "least(stops / n_tokens * 5.0, 1.0) * 0.3 + " +
             "(1.0 - least(punct / nc * 10.0, 1.0)) * 0.2", 6)} AS y
        |FROM (SELECT doc_id, source, n_chars,
        |  CAST(length(text) AS DOUBLE) AS nc,
        |  CAST(len(regexp_split_to_array(text, '\\s+')) AS DOUBLE) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '${TextOps.PunctPattern}')) AS DOUBLE) AS punct,
        |  CAST(len(regexp_extract_all(lower(text), '${TextOps.EnStops}')) AS DOUBLE) AS stops
        | FROM documents) t),
        |s AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n,
        |    list_sum(list(x ORDER BY doc_id)) AS sx,
        |    list_sum(list(y ORDER BY doc_id)) AS sy,
        |    list_sum(list(x * y ORDER BY doc_id)) AS sxy,
        |    list_sum(list(x * x ORDER BY doc_id)) AS sxx,
        |    list_sum(list(y * y ORDER BY doc_id)) AS syy
        |  FROM q GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_docs,
        |  ${TextOps.roundAtSql("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS slope,
        |  ${TextOps.roundAtSql(
             "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n", 6)} AS intercept,
        |  ${TextOps.roundAtSql(
             "((n * sxy - sx * sy) * (n * sxy - sx * sy)) / " +
             "((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS r2
        |FROM s ORDER BY source""".stripMargin),
    // q191: exact-long rank×count Gini + top-5 heavy keys
    QuerySpec("q191_skew_audit", (s, d) => RelationalExt.skewAudit(s, d),
      s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |r AS (SELECT user_id, cnt,
        |        row_number() OVER (ORDER BY cnt, user_id) AS rk FROM c),
        |s AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        max(cnt) AS max_mult, CAST(sum(rk * cnt) AS BIGINT) AS s_rank FROM r),
        |t AS (SELECT user_id, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, user_id) AS rank FROM c)
        |SELECT t.rank, t.user_id, t.cnt,
        |  ${TextOps.roundAtSql("CAST(t.cnt AS DOUBLE) / s.n_rows", 6)} AS share,
        |  s.n_keys, s.n_rows, s.max_mult,
        |  ${TextOps.roundAtSql(
             "2.0 * CAST(s.s_rank AS DOUBLE) / (s.n_keys * s.n_rows) - " +
             "CAST(s.n_keys + 1 AS DOUBLE) / s.n_keys", 6)} AS gini
        |FROM t, s WHERE t.rank <= 5 ORDER BY t.rank""".stripMargin),
    // q192: per-key count tables joined — exact join output size
    QuerySpec("q192_join_cardinality", (s, d) => RelationalExt.joinCardinalityProfile(s, d),
      """WITH oc AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |cc AS (SELECT c_custkey AS k, count(*) AS c FROM customer GROUP BY 1),
        |lo AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |oo AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |e1 AS (
        |  SELECT 'orders.custkey=customer.custkey' AS edge,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM oc) AS rows_left,
        |    (SELECT count(*) FROM oc) AS ndv_left,
        |    (SELECT max(c) FROM oc) AS max_mult_left,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM cc) AS rows_right,
        |    (SELECT count(*) FROM cc) AS ndv_right,
        |    (SELECT max(c) FROM cc) AS max_mult_right,
        |    (SELECT count(*) FROM oc JOIN cc USING (k)) AS n_matched_keys,
        |    (SELECT CAST(coalesce(sum(oc.c * cc.c), 0) AS BIGINT)
        |     FROM oc JOIN cc USING (k)) AS join_rows),
        |e2 AS (
        |  SELECT 'lineitem.orderkey=orders.orderkey' AS edge,
        |    (SELECT CAST(sum(c) AS BIGINT) FROM lo), (SELECT count(*) FROM lo),
        |    (SELECT max(c) FROM lo),
        |    (SELECT CAST(sum(c) AS BIGINT) FROM oo), (SELECT count(*) FROM oo),
        |    (SELECT max(c) FROM oo),
        |    (SELECT count(*) FROM lo JOIN oo USING (k)),
        |    (SELECT CAST(coalesce(sum(lo.c * oo.c), 0) AS BIGINT)
        |     FROM lo JOIN oo USING (k)))
        |SELECT * FROM e1 UNION ALL SELECT * FROM e2 ORDER BY edge""".stripMargin),
    // q199: both medians via the q185 rank-⌈n/2⌉ discrete selection —
    // every med/MAD/deviation an exact long, z one fixed IEEE tree,
    // flag on the raw value, MAD=0 guarded to z=0
    QuerySpec("q199_robust_anomaly", (s, d) => RelationalExt.robustRateAnomaly(s, d),
      s"""WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT h.*,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n_events, hour) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nb
        |  FROM h),
        |m AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(CAST(nb AS DOUBLE) * 0.5) AS BIGINT) THEN n_events END) AS med
        |  FROM r GROUP BY event_type),
        |d AS (
        |  SELECT h.event_type, h.hour, h.n_events, m.med,
        |    abs(h.n_events - m.med) AS dev
        |  FROM h JOIN m USING (event_type)),
        |r2 AS (
        |  SELECT d.*,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, hour) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS nb
        |  FROM d),
        |md AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = CAST(ceil(CAST(nb AS DOUBLE) * 0.5) AS BIGINT) THEN dev END) AS mad
        |  FROM r2 GROUP BY event_type)
        |SELECT d.event_type, d.hour, d.n_events, d.med, md.mad,
        |  ${TextOps.roundAtSql(
             "CASE WHEN md.mad = 0 THEN 0.0 ELSE " +
               "0.6745 * CAST(d.n_events - d.med AS DOUBLE) / CAST(md.mad AS DOUBLE) END", 6)} AS robust_z,
        |  CASE WHEN md.mad = 0 THEN FALSE
        |       ELSE abs(0.6745 * CAST(d.n_events - d.med AS DOUBLE) / CAST(md.mad AS DOUBLE)) >= 3.5
        |       END AS is_anomaly
        |FROM d JOIN md USING (event_type)
        |ORDER BY d.event_type, d.hour""".stripMargin),
    // q209: integer-microsecond gaps (unix_micros ↔ epoch_us), q185
    // discrete rank selection — every output an exact long
    QuerySpec("q209_event_gaps", (s, d) => RelationalExt.eventGapPercentiles(s, d),
      """WITH g AS (
        |  SELECT event_type, event_id,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
        |  FROM events),
        |f AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT f.*,
        |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM f)
        |SELECT event_type, max(n) AS n_gaps,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT) THEN gap_us END) AS p50_us,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT) THEN gap_us END) AS p95_us,
        |  max(gap_us) AS max_us
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
    // q215: first-view/first-purchase gates as min aggregations,
    // integer-microsecond latency, q185 rank selection on ONE group
    QuerySpec("q215_conversion_latency", (s, d) => RelationalExt.conversionLatency(s, d),
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t_view GROUP BY 1),
        |l AS (
        |  SELECT v.user_id, epoch_us(p.t_purchase) - epoch_us(v.t_view) AS lat_us
        |  FROM v JOIN p USING (user_id)),
        |r AS (
        |  SELECT l.*, row_number() OVER (ORDER BY lat_us, user_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM l)
        |SELECT max(n) AS n_conversions,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.5) AS BIGINT) THEN lat_us END) AS p50_us,
        |  max(CASE WHEN rn = CAST(ceil(CAST(n AS DOUBLE) * 0.95) AS BIGINT) THEN lat_us END) AS p95_us,
        |  max(lat_us) AS max_us
        |FROM r""".stripMargin),
    // q221: hour-sorted parallel lists, EWMA as the identical
    // left fold on both engines (list_reduce ↔ aggregate over the
    // prefix slice, 1-based i), spike flag on raw doubles
    QuerySpec("q221_ewma_rates", (s, d) => RelationalExt.ewmaRateSmoothing(s, d),
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type,
        |    list(hour ORDER BY hour) AS hrs,
        |    list(n_events ORDER BY hour) AS cnts,
        |    list(CAST(n_events AS DOUBLE) ORDER BY hour) AS vals
        |  FROM h GROUP BY event_type),
        |e AS (
        |  SELECT event_type,
        |    unnest(hrs) AS hour,
        |    unnest(cnts) AS n_events,
        |    unnest(list_transform(vals, (x, i) ->
        |      round(list_reduce(list_slice(vals, 1, i), (a, b) -> (a + b) / 2.0), 6))) AS ewma,
        |    unnest(list_transform(vals, (x, i) ->
        |      CASE WHEN i = 1 THEN 0.0
        |           ELSE list_reduce(list_slice(vals, 1, i - 1), (a, b) -> (a + b) / 2.0) END)) AS prev
        |  FROM g)
        |SELECT event_type, hour, n_events, ewma,
        |  (prev > 0.0 AND CAST(n_events AS DOUBLE) >= prev * 2.0) AS is_spike
        |FROM e ORDER BY event_type, hour""".stripMargin),
    // q222: first-seen reduction + running total; window sum cast to
    // BIGINT (DuckDB window sums return HUGEINT)
    QuerySpec("q222_user_acquisition", (s, d) => RelationalExt.userAcquisition(s, d),
      """WITH f AS (
        |  SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY day""".stripMargin),
    // q223: S_j = C_j − j·Σx/n from exact integer cumulatives — one
    // fixed IEEE tree per row; deterministic argmax (|S| desc, hour)
    QuerySpec("q223_cusum_changepoint", (s, d) => RelationalExt.cusumChangepoint(s, d),
      """WITH h AS (
        |  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, hour, n_events,
        |    CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour) AS BIGINT) AS j,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb,
        |    CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT) AS sx
        |  FROM h),
        |s AS (
        |  SELECT *, CAST(cum AS DOUBLE) -
        |    CAST(j AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(nb AS DOUBLE) AS cusum
        |  FROM c),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, hour) AS rn
        |  FROM s)
        |SELECT event_type, hour AS cp_hour, nb AS n_hours, j AS cp_rank,
        |  round(abs(cusum), 6) AS max_abs_cusum, (cusum > 0.0) AS level_dropped
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin),
    // q227: exact power-of-two decay weights summed as BIGINTs;
    // date_diff arg order mirrors Spark's datediff(end, start)
    QuerySpec("q227_recency_score", (s, d) => RelationalExt.recencyEngagement(s, d),
      s"""WITH ev AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
         |  FROM events),
         |mx AS (SELECT max(day) AS mxd FROM ev),
         |w AS (
         |  SELECT user_id, day,
         |    CASE WHEN date_diff('day', day, mx.mxd) <= 40
         |      THEN CAST(pow(2.0, 40 - date_diff('day', day, mx.mxd)) AS BIGINT)
         |      ELSE 0 END AS w
         |  FROM ev CROSS JOIN mx)
         |SELECT user_id, count(*) AS n_events, max(day) AS last_day,
         |  ${TextOps.roundAtSql("CAST(sum(w) AS DOUBLE) / pow(2.0, 40)", 6)} AS score
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin),
    // q229: distinct (user, type) baskets; pair counts from a basket
    // self-join; lift one fixed IEEE tree
    QuerySpec("q229_event_lift", (s, d) => RelationalExt.eventCooccurrence(s, d),
      s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         |tc AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
         |nn AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
         |pc AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
         |  FROM ut a JOIN ut b ON a.user_id = b.user_id
         |    AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT type_a, type_b, ta.n AS n_a, tb.n AS n_b, pc.n_ab,
         |  ${TextOps.roundAtSql(
               "(CAST(pc.n_ab AS DOUBLE) * nn.nu) / " +
               "(CAST(ta.n AS DOUBLE) * CAST(tb.n AS DOUBLE))", 4)} AS lift
         |FROM pc JOIN tc ta ON ta.event_type = pc.type_a
         |        JOIN tc tb ON tb.event_type = pc.type_b
         |CROSS JOIN nn ORDER BY type_a, type_b""".stripMargin),
    // q231: five exact-long sufficient statistics, one guarded final
    // division; sums of BIGINTs cast back from HUGEINT
    QuerySpec("q231_rate_trend", (s, d) => RelationalExt.dailyRateTrend(s, d),
      s"""WITH d AS (
         |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         |    count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |r AS (
         |  SELECT event_type, y,
         |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS x
         |  FROM d),
         |g AS (
         |  SELECT event_type, count(*) AS n_days,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
         |  FROM r GROUP BY 1)
         |SELECT event_type, n_days, sy AS n_events,
         |  ${TextOps.roundAtSql(
               "CASE WHEN n_days * sxx - sx * sx = 0 THEN 0.0 " +
               "ELSE CAST(n_days * sxy - sx * sy AS DOUBLE) / CAST(n_days * sxx - sx * sx AS DOUBLE) END", 6)} AS slope,
         |  (CASE WHEN n_days * sxx - sx * sx = 0 THEN 0.0
         |        ELSE CAST(n_days * sxy - sx * sy AS DOUBLE) / CAST(n_days * sxx - sx * sx AS DOUBLE) END) > 0.0 AS growing
         |FROM g ORDER BY event_type""".stripMargin),
    // q233: lag window in (ts, event_id) order, exact transition
    // counts, -(p·ln p) floor-scaled to 1e12 BIGINTs
    QuerySpec("q233_user_entropy", (s, d) => RelationalExt.userTransitionEntropy(s, d),
      s"""WITH t AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events),
         |c AS (
         |  SELECT user_id, prev, event_type, count(*) AS n
         |  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2, 3),
         |w AS (SELECT *, sum(n) OVER (PARTITION BY user_id) AS nt FROM c),
         |s AS (
         |  SELECT user_id, CAST(max(nt) AS BIGINT) AS n_trans,
         |    count(*) AS n_patterns,
         |    sum(CAST(floor(-((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) *
         |      ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))) * 1000000000000.0 + 0.5)
         |      AS BIGINT)) AS sc
         |  FROM w GROUP BY 1)
         |SELECT user_id, n_trans, n_patterns,
         |  ${TextOps.roundAtSql("CAST(sc AS DOUBLE) / 1000000000000.0", 6)} AS entropy
         |FROM s ORDER BY user_id""".stripMargin),
    QuerySpec("q237_removal_effect", (s, d) => RelationalExt.removalEffectAttribution(s, d),
      removalEffectOracleSql),
    // q239: integer trim bounds over the (value, event_id) rank,
    // both means from 1e6-quantized exact-long sums
    QuerySpec("q239_trimmed_mean", (s, d) => RelationalExt.trimmedMean(s, d),
      s"""WITH r AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n,
         |    CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v6
         |  FROM events),
         |g AS (
         |  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         |    CAST(sum(v6) AS BIGINT) AS s_all,
         |    CAST(sum(CASE WHEN rn > (n * 10) // 100 AND rn <= n - (n * 10) // 100
         |      THEN v6 ELSE 0 END) AS BIGINT) AS s_trim,
         |    CAST(sum(CASE WHEN rn > (n * 10) // 100 AND rn <= n - (n * 10) // 100
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_trim
         |  FROM r GROUP BY 1)
         |SELECT event_type, n, n_trim,
         |  ${TextOps.roundAtSql(
              "CAST(s_all AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)", 6)} AS mean_all,
         |  ${TextOps.roundAtSql(
              "CAST(s_trim AS DOUBLE) / (CAST(greatest(n_trim, 1) AS DOUBLE) * 1000000.0)", 6)} AS mean_trimmed
         |FROM g ORDER BY event_type""".stripMargin),
    // q246: distinct (user, day) → per-user day counts → histogram,
    // CCDF as a reverse running sum over the day-bounded histogram
    QuerySpec("q246_active_days", (s, d) => RelationalExt.activeDaysHistogram(s, d),
      s"""WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        |  FROM events),
        |pu AS (SELECT user_id, count(*) AS active_days FROM ud GROUP BY 1),
        |h AS (SELECT active_days, count(*) AS n_users FROM pu GROUP BY 1),
        |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS nu FROM h),
        |c AS (
        |  SELECT active_days, n_users,
        |    CAST(sum(n_users) OVER (ORDER BY active_days DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_least
        |  FROM h)
        |SELECT c.active_days, c.n_users,
        |  ${TextOps.roundAtSql("CAST(c.n_users AS DOUBLE) / t.nu", 6)} AS share,
        |  c.n_at_least,
        |  ${TextOps.roundAtSql("CAST(c.n_at_least AS DOUBLE) / t.nu", 6)} AS ccdf
        |FROM c, t ORDER BY active_days""".stripMargin),
    // q250: (type, dow, hour) exact cells + per-type totals; Sunday=0
    // on both engines (Spark dayofweek−1 ↔ DuckDB dayofweek)
    QuerySpec("q250_seasonality", (s, d) => RelationalExt.seasonalityProfile(s, d),
      s"""WITH c AS (
        |  SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1)
        |SELECT c.event_type, c.dow, c.hod, c.n,
        |  ${TextOps.roundAtSql("CAST(c.n AS DOUBLE) / t.nt", 6)} AS share,
        |  ${TextOps.roundAtSql("CAST(c.n AS DOUBLE) * 168.0 / t.nt", 4)} AS lift
        |FROM c JOIN t USING (event_type)
        |ORDER BY c.event_type, c.dow, c.hod""".stripMargin),
    // q254: time-to-first-purchase lifetimes + never-purchased
    // censoring, reverse-cumulative risk sets, 1e12-long ln factors
    // prefix-summed, one mirrored exp
    QuerySpec("q254_survival_curve", (s, d) => RelationalExt.survivalCurve(s, d),
      s"""WITH ev AS (
        |  SELECT user_id, event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS fd FROM ev GROUP BY 1),
        |p AS (SELECT user_id, min(day) AS pd FROM ev
        |      WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(day) AS mxd FROM ev),
        |u AS (
        |  SELECT CAST(CASE WHEN p.pd IS NOT NULL THEN datediff('day', f.fd, p.pd)
        |              ELSE datediff('day', f.fd, mx.mxd) END AS BIGINT) AS t,
        |    p.pd IS NULL AS cens
        |  FROM f LEFT JOIN p USING (user_id), mx),
        |byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |    CAST(sum(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |wr AS (
        |  SELECT *, CAST(sum(d + c) OVER (ORDER BY t DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
        |  FROM byt),
        |wt AS (
        |  SELECT *,
        |    CAST(max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
        |      OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dead,
        |    CAST(sum(CASE WHEN d = n_risk THEN 0 WHEN d = 0 THEN 0
        |      ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
        |        * 1000000000000.0 + 0.5) AS BIGINT) END)
        |      OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lt
        |  FROM wr)
        |SELECT t, n_risk, d AS n_converted, c AS n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE ${TextOps.roundAtSql("exp(CAST(lt AS DOUBLE) / 1000000000000.0)", 6)}
        |  END AS survival
        |FROM wt ORDER BY t""".stripMargin),
    // q255: 1e-3-quantized per-(user, type, period) sums, dense grid,
    // exact long sufficient stats, one mirrored double tree per cell
    QuerySpec("q255_cuped", (s, d) => RelationalExt.cupedVarianceReduction(s, d),
      s"""WITH ev AS (
        |  SELECT user_id, event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v
        |  FROM events),
        |bounds AS (SELECT min(day) AS mnd, max(day) AS mxd FROM ev),
        |cells AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(CASE WHEN datediff('day', mnd, day) * 2 <
        |                       datediff('day', mnd, mxd)
        |             THEN v ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN datediff('day', mnd, day) * 2 <
        |                       datediff('day', mnd, mxd)
        |             THEN 0 ELSE v END) AS BIGINT) AS y
        |  FROM ev, bounds GROUP BY 1, 2),
        |grid AS (
        |  SELECT t.event_type, coalesce(c.x, 0) AS x, coalesce(c.y, 0) AS y
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
        |  LEFT JOIN cells c ON c.user_id = u.user_id AND c.event_type = t.event_type),
        |g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM grid GROUP BY 1),
        |d AS (
        |  SELECT event_type, n, sx, sy,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv
        |  FROM g)
        |SELECT event_type, n AS n_users,
        |  ${TextOps.roundAtSql("CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 1000.0)", 6)} AS mean_post,
        |  ${TextOps.roundAtSql("CASE WHEN vx = 0.0 THEN 0.0 ELSE cv / vx END", 6)} AS theta,
        |  ${TextOps.roundAtSql(
             "CASE WHEN vx = 0.0 OR vy = 0.0 THEN 0.0 ELSE (cv * cv) / (vx * vy) END", 6)} AS var_reduction
        |FROM d ORDER BY event_type""".stripMargin),
    QuerySpec("q256_stationary", (s, d) => RelationalExt.stationaryDistribution(s, d),
      stationaryOracleSql),
  )

  /** q237 oracle: journey truncation + transition counts, then the
    * absorbing-chain value iteration UNROLLED — 80 rounds for the
    * base chain and per removed channel (contraction ≈ 0.8/round), each round one tiny
    * (state)-grouped CTE whose terms fold in ASCENDING TARGET order
    * (list_sum over list(… ORDER BY t) ↔ the engine's foldLeft), so
    * every double matches the engine's driver-side iteration
    * bit-for-bit. */
  private lazy val removalEffectOracleSql: String = {
    val rounds = 80
    // Static at SQL-generation time because each channel needs its own
    // unrolled 80-round chain; the engine instead DERIVES channels from
    // the observed journey targets. The per-row EXISTS guard below
    // reconciles the two: a listed channel that never occurs as a
    // target self-removes from the oracle (matching the engine's
    // omission), and an UNLISTED channel that does occur makes the
    // row-count gate fail loudly — the signal to extend this list.
    val channels = Seq("click", "error", "signup", "view")
    def roundCte(tag: String, r: Int, removed: Option[String]): String = {
      val removedCase = removed.map(c => s"WHEN tp.t = '$c' THEN 0.0\n         ").getOrElse("")
      s"""v$tag$r AS MATERIALIZED (
         |  SELECT tp.s, list_sum(list(
         |    CASE ${removedCase}WHEN tp.t = 'purchase' THEN tp.p * 1.0
         |         WHEN tp.t = 'DROP' THEN 0.0
         |         ELSE tp.p * coalesce(v.v, 0.0) END ORDER BY tp.t)) AS v
         |  FROM tp LEFT JOIN v$tag${r - 1} v ON v.s = tp.t
         |  GROUP BY tp.s)""".stripMargin
    }
    def chain(tag: String, removed: Option[String]): String =
      (s"""v${tag}0 AS MATERIALIZED (SELECT s, 0.0 AS v FROM tot)""" +:
        (1 to rounds).map(r => roundCte(tag, r, removed))).mkString(",\n")
    val chains = (chain("b", None) +:
      channels.map(c => chain(c, Some(c)))).mkString(",\n")
    val rows = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |  ${TextOps.roundAtSql(s"(SELECT v FROM vb$rounds WHERE s = 'START')", 6)} AS base_conv,
         |  ${TextOps.roundAtSql(s"(SELECT v FROM v$c$rounds WHERE s = 'START')", 6)} AS removed_conv,
         |  ${TextOps.roundAtSql(
              s"CASE WHEN (SELECT v FROM vb$rounds WHERE s = 'START') > 0 THEN " +
              s"((SELECT v FROM vb$rounds WHERE s = 'START') - (SELECT v FROM v$c$rounds WHERE s = 'START')) / " +
              s"(SELECT v FROM vb$rounds WHERE s = 'START') ELSE 0.0 END", 6)} AS removal_effect
         |WHERE EXISTS (SELECT 1 FROM tp WHERE tp.t = '$c')""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS fp FROM ev
       |       WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS (
       |  SELECT e.user_id, e.event_type, e.rn, fp.fp
       |  FROM ev e LEFT JOIN fp ON fp.user_id = e.user_id
       |  WHERE fp.fp IS NULL OR e.rn <= fp.fp),
       |wp AS (
       |  SELECT user_id, event_type, fp,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS prev,
       |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS krn,
       |    row_number() OVER (PARTITION BY user_id ORDER BY rn DESC) AS krd
       |  FROM kept),
       |tr0 AS (
       |  SELECT prev AS s, event_type AS t FROM wp WHERE prev IS NOT NULL
       |  UNION ALL SELECT 'START', event_type FROM wp WHERE krn = 1
       |  UNION ALL SELECT event_type, 'DROP' FROM wp WHERE krd = 1 AND fp IS NULL),
       |tr AS MATERIALIZED (SELECT s, t, count(*) AS n FROM tr0 GROUP BY 1, 2),
       |tot AS MATERIALIZED (SELECT s, CAST(sum(n) AS BIGINT) AS nt FROM tr GROUP BY 1),
       |tp AS MATERIALIZED (
       |  SELECT tr.s, tr.t, CAST(tr.n AS DOUBLE) / CAST(tot.nt AS DOUBLE) AS p
       |  FROM tr JOIN tot USING (s)),
       |$chains
       |$rows
       |ORDER BY channel""".stripMargin
  }

  /** q256 oracle: q133's pair CTE, row totals, then the 50 power
    * rounds unrolled as MATERIALIZED CTEs — per-target ascending-s
    * folds over the observed cells (zero cells add exactly +0.0 in
    * the engine, so skipping them is value-identical) with the q251
    * 1e-12 per-round re-quantization; uniform quantized start.
    *
    * Closed-chain contract, mirrored: the engine require()-crashes on
    * an ABSORBING target (an event type appearing only as a
    * transition target — mass would leak out of the restricted
    * chain), so the `chk` CTE makes DuckDB error() on exactly the
    * same inputs instead of silently iterating a leaky chain. The
    * pinned corpus is outgoing-closed (spec-asserted), so the guard
    * costs one anti-join and fires on neither engine here. */
  private lazy val stationaryOracleSql: String = {
    val iters = 50
    def round(r: Int): String = {
      val prev = if (r == 1) "p0" else s"p${r - 1}"
      s"""it$r AS MATERIALIZED (
         |  SELECT m.j AS i,
         |    list_sum(list(v.v * (CAST(m.c AS DOUBLE) / m.rt) ORDER BY m.s)) AS w
         |  FROM m JOIN $prev v ON v.i = m.s GROUP BY m.j),
         |p$r AS MATERIALIZED (
         |  SELECT i, floor(w * 1000000000000.0 + 0.5) / 1000000000000.0 AS v
         |  FROM it$r)""".stripMargin
    }
    s"""WITH pr AS (
      |  SELECT event_type AS s,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t
      |  FROM events),
      |tc AS (SELECT s, t, count(*) AS c FROM pr WHERE t IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT s, CAST(sum(c) AS BIGINT) AS rt FROM tc GROUP BY 1),
      |chk AS (SELECT CASE WHEN count(*) > 0
      |          THEN error('absorbing target state - chain not closed')
      |          ELSE 1 END AS ok
      |        FROM tc WHERE t NOT IN (SELECT s FROM rt)),
      |m AS MATERIALIZED (SELECT tc.s, tc.t AS j, tc.c, rt.rt FROM tc JOIN rt USING (s)),
      |kk AS (SELECT count(*) AS k FROM rt),
      |p0 AS MATERIALIZED (
      |  SELECT s AS i,
      |    floor(CAST(1.0 AS DOUBLE) / k * 1000000000000.0 + 0.5) / 1000000000000.0 AS v
      |  FROM rt, kk),
      |${(1 to iters).map(round).mkString(",\n")}
      |SELECT r.s AS event_type, r.rt AS n_out, p.v AS pi
      |FROM rt r JOIN p$iters p ON p.i = r.s, chk
      |WHERE chk.ok = 1
      |ORDER BY event_type""".stripMargin
  }
}
