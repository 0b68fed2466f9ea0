package graft.ops

import graft.{QuerySpec, Tables}

/** The relational core's registered queries (aggregates, joins, windows,
  * set operations, scalar and JSON functions), each with the DuckDB SQL
  * that checks it. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_agg_pricing", (s, d) => Relational.aggPricing(s, d),
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
        | round(avg(l_quantity), 2) AS avg_qty,
        | round(avg(l_extendedprice), 2) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q02_filter_project", (s, d) => Relational.filterProject(s, d),
      """SELECT l_orderkey, l_partkey, l_extendedprice * l_discount AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    QuerySpec("q03_agg_revenue", (s, d) => Relational.aggRevenue(s, d),
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS total_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    QuerySpec("q04_join_topk", (s, d) => Relational.joinTopRevenue(s, d),
      """SELECT l_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15'
        |  AND l_shipdate > TIMESTAMP '1997-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),
    QuerySpec("q05_join_multiway", (s, d) => Relational.joinMultiway(s, d),
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),
    QuerySpec("q06_window_rank", (s, d) => Relational.windowTopOrders(s, d),
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3""".stripMargin),
    QuerySpec("q07_window_running", (s, d) => Relational.windowRunning(s, d),
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
        | round(sum(l_extendedprice) OVER (
        |   PARTITION BY l_suppkey
        |   ORDER BY l_shipdate, l_orderkey, l_linenumber
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev
        |FROM lineitem WHERE l_suppkey < 10""".stripMargin),
    QuerySpec("q08_semi_join", (s, d) => Relational.semiJoin(s, d),
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin),
    QuerySpec("q09_anti_join", (s, d) => Relational.antiJoin(s, d),
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)""".stripMargin),
    QuerySpec("q10_distinct", (s, d) => Relational.distinctFlags(s, d),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
    QuerySpec("q11_setops", (s, d) => Relational.setOps(s, d),
      """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |EXCEPT
        |SELECT s_suppkey AS custkey FROM supplier""".stripMargin),
    QuerySpec("q12_rollup", (s, d) => Relational.rollupAgg(s, d),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q13_conditional_merge", (s, d) => Relational.conditionalMerge(s, d),
      """SELECT user_id,
        | round(max(CASE WHEN event_type = 'click' THEN value END), 4) AS click_max,
        | round(max(CASE WHEN event_type = 'view' THEN value END), 4) AS view_max,
        | round(max(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase_max,
        | count(*) AS n_events
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("q14_scalar_funcs", (s, d) => Relational.scalarFuncs(s, d),
      """SELECT p_partkey, upper(p_brand) AS brand_u, length(p_name) AS name_len,
        | substr(p_type, 1, 4) AS type4,
        | round(p_retailprice * 1.1, 2) AS bumped,
        | abs(p_size - 25) AS size_dist,
        | concat_ws('#', p_brand, p_type) AS brand_type
        |FROM part""".stripMargin),
    QuerySpec("q15_date_funcs", (s, d) => Relational.dateFuncs(s, d),
      """SELECT o_orderkey,
        | year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        | dayofmonth(o_orderdate) AS dom,
        | date_trunc('quarter', o_orderdate) AS qtr_start
        |FROM orders""".stripMargin),
    QuerySpec("q16_events_hourly", (s, d) => Relational.eventsHourly(s, d),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin),
    QuerySpec("q17_json_extract", (s, d) => Relational.jsonExtract(s, d),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50""".stripMargin),
    QuerySpec("q18_feature_json", (s, d) => Relational.featureJson(s, d),
      """SELECT s_suppkey,
        | to_json(struct_pack(type := 'Feature',
        |   properties := struct_pack(name := s_name, nation := n_name))) AS feature
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin),
    QuerySpec("q19_collect_sorted", (s, d) => Relational.collectSorted(s, d),
      """SELECT n_name,
        | string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
        | count(*) AS n_supp
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    // the typed Aggregator UDAF (graft.functions.WeightedMean) against
    // the same weighted mean written as two sums
    QuerySpec("q35_weighted_mean",
      (s, d) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.Encoders
        val wm = udaf(graft.functions.WeightedMean,
          Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
        Tables.lineitem(s, d).groupBy(col("l_returnflag"))
          .agg(round(wm(col("l_extendedprice"), col("l_quantity")), 2).as("w_avg_price"))
      },
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS w_avg_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q36_math_funcs", (s, d) => Relational.mathFuncs(s, d),
      """SELECT p_partkey,
        | round(sqrt(p_retailprice), 6) AS sq,
        | round(ln(p_retailprice), 6) AS ln_p,
        | round(log10(p_retailprice), 6) AS l10,
        | round(pow(p_size, 2.0), 1) AS sz2,
        | round(exp(p_size / 100.0), 6) AS ex,
        | p_size % 7 AS m7
        |FROM part""".stripMargin),
    QuerySpec("q37_string_funcs", (s, d) => Relational.stringFuncs(s, d),
      """SELECT c_custkey,
        | lpad(c_name, 25, '*') AS padded,
        | replace(c_name, 'Customer', 'Cust') AS repl,
        | reverse(c_mktsegment) AS rev,
        | substr(c_mktsegment, 1, 3) AS l3,
        | strpos(c_name, '#') AS hashpos,
        | split_part(c_name, '#', 2) AS cust_num,
        | translate(c_mktsegment, 'AEIOU', 'aeiou') AS lowvowel
        |FROM customer""".stripMargin),
    QuerySpec("q38_cube", (s, d) => Relational.cubeAgg(s, d),
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
        | count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("q39_sql_subquery", (s, d) => Relational.sqlSubquery(s, d),
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin),
    QuerySpec("q42_quantiles", (s, d) => Relational.quantiles(s, d),
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QuerySpec("q43_pivot", (s, d) => Relational.pivotEvents(s, d),
      """SELECT user_id,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error
        |FROM events GROUP BY user_id""".stripMargin),
    QuerySpec("q44_word_counts", (s, d) => Relational.wordCounts(s, d),
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS word
        |      FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin),
    QuerySpec("q45_except_all", (s, d) => Relational.exceptAll(s, d),
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT ALL
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000""".stripMargin),
    QuerySpec("q86_unpivot", (s, d) => Relational.unpivotMeasures(s, d),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |FROM lineitem WHERE l_suppkey < 5
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_suppkey < 5
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_suppkey < 5
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_suppkey < 5""".stripMargin),
  )
}
