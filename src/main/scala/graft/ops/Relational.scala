package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.JsonLine

/** Relational operator suite: scan/filter/project, hash & broadcast
  * joins (inner/semi/anti/outer), aggregation (plain, rollup,
  * conditional), window functions, sort/top-k, set ops, scalar and
  * JSON functions.
  *
  * The reference implements only a thin slice of this surface
  * (projection mapreduce.js:3-34, equality filters mapreduce.js:40-50,
  * key-merge mapreduce.js:52-99, global collect mongodb.js:122-145);
  * everything here is the full relational coverage the engine needs as
  * a standalone analytics library (SURVEY.md §2b/§2c).
  *
  * Scale notes (100 TB design):
  *  - Dimension tables (region, nation) are broadcast explicitly —
  *    they are bounded-size (25/5 rows at any SF), so the join never
  *    shuffles the fact side.
  *  - All aggregations are expressed via groupBy/agg → Catalyst plans
  *    partial (map-side) aggregation before the shuffle.
  *  - Float aggregates are rounded in BOTH engines (here and in the
  *    DuckDB oracle SQL) because cross-engine double summation order
  *    differs in the last ulp; per-row arithmetic needs no rounding
  *    (IEEE ops are bit-exact across engines).
  *  - Top-k is orderBy+limit: Spark plans TakeOrderedAndProject — a
  *    per-partition partial top-k then a k-row driver merge, no global
  *    sort. Ties are broken by key so results are deterministic.
  */
object Relational {

  private def ts(s: String): Column = to_timestamp_ntz(lit(s))

  /** Aggregation with multiple measures over a filtered scan — TPC-H
    * Q1 shape. Predicate and the 7 referenced columns push into the
    * parquet scan.
    *
    * Rounding precision is TERMINATION-SAFE, not cosmetic: prices and
    * rates are 2-decimal, so disc_price terminates at 4 decimals and
    * charge at 6 — rounding AT the termination point is a no-op on
    * the exact value, and the engines' order-dependent double sums
    * (ulps apart) still round identically because the nearest grid
    * point is ~1e-4 away, not ~1e-9. Rounding such a sum at 2 instead
    * puts ~1% of groups EXACTLY on the half-boundary, where which
    * side each engine's sum lands on is a summation-order coin flip —
    * a latent cross-engine hash flake. Averages divide by count and
    * leave the grid, making boundary hits measure-zero, so they may
    * round anywhere. */
  def aggPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 6).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Pure filter + narrow projection: the pushdown / pruning
    * benchmark. The scan must read only the 6 referenced lineitem
    * columns (of 11) and carry PushedFilters for
    * shipdate/discount/quantity. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .select(
        col("l_orderkey"), col("l_partkey"),
        (col("l_extendedprice") * col("l_discount")).as("revenue"))

  /** Single-row global aggregate (TPC-H Q6 shape). */
  def aggRevenue(spark: SparkSession, dir: String): DataFrame =
    filterProject(spark, dir)
      .agg(round(sum(col("revenue")), 4).as("total_revenue"))

  /** 3-way join + agg + deterministic top-k (TPC-H Q3 shape).
    * customer is the small side at any SF ratio (1 customer : ~10
    * lineitem) — AQE picks the build side; the final top-10 is
    * TakeOrderedAndProject, not a global sort. */
  def joinTopRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1997-03-15"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1997-03-15"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** 6-way join through the whole star (TPC-H Q5 shape): two
    * broadcast dims (region, nation) + three shuffle joins on the
    * fact keys. */
  def joinMultiway(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
  }

  /** Ranking window function: top-3 orders per customer. One shuffle
    * on o_custkey; rank ties broken by o_orderkey for determinism. */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("bigint").as("rnk"))
      .filter(col("rnk") <= 3)
  }

  /** Analytic window: running revenue per supplier by ship date.
    * Frame = unbounded preceding..current row. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") < 10)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        round(sum(col("l_extendedprice")).over(w), 2).as("running_rev"))
  }

  /** Left-semi join (EXISTS): customers holding at least one open
    * order. No payload columns from the right side cross the shuffle. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val open = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    Tables.customer(spark, dir)
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Left-anti join (NOT EXISTS): customers with no large order.
    * The right side is filtered BEFORE the join (pushed below the
    * shuffle), not with a post-join predicate — anti-join semantics
    * differ. The 350k threshold is chosen so the testdata has real
    * orphans at every scale factor (8 at sf0.001, 68 at sf0.01): an
    * unfiltered right side matches every customer, returns zero rows
    * on both engines, and turns the oracle gate vacuous — a broken
    * anti join could not fail it (the round-13 finding). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 350000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** Distinct = hash aggregate with no measures. */
  def distinctFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()

  /** Set operators: (big-spender custkeys UNION rich-customer
    * custkeys) EXCEPT supplier keys. Union-distinct and except are
    * both single hash-aggregate shapes after Catalyst. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000).select(col("o_custkey").as("custkey"))
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000).select(col("c_custkey").as("custkey"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey").as("custkey"))
    bigOrders.union(rich).distinct().except(supp)
  }

  /** Multiset set-op: EXCEPT ALL keeps duplicate cardinality — each
    * right-side row cancels ONE left occurrence (a rich customer with
    * 5 orders still contributes 4 rows), unlike an anti join which
    * would drop them all. */
  def exceptAll(spark: SparkSession, dir: String): DataFrame = {
    val orderCusts = Tables.orders(spark, dir).select(col("o_custkey").as("custkey"))
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 5000).select(col("c_custkey").as("custkey"))
    orderCusts.exceptAll(rich)
  }

  /** Hierarchical aggregate: ROLLUP over (returnflag, linestatus) —
    * grouping-sets machinery. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))

  /** Conditional-aggregation merge — the Spark-first re-expression of
    * the reference's mergeReduce (reference mapreduce.js:52-99): both
    * per-key variable streams fold into one row in a single shuffle,
    * instead of two mapReduce jobs re-reducing into a shared
    * collection (reference mongodb.js:96-115). max(CASE WHEN) replaces
    * last-writer-wins for determinism (SURVEY.md O11). */
  def conditionalMerge(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        round(max(when(col("event_type") === "click", col("value"))), 4).as("click_max"),
        round(max(when(col("event_type") === "view", col("value"))), 4).as("view_max"),
        round(max(when(col("event_type") === "purchase", col("value"))), 4).as("purchase_max"),
        count(lit(1)).as("n_events"))

  /** Scalar function library: string / math / casts — per-row, so no
    * rounding games needed (IEEE-exact both engines). */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        length(col("p_name")).cast("bigint").as("name_len"),
        substring(col("p_type"), 1, 4).as("type4"),
        round(col("p_retailprice") * 1.1, 2).as("bumped"),
        abs(col("p_size") - 25).as("size_dist"),
        concat_ws("#", col("p_brand"), col("p_type")).as("brand_type"))

  /** Date/time function coverage over orders. */
  def dateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("bigint").as("yr"),
        month(col("o_orderdate")).cast("bigint").as("mo"),
        dayofmonth(col("o_orderdate")).cast("bigint").as("dom"),
        date_trunc("quarter", col("o_orderdate")).as("qtr_start"))

  /** Time-bucketed aggregation over the event stream — the batch twin
    * of the Structured Streaming tumbling-window query (same
    * window(ts, '1 hour') operator runs unchanged under readStream +
    * watermark; see graft.streaming). */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total"))

  /** O5 analog over testdata: nested-struct construction serialized
    * to JSON — the same Feature-building shape as the hydro pipeline
    * (reference mapreduce.js:3-34), hash-comparable as a string. It
    * serializes with the hydro sink's kernel ([[graft.functions.JsonLine]]),
    * so the oracle's `to_json` checks that kernel too. */
  def featureJson(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(
        col("s_suppkey"),
        JsonLine(struct(
          lit("Feature").as("type"),
          struct(
            col("s_name").as("name"),
            col("n_name").as("nation")).as("properties"))).as("feature"))
  }

  /** O13 analog over testdata: per-group collect-to-one with pinned
    * ordering (reference mongodb.js:122-145 buffers every feature into
    * one document; here the list is sorted and string-joined so the
    * oracle can hash it). */
  def collectSorted(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val s = Tables.supplier(spark, dir)
    s.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_list(col("s_name"))), "|").as("suppliers"),
        count(lit(1)).as("n_supp"))
  }

  /** Math function coverage (sqrt/ln/log10/pow/exp/mod) — per-row,
    * rounded because libm implementations may differ in the last ulp
    * across engines. */
  def mathFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      round(sqrt(col("p_retailprice")), 6).as("sq"),
      round(log(col("p_retailprice")), 6).as("ln_p"),
      round(log10(col("p_retailprice")), 6).as("l10"),
      round(pow(col("p_size"), 2.0), 1).as("sz2"),
      round(exp(col("p_size") / 100.0), 6).as("ex"),
      pmod(col("p_size"), lit(7)).as("m7"))

  /** String function coverage (lpad/replace/reverse/substr/strpos/
    * split_part/translate/repeat). */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      lpad(col("c_name"), 25, "*").as("padded"),
      regexp_replace(col("c_name"), "Customer", "Cust").as("repl"),
      reverse(col("c_mktsegment")).as("rev"),
      substring(col("c_mktsegment"), 1, 3).as("l3"),
      locate("#", col("c_name")).cast("bigint").as("hashpos"),
      expr("split_part(c_name, '#', 2)").as("cust_num"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("lowvowel"))

  /** CUBE + GROUPING — full grouping-sets machinery beyond q12's
    * rollup. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
        grouping(col("l_linestatus")).cast("bigint").as("g_status"),
        count(lit(1)).as("n"))

  /** Correlated scalar subquery through the SQL front-end: customers
    * above their nation's average balance. Demonstrates the
    * spark.sql(...) entry path (temp views + subquery rewrite into a
    * join by Catalyst). */
  def sqlSubquery(spark: SparkSession, dir: String): DataFrame = {
    // unique per-call view name: a fixed name is session-global
    // mutable state — two callers interleaving with different dirs
    // would silently resolve each other's data. Every other operator
    // is a pure plan builder; the SQL entry path must be no less safe.
    val v = s"customer_v_${Relational.viewSeq.incrementAndGet()}"
    Tables.customer(spark, dir).createOrReplaceTempView(v)
    // spark.sql analysis is EAGER: the returned DataFrame's plan has
    // already resolved the view to its underlying relation, so the view
    // can be dropped immediately — leaving it would grow the session
    // catalog by one entry per call (bench: reps × warmup × queries).
    try spark.sql(
      s"""SELECT c_custkey, c_nationkey, c_acctbal FROM $v c
         |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM $v c2
         |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin)
    finally spark.catalog.dropTempView(v)
  }

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Exact quantiles (linear interpolation — Spark `percentile` and
    * DuckDB `quantile_cont` share the formula, so values hash-match). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    // ONE percentile agg taking the percentage array, not three: each
    // percentile(...) call is a TypedImperative aggregate holding its
    // own counts-map of every group value, so three calls buffer the
    // column three times (and merge three maps per partition). The
    // array form shares one buffer — measured 2.7s -> 1.8s at sf0.1.
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ps"))
      .select(
        col("l_returnflag"),
        round(col("ps").getItem(0), 4).as("p25"),
        round(col("ps").getItem(1), 4).as("p50"),
        round(col("ps").getItem(2), 4).as("p75"))

  /** Pivot (long→wide reshape): per-user event-type value totals.
    * The value list is pinned so the output schema is static — at
    * scale an unpinned pivot needs a distinct-values job first. */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum(col("value")), 2))

  /** Unpivot / melt — the inverse reshape of [[pivotEvents]]: the four
    * lineitem measures as (keys, measure, value) rows via Spark's
    * native `unpivot`. Plans as one Expand (4 output rows per input)
    * fused into the scan stage — no shuffle, no UDF; the oracle twin
    * is the portable UNION ALL form. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") < 5)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")

  /** Explode / flatten: corpus word frequencies (the unnest twin). */
  def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))

  /** Semi-structured extraction: JSON path over the events.props
    * payload — get_json_object is codegen'd, no UDF.
    *
    * Predicate pushdown inlines the alias into the filter, so
    * get_json_object runs twice per row (filter + project). Measured
    * round 5 at sf0.1: this double codegen'd parse is 0.5 s, while the
    * single-parse alternative — json_tuple, whose Generate blocks
    * pushdown — is 0.8–0.9 s: one interpreted GenerateExec pass costs
    * more than the second codegen'd parse (r4's 3.1 s reading for this
    * query was bench contamination, not expression cost). At 100 TB
    * the right fix is upstream anyway: extract hot JSON fields into
    * columns at ingest, don't re-parse per query. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .filter(col("k") > 50)
}
