package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Aggregation operators (SURVEY §2.4 "Aggregations", §2.3 reduce/aggregate).
  *
  * Covers: hash aggregate w/ partial+final (reference
  * `BatchExecHashAggregate`, `flink-table-planner-blink/.../batch/BatchExecHashAggregate.scala`),
  * distinct aggregates (`SplitAggregateRule.scala:108`), stats aggs
  * (`FlinkSqlOperatorTable.java:885–898`), grouping sets/cube
  * (`DecomposeGroupingSetsRule.scala:205`), min_by/max_by
  * (`DataSet.java:523,559`), LISTAGG (`FlinkSqlOperatorTable.java:768`).
  *
  * Scale notes: all of these are single-shuffle hash aggregations with
  * map-side partial aggregation; Spark's HashAggregateExec spills, so the
  * same plan holds at 100 TB. Distinct aggs are planned by Spark's
  * RewriteDistinctAggregates into a two-stage expand+agg.
  */
object AggQueries extends QuerySet {

  val queries: Map[String, Q] = Map(
    // TPC-H Q1 shape: scan → filter → project → partial agg → final agg → sort.
    // EXACT-integer TPC-H Q1 (same discipline as q10's revenue_e4):
    // quantities/prices are 2-decimal, discount/tax 2-decimal, so the
    // per-row terms are exact at e2/e4/e6 scaling and every aggregate
    // is an integer SUM — order-independent, so Spark's partial-agg
    // tree and DuckDB's sequential fold agree at ANY data size. The
    // original double-sum form diverged in the last cent of
    // sum_charge at ≈sf1 (6M rows). Averages are integer e6
    // quotients. Long headroom: |charge_e6| per row < 2^37, so the
    // sum overflows past ~7e6 TB of lineitem — decimal(38) territory,
    // noted, not today's problem.
    "q01_agg_basic" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          expr("cast(round(l_quantity * 100) as bigint)").as("qty_e2"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("px_e2"),
          expr("cast(round(l_discount * 100) as bigint)").as("d_e2"),
          expr("cast(round(l_tax * 100) as bigint)").as("t_e2"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qty_e2")).as("sum_qty_e2"),
          sum(col("px_e2")).as("sum_base_price_e2"),
          sum(col("px_e2") * (lit(100L) - col("d_e2"))).as("sum_disc_price_e4"),
          sum(col("px_e2") * (lit(100L) - col("d_e2")) *
            (lit(100L) + col("t_e2"))).as("sum_charge_e6"),
          sum(col("d_e2")).as("sum_d_e2"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty_e6", expr("(sum_qty_e2 * 10000) div count_order"))
        .withColumn("avg_disc_e6", expr("(sum_d_e2 * 10000) div count_order"))
        .drop("sum_d_e2")
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // COUNT(DISTINCT) / SUM(DISTINCT) — exercises the distinct-agg rewrite.
    "q02_agg_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          round(sum_distinct(col("l_quantity")), 2).as("sum_dist_qty"),
          countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"))
        .orderBy(col("l_returnflag"))
    }),

    // Statistical aggregates on low-magnitude columns (fp-stable under rounding).
    "q03_agg_stats" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(stddev_pop(col("l_discount")), 6).as("sdp_disc"),
          round(var_pop(col("l_discount")), 6).as("varp_disc"),
          round(min(col("l_quantity")), 2).as("min_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"),
          round(avg(col("l_tax")), 6).as("avg_tax"))
        .orderBy(col("l_linestatus"))
    }),

    // CUBE → Expand (grouping sets); GROUPING() marker columns.
    "q04_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_rf"),
          grouping(col("l_linestatus")).as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))
    }),

    // max_by / min_by keyed by a unique ordering column (deterministic).
    "q05_agg_minmaxby" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_orderpriority"), col("o_orderkey")).as("last_prio"),
          min_by(col("o_orderpriority"), col("o_orderkey")).as("first_prio"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // LISTAGG (reference FlinkSqlOperatorTable.java:768) as sorted collect_set.
    "q06_agg_listagg" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          array_join(array_sort(collect_set(col("o_orderpriority"))), ",").as("prios"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    }),

    // Decimal semantics (SURVEY §7.4 risk 6): exact decimal agg chain.
    // Decimals are derived from exact integer cents (round(x*100) as
    // bigint, then * 0.01) rather than a raw double→decimal cast:
    // Spark casts via the shortest decimal repr (HALF_UP) while DuckDB
    // rounds the raw binary double, which diverges at half-cent
    // boundaries. Integer cents are exact in both engines.
    "q08_agg_decimal" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          expr("cast(cast(round(l_extendedprice * 100) as bigint) * 0.01 as decimal(18,2))").as("p"),
          expr("cast(cast(round(l_quantity * 100) as bigint) * 0.01 as decimal(12,2))").as("q"))
        .groupBy(col("l_returnflag"))
        // Decimal aggregation is the point here, but the OUTPUT is
        // string-rendered on both sides: a decimal column materializes
        // as float64 from DuckDB vs object Decimal from Spark parquet
        // and fails the driver's repr hash (r2 red q08). The VARCHAR
        // cast preserves scale ("194.50") identically in both engines.
        .agg(sum(col("p")).cast("decimal(38,2)").cast("string").as("sum_p"),
             min(col("p")).cast("string").as("min_p"),
             max(col("p")).cast("string").as("max_p"),
             sum(col("q")).cast("decimal(38,2)").cast("string").as("sum_q"),
             count(col("p")).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Exact interpolated percentiles (dyadic fractions over integer-
    // valued data → bit-identical across engines).
    "q09_agg_percentile" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
             expr("percentile(l_quantity, 0.5)").as("q50"),
             expr("percentile(l_quantity, 0.75)").as("q75"))
        .orderBy(col("l_returnflag"))
    }),

    // HAVING + filtered aggregation (FILTER clause semantics).
    "q07_agg_having" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"))
        .filter(col("n_orders") >= 15)
        .orderBy(col("o_custkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_agg_basic" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(round(l_quantity*100) AS BIGINT))::BIGINT AS sum_qty_e2,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT))::BIGINT
        |    AS sum_base_price_e2,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT
        |    AS sum_disc_price_e4,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |      * (100 - CAST(round(l_discount*100) AS BIGINT))
        |      * (100 + CAST(round(l_tax*100) AS BIGINT)))::BIGINT
        |    AS sum_charge_e6,
        |  count(*) AS count_order,
        |  (sum(CAST(round(l_quantity*100) AS BIGINT)) * 10000)::BIGINT
        |    // count(*) AS avg_qty_e6,
        |  (sum(CAST(round(l_discount*100) AS BIGINT)) * 10000)::BIGINT
        |    // count(*) AS avg_disc_e6
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  round(sum(DISTINCT l_quantity),2) AS sum_dist_qty,
        |  count(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q03_agg_stats" ->
      """SELECT l_linestatus,
        |  round(stddev_samp(l_quantity),6) AS sd_qty,
        |  round(var_samp(l_quantity),6) AS var_qty,
        |  round(stddev_pop(l_discount),6) AS sdp_disc,
        |  round(var_pop(l_discount),6) AS varp_disc,
        |  round(min(l_quantity),2) AS min_qty,
        |  round(max(l_quantity),2) AS max_qty,
        |  round(avg(l_tax),6) AS avg_tax
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q04_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity),2) AS sum_qty,
        |  grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin,
    "q05_agg_minmaxby" ->
      """SELECT o_orderstatus,
        |  max_by(o_orderpriority, o_orderkey) AS last_prio,
        |  min_by(o_orderpriority, o_orderkey) AS first_prio,
        |  max(o_orderkey) AS max_key, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q06_agg_listagg" ->
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q08_agg_decimal" ->
      """SELECT l_returnflag,
        |  CAST(CAST(sum(p) AS DECIMAL(38,2)) AS VARCHAR) AS sum_p,
        |  CAST(min(p) AS VARCHAR) AS min_p, CAST(max(p) AS VARCHAR) AS max_p,
        |  CAST(CAST(sum(q) AS DECIMAL(38,2)) AS VARCHAR) AS sum_q,
        |  count(p) AS n
        |FROM (SELECT l_returnflag,
        |        CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 0.01 AS DECIMAL(18,2)) AS p,
        |        CAST(CAST(round(l_quantity * 100) AS BIGINT) * 0.01 AS DECIMAL(12,2)) AS q
        |      FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q09_agg_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q07_agg_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  round(sum(o_totalprice),2) AS total,
        |  count(CASE WHEN o_orderstatus='F' THEN 1 END) AS n_finished
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin
  )
}
