package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** OVER-window, rank/Top-N, sort/limit operators (SURVEY §2.4 "Window
  * (OVER) functions" and "Sort / limit / Top-N / dedup").
  *
  * Reference: `BatchExecOverAggregate.scala` with frames in
  * `over/frame/` (RowSlidingOverFrame:34, RangeSlidingOverFrame:36,
  * UnboundedOverWindowFrame:36); rank functions
  * `FlinkSqlOperatorTable.java:944+`; Top-N recognition
  * `FlinkLogicalRankRule.scala:39` (`ROW_NUMBER() <= k`); sort/limit
  * `BatchExecSort.scala` / `BatchExecSortLimit`.
  *
  * Scale notes: every OVER spec partitions by a key → one shuffle per
  * distinct partitioning; all window functions over the same
  * (partitionBy, orderBy) share a single WindowExec. Ordering columns
  * always end in a unique key so ranks are deterministic. Top-N uses
  * row_number + filter, which Spark pushes the limit into via
  * WindowGroupLimit at scale (no full sort of each partition).
  */
object WindowQueries extends QuerySet {

  private val byCust = Window.partitionBy(col("o_custkey"))
    .orderBy(col("o_orderdate"), col("o_orderkey"))

  val queries: Map[String, Q] = Map(
    // row_number / rank / dense_rank with deterministic tie-break.
    "q30_over_rank" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(byCust).as("rn"),
          rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderpriority"))).as("rk_prio"),
          dense_rank().over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderpriority"))).as("drk_prio"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ROWS frames: running and sliding aggregates.
    "q31_over_rows_frame" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice"))
            .over(byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          round(avg(col("o_totalprice"))
            .over(byCust.rowsBetween(-2, Window.currentRow)), 4)
            .as("avg3"),
          count(lit(1))
            .over(byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
            .as("n_cust"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // RANGE frame over a numeric ordering (value-based window).
    "q32_over_range_frame" -> ((s, d) => {
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          count(lit(1)).over(Window.orderBy(col("s_acctbal"))
            .rangeBetween(-1000, 0)).as("n_within_1000"),
          round(sum(col("s_acctbal")).over(Window.orderBy(col("s_acctbal"))
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("cum_bal"))
        .orderBy(col("s_suppkey"))
    }),

    // lead / lag with defaults.
    "q33_over_leadlag" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1, -1L).over(byCust).as("prev_key"),
          lead(col("o_orderkey"), 1, -1L).over(byCust).as("next_key"),
          round(col("o_totalprice") -
            coalesce(lag(col("o_totalprice"), 1).over(byCust), lit(0.0)), 2)
            .as("delta_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // first_value / last_value with explicit full frame.
    "q34_over_firstlast" -> ((s, d) => {
      val full = byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(full).as("first_key"),
          last(col("o_orderkey")).over(full).as("last_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Top-N per key (FlinkLogicalRankRule pattern: row_number <= k).
    "q35_topn_per_key" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
                round(col("o_totalprice"), 2).as("price"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // Global sort + limit (BatchExecSortLimit → TakeOrderedAndProject).
    "q36_sort_limit" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .limit(100)
    }),

    // Table.offset(n).fetch(m) — the reference Table API's paging
    // pair (`flink-table-api-java/.../Table.java` offset/fetch,
    // planned as SortLimit with an offset). Total order on the
    // tie-broken sort key makes the page deterministic; Spark plans
    // offset+limit as one GlobalLimit over the sort, so only
    // offset+fetch rows ever leave the shuffle.
    "q252_offset_fetch" -> ((s, d) => {
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .offset(25)
        .limit(10)
    }),

    // Batch dedup keep-first per key (StreamExecDeduplicate batch analog).
    "q37_dedup_keepfirst" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"), col("o_orderstatus"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderkey"))
        .orderBy(col("o_custkey"), col("o_orderstatus"))
    }),

    // percent_rank / cume_dist (Spark extras; Flink lacks them — superset).
    "q38_over_pct" -> ((s, d) => {
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          round(percent_rank().over(Window.orderBy(col("s_acctbal"), col("s_suppkey"))), 6).as("pr"),
          round(cume_dist().over(Window.orderBy(col("s_acctbal"), col("s_suppkey"))), 6).as("cd"),
          ntile(4).over(Window.orderBy(col("s_acctbal"), col("s_suppkey"))).as("quartile"))
        .orderBy(col("s_suppkey"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q30_over_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rk_prio,
        |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drk_prio
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q31_over_rows_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),4) AS avg3,
        |  count(*) OVER (PARTITION BY o_custkey) AS n_cust
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q32_over_range_frame" ->
      """SELECT s_suppkey,
        |  count(*) OVER (ORDER BY s_acctbal RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000,
        |  round(sum(s_acctbal) OVER (ORDER BY s_acctbal
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS cum_bal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q33_over_leadlag" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey, 1, -1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key,
        |  lead(o_orderkey, 1, -1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_key,
        |  round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 0),2) AS delta_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q34_over_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_key,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q35_topn_per_key" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS price, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q36_sort_limit" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q252_offset_fetch" ->
      """SELECT o_orderkey, round(o_totalprice,2) AS price FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 25""".stripMargin,
    "q37_dedup_keepfirst" ->
      """SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |    ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey, o_orderstatus""".stripMargin,
    "q38_over_pct" ->
      """SELECT s_suppkey,
        |  round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey),6) AS pr,
        |  round(cume_dist() OVER (ORDER BY s_acctbal, s_suppkey),6) AS cd,
        |  ntile(4) OVER (ORDER BY s_acctbal, s_suppkey) AS quartile
        |FROM supplier ORDER BY s_suppkey""".stripMargin
  )
}
