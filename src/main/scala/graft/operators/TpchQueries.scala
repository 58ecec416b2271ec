package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Second batch of TPC-H query shapes (Q4, Q15, Q16, Q17, Q19, Q22),
  * adapted to the testdata's column set (no l_commitdate/l_receiptdate,
  * partsupp, or c_phone — each adaptation keeps the SHAPE that makes
  * the query interesting: the EXISTS decorrelation, the scalar-
  * subquery-on-aggregate, the anti join + count-distinct, the
  * correlated per-group average, the disjunctive multi-column
  * predicate, the NOT EXISTS + global-average filter).
  *
  * Reference ground: the relational operators these exercise are the
  * reference's batch Table/SQL nodes — subquery rewrite
  * `flink-table/flink-table-planner-blink/.../rules/logical/
  * FlinkSubQueryRemoveRule.scala`, semi/anti joins
  * `BatchExecHashJoin.scala`, distinct aggregates
  * `AggregateExpandDistinctAggregatesRule`.
  *
  * Scale notes per query are inline; the common rules: dimension
  * filters sit BELOW the big joins (pushdown visible in the scan),
  * qualifying-key sets are never force-broadcast (AQE decides), and
  * money stays integer cents/e4 (see oracle-parity-rules).
  */
object TpchQueries extends QuerySet {

  val queries: Map[String, Q] = Map(
    // TPC-H Q4 shape (order priority checking): EXISTS-decorrelated
    // semi join with a non-equi component (late shipment = shipped
    // more than 30 days after ordering), counted per priority.
    // Catalyst plans the EXISTS as a left-semi hash join on orderkey
    // with the date comparison as a residual condition — one shuffle
    // on the join key, count agg on 5 groups.
    "q89_tpch_q4" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      // Two reductions before the semi join's shuffle:
      //  - derived scan predicate Catalyst cannot infer across the
      //    join residual: o_orderdate >= 1996-01-01 and l_shipdate >
      //    o_orderdate + 30d together imply l_shipdate > 1996-01-31,
      //    so the lineitem scan prunes the complement;
      //  - the EXISTS only asks "does ANY line ship 30+ days after
      //    ordering", and max(l_shipdate) answers it — the per-order
      //    max pre-aggregate (map-side combined) shuffles ONE row per
      //    order instead of every pruned lineitem (soak: the heaviest
      //    headliner without these, 6.6x per 10x data with only the
      //    scan prune).
      val latest = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-01-31").cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate")).as("max_ship"))
      o.join(latest, col("l_orderkey") === col("o_orderkey") &&
               col("max_ship") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
             "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q15 shape (top supplier): revenue per supplier over one
    // quarter, then the supplier(s) hitting the global max — the
    // scalar-subquery-on-aggregate composition. The revenue aggregate
    // is materialized ONCE via localCheckpoint (supplier-cardinality
    // output — tiny at any scale) and consumed by both the max scalar
    // and the equality join; without it the two consumers canonicalize
    // differently (the join adds a null filter) and even AQE re-scans
    // lineitem for each.
    "q93_tpch_q15" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(revenueE4.as("total_revenue_e4"))
        .localCheckpoint()
      val mx = rev.agg(max(col("total_revenue_e4")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue_e4") === col("mx"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q16 shape (parts/supplier relationship): count DISTINCT
    // suppliers per (brand, type, size) bucket over selected sizes,
    // excluding a brand, a type, and flagged suppliers (negative
    // balance standing in for the complaints list). Anti join against
    // the tiny flagged-supplier set broadcasts; the distinct agg is
    // the two-phase expand plan.
    "q90_tpch_q16" -> ((s, d) => {
      val p = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "MEDIUM" &&
                col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      val bad = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      Tables.lineitem(s, d)
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    // brand whose quantity is below 20% of the per-part average.
    // The correlated aggregate decorrelates to a per-part aggregate
    // joined back on partkey. The 0.2·avg comparison is kept in exact
    // integer arithmetic (5·n·qty < sum_qty) so both engines agree on
    // boundary rows — quantities are integral doubles.
    "q94_tpch_q17" -> ((s, d) => {
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"))
      val l = Tables.lineitem(s, d)
      val perPart = l.groupBy(col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      l.join(p, col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("long") * 5 * col("n_items") <
                col("sum_qty"))
        .agg(count(lit(1)).as("n_small"),
          expr("sum(cast(round(l_extendedprice * 100) as bigint))")
            .as("cents_total"))
    }),

    // TPC-H Q19 shape (discounted revenue): one join, one disjunctive
    // predicate over three (brand, size-range, quantity-range)
    // conjuncts. The part-side conjunct members (brand IN, size <=
    // bound) are pushed to the part scan; the mixed residual stays on
    // the join. Single-row output.
    "q91_tpch_q19" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val p = Tables.part(s, d)
      l.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
            col("l_quantity").between(20, 30)))
        .agg(count(lit(1)).as("n_items"), revenueE4.as("revenue_e4"))
    }),

    // TPC-H Q22 shape (global sales opportunity): customers with
    // above-average positive balance and NO recent orders, grouped by
    // a name-derived segment (standing in for the phone country code).
    // The global average is a 1-row scalar (broadcast); the NOT EXISTS
    // is a left-anti join against recent orders.
    "q92_tpch_q22" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(substring(col("c_name"), 17, 2).as("cc"))
        .agg(count(lit(1)).as("n_cust"),
          expr("sum(cast(round(c_acctbal * 100) as bigint))").as("cents_bal"))
        .orderBy(col("cc"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q89_tpch_q4" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q93_tpch_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, $revenueE4Sql AS total_revenue_e4
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_revenue_e4
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q90_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q94_tpch_q17" ->
      """WITH per_part AS (
        |  SELECT l_partkey AS pk, count(*)::BIGINT AS n_items,
        |    sum(l_quantity::BIGINT)::BIGINT AS sum_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT count(*)::BIGINT AS n_small,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_total
        |FROM lineitem
        |JOIN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23') p
        |  ON l_partkey = p_partkey
        |JOIN per_part ON l_partkey = pk
        |WHERE l_quantity::BIGINT * 5 * n_items < sum_qty""".stripMargin,
    "q91_tpch_q19" ->
      s"""SELECT count(*)::BIGINT AS n_items, $revenueE4Sql AS revenue_e4
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q92_tpch_q22" ->
      """SELECT substr(c_name, 17, 2) AS cc, count(*)::BIGINT AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY cc ORDER BY cc""".stripMargin
  )
}
