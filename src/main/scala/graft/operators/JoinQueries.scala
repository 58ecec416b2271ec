package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables

/** Join + set-operation operators (SURVEY §2.4 "Joins", §2.3 join/coGroup/cross).
  *
  * Reference: `BatchExecHashJoin` (rule `BatchExecHashJoinRule.scala:47`,
  * runtime `join/HashJoinOperator.java:58`), `BatchExecSortMergeJoin`
  * (`join/SortMergeJoinOperator.java:64`), `BatchExecNestedLoopJoin`
  * (`codegen/NestedLoopJoinCodeGenerator.scala`), join types
  * `FlinkJoinType.java:24` (INNER/LEFT/RIGHT/FULL/SEMI/ANTI), set-op
  * rewrites `ReplaceIntersectWithSemiJoinRule.scala` /
  * `ReplaceMinusWithAntiJoinRule.scala`.
  *
  * Scale notes: dimension tables (region/nation/supplier/customer) are
  * broadcast explicitly — at 100 TB the fact side streams through a
  * broadcast hash join with zero shuffle of the big side. The fact-fact
  * joins (lineitem⋈orders) shuffle on the join key once; AQE converts
  * to broadcast when a filtered side turns out small and splits skewed
  * partitions.
  */
object JoinQueries extends QuerySet {

  val queries: Map[String, Q] = Map(
    // TPC-H Q5 shape: 5-way star join, dims broadcast, fact-fact shuffled.
    "q10_join_star" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") <  lit("1997-01-01").cast("timestamp"))
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        // per-row e4 integers then an exact bigint sum: a double sum
        // drifts in the cents digit at sf0.1 magnitudes (~1.7e8)
        .agg(expr("sum(cast(round(l_extendedprice * (1 - l_discount) * 10000) as bigint))")
               .as("revenue_e4"),
             count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    }),

    // LEFT OUTER: every customer, order stats (nulls → zero counts).
    "q11_join_left" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total"))
        .orderBy(col("c_custkey"))
    }),

    // RIGHT OUTER (same semantics from the other side).
    "q12_join_right" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 150000)
      val c = Tables.customer(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"), "right_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"))
        .orderBy(col("c_custkey"))
    }),

    // FULL OUTER between two disjoint-ish aggregates.
    "q13_join_full" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(year(col("o_orderdate")) === 1995)
        .groupBy(col("o_custkey").as("k1")).agg(count(lit(1)).as("n95"))
      val b = o.filter(year(col("o_orderdate")) === 2000)
        .groupBy(col("o_custkey").as("k2")).agg(count(lit(1)).as("n00"))
      a.join(b, col("k1") === col("k2"), "full_outer")
        .select(coalesce(col("k1"), col("k2")).as("custkey"),
                coalesce(col("n95"), lit(0L)).as("n95"),
                coalesce(col("n00"), lit(0L)).as("n00"))
        .orderBy(col("custkey"))
    }),

    // LEFT SEMI (EXISTS): orders having a max-quantity line.
    "q14_join_semi" -> ((s, d) => {
      val o  = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).filter(col("l_quantity") === 50)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // LEFT ANTI (NOT EXISTS): customers with no high-value order.
    "q15_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // CROSS (nested-loop): small × small with a computed predicate kept
    // in the projection (true theta-join exercised in q17).
    "q16_join_cross" -> ((s, d) => {
      val r = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
      val n = Tables.nation(s, d)
      r.crossJoin(n)
        .select(col("r_name"), col("n_name"),
                (col("r_regionkey") === col("n_regionkey")).as("same_region"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Theta (non-equi) join → BroadcastNestedLoopJoin: nation pairs within
    // the same region, ordered pairs only.
    "q17_join_theta" -> ((s, d) => {
      val n1 = Tables.nation(s, d).select(col("n_nationkey").as("k1"),
        col("n_name").as("name1"), col("n_regionkey").as("rk1"))
      val n2 = Tables.nation(s, d).select(col("n_nationkey").as("k2"),
        col("n_name").as("name2"), col("n_regionkey").as("rk2"))
      n1.join(n2, col("rk1") === col("rk2") && col("k1") < col("k2"))
        .select(col("name1"), col("name2"), col("rk1").as("regionkey"))
        .orderBy(col("name1"), col("name2"))
    }),

    // UNION / UNION ALL (reference BatchExecUnion).
    "q18_setop_union" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val b = o.filter(col("o_totalprice") > 200000).select(col("o_custkey"))
      a.union(b).distinct()
        .withColumnRenamed("o_custkey", "custkey")
        .orderBy(col("custkey"))
    }),

    // INTERSECT → semi-join rewrite (ReplaceIntersectWithSemiJoinRule).
    "q19_setop_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      val b = o.filter(col("o_totalprice") > 150000).select(col("o_custkey"))
      a.intersect(b).withColumnRenamed("o_custkey", "custkey")
        .orderBy(col("custkey"))
    }),

    // EXCEPT → anti-join rewrite (ReplaceMinusWithAntiJoinRule).
    "q20_setop_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val a = o.select(col("o_custkey"))
      val b = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      a.except(b).withColumnRenamed("o_custkey", "custkey")
        .orderBy(col("custkey"))
    }),

    // INTERSECT ALL / EXCEPT ALL (RewriteIntersectAllRule / RewriteMinusAllRule).
    "q21_setop_all" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
      val b = li.filter(col("l_linestatus") === "F").select(col("l_orderkey"))
      a.intersectAll(b).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
        .withColumnRenamed("l_orderkey", "orderkey")
        .orderBy(col("orderkey"))
    }),

    // Correlated scalar subquery (subquery_rewrite / decorrelation):
    // customers whose account balance exceeds their nation's average.
    "q22_subquery_corr" -> ((s, d) => {
      withTables(s, d, "customer")
      s.sql("""
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
        FROM customer c1
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey""")
    }),

    // IN-subquery → semi join (RewritePredicateSubquery).
    "q23_subquery_in" -> ((s, d) => {
      withTables(s, d, "orders", "customer")
      s.sql("""
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
          AND o_orderstatus = 'F'
        ORDER BY o_orderkey""")
    })
  )

  val oracle: Map[String, String] = Map(
    "q10_join_star" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q11_join_left" ->
      """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice),0),2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment ORDER BY c_custkey""".stripMargin,
    "q12_join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders
        |FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q13_join_full" ->
      """SELECT coalesce(k1, k2) AS custkey, coalesce(n95,0) AS n95, coalesce(n00,0) AS n00
        |FROM (SELECT o_custkey AS k1, count(*) AS n95 FROM orders
        |      WHERE year(o_orderdate)=1995 GROUP BY o_custkey) a
        |FULL JOIN (SELECT o_custkey AS k2, count(*) AS n00 FROM orders
        |      WHERE year(o_orderdate)=2000 GROUP BY o_custkey) b
        |ON k1 = k2 ORDER BY custkey""".stripMargin,
    "q14_join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity = 50)
        |ORDER BY o_orderkey""".stripMargin,
    "q15_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,
    "q16_join_cross" ->
      """SELECT r_name, n_name, (r_regionkey = n_regionkey) AS same_region
        |FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "q17_join_theta" ->
      """SELECT n1.n_name AS name1, n2.n_name AS name2, n1.n_regionkey AS regionkey
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY name1, name2""".stripMargin,
    "q18_setop_union" ->
      """SELECT DISTINCT o_custkey AS custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus='O'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
        |ORDER BY custkey""".stripMargin,
    "q19_setop_intersect" ->
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus='F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
        |ORDER BY custkey""".stripMargin,
    "q20_setop_except" ->
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        |ORDER BY custkey""".stripMargin,
    "q21_setop_all" ->
      """SELECT orderkey, count(*) AS n FROM (
        |  SELECT l_orderkey AS orderkey FROM lineitem WHERE l_returnflag='R'
        |  INTERSECT ALL
        |  SELECT l_orderkey FROM lineitem WHERE l_linestatus='F')
        |GROUP BY orderkey ORDER BY orderkey""".stripMargin,
    "q22_subquery_corr" ->
      """SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
        |FROM customer c1
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c1.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "q23_subquery_in" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |  AND o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin
  )
}
