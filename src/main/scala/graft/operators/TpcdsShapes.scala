package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** TPC-DS-breadth relational shapes (round-4 VERDICT item 1).
  *
  * The reference's headline correctness artifact is the full 103-query
  * TPC-DS run (`flink-end-to-end-tests/flink-tpcds-test/.../
  * TpcdsTestProgram.java:57-69`); its distinctive shapes exercise
  * optimizer paths TPC-H never touches: multi-channel UNION feeding a
  * ROLLUP (q5/q77), one aggregate reused under several aliases in a
  * year-over-year self-join (q64/q74), windowed category share with a
  * HAVING on the ratio (q67/q98), channel EXCEPT chains (q87),
  * mutually-exclusive CASE batteries over grouping sets (q66), and
  * rank-over-rollup (q67). The testdata has no TPC-DS tables, so each
  * shape is re-expressed over orders/lineitem/part/events — the SHAPE
  * (and the plan it forces) is the point, not the catalog.
  *
  * Money stays integer cents BIGINT end to end; ratios are integral
  * div with the numerator widened through DECIMAL(38,0) so the
  * multiply cannot wrap at any scale factor (oracle-parity-rules).
  */
object TpcdsShapes extends QuerySet {

  private val liCents =
    "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
  private val oCents = "cast(round(o_totalprice * 100) as bigint)"
  private val evCents = "cast(round(value * 100) as bigint)"

  val queries: Map[String, Q] = Map(
    // TPC-DS q5/q77 shape: per-channel (sales, returns) aggregates
    // UNIONed, then ROLLUP over (channel, year) — subtotals per
    // channel plus a grand total. Scale: each channel aggregates
    // BEFORE the union (map-side partial agg, one shuffle per channel
    // on its own group key); the rollup runs over a few dozen
    // pre-aggregated rows, so the Expand operator multiplies tiny
    // input, not the fact table.
    "q111_ds_union_rollup" -> ((s, d) => {
      val store = Tables.lineitem(s, d)
        .groupBy(year(col("l_shipdate")).as("yr"))
        .agg(
          expr(s"sum(case when l_returnflag <> 'R' then $liCents else 0 end)")
            .as("sales_cents"),
          expr(s"sum(case when l_returnflag = 'R' then $liCents else 0 end)")
            .as("returns_cents"))
        .select(lit("store").as("channel"), col("yr"),
          col("sales_cents"), col("returns_cents"))
      val web = Tables.events(s, d)
        .groupBy(year(col("ts")).as("yr"))
        .agg(
          expr(s"sum(case when event_type = 'purchase' then $evCents else 0 end)")
            .as("sales_cents"),
          expr(s"sum(case when event_type = 'error' then $evCents else 0 end)")
            .as("returns_cents"))
        .select(lit("web").as("channel"), col("yr"),
          col("sales_cents"), col("returns_cents"))
      store.union(web)
        .rollup(col("channel"), col("yr"))
        .agg(sum(col("sales_cents")).as("sales_cents"),
          sum(col("returns_cents")).as("returns_cents"),
          grouping(col("channel")).as("g_ch"), grouping(col("yr")).as("g_yr"))
        .orderBy(col("g_ch"), col("g_yr"), col("channel"), col("yr"))
    }),

    // TPC-DS q64/q74 shape: ONE yearly aggregate reused under two
    // aliases, self-joined on consecutive years — customers whose
    // spend more than doubled year over year. Scale: the aggregate
    // shuffles orders once on (custkey, year); the self-join keys are
    // equi on (cust, yr±1), so both sides hash-partition the SAME
    // small aggregate output — no second pass over the fact table
    // (the optimizer may still scan twice; a .cache() on `yearly`
    // would trade memory for the rescan at very large year counts).
    "q112_ds_yoy_selfjoin" -> ((s, d) => {
      val yearly = Tables.orders(s, d)
        .groupBy(col("o_custkey").as("cust"), year(col("o_orderdate")).as("yr"))
        .agg(expr(s"sum($oCents)").as("cents"))
      yearly.as("cur")
        .join(yearly.as("prev"),
          col("cur.cust") === col("prev.cust") &&
            col("cur.yr") === col("prev.yr") + 1)
        .filter(col("cur.cents") > col("prev.cents") * 2)
        .select(col("cur.cust").as("cust"), col("cur.yr").as("yr"),
          col("prev.cents").as("prev_cents"), col("cur.cents").as("cur_cents"))
        .orderBy(col("cust"), col("yr"))
    }),

    // TPC-DS q98/q67 shape: revenue per (category, brand) with each
    // brand's share of its category as a ratio, HAVING on the share.
    // Scale: part broadcasts into the fact join; one shuffle on the
    // group key; the share window repartitions only the small
    // aggregate by p_type. The ppm numerator widens to DECIMAL(38,0)
    // before the multiply.
    "q113_ds_category_share" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"), col("p_brand"))
        .agg(expr(s"sum($liCents)").as("rev_cents"))
      rev
        .withColumn("type_cents",
          sum(col("rev_cents")).over(Window.partitionBy(col("p_type"))))
        .withColumn("share_ppm", expr(
          "cast((cast(rev_cents as decimal(38,0)) * 1000000) div type_cents as bigint)"))
        .filter(col("share_ppm") >= 42000)
        .select(col("p_type"), col("p_brand"), col("rev_cents"), col("share_ppm"))
        .orderBy(col("p_type"), col("p_brand"))
    }),

    // TPC-DS q87 shape: channel EXCEPT chain — customers active in
    // 1996 but in neither 1997 nor 1998, joined back to the dimension.
    // Scale: each year's key set is a filtered column projection;
    // EXCEPT is a distinct-anti (one shuffle per operand on the key);
    // the final customer join broadcasts the surviving key set.
    "q114_ds_channel_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def keysOf(y: Int) =
        o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
      val survivors = keysOf(1996).except(keysOf(1997)).except(keysOf(1998))
      Tables.customer(s, d)
        .join(broadcast(survivors), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // TPC-DS q66 shape: a battery of MUTUALLY-EXCLUSIVE CASE sums
    // (priority classes) over ROLLUP(status, year) — one scan
    // produces every (class × group) cell; the alternative, one
    // filtered aggregate per class UNIONed, scans the fact table
    // |classes| times. Scale: single shuffle on the rollup key after
    // map-side partials; Expand triples rows BEFORE aggregation but
    // AFTER projection to 4 columns.
    "q115_ds_case_rollup" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .rollup(col("o_orderstatus"), col("yr"))
        .agg(
          expr(s"sum(case when o_orderpriority in ('1-URGENT','2-HIGH') then $oCents else 0 end)")
            .as("hi_cents"),
          expr(s"sum(case when o_orderpriority = '3-MEDIUM' then $oCents else 0 end)")
            .as("med_cents"),
          expr(s"sum(case when o_orderpriority in ('4-NOT SPECIFIED','5-LOW') then $oCents else 0 end)")
            .as("lo_cents"),
          count(lit(1)).as("n_orders"),
          grouping(col("o_orderstatus")).as("g_st"), grouping(col("yr")).as("g_yr"))
        .orderBy(col("g_st"), col("g_yr"), col("o_orderstatus"), col("yr"))
    }),

    // TPC-DS q67 shape: rank WITHIN each category over the ROLLUP
    // result (detail rows rank against sibling brands; subtotal and
    // grand-total rows sit in their own single-row partitions), top-3
    // kept. Scale: the window runs over the rollup output (hundreds
    // of rows), not the fact table; rank's ORDER BY carries p_brand
    // as a deterministic tie-break.
    "q116_ds_rollup_rank" -> ((s, d) => {
      val rolled = Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .rollup(col("p_type"), col("p_brand"))
        .agg(expr(s"sum($liCents)").as("rev_cents"),
          grouping(col("p_type")).as("g_ty"), grouping(col("p_brand")).as("g_br"))
      val w = Window.partitionBy(col("g_ty"), col("g_br"), col("p_type"))
        .orderBy(col("rev_cents").desc, col("p_brand"))
      rolled.withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .orderBy(col("g_ty"), col("g_br"), col("p_type"), col("rnk"))
    }),

    // TPC-DS q49 shape: worst return ratios per channel with DUAL
    // ranking — per (channel, part) the quantity-return ratio AND the
    // amount-return ratio, each ranked within the channel, keeping
    // rows in either top-10 (q49 unions the per-channel results of
    // exactly this dual-rank pattern). Scale: one shuffle on
    // (channel, part) with map-side partials; both windows share one
    // partitioning by channel over the aggregate only.
    "q119_ds_returns_ratio" -> ((s, d) => {
      val qtyE = "cast(l_quantity as bigint)"
      val perPart = Tables.lineitem(s, d)
        .groupBy(col("l_linestatus").as("channel"), col("l_partkey"))
        .agg(
          expr(s"sum(case when l_returnflag = 'R' then $qtyE else 0 end)")
            .as("ret_qty"),
          expr(s"sum($qtyE)").as("tot_qty"),
          expr(s"sum(case when l_returnflag = 'R' then $liCents else 0 end)")
            .as("ret_cents"),
          expr(s"sum($liCents)").as("tot_cents"))
        .withColumn("qty_ratio_ppm", expr(
          "cast((cast(ret_qty as decimal(38,0)) * 1000000) div tot_qty as bigint)"))
        .withColumn("amt_ratio_ppm", expr(
          "cast((cast(ret_cents as decimal(38,0)) * 1000000) div tot_cents as bigint)"))
      val byChannel = Window.partitionBy(col("channel"))
      val ranked = perPart
        .withColumn("qty_rnk", rank().over(
          byChannel.orderBy(col("qty_ratio_ppm").desc, col("l_partkey"))))
        .withColumn("amt_rnk", rank().over(
          byChannel.orderBy(col("amt_ratio_ppm").desc, col("l_partkey"))))
      ranked.filter(col("qty_rnk") <= 10 || col("amt_rnk") <= 10)
        .select(col("channel"), col("l_partkey"), col("qty_ratio_ppm"),
          col("amt_ratio_ppm"), col("qty_rnk"), col("amt_rnk"))
        .orderBy(col("channel"), col("qty_rnk"), col("amt_rnk"), col("l_partkey"))
    }),

    // TPC-DS q80/q66 shape: explicit GROUPING SETS over the channel
    // hierarchy — (status, priority), (status), (priority), () — a
    // custom set list neither ROLLUP nor CUBE expresses (the (priority)
    // set without (status, ())-closure). Uses the SQL surface, which
    // is where MATCH the reference exposes it too. Scale: one Expand
    // ×4 after projection to 3 columns, one shuffle.
    "q120_ds_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("gs_orders")
      s.sql(s"""
        SELECT o_orderstatus, o_orderpriority,
          count(1) AS n_orders,
          sum($oCents) AS total_cents,
          grouping(o_orderstatus) AS g_st, grouping(o_orderpriority) AS g_pr
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderstatus), (o_orderpriority), ())
        ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority""")
    }),

    // TPC-DS q51 shape: two channels' cumulative revenue FULL OUTER
    // JOINed on the period — here month-of-year for 2000 vs the
    // partial 2001 (months 8-12 exist only on one side, exercising
    // the outer join's null rows exactly as q51's web/store join
    // does). Scale: each side is one shuffle on month (12 groups);
    // the running window and the full outer join run over 12-row
    // inputs.
    "q117_ds_cum_fullouter" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def cumOf(y: Int, out: String) = {
        val monthly = o.filter(year(col("o_orderdate")) === y)
          .groupBy(month(col("o_orderdate")).as(s"mon_$y"))
          .agg(expr(s"sum($oCents)").as("cents"))
        monthly.select(col(s"mon_$y"),
          sum(col("cents")).over(Window.orderBy(col(s"mon_$y"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as(out))
      }
      cumOf(2000, "cum_2000")
        .join(cumOf(2001, "cum_2001"),
          col("mon_2000") === col("mon_2001"), "full_outer")
        .select(coalesce(col("mon_2000"), col("mon_2001")).as("mon"),
          col("cum_2000"), col("cum_2001"))
        .orderBy(col("mon"))
    }),

    // TPC-DS q88 shape: the "time-bucket dashboard" — N independent
    // filtered counts of one fact table presented as a SINGLE row.
    // The literal DS plan is 8 scalar subqueries cross-joined (the
    // oracle keeps that form); the Spark side is the rewrite a
    // Spark-first engineer ships: ONE conditional-aggregation pass,
    // so the fact table is scanned once instead of 8 times — at
    // 100 TB that is the difference between one scan and eight.
    // Values are provably identical (disjoint, exhaustive-by-filter
    // buckets counted with FILTER/CASE semantics).
    "q245_ds_bucket_report" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val cs = (0 until 8).map { i =>
        val (lo, hi) = (i * 6 + 1, i * 6 + 6)
        count(when(col("l_quantity") >= lo && col("l_quantity") <= hi,
          1)).as(s"c${i + 1}")
      }
      li.agg(cs.head, cs.tail: _*)
    }),

    // TPC-DS q47/q57 shape: deviation-from-window-average trend
    // filter. Monthly cents per order priority; one window partition
    // (priority, year) carries the yearly sum/count, the ordered
    // frame carries lag/lead — rows keep only months deviating >5%
    // from the yearly average, reported with both neighbors. The
    // >5% test is integer cross-multiplied (|cents·cnt − sum|·20 >
    // sum·cnt) so both engines compare exact BIGINTs, not a double
    // ratio. Plan shape: ONE shuffle on the partition key serves all
    // three window functions (same spec), then a filter — the
    // monthly pre-aggregate is tiny, so the windows never see the
    // fact table.
    "q246_ds_trend_deviation" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mon"))
        .agg(expr(s"sum($oCents)").as("cents"))
      val byYear = Window.partitionBy(col("prio"), col("yr"))
      val seq = byYear.orderBy(col("mon"))
      monthly.select(col("prio"), col("yr"), col("mon"), col("cents"),
          sum(col("cents")).over(byYear).as("ysum"),
          count(lit(1)).over(byYear).as("ycnt"),
          lag(col("cents"), 1).over(seq).as("prev_cents"),
          lead(col("cents"), 1).over(seq).as("next_cents"))
        .filter(abs(col("cents") * col("ycnt") - col("ysum")) * 20 >
          col("ysum") * col("ycnt"))
        .select(col("prio"), col("yr"), col("mon"), col("cents"),
          col("prev_cents"), col("next_cents"))
        .orderBy(col("prio"), col("yr"), col("mon"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q111_ds_union_rollup" ->
      """WITH ev AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS ts,
        |              event_type, value FROM events),
        |chan AS (
        |  SELECT 'store' AS channel, year(l_shipdate)::INT AS yr,
        |    CAST(sum(CASE WHEN l_returnflag <> 'R'
        |      THEN CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS sales_cents,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS returns_cents
        |  FROM lineitem GROUP BY 2
        |  UNION ALL
        |  SELECT 'web', year(ts)::INT,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN event_type = 'error'
        |      THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |  FROM ev GROUP BY 2)
        |SELECT channel, yr,
        |  CAST(sum(sales_cents) AS BIGINT) AS sales_cents,
        |  CAST(sum(returns_cents) AS BIGINT) AS returns_cents,
        |  grouping(channel) AS g_ch, grouping(yr) AS g_yr
        |FROM chan GROUP BY ROLLUP(channel, yr)
        |ORDER BY g_ch, g_yr, channel, yr""".stripMargin,
    "q112_ds_yoy_selfjoin" ->
      """WITH yearly AS (
        |  SELECT o_custkey AS cust, year(o_orderdate)::INT AS yr,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT cur.cust, cur.yr, prev.cents AS prev_cents, cur.cents AS cur_cents
        |FROM yearly cur JOIN yearly prev
        |  ON cur.cust = prev.cust AND cur.yr = prev.yr + 1
        |WHERE cur.cents > prev.cents * 2
        |ORDER BY cur.cust, cur.yr""".stripMargin,
    "q113_ds_category_share" ->
      """WITH rev AS (
        |  SELECT p_type, p_brand,
        |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT))
        |         AS BIGINT) AS rev_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT p_type, p_brand, rev_cents, share_ppm FROM (
        |  SELECT *, (rev_cents * 1000000 //
        |    sum(rev_cents) OVER (PARTITION BY p_type))::BIGINT AS share_ppm
        |  FROM rev)
        |WHERE share_ppm >= 42000
        |ORDER BY p_type, p_brand""".stripMargin,
    "q114_ds_channel_except" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |  EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
        |ORDER BY c_custkey""".stripMargin,
    "q115_ds_case_rollup" ->
      """SELECT o_orderstatus, year(o_orderdate)::INT AS yr,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS hi_cents,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM'
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS med_cents,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW')
        |    THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS lo_cents,
        |  count(*) AS n_orders,
        |  grouping(o_orderstatus) AS g_st, grouping(yr) AS g_yr
        |FROM orders GROUP BY ROLLUP(o_orderstatus, yr)
        |ORDER BY g_st, g_yr, o_orderstatus, yr""".stripMargin,
    "q116_ds_rollup_rank" ->
      """WITH rolled AS (
        |  SELECT p_type, p_brand,
        |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT))
        |         AS BIGINT) AS rev_cents,
        |    grouping(p_type) AS g_ty, grouping(p_brand) AS g_br
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP(p_type, p_brand))
        |SELECT * FROM (
        |  SELECT *, rank() OVER (PARTITION BY g_ty, g_br, p_type
        |    ORDER BY rev_cents DESC, p_brand) AS rnk
        |  FROM rolled)
        |WHERE rnk <= 3
        |ORDER BY g_ty, g_br, p_type, rnk""".stripMargin,
    "q119_ds_returns_ratio" ->
      """WITH perpart AS (
        |  SELECT l_linestatus AS channel, l_partkey,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity::BIGINT
        |      ELSE 0 END) AS BIGINT) AS ret_qty,
        |    CAST(sum(l_quantity::BIGINT) AS BIGINT) AS tot_qty,
        |    CAST(sum(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS ret_cents,
        |    CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100) AS BIGINT))
        |         AS BIGINT) AS tot_cents
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT channel, l_partkey,
        |    (ret_qty * 1000000 // tot_qty)::BIGINT AS qty_ratio_ppm,
        |    (ret_cents * 1000000 // tot_cents)::BIGINT AS amt_ratio_ppm
        |  FROM perpart),
        |rr AS (
        |  SELECT *,
        |    rank() OVER (PARTITION BY channel
        |      ORDER BY qty_ratio_ppm DESC, l_partkey) AS qty_rnk,
        |    rank() OVER (PARTITION BY channel
        |      ORDER BY amt_ratio_ppm DESC, l_partkey) AS amt_rnk
        |  FROM ranked)
        |SELECT channel, l_partkey, qty_ratio_ppm, amt_ratio_ppm, qty_rnk, amt_rnk
        |FROM rr WHERE qty_rnk <= 10 OR amt_rnk <= 10
        |ORDER BY channel, qty_rnk, amt_rnk, l_partkey""".stripMargin,
    "q120_ds_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  grouping(o_orderstatus) AS g_st, grouping(o_orderpriority) AS g_pr
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority""".stripMargin,
    "q117_ds_cum_fullouter" ->
      """WITH m0 AS (
        |  SELECT month(o_orderdate)::INT AS mon_2000,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1),
        |m1 AS (
        |  SELECT month(o_orderdate)::INT AS mon_2001,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE year(o_orderdate) = 2001 GROUP BY 1),
        |c0 AS (SELECT mon_2000, CAST(sum(cents) OVER (ORDER BY mon_2000
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_2000 FROM m0),
        |c1 AS (SELECT mon_2001, CAST(sum(cents) OVER (ORDER BY mon_2001
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_2001 FROM m1)
        |SELECT coalesce(mon_2000, mon_2001) AS mon, cum_2000, cum_2001
        |FROM c0 FULL OUTER JOIN c1 ON mon_2000 = mon_2001
        |ORDER BY mon""".stripMargin,
    // the literal DS q88 form: 8 scalar subqueries cross-joined —
    // same values as the Spark side's single-pass rewrite
    "q245_ds_bucket_report" ->
      (1 to 8).map { i =>
        val (lo, hi) = ((i - 1) * 6 + 1, (i - 1) * 6 + 6)
        s"(SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN $lo AND $hi) AS c$i"
      }.mkString("SELECT ", ",\n  ", ""),
    "q246_ds_trend_deviation" ->
      """WITH monthly AS (
        |  SELECT o_orderpriority AS prio, year(o_orderdate)::INT AS yr,
        |    month(o_orderdate)::INT AS mon,
        |    CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2, 3),
        |w AS (
        |  SELECT prio, yr, mon, cents,
        |    CAST(sum(cents) OVER yw AS BIGINT) AS ysum,
        |    CAST(count(*) OVER yw AS BIGINT) AS ycnt,
        |    lag(cents) OVER sw AS prev_cents,
        |    lead(cents) OVER sw AS next_cents
        |  FROM monthly
        |  WINDOW yw AS (PARTITION BY prio, yr),
        |         sw AS (PARTITION BY prio, yr ORDER BY mon))
        |SELECT prio, yr, mon, cents, prev_cents, next_cents
        |FROM w
        |WHERE abs(cents * ycnt - ysum) * 20 > ysum * ycnt
        |ORDER BY prio, yr, mon""".stripMargin
  )
}
