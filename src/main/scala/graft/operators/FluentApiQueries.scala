package graft.operators

import graft.Tables
import graft.streaming.FluentTable

/** Oracle bindings for the fluent Table-API string-expression facade
  * (graft.streaming.TableApi / FluentTable — reference Table.java:104
  * select(String) family + PlannerExpressionParserImpl grammar).
  * Every query below goes through STRING expressions only — no SQL
  * text, no direct Column construction — so the whole
  * tokenizer→parser→Column path is what the hash binds.
  */
object FluentApiQueries extends QuerySet {

  val queries: Map[String, Q] = Map(

    // multi-step relational pipeline: filter → join → project (with
    // arithmetic, round, cast) → groupBy → aggregate spellings
    // (.sum/.count/.count.distinct/.avg/.max) → orderBy (.desc) →
    // offset/fetch. The money arithmetic lands on exact cents (the
    // centsE discipline), so every aggregate is an exact integer.
    "q270_fluent_pipeline" -> ((s, d) => {
      val li = new FluentTable(Tables.lineitem(s, d))
      val ord = new FluentTable(Tables.orders(s, d))
      li.filter("l_quantity > 25 && l_returnflag !== 'N'")
        .join(ord, "l_orderkey === o_orderkey")
        .select("o_orderpriority, l_linestatus, " +
          "(l_extendedprice * (1 - l_discount) * 100).round(0).cast(LONG) as net_cents, " +
          "l_quantity.cast(LONG) as qty")
        .groupBy("o_orderpriority, l_linestatus")
        .select("o_orderpriority, l_linestatus, " +
          "net_cents.sum as sum_net_cents, qty.sum as sum_qty, " +
          "qty.count as n_rows, qty.count.distinct as n_qty, " +
          "qty.avg.round(6) as avg_qty, net_cents.max as max_cents")
        .orderBy("sum_net_cents.desc, o_orderpriority, l_linestatus")
        .offset(2).fetch(8)
        .toDF
    }),

    // scalar-expression battery: string suffixes, conditionals, the
    // `?:`/IF forms, in/between, Null(TYPE), concat, numeric math —
    // all through the string grammar.
    "q271_fluent_calc" -> ((s, d) => {
      new FluentTable(Tables.customer(s, d))
        .filter("c_custkey <= 500 && c_mktsegment.isNotNull")
        .select("c_custkey, " +
          "c_name.upperCase as name_up, " +
          "c_name.charLength as name_len, " +
          "c_name.substring(1, 8) as name8, " +
          "c_mktsegment.lowerCase as seg, " +
          "(c_acctbal * 100).round(0).cast(LONG) as bal_cents, " +
          "c_acctbal.between(0, 5000) as mid_bal, " +
          "IF(c_nationkey % 2 === 0, 'even', 'odd') as parity, " +
          "c_nationkey.in(1, 3, 5) as in_small, " +
          "c_name.like('%001%') as has001, " +
          "'seg='.concat(c_mktsegment) as seg_tag, " +
          "?(c_acctbal < 0, 'neg', 'nonneg') as sign_tag, " +
          "c_acctbal.sign.cast(INT) as bal_sign, " +
          "c_custkey.cast(DOUBLE).sqrt.round(6) as key_root, " +
          "c_custkey.mod(7) as m7, " +
          "Null(STRING) as nothing")
        .orderBy("c_custkey")
        .toDF
    }),

    // the group-window surface through the fluent API only
    // (reference Tumble.java:36 + GroupWindowedTable/
    // WindowGroupedTable): Tumble.over("1.hours").on(rowtime).as(w),
    // groupBy referencing the window alias, select reading the
    // window PROPERTIES (w.start / w.end) next to exact aggregates.
    // Spark's epoch-aligned tumbling window makes w.start ≡
    // date_trunc('hour'), which is what the oracle recomputes.
    "q274_fluent_window" -> ((s, d) => {
      import graft.streaming.GroupWindows.Tumble
      new FluentTable(Tables.events(s, d))
        .filter("ts.isNotNull")
        .select("ts, event_type, (value * 100).round(0).cast(LONG) as cents")
        .window(Tumble.over("1.hours").on("ts").as("w"))
        .groupBy("w, event_type")
        .select("w.start as ws, w.end as we, event_type, " +
          "event_type.count as n, cents.sum as cents_sum")
        .orderBy("ws, event_type")
        .toDF
    }),

    // the fluent OVER-window surface (reference Over.java builders +
    // Table.window(OverWindow)): three chained windows — a ROWS
    // 3-preceding frame (ordered by the unique event_id, so the frame
    // content is deterministic at every scale incl. replicated soak
    // data), a RANGE 10-minute time frame (microsecond-exact via
    // unix_micros ordering; peer-inclusive so tie-safe), and the
    // default UNBOUNDED_RANGE running frame. The final unaliased
    // aggregate pins the EXPR$n output-naming contract.
    "q288_fluent_over" -> ((s, d) => {
      import graft.streaming.OverWindows.Over
      new FluentTable(Tables.events(s, d))
        .filter("ts.isNotNull")
        .select("event_id, user_id, ts, (value * 100).round(0).cast(LONG) as cents")
        .window(Over.partitionBy("user_id").orderBy("event_id")
          .preceding("3.rows").as("w"))
        .select("event_id, user_id, ts, cents, " +
          "cents.sum over w as roll4, cents.count over w as n4, " +
          "cents.max over w as max4")
        .window(Over.partitionBy("user_id").orderBy("ts")
          .preceding("10.minutes").as("v"))
        .select("event_id, user_id, ts, cents, roll4, n4, max4, " +
          "cents.sum over v as sum10m, cents.count over v as n10m")
        .window(Over.partitionBy("user_id").orderBy("ts").as("u"))
        .select("event_id, user_id, roll4, n4, max4, sum10m, n10m, " +
          "cents.sum over u as run_cents, cents.count over u")
        .orderBy("event_id")
        .toDF
    }),

    // composite-type access through the fluent grammar (reference
    // BuiltInFunctionDefinitions GET / FLATTEN): a Tumble group window
    // leaves its struct key in the output; the following select reads
    // one field via get("start") and expands the whole struct via
    // flatten() into the reference's s$field-named columns.
    "q289_fluent_composite" -> ((s, d) => {
      import graft.streaming.GroupWindows.Tumble
      new FluentTable(Tables.events(s, d))
        .filter("ts.isNotNull")
        .select("ts, event_type, (value * 100).round(0).cast(LONG) as cents")
        .window(Tumble.over("1.hours").on("ts").as("w"))
        .groupBy("w, event_type")
        .select("w, event_type, event_type.count as n, cents.sum as cents_sum")
        .select("w.get('start') as ws, w.flatten, event_type, n, cents_sum")
        .orderBy("ws, event_type")
        .toDF
    }),

    // the STREAMING leg of the fluent Table API: the q274 pipeline
    // text — select → Tumble window → windowed groupBy → property
    // select — run UNCHANGED as a watermarked streaming query over the
    // four-epoch quarter replay (q129's harness: windows close
    // incrementally across micro-batches in append mode; two
    // far-future flush sentinels advance the watermark past the last
    // real window and are filtered from the SINK output, never inside
    // the plan — a pushed filter would starve the watermark node).
    // Proves the fluent facade preserves streaming-ness: every step is
    // a pure Column/groupBy construction, so Catalyst sees the exact
    // plan hand-written streaming code produces. Hashed against the
    // q274 batch oracle.
    "q292_fluent_window_stream" -> ((s, d) => {
      import graft.streaming.Replay
      import graft.streaming.GroupWindows.Tumble
      import org.apache.spark.sql.functions.col
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      val agg = new FluentTable(
          ep.stream(s).toDF()
            .withWatermark("ts", "1 minute"))
        .select("ts, event_type, (value * 100).round(0).cast(LONG) as cents")
        .window(Tumble.over("1.hours").on("ts").as("w"))
        .groupBy("w, event_type")
        .select("w.start as ws, w.end as we, event_type, " +
          "event_type.count as n, cents.sum as cents_sum")
        .toDF
      ep.runAppend(agg).filter(col("event_type") =!= "flush")
        .orderBy(col("ws"), col("event_type"))
    }),

    // the fluent SESSION-window streaming leg (q292's sibling —
    // Session.java:36 through Table.window on an unbounded stream):
    // 30-minute-gap sessions per user, driven entirely through the
    // fluent string-expression API over the quarter replay. Session
    // merging across micro-batches is load-bearing: a session open at
    // a batch boundary must absorb next-batch events into ONE row.
    // The flush events push the final watermark past every real
    // session's close (the q292 trick); session end = last event +
    // gap (the engine's session_window contract), which the oracle
    // reproduces as max(ts) + 30 minutes over gap-split groups.
    "q305_fluent_session_stream" -> ((s, d) => {
      import graft.streaming.Replay
      import graft.streaming.GroupWindows.Session
      import org.apache.spark.sql.functions.col
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      val agg = new FluentTable(
          ep.stream(s).toDF()
            .withWatermark("ts", "1 minute"))
        .select("ts, user_id, (value * 100).round(0).cast(LONG) as cents")
        .window(Session.withGap("30.minutes").on("ts").as("w"))
        .groupBy("w, user_id")
        .select("w.start as ss, w.end as se, user_id, " +
          "user_id.count as n_events, cents.sum as cents_v")
        .toDF
      ep.runAppend(agg).filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("ss"))
    }),

    // temporal battery incl. the rowtime attribute reference:
    // extract units, floor/ceil to unit, dateFormat, timestampDiff,
    // interval-literal arithmetic (10.minutes), offset/fetch tail.
    "q272_fluent_temporal" -> ((s, d) => {
      new FluentTable(Tables.events(s, d))
        .filter("value > 10 && ts.isNotNull")
        .select("event_id, " +
          "ts.rowtime as rt, " +
          "ts.extract(YEAR) as y, " +
          "ts.extract(MINUTE) as mi, " +
          "ts.floor(HOUR) as ts_hour, " +
          "ts.ceil(MINUTE) as ts_cmin, " +
          "dateFormat(ts, 'yyyy-MM-dd HH:mm') as fmt, " +
          "timestampDiff(MINUTE, ts.floor(HOUR), ts) as min_into_hour, " +
          // complete 24h units (NOT calendar-date boundaries) and
          // complete months truncated toward zero — the two semantics
          // the reference's ScalarFunctionsTest pins and a naive
          // datediff/floor(months_between) implementation gets wrong.
          "timestampDiff(DAY, '2024-01-15 06:30:00'.toTimestamp, ts) as d_anchor, " +
          "timestampDiff(MONTH, '2021-02-15 12:00:00'.toTimestamp, ts) as mo_anchor, " +
          "timestampDiff(YEAR, ts, '2023-02-15 12:00:00'.toTimestamp) as y_to, " +
          "ts + 10.minutes as ts10")
        .orderBy("event_id")
        .offset(100).fetch(2000)
        .toDF
    })
  )

  /** Hourly windows per event type with start and end: q274, and q292
    * streamed. */
  private val fluentWindowSql =
    """SELECT date_trunc('hour', ts) AS ws,
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS we,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY ws, event_type""".stripMargin

  val oracle: Map[String, String] = Map(

    "q270_fluent_pipeline" ->
      """WITH base AS (
        |  SELECT o.o_orderpriority, l.l_linestatus,
        |    CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
        |         AS BIGINT) AS net_cents,
        |    CAST(l.l_quantity AS BIGINT) AS qty
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_quantity > 25 AND l.l_returnflag <> 'N'),
        |g AS (
        |  SELECT o_orderpriority, l_linestatus,
        |    CAST(sum(net_cents) AS BIGINT) AS sum_net_cents,
        |    CAST(sum(qty) AS BIGINT) AS sum_qty,
        |    count(qty) AS n_rows,
        |    count(DISTINCT qty) AS n_qty,
        |    round(avg(qty), 6) AS avg_qty,
        |    max(net_cents) AS max_cents
        |  FROM base GROUP BY 1, 2)
        |SELECT * FROM g
        |ORDER BY sum_net_cents DESC, o_orderpriority, l_linestatus
        |LIMIT 8 OFFSET 2""".stripMargin,

    "q271_fluent_calc" ->
      """SELECT c_custkey,
        |  upper(c_name) AS name_up,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  substring(c_name, 1, 8) AS name8,
        |  lower(c_mktsegment) AS seg,
        |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
        |  c_acctbal BETWEEN 0 AND 5000 AS mid_bal,
        |  CASE WHEN c_nationkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity,
        |  c_nationkey IN (1, 3, 5) AS in_small,
        |  c_name LIKE '%001%' AS has001,
        |  'seg=' || c_mktsegment AS seg_tag,
        |  CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END AS sign_tag,
        |  CAST(sign(c_acctbal) AS INT) AS bal_sign,
        |  round(sqrt(CAST(c_custkey AS DOUBLE)), 6) AS key_root,
        |  c_custkey % 7 AS m7,
        |  CAST(NULL AS VARCHAR) AS nothing
        |FROM customer
        |WHERE c_custkey <= 500 AND c_mktsegment IS NOT NULL
        |ORDER BY c_custkey""".stripMargin,

    "q274_fluent_window" -> fluentWindowSql,

    "q305_fluent_session_stream" ->
      """WITH sess AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, (sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS sess_id
        |  FROM sess)
        |SELECT min(ts) AS ss, max(ts) + INTERVAL 30 MINUTE AS se, user_id,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_v
        |FROM numbered GROUP BY user_id, sess_id
        |ORDER BY user_id, ss""".stripMargin,

    "q292_fluent_window_stream" -> fluentWindowSql,

    "q288_fluent_over" ->
      """WITH base AS (
        |  SELECT event_id, user_id, ts,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER w3 AS BIGINT) AS roll4,
        |  count(cents) OVER w3 AS n4,
        |  max(cents) OVER w3 AS max4,
        |  CAST(sum(cents) OVER v10 AS BIGINT) AS sum10m,
        |  count(cents) OVER v10 AS n10m,
        |  CAST(sum(cents) OVER u AS BIGINT) AS run_cents,
        |  count(cents) OVER u AS "EXPR$8"
        |FROM base
        |WINDOW
        |  w3 AS (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |  v10 AS (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW),
        |  u AS (PARTITION BY user_id ORDER BY ts
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q289_fluent_composite" ->
      """SELECT date_trunc('hour', ts) AS ws,
        |  date_trunc('hour', ts) AS "w$start",
        |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS "w$end",
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2, 3, 4
        |ORDER BY ws, event_type""".stripMargin,

    "q272_fluent_temporal" ->
      """SELECT event_id,
        |  ts AS rt,
        |  CAST(extract(year FROM ts) AS BIGINT) AS y,
        |  CAST(extract(minute FROM ts) AS BIGINT) AS mi,
        |  date_trunc('hour', ts) AS ts_hour,
        |  CASE WHEN date_trunc('minute', ts) = ts THEN ts
        |       ELSE date_trunc('minute', ts) + INTERVAL 1 MINUTE END AS ts_cmin,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
        |  CAST(date_diff('minute', date_trunc('hour', ts), ts) AS INT)
        |    AS min_into_hour,
        |  -- complete 24h units truncated toward zero (mixed signs here)
        |  CAST(trunc((floor(epoch(ts))
        |       - floor(epoch(TIMESTAMP '2024-01-15 06:30:00'))) / 86400.0)
        |    AS INT) AS d_anchor,
        |  -- Spark months_between replica: same day-of-month ignores time;
        |  -- otherwise months + (day+time delta)/31d, truncated toward zero
        |  CAST(CASE WHEN datepart('day', ts) = 15
        |    THEN (datepart('year', ts) - 2021) * 12 + (datepart('month', ts) - 2)
        |    ELSE trunc(
        |      (datepart('year', ts) - 2021) * 12 + (datepart('month', ts) - 2)
        |      + ((datepart('day', ts) - 15) * 86400.0
        |         + (epoch(ts) - epoch(date_trunc('day', ts))) - 43200.0)
        |        / 2678400.0)
        |    END AS INT) AS mo_anchor,
        |  -- negative interval: truncation toward zero, not floor
        |  CAST(trunc((CASE WHEN datepart('day', ts) = 15
        |    THEN (2023 - datepart('year', ts)) * 12 + (2 - datepart('month', ts))
        |    ELSE (2023 - datepart('year', ts)) * 12 + (2 - datepart('month', ts))
        |      + ((15 - datepart('day', ts)) * 86400.0
        |         + 43200.0 - (epoch(ts) - epoch(date_trunc('day', ts))))
        |        / 2678400.0
        |    END) / 12.0) AS INT) AS y_to,
        |  ts + INTERVAL 10 MINUTE AS ts10
        |FROM events
        |WHERE value > 10 AND ts IS NOT NULL
        |ORDER BY event_id
        |LIMIT 2000 OFFSET 100""".stripMargin
  )
}
