package graft.operators

import graft.{Scratch, Tables}
import graft.streaming.{Event, FlinkDdl, FlinkSql, FlinkSqlJoins, GroupWindowSql, Replay}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-text front-end catalog — queries a reference user would paste
  * VERBATIM in the Flink SQL dialect, executed through the dialect
  * rewriters ([[graft.streaming.GroupWindowSql]]; MATCH_RECOGNIZE has
  * its own front-end in [[graft.streaming.MatchRecognize]], bound by
  * q141/q198). Reference surface: group windows in
  * `flink-table-planner-blink/.../functions/sql/FlinkSqlOperatorTable
  * .java` (TUMBLE/HOP/SESSION + `_START`/`_END` auxiliaries), compiled
  * by `StreamExecGroupWindowAggregate.scala:33`.
  */
object SqlFrontendQueries extends QuerySet {

  /** The literal Flink-SQL text: all three group-window assigners +
    * their START/END auxiliaries in one statement. Day tumble and
    * 6h-slide/1d-size hop per event type; 30-min-gap sessions per
    * user. Sums are exact integer cents (oracle-parity-rules). */
  private val flinkSql =
    """SELECT 'T' AS kind, event_type AS grp,
      |       TUMBLE_START(ts, INTERVAL '1' DAY) AS ws,
      |       TUMBLE_END(ts, INTERVAL '1' DAY) AS we,
      |       COUNT(*) AS n,
      |       SUM(CAST(ROUND(value*100) AS BIGINT)) AS cents
      |FROM events
      |GROUP BY event_type, TUMBLE(ts, INTERVAL '1' DAY)
      |UNION ALL
      |SELECT 'H' AS kind, event_type AS grp,
      |       HOP_START(ts, INTERVAL '6' HOUR, INTERVAL '1' DAY) AS ws,
      |       HOP_END(ts, INTERVAL '6' HOUR, INTERVAL '1' DAY) AS we,
      |       COUNT(*) AS n,
      |       SUM(CAST(ROUND(value*100) AS BIGINT)) AS cents
      |FROM events
      |GROUP BY event_type, HOP(ts, INTERVAL '6' HOUR, INTERVAL '1' DAY)
      |UNION ALL
      |SELECT 'S' AS kind, CAST(user_id AS VARCHAR) AS grp,
      |       SESSION_START(ts, INTERVAL '30' MINUTE) AS ws,
      |       SESSION_END(ts, INTERVAL '30' MINUTE) AS we,
      |       COUNT(*) AS n,
      |       SUM(CAST(ROUND(value*100) AS BIGINT)) AS cents
      |FROM events
      |GROUP BY user_id, SESSION(ts, INTERVAL '30' MINUTE)
      |ORDER BY kind, grp, ws""".stripMargin

  /** Exact whole cents of the event value. */
  private def cents: Column = expr("cast(round(value*100) as bigint)").as("cents")

  /** The event time as µs, the computed-rowtime input of the DDL tables. */
  private def tsUs: Column = unix_micros(col("ts")).as("ts_us")

  /** The columns of the DDL tables `(event_id, user_id, event_type, cents)`. */
  private def idTypeCents: Seq[Column] =
    Seq(col("event_id"), col("user_id"), col("event_type"), cents)

  /** The events of `d` as the headerless csv source of a DDL script,
    * in `dir`/src: `cols` in the order its CREATE TABLE declares them
    * (q225, q226, q228, q234, q243). */
  private def csvEventSource(s: SparkSession, d: String, dir: java.nio.file.Path,
      cols: Column*): Unit =
    Tables.events(s, d).select(cols: _*)
      .write.mode("overwrite").option("header", "false").csv(s"$dir/src")

  /** The DDL WATERMARK clause driving a real stream (q227 csv, q244
    * graft-avro): the events' quarter replay plus two flush epochs,
    * written as `format` files of the DDL table's columns, read back
    * through the table `name` (`'format.type' = ddlFormat`) with its
    * computed rowtime and 1-minute watermark, and aggregated into day
    * windows per event type that close as the watermark passes. */
  private def ddlWindowStream(s: SparkSession, d: String, name: String,
      format: String, ddlFormat: String): DataFrame = {
    val ep = Replay.quarters(Tables.events(s, d).as[Event](Encoders.product[Event]),
      Replay.flushes(1, 2), format, _.select(idTypeCents :+ tsUs: _*))
    val env = new FlinkDdl.Env(s)
    env.executeSql(
      s"""CREATE TABLE $name (
         |  event_id BIGINT, user_id BIGINT, event_type STRING,
         |  cents BIGINT, ts_us BIGINT,
         |  ts AS timestamp_micros(ts_us),
         |  WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE
         |) WITH (
         |  'connector.type' = 'filesystem',
         |  'connector.path' = '${ep.in}',
         |  'format.type' = '$ddlFormat'
         |)""".stripMargin)
    val agg = env.readStream(name, Map("maxFilesPerTrigger" -> "1"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_v"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("cents_v"))
    ep.runAppend(agg)
      .filter(col("event_type") =!= "flush")
      .orderBy(col("ws"), col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    // The Flink-SQL text above, run verbatim through the dialect
    // rewriter. Binds: TUMBLE→window, HOP(slide,size)→window(size,
    // slide) — an argument-order mixup doubles/halves every hop
    // window; SESSION→session_window with the end = last-event + gap
    // convention; the _START/_END auxiliaries; the VARCHAR cast shim.
    // Plan-wise each branch is the same partial-agg + single shuffle
    // Catalyst builds for the DataFrame groupBy(window(…)) form.
    "q208_flinksql_groupwindow" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      GroupWindowSql.run(s, flinkSql)
    }),

    // The group-window SQL TEXT on a real STREAM, oracle-bound: the
    // literal Flink `GROUP BY SESSION(ts, INTERVAL '30' MINUTE)`
    // statement runs against a watermarked streaming view of the
    // four-quarter replay — sessions merge across micro-batch
    // boundaries, close as the watermark passes last-event + gap, and
    // the far-future flush rows (their own sessions, filtered at sink
    // read) emit the tail. Upgrades the GroupWindowSqlSpec streaming
    // claim to a driver-checked row.
    "q241_flinksql_session_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d, Replay.flushes(2, 4))
      ep.stream(s)
        .withWatermark("ts", "1 minute")
        .createOrReplaceTempView("events_stream_q241")
      val agg = GroupWindowSql.run(s,
        """SELECT CAST(user_id AS VARCHAR) AS grp,
          |       SESSION_START(ts, INTERVAL '30' MINUTE) AS ws,
          |       SESSION_END(ts, INTERVAL '30' MINUTE) AS we,
          |       COUNT(*) AS n,
          |       SUM(CAST(ROUND(value*100) AS BIGINT)) AS cents
          |FROM events_stream_q241
          |GROUP BY user_id, SESSION(ts, INTERVAL '30' MINUTE)""".stripMargin)
      ep.runAppend(agg)
        .filter(col("grp") =!= "-1")
        .orderBy(col("grp"), col("ws"))
    }),

    // Temporal table join in the LITERAL Flink-SQL `FOR SYSTEM_TIME
    // AS OF` syntax, compiled onto the AsOfJoin Catalyst node: each
    // purchase joins the version of the per-user view stream current
    // at its timestamp (latest view with ts <= purchase ts, highest
    // event_id among ties; purchases with no prior view null-pad).
    // Same semantics q54/q59 bind via the DataFrame/exec surfaces —
    // here the USER-FACING TEXT is the thing under test.
    "q222_flinksql_temporal" -> ((s, d) => {
      val ev = Tables.events(s, d)
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
        .createOrReplaceTempView("purchases")
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"))
        .createOrReplaceTempView("view_versions")
      FlinkSqlJoins.runTemporal(s,
        """SELECT o.user_id, o.event_id AS purchase_id,
          |       r.event_id AS last_view_id,
          |       unix_micros(o.ts) - unix_micros(r.ts) AS lag_us
          |FROM purchases o
          |JOIN view_versions FOR SYSTEM_TIME AS OF o.ts AS r
          |ON o.user_id = r.user_id
          |ORDER BY o.user_id, purchase_id""".stripMargin)
    }),

    // UDTF correlate in the literal `LATERAL TABLE(f(...)) AS t(cols)`
    // syntax (multi-column TableFunction → inline over the
    // array<struct> the UDTF returns) — q149's operator through the
    // reference's SQL text instead of the explode() idiom.
    "q223_flinksql_lateral" -> ((s, d) => {
      graft.functions.Udx.register(s)
      withTables(s, d, "documents")
      FlinkSqlJoins.run(s,
        """SELECT doc_id, t.idx AS idx, t.tok AS tok
          |FROM documents, LATERAL TABLE(tokenize(text)) AS t(idx, tok)
          |WHERE doc_id < 50 AND length(trim(text)) > 0
          |ORDER BY doc_id, idx""".stripMargin)
    }),

    // Pure-SQL DDL pipeline — the reference's TableEnvironment
    // .executeSql script surface with NO DataFrame code: a csv-backed
    // source table (with a computed column), a parquet sink, INSERT
    // INTO, and a trailing SELECT, all as literal Flink DDL text
    // (mixed 1.10 dotted and flat property keys on purpose — both
    // were current across reference versions).
    "q225_flinksql_ddl_pipeline" -> ((s, d) => {
      val base = Scratch.dir("ddl")
      csvEventSource(s, d, base, idTypeCents: _*)
      new FlinkDdl.Env(s).executeScript(
        s"""CREATE TABLE ev_src (
           |  event_id BIGINT, user_id BIGINT, event_type STRING,
           |  cents BIGINT,
           |  cents_x10 AS cents * 10
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE TABLE agg_snk (
           |  event_type STRING, n BIGINT, cents_v BIGINT, x10_v BIGINT,
           |  users BIGINT
           |) WITH (
           |  'connector' = 'filesystem', 'path' = '$base/snk',
           |  'format' = 'parquet'
           |);
           |INSERT INTO agg_snk
           |SELECT event_type, COUNT(*), SUM(cents), SUM(cents_x10),
           |       COUNT(DISTINCT user_id)
           |FROM ev_src GROUP BY event_type;
           |SELECT event_type, n, cents_v, x10_v, users FROM agg_snk
           |ORDER BY event_type""".stripMargin)
    }),

    // DDL write-path contract: PARTITIONED BY parquet sink, INSERT
    // OVERWRITE then INSERT INTO composing (even/odd user halves),
    // CREATE VIEW over the sink — the partition pruning a real
    // warehouse sink needs, driven purely from DDL text.
    "q226_flinksql_ddl_partitioned" -> ((s, d) => {
      val base = Scratch.dir("ddl2")
      csvEventSource(s, d, base, idTypeCents: _*)
      new FlinkDdl.Env(s).executeScript(
        s"""CREATE TABLE ev_src (
           |  event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE TABLE part_snk (
           |  user_id BIGINT, cents BIGINT, event_type STRING
           |) PARTITIONED BY (event_type) WITH (
           |  'connector' = 'filesystem', 'path' = '$base/psnk',
           |  'format' = 'parquet'
           |);
           |INSERT OVERWRITE part_snk
           |SELECT user_id, cents, event_type FROM ev_src WHERE user_id % 2 = 0;
           |INSERT INTO part_snk
           |SELECT user_id, cents, event_type FROM ev_src WHERE user_id % 2 = 1;
           |CREATE VIEW per_type AS
           |SELECT event_type, COUNT(*) AS n, SUM(cents) AS cents_v
           |FROM part_snk GROUP BY event_type;
           |SELECT event_type, n, cents_v FROM per_type ORDER BY event_type""".stripMargin)
    }),

    // DDL avro leg: a `'format.type' = 'avro'` sink table routes
    // through the graft-avro DataSource V2 connector (reference
    // AvroRowFormatFactory tables port verbatim) — INSERT OVERWRITE
    // then INSERT INTO compose through the connector's
    // truncate-vs-append write paths, and the trailing SELECT
    // re-aggregates FROM the avro container files, so the avro leg is
    // load-bearing end to end.
    "q243_flinksql_ddl_avro" -> ((s, d) => {
      val base = Scratch.dir("ddl-avro")
      csvEventSource(s, d, base, idTypeCents: _*)
      new FlinkDdl.Env(s).executeScript(
        s"""CREATE TABLE ev_src (
           |  event_id BIGINT, user_id BIGINT, event_type STRING,
           |  cents BIGINT
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE TABLE ev_avro (
           |  event_id BIGINT, user_id BIGINT, event_type STRING,
           |  cents BIGINT
           |) WITH (
           |  'connector' = 'filesystem', 'path' = '$base/avro',
           |  'format' = 'avro'
           |);
           |INSERT OVERWRITE ev_avro
           |SELECT event_id, user_id, event_type, cents FROM ev_src
           |WHERE user_id % 2 = 0;
           |INSERT INTO ev_avro
           |SELECT event_id, user_id, event_type, cents FROM ev_src
           |WHERE user_id % 2 = 1;
           |SELECT event_type, COUNT(*) AS n, SUM(cents) AS cents_v,
           |       COUNT(DISTINCT user_id) AS users,
           |       MIN(event_id) AS min_id, MAX(event_id) AS max_id
           |FROM ev_avro GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // STREAMING avro leg (q243's table surface on the stream path):
    // the quarter replay lands as avro CONTAINER files with increasing
    // names, the DDL table declares the computed rowtime + WATERMARK,
    // and env.readStream routes through the graft-avro micro-batch
    // stream (file-offset admission control, one file per trigger) —
    // day windows close across micro-batches exactly as q227's csv
    // leg, so a dup/lost/misordered file or a broken avro decode
    // shifts a window aggregate and breaks the row.
    "q244_flinksql_ddl_avro_stream" -> ((s, d) =>
      ddlWindowStream(s, d, "ev_avro_stream", "graft-avro", "avro")),

    // The DDL WATERMARK clause driving a real STREAMING query: the
    // declared `WATERMARK FOR ts AS ts - INTERVAL '1' MINUTE` (over a
    // COMPUTED rowtime column decoding csv micros) becomes
    // withWatermark on the stream read; day-window aggregates close
    // exactly as the watermark passes during the four-quarter csv
    // replay (+ two far-future flush files so every window emits).
    "q227_flinksql_ddl_stream" -> ((s, d) =>
      ddlWindowStream(s, d, "ev_stream", "csv", "csv")),

    // THE unified executeSql: one script through FlinkSql.Env
    // composing the DDL surface WITH the group-window dialect — the
    // INSERT's SELECT uses TUMBLE/TUMBLE_START/TUMBLE_END verbatim
    // and lands in a parquet sink declared by DDL; the trailing
    // SELECT reads it back. A reference user's day-rollup ETL script,
    // pasted whole.
    "q228_flinksql_unified" -> ((s, d) => {
      val base = Scratch.dir("uni")
      csvEventSource(s, d, base, idTypeCents :+ tsUs: _*)
      new FlinkSql.Env(s).executeScript(
        s"""CREATE TABLE ev_src (
           |  event_id BIGINT, user_id BIGINT, event_type STRING,
           |  cents BIGINT, ts_us BIGINT,
           |  ts AS timestamp_micros(ts_us)
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE TABLE day_snk (
           |  event_type STRING, ws TIMESTAMP(3), we TIMESTAMP(3),
           |  n BIGINT, cents_v BIGINT
           |) WITH (
           |  'connector' = 'filesystem', 'path' = '$base/snk',
           |  'format' = 'parquet'
           |);
           |INSERT INTO day_snk
           |SELECT event_type,
           |       TUMBLE_START(ts, INTERVAL '1' DAY),
           |       TUMBLE_END(ts, INTERVAL '1' DAY),
           |       COUNT(*), SUM(cents)
           |FROM ev_src
           |GROUP BY event_type, TUMBLE(ts, INTERVAL '1' DAY);
           |SELECT event_type, ws, we, n, cents_v FROM day_snk
           |ORDER BY event_type, ws""".stripMargin)
    }),

    // WHOLE-APPLICATION migration: one Flink-SQL script through the
    // unified entry composing FOUR surfaces — DDL (csv source with a
    // computed rowtime), a plain-SQL filtered view, a group-window
    // INSERT into a parquet sink, a MATCH_RECOGNIZE view (q141's
    // clause verbatim, routed because CREATE VIEW bodies the Spark
    // parser can't read go through the dispatcher), and a final
    // SELECT joining the sink with the CEP matches. The end-to-end
    // result faces ONE oracle, so a value corrupted at any stage
    // (csv parse, window rewrite, NFA, join) breaks the row.
    "q234_flinksql_app" -> ((s, d) => {
      val base = Scratch.dir("app")
      graft.functions.Udx.register(s)
      csvEventSource(s, d, base, col("event_id"), col("user_id"),
        col("event_type"), col("value"), col("props"), cents, tsUs)
      new FlinkSql.Env(s).executeScript(
        s"""CREATE TABLE ev_app (
           |  event_id BIGINT, user_id BIGINT, event_type STRING,
           |  value DOUBLE, props STRING, cents BIGINT, ts_us BIGINT,
           |  ts AS timestamp_micros(ts_us)
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE TABLE user_day (
           |  user_id BIGINT, ws TIMESTAMP(3), n BIGINT, cents_v BIGINT
           |) WITH (
           |  'connector' = 'filesystem', 'path' = '$base/snk',
           |  'format' = 'parquet'
           |);
           |INSERT INTO user_day
           |SELECT user_id, TUMBLE_START(ts, INTERVAL '1' DAY),
           |       COUNT(*), SUM(cents)
           |FROM ev_app GROUP BY user_id, TUMBLE(ts, INTERVAL '1' DAY);
           |CREATE VIEW ev_vp AS
           |SELECT * FROM ev_app WHERE event_type IN ('view', 'purchase');
           |CREATE VIEW conv AS SELECT * FROM ev_vp MATCH_RECOGNIZE (
           |  PARTITION BY user_id
           |  ORDER BY ts
           |  MEASURES first(A.event_id) AS first_view,
           |           last(A.event_id) AS last_view,
           |           count(A) AS n_views, first(B.event_id) AS purchase_id
           |  PATTERN (A+? B) WITHIN INTERVAL '1' HOUR
           |  DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
           |);
           |SELECT d.user_id, SUM(d.n) AS n_events, SUM(d.cents_v) AS cents_total,
           |       MAX(c.conversions) AS conversions
           |FROM user_day d JOIN (
           |  SELECT user_id, COUNT(*) AS conversions FROM conv GROUP BY user_id
           |) c ON d.user_id = c.user_id
           |GROUP BY d.user_id ORDER BY d.user_id""".stripMargin)
    }),

    // LEFT correlate: `LEFT JOIN LATERAL TABLE(...) ON TRUE` → OUTER
    // generate — a doc whose UDTF expansion is EMPTY must still emit
    // one null-padded row (the reference's left-correlate contract,
    // CommonCorrelate with outer join type).
    "q224_flinksql_lateral_outer" -> ((s, d) => {
      graft.functions.Udx.register(s)
      withTables(s, d, "documents")
      FlinkSqlJoins.run(s,
        """SELECT doc_id, t.tok AS tok
          |FROM documents LEFT JOIN LATERAL TABLE(long_tokens(text, 6)) AS t(tok) ON TRUE
          |WHERE doc_id < 50
          |ORDER BY doc_id, tok""".stripMargin)
    }),

    // The scalar-function dialect (FlinkFunctions): the Flink
    // spellings Spark's parser/registry rejects, run VERBATIM through
    // the unified executeSql surface — FLOOR/CEIL to a time unit,
    // SIMILAR TO, TRUNCATE (round-toward-zero), TO/FROM_BASE64 (STRING
    // in, STRING out), SPLIT_INDEX (verbatim separator, 0-based,
    // out-of-range → NULL: 'error' has no 'i' so seg1 IS NULL),
    // IS_ALPHA/IS_DECIMAL, SHA256, CONVERT_TZ (fixed
    // 'yyyy-MM-dd HH:mm:ss' STRING). Every rewrite lands on native
    // codegen'd Spark functions — one projection, scan-speed at any SF.
    "q260_flinksql_functions" -> ((s, d) => {
      Tables.events(s, d).createOrReplaceTempView("events")
      new FlinkSql.Env(s).executeSql(
        """SELECT event_id,
          |       CAST(FLOOR(ts TO HOUR) AS VARCHAR) AS hr_floor,
          |       CAST(CEIL(ts TO DAY) AS VARCHAR) AS day_ceil,
          |       event_type SIMILAR TO '(view|click)' AS is_vc,
          |       CAST(TRUNCATE(value, 1) AS DOUBLE) AS val_t1,
          |       TO_BASE64(event_type) AS b64,
          |       FROM_BASE64(TO_BASE64(event_type)) AS b64rt,
          |       SPLIT_INDEX(event_type, 'i', 1) AS seg1,
          |       IS_ALPHA(event_type) AS alpha,
          |       IS_DECIMAL(CAST(event_id AS VARCHAR)) AS isdec,
          |       SHA256(event_type) AS sha,
          |       STR_TO_MAP(CONCAT('a=', event_type, ',n=1'))['a'] AS m_a,
          |       CONVERT_TZ(CAST(FLOOR(ts TO SECOND) AS VARCHAR),
          |                  'UTC', 'Asia/Shanghai') AS ctz
          |FROM events
          |ORDER BY event_id""".stripMargin).get
    })
  )

  /** Day windows per event type: q227 and q244. */
  private val dayWindowSql = evCte +
    """
      |SELECT date_trunc('day', ts) AS ws, event_type, count(*) AS n,
      |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
      |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracle: Map[String, String] = Map(
    // Tumble = day-trunc; hop = the 4 slide-aligned windows covering
    // each event (slide 6h = 21_600_000_000 µs, size 1d); session =
    // per-user islands, NEW session when the gap to the previous event
    // is >= 30 min (Spark's session_window splits at exactly-gap:
    // a window [t, t+gap) does not contain t+gap), end = last + gap.
    "q208_flinksql_groupwindow" -> (evCte +
      """
        |SELECT * FROM (
        |SELECT 'T' AS kind, event_type AS grp,
        |       date_trunc('day', ts) AS ws,
        |       date_trunc('day', ts) + INTERVAL 1 DAY AS we,
        |       count(*) AS n,
        |       sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
        |FROM ev GROUP BY 2, 3, 4
        |UNION ALL
        |SELECT 'H' AS kind, event_type AS grp, ws,
        |       ws + INTERVAL 1 DAY AS we, count(*) AS n,
        |       sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
        |FROM (
        |  SELECT event_type, value,
        |    make_timestamp((epoch_us(ts) // 21600000000) * 21600000000
        |                   - k.g * 21600000000) AS ws
        |  FROM ev, generate_series(0, 3) k(g))
        |GROUP BY 1, 2, 3, 4
        |UNION ALL
        |SELECT 'S' AS kind, CAST(user_id AS VARCHAR) AS grp,
        |       min(ts) AS ws, max(ts) + INTERVAL 30 MINUTE AS we,
        |       count(*) AS n,
        |       sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
        |FROM (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM (SELECT user_id, ts, event_id, value,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            AS prev_ts
        |        FROM ev))
        |GROUP BY 1, 2, sess_id
        |) ORDER BY kind, grp, ws""".stripMargin),
    "q222_flinksql_temporal" -> (evCte +
      """
        |SELECT user_id, purchase_id, last_view_id, lag_us FROM (
        |  SELECT p.user_id, p.event_id AS purchase_id,
        |         v.event_id AS last_view_id,
        |         epoch_us(p.ts) - epoch_us(v.ts) AS lag_us,
        |         row_number() OVER (PARTITION BY p.event_id
        |           ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM ev WHERE event_type = 'view') v
        |    ON v.user_id = p.user_id AND v.ts <= p.ts)
        |WHERE rn = 1
        |ORDER BY user_id, purchase_id""".stripMargin),
    "q225_flinksql_ddl_pipeline" -> (evCte +
      """
        |SELECT event_type, count(*) AS n,
        |  sum(cents)::BIGINT AS cents_v,
        |  sum(cents * 10)::BIGINT AS x10_v,
        |  count(DISTINCT user_id) AS users
        |FROM (SELECT *, CAST(round(value*100) AS BIGINT) AS cents FROM ev)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q226_flinksql_ddl_partitioned" -> (evCte +
      """
        |SELECT event_type, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q243_flinksql_ddl_avro" -> (evCte +
      """
        |SELECT event_type, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v,
        |  count(DISTINCT user_id) AS users,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin),
    "q244_flinksql_ddl_avro_stream" -> dayWindowSql,
    "q227_flinksql_ddl_stream" -> dayWindowSql,
    "q228_flinksql_unified" -> (evCte +
      """
        |SELECT event_type, date_trunc('day', ts) AS ws,
        |  date_trunc('day', ts) + INTERVAL 1 DAY AS we,
        |  count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM ev GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin),
    // q208's S-branch island algebra, sessions per user
    "q241_flinksql_session_stream" -> (evCte +
      """
        |SELECT CAST(user_id AS VARCHAR) AS grp,
        |       min(ts) AS ws, max(ts) + INTERVAL 30 MINUTE AS we,
        |       count(*) AS n,
        |       sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
        |FROM (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN prev_ts IS NULL
        |              OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |             THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM (SELECT user_id, ts, event_id, value,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            AS prev_ts
        |        FROM ev))
        |GROUP BY user_id, sess_id
        |ORDER BY grp, ws""".stripMargin),
    // evCte + q141's match algebra as a conversions-per-user CTE +
    // whole-corpus per-user totals (summing the day rollup = totals)
    "q234_flinksql_app" -> (evCte +
      """,
        |views AS (SELECT * FROM ev WHERE event_type = 'view'),
        |purch AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT s.user_id, s.event_id AS first_view, j.event_id AS last_view,
        |    s.ts AS s_ts, j.ts AS j_ts, j.event_id AS j_id
        |  FROM views s JOIN views j ON s.user_id = j.user_id
        |   AND (j.ts > s.ts OR (j.ts = s.ts AND j.event_id >= s.event_id))
        |   AND epoch_us(j.ts) - epoch_us(s.ts) <= 3600000000),
        |mr AS (
        |  SELECT user_id, first_view, last_view, purchase_id FROM (
        |    SELECT pr.user_id, pr.first_view, pr.last_view,
        |      p.event_id AS purchase_id,
        |      row_number() OVER (
        |        PARTITION BY pr.user_id, pr.first_view, pr.last_view
        |        ORDER BY p.ts, p.event_id) AS rn
        |    FROM pairs pr JOIN purch p ON p.user_id = pr.user_id
        |     AND (p.ts > pr.j_ts OR (p.ts = pr.j_ts AND p.event_id > pr.j_id))
        |     AND epoch_us(p.ts) - epoch_us(pr.s_ts) <= 3600000000)
        |  WHERE rn = 1),
        |conv AS (SELECT user_id, count(*) AS conversions FROM mr GROUP BY 1),
        |totals AS (
        |  SELECT user_id, count(*) AS n_events,
        |    sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_total
        |  FROM ev GROUP BY user_id)
        |SELECT t.user_id, t.n_events, t.cents_total,
        |       c.conversions::BIGINT AS conversions
        |FROM totals t JOIN conv c USING (user_id)
        |ORDER BY t.user_id""".stripMargin),
    "q223_flinksql_lateral" -> UdxQueries.tokenizeSql,
    "q224_flinksql_lateral_outer" ->
      """SELECT d.doc_id, t.tok AS tok
        |FROM documents d LEFT JOIN LATERAL (
        |  SELECT unnest(list_filter(string_split(d.text, ' '),
        |                            x -> len(x) > 6)) AS tok) t ON TRUE
        |WHERE d.doc_id < 50
        |ORDER BY doc_id, tok""".stripMargin,
    // Mirrors each translated spelling with DuckDB natives: FLOOR/CEIL
    // to unit = date_trunc (+1 unit unless aligned); SIMILAR TO is
    // native in DuckDB; TRUNCATE = floor(x*10)/10 (values ≥ 0 here);
    // base64 via encode/decode blobs; SPLIT_INDEX = 1-based
    // list_extract over str_split (out-of-range → NULL); IS_* as
    // anchored regexes; CONVERT_TZ = the fixed +8h Asia/Shanghai
    // offset formatted back to seconds.
    "q260_flinksql_functions" -> (evCte +
      """
        |SELECT event_id,
        |       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr_floor,
        |       strftime(CASE WHEN date_trunc('day', ts) = ts THEN ts
        |                     ELSE date_trunc('day', ts) + INTERVAL 1 DAY END,
        |                '%Y-%m-%d %H:%M:%S') AS day_ceil,
        |       event_type SIMILAR TO '(view|click)' AS is_vc,
        |       floor(value * 10) / 10 AS val_t1,
        |       base64(encode(event_type)) AS b64,
        |       decode(from_base64(base64(encode(event_type)))) AS b64rt,
        |       list_extract(str_split(event_type, 'i'), 2) AS seg1,
        |       regexp_full_match(event_type, '\p{L}+') AS alpha,
        |       regexp_full_match(CAST(event_id AS VARCHAR),
        |         '[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?[fFdD]?') AS isdec,
        |       sha256(event_type) AS sha,
        |       event_type AS m_a,
        |       strftime(date_trunc('second', ts) + INTERVAL 8 HOUR,
        |                '%Y-%m-%d %H:%M:%S') AS ctz
        |FROM ev
        |ORDER BY event_id""".stripMargin)
  )
}
