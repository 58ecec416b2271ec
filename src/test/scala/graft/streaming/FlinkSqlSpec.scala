package graft.streaming

import graft.{Scratch, SparkSpec, Tables}

/** Unified-executeSql routing: each statement kind must land on the
  * same result its dedicated front-end produces (q228 binds the
  * DDL+group-window composition against the oracle). */
class FlinkSqlSpec extends SparkSpec {
  import spark.implicits._

  private def env = new FlinkSql.Env(spark)

  test("MATCH_RECOGNIZE statements route to the CEP front-end") {
    Tables.events(spark, sf).createOrReplaceTempView("events_mr")
    val clause =
      """PARTITION BY user_id ORDER BY ts
        |MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (A B)
        |DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        |""".stripMargin
    val unified = env.executeSql(
      s"SELECT * FROM events_mr MATCH_RECOGNIZE ($clause)").get
    val direct = MatchRecognize.run(
      Tables.events(spark, sf).as[Event], clause)
    assert(unified.collect().toSet == direct.collect().toSet)
    assert(unified.count() > 0)
  }

  test("FOR SYSTEM_TIME statements route to the temporal front-end") {
    Seq((1L, 10L, 100L)).toDF("user_id", "event_id", "us")
      .selectExpr("user_id", "event_id", "timestamp_micros(us) AS ts")
      .createOrReplaceTempView("uni_l")
    Seq((1L, 1L, 50L)).toDF("user_id", "event_id", "us")
      .selectExpr("user_id", "event_id", "timestamp_micros(us) AS ts")
      .createOrReplaceTempView("uni_r")
    val got = env.executeSql(
      """SELECT o.event_id AS oid, r.event_id AS vid
        |FROM uni_l o JOIN uni_r FOR SYSTEM_TIME AS OF o.ts AS r
        |ON o.user_id = r.user_id""".stripMargin).get.collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((10L, 1L)))
  }

  test("CREATE VIEW with a routed body registers the routed result") {
    Tables.events(spark, sf).createOrReplaceTempView("events_rv")
    val e = env
    e.executeSql(
      """CREATE VIEW rv AS SELECT * FROM events_rv MATCH_RECOGNIZE (
        |PARTITION BY user_id ORDER BY ts
        |MEASURES FIRST(A.event_id) AS a_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (A)
        |DEFINE A AS A.event_type = 'purchase')""".stripMargin)
    val viaView = e.executeSql("SELECT COUNT(*) AS c FROM rv").get
      .head().getLong(0)
    val direct = Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
      .count()
    assert(viaView == direct && viaView > 0)
  }

  test("plain SQL and LATERAL TABLE text flow through the rewriters") {
    graft.functions.Udx.register(spark)
    Seq((1L, "a bb")).toDF("doc_id", "text").createOrReplaceTempView("uni_d")
    val got = env.executeSql(
      """SELECT doc_id, t.tok AS tok
        |FROM uni_d, LATERAL TABLE(long_tokens(text, 1)) AS t(tok)""".stripMargin)
      .get.collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "bb")))
    // plain SQL untouched
    assert(env.executeSql("SELECT 1 AS one").get.head().getInt(0) == 1)
  }

  test("EXPLAIN returns the four-section plan text, incl. routed bodies") {
    Tables.events(spark, sf).createOrReplaceTempView("events_ex")
    val plan = env.executeSql(
      "EXPLAIN PLAN FOR SELECT event_type, count(*) AS n FROM events_ex GROUP BY 1")
      .get.head().getString(0)
    Seq("== Parsed Logical Plan ==", "== Analyzed Logical Plan ==",
      "== Optimized Logical Plan ==", "== Physical Plan ==", "HashAggregate")
      .foreach(s => assert(plan.contains(s), s"missing $s"))
    // a MATCH_RECOGNIZE body routes through the dispatcher and explains
    val mrPlan = env.executeSql(
      """EXPLAIN SELECT * FROM events_ex MATCH_RECOGNIZE (
        |PARTITION BY user_id ORDER BY ts
        |MEASURES FIRST(A.event_id) AS a_id
        |AFTER MATCH SKIP PAST LAST ROW
        |PATTERN (A) DEFINE A AS A.event_type = 'view')""".stripMargin)
      .get.head().getString(0)
    assert(mrPlan.contains("== Physical Plan =="))
    val e = intercept[IllegalArgumentException](
      env.executeSql("EXPLAIN DROP TABLE nope"))
    assert(e.getMessage.contains("SELECT or INSERT"))
  }

  test("EXPLAIN INSERT shows the sink plan without writing") {
    // the reference explains INSERT statements (explainSql surface) —
    // the plan must come back WITHOUT the side effect executing
    val base = Scratch.dir("explins")
    val env2 = new FlinkSql.Env(spark)
    Tables.events(spark, sf).createOrReplaceTempView("events_ei")
    env2.executeSql(
      s"""CREATE TABLE ei_snk (t STRING, n BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$base/snk',
         |      'format' = 'parquet')""".stripMargin)
    val plan = env2.executeSql(
      "EXPLAIN INSERT INTO ei_snk SELECT event_type, count(*) FROM events_ei GROUP BY 1")
      .get.head().getString(0)
    assert(plan.contains("== Sink: DDL table ei_snk =="))
    assert(plan.contains("== Physical Plan ==") && plan.contains("HashAggregate"))
    // the cast-to-declared-types alignment is part of the explained plan
    assert(plan.toLowerCase.contains("cast"))
    // …and nothing was written
    assert(!new java.io.File(s"$base/snk").exists(),
      "EXPLAIN INSERT must not execute the write")
    // the lazy sink stays usable afterwards
    env2.executeSql("INSERT INTO ei_snk SELECT event_type, count(*) FROM events_ei GROUP BY 1")
    assert(env2.executeSql("SELECT sum(n) AS s FROM ei_snk").get.head().getLong(0) ==
      Tables.events(spark, sf).count())
  }
}
