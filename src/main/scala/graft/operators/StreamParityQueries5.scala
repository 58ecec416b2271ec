package graft.operators

import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}

/** Round-7 parity pack: quantified concatenation groups on both CEP
  * surfaces (reference `cep/pattern/GroupPattern.java:30` —
  * `Pattern.begin(Pattern)` quantified via the inherited
  * times/oneOrMore — and its SQL `PATTERN ((A B){2})` form). */
object StreamParityQueries5 extends QuerySet {

  val queries: Map[String, Q] = Map(
    "q273_multi_catalog" -> multiCatalogQuery,

    // CEP quantified CONCATENATION group, Pattern-API surface
    // (GroupPattern.java:30): "(A B){2} within 7d" — two full
    // view-then-purchase cycles per user inside a week, occurrences
    // accumulating under each body step's own name across the group
    // loop. Skip-till-next-match makes the chain per start
    // deterministic (each step takes the FIRST qualifying event in
    // (ts, event_id) arrival order), so the oracle recomputes the
    // chained-firsts directly; a wrong loop-back, a conflated
    // occurrence count, or a missed within bound each break the hash.
    "q254_cep_concat_group" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cep, CepDsl, Event}
      val pat = CepDsl.compile[Event]("(A B){2} within 7d", Map(
        "A" -> ((e, _) => e.event_type == "view"),
        "B" -> ((e, _) => e.event_type == "purchase")))
      val types = Set("view", "purchase")
      Cep.matchBatchSorted(
          Tables.events(s, d).as[Event].filter(e => types(e.event_type)), pat)
        .map { case (user, m) =>
          (user, m("A")(0).event_id, m("B")(0).event_id,
            m("A")(1).event_id, m("B")(1).event_id)
        }.toDF("user_id", "a1", "b1", "a2", "b2")
        .orderBy(col("user_id"), col("a1"))
    }),

    // The same group loop through the SQL front-end: MATCH_RECOGNIZE
    // PATTERN ((A B){2}) — the parser resolves the quantified
    // multi-variable group to the sub-NFA (previously a loud
    // rejection) — with the MEASURES surface reading both
    // occurrences of each body variable.
    "q255_match_concat_group" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Event, MatchRecognize}
      val sql = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES first(A.event_id) AS a1, last(A.event_id) AS a2,
                   first(B.event_id) AS b1, last(B.event_id) AS b2,
                   count(A) AS n_a
          PATTERN ((A B){2}) WITHIN INTERVAL '7' DAY
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        )"""
      val types = Set("view", "purchase")
      MatchRecognize.run(
          Tables.events(s, d).as[Event].filter(e => types(e.event_type)), sql)
        .orderBy(col("user_id"), col("a1"))
    }),

    // Whole DDL LIFECYCLE as one pure-SQL application script (the
    // reference's setup/teardown surface: SqlCreateDatabase,
    // SqlUseCatalog/Database, SqlCreateFunction, SqlAlterTable,
    // SqlDropTable/View/Database) — database created and made
    // current, a function registered from the shipped class surface,
    // a derived table INSERTed then RENAMED, a view over it, the
    // result SELECTed, and every object torn down (DROP VIEW / DROP
    // TABLE / DROP DATABASE CASCADE), exactly the script shape a
    // reference user runs around every job. The already-analyzed
    // SELECT frame survives the teardown (plans bind at analysis).
    "q256_ddl_lifecycle" -> ((s, d) => {
      val base = Scratch.dir("ddlcycle")
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(round(value*100) as bigint)").as("cents"))
        .write.mode("overwrite").option("header", "false").csv(s"$base/src")
      new graft.streaming.FlinkSql.Env(s).executeScript(
        s"""CREATE DATABASE IF NOT EXISTS mart;
           |USE mart;
           |CREATE TABLE ev_l (
           |  event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/src',
           |  'format.type' = 'csv'
           |);
           |CREATE FUNCTION wavg AS 'graft.functions.Udx$$WeightedAvg';
           |CREATE TABLE agg_l (event_type STRING, n BIGINT, cents_sum BIGINT)
           |WITH ('connector' = 'filesystem', 'path' = '$base/snk',
           |      'format' = 'parquet');
           |INSERT INTO agg_l
           |SELECT event_type, COUNT(*), SUM(cents) FROM ev_l GROUP BY event_type;
           |ALTER TABLE agg_l RENAME TO agg_renamed;
           |CREATE VIEW typed AS SELECT * FROM agg_renamed WHERE n > 0;
           |SELECT t.event_type, t.n, t.cents_sum, round(w.wv, 4) AS wv
           |FROM typed t JOIN (
           |  SELECT event_type, wavg(CAST(cents AS DOUBLE), 1.0) AS wv
           |  FROM ev_l GROUP BY event_type
           |) w ON t.event_type = w.event_type
           |ORDER BY t.event_type;
           |DROP VIEW typed;
           |DROP TABLE agg_renamed;
           |DROP TABLE ev_l;
           |USE default_database;
           |DROP DATABASE mart CASCADE""".stripMargin)
    }),

    // The ALTER statement tail as one script (SqlAlterTableProperties /
    // SqlAlterDatabase / SqlAlterFunction, flink-sql-parser/…/ddl/):
    // a database gets properties, a function is re-pointed to a
    // DIFFERENT class (GeoMean → WeightedAvg — load-bearing: the two
    // have different arities, so a silently ignored ALTER fails
    // analysis on the 2-arg call), a view freezes the PRE-alter read
    // of the table (plans bind at analysis), then ALTER TABLE … SET
    // repoints the same table at a different path AND format (csv→
    // parquet, flat keys evicting the dotted spellings the CREATE
    // used) and the final SELECT unions the frozen pre-alter frame
    // with the post-alter read — two disjoint row sets through ONE
    // table name.
    "q258_ddl_alter" -> ((s, d) => {
      val base = Scratch.dir("ddlalter")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(round(value*100) as bigint)").as("cents"))
      ev.filter(col("event_id") % 3 === 0)
        .write.mode("overwrite").option("header", "false").csv(s"$base/a")
      ev.filter(col("event_id") % 3 === 1)
        .write.mode("overwrite").parquet(s"$base/b")
      new graft.streaming.FlinkSql.Env(s).executeScript(
        s"""CREATE DATABASE adb;
           |ALTER DATABASE adb SET ('owner' = 'graft', 'tier' = 'gold');
           |USE adb;
           |CREATE TABLE evt (
           |  event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT
           |) WITH (
           |  'connector.type' = 'filesystem',
           |  'connector.path' = '$base/a',
           |  'format.type' = 'csv'
           |);
           |CREATE FUNCTION favg AS 'graft.functions.Udx$$GeoMean';
           |ALTER FUNCTION favg AS 'graft.functions.Udx$$WeightedAvg';
           |CREATE VIEW pre AS
           |  SELECT 'pre' AS phase, event_type, COUNT(*) AS n,
           |         SUM(cents) AS cents_sum,
           |         round(favg(CAST(cents AS DOUBLE), 1.0), 4) AS m
           |  FROM evt GROUP BY event_type;
           |ALTER TABLE evt SET ('path' = '$base/b', 'format' = 'parquet');
           |SELECT phase, event_type, n, cents_sum, m FROM (
           |  SELECT * FROM pre
           |  UNION ALL
           |  SELECT 'post', event_type, COUNT(*), SUM(cents),
           |         round(favg(CAST(cents AS DOUBLE), 1.0), 4)
           |  FROM evt GROUP BY event_type
           |) u ORDER BY phase, event_type;
           |USE default_database;
           |DROP DATABASE adb CASCADE""".stripMargin)
    })
  )

  // chained firsts in (ts, event_id) arrival order: b1 = first
  // purchase after a1, a2 = first view after b1, b2 = first purchase
  // after a2; the within bound applies to the completing event.
  private val groupChainCte = evCte +
    """,
      |v AS (SELECT * FROM ev WHERE event_type = 'view'),
      |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |s1 AS (
      |  SELECT v.user_id, v.event_id AS a1, v.ts AS ts_a1,
      |    p.event_id AS b1, p.ts AS ts_b1,
      |    row_number() OVER (PARTITION BY v.user_id, v.event_id
      |      ORDER BY p.ts, p.event_id) AS rn
      |  FROM v JOIN p ON p.user_id = v.user_id
      |   AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))),
      |f1 AS (SELECT * FROM s1 WHERE rn = 1),
      |s2 AS (
      |  SELECT f1.user_id, f1.a1, f1.ts_a1, f1.b1, f1.ts_b1,
      |    v2.event_id AS a2, v2.ts AS ts_a2,
      |    row_number() OVER (PARTITION BY f1.user_id, f1.a1
      |      ORDER BY v2.ts, v2.event_id) AS rn
      |  FROM f1 JOIN v v2 ON v2.user_id = f1.user_id
      |   AND (v2.ts > f1.ts_b1 OR (v2.ts = f1.ts_b1 AND v2.event_id > f1.b1))),
      |f2 AS (SELECT * FROM s2 WHERE rn = 1),
      |s3 AS (
      |  SELECT f2.user_id, f2.a1, f2.ts_a1, f2.b1, f2.a2, f2.ts_a2,
      |    p2.event_id AS b2, p2.ts AS ts_b2,
      |    row_number() OVER (PARTITION BY f2.user_id, f2.a1
      |      ORDER BY p2.ts, p2.event_id) AS rn
      |  FROM f2 JOIN p p2 ON p2.user_id = f2.user_id
      |   AND (p2.ts > f2.ts_a2 OR (p2.ts = f2.ts_a2 AND p2.event_id > f2.a2))),
      |f3 AS (SELECT * FROM s3 WHERE rn = 1
      |       AND epoch_us(ts_b2) - epoch_us(ts_a1) <= 604800000000)""".stripMargin

  private def multiCatalogQuery: Q = (s, d) => {
    // Multi-catalog lifecycle (reference TableEnvironment
    // .registerCatalog, TableEnvironment.java:104; the CREATE CATALOG
    // SQL spelling binds to the same semantic): a SECOND catalog gets
    // its own database and a table under the SAME NAME as a
    // default-catalog table but over DIFFERENT data; unqualified
    // resolution must follow the current catalog, and a view created
    // inside the second catalog freezes its binding (plans bind at
    // analysis — the q258 discipline), so the final frame carries both
    // resolutions of one table name side by side. Any cross-catalog
    // leak (shared table registry, unswitched view binding, wrong
    // current-database tracking) breaks the hash.
    val base = Scratch.dir("multicat")
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"))
    ev.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").option("header", "false").csv(s"$base/a")
    ev.filter(col("event_id") % 3 === 0)
      .write.mode("overwrite").option("header", "false").csv(s"$base/b")
    new graft.streaming.FlinkSql.Env(s).executeScript(
      s"""CREATE TABLE ev (event_id BIGINT, event_type STRING)
         |WITH ('connector'='filesystem','path'='$base/a','format'='csv');
         |CREATE CATALOG prod WITH ('type'='graft-session','owner'='pipeline');
         |USE CATALOG prod;
         |CREATE DATABASE raw;
         |USE raw;
         |CREATE TABLE ev (event_id BIGINT, event_type STRING)
         |WITH ('connector'='filesystem','path'='$base/b','format'='csv');
         |CREATE VIEW prod_counts AS
         |  SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type;
         |USE CATALOG default_catalog;
         |SELECT 'default' AS catalog_src, event_type, COUNT(*) AS n
         |FROM ev GROUP BY event_type
         |UNION ALL
         |SELECT 'prod' AS catalog_src, event_type, n FROM prod_counts
         |ORDER BY catalog_src, event_type""".stripMargin)
  }

  val oracle: Map[String, String] = Map(
    "q273_multi_catalog" ->
      """SELECT catalog_src, event_type, n FROM (
        |  SELECT 'default' AS catalog_src, event_type, count(*) AS n
        |  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'prod', event_type, count(*)
        |  FROM events WHERE event_id % 3 = 0 GROUP BY event_type
        |) u ORDER BY catalog_src, event_type""".stripMargin,
    "q256_ddl_lifecycle" ->
      """WITH ev AS (SELECT event_type,
        |  cast(round(value*100) as bigint) AS cents FROM events)
        |SELECT event_type, count(*) AS n, sum(cents)::BIGINT AS cents_sum,
        |  round(sum(cents)::DOUBLE / count(*), 4) AS wv
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q254_cep_concat_group" -> (groupChainCte +
      """
        |SELECT user_id, a1, b1, a2, b2 FROM f3
        |ORDER BY user_id, a1""".stripMargin),
    "q255_match_concat_group" -> (groupChainCte +
      """
        |SELECT user_id, a1, a2, b1, b2, 2::BIGINT AS n_a FROM f3
        |ORDER BY user_id, a1""".stripMargin),
    "q258_ddl_alter" ->
      """WITH ev AS (SELECT event_id, event_type,
        |  cast(round(value*100) as bigint) AS cents FROM events)
        |SELECT phase, event_type, n, cents_sum, m FROM (
        |  SELECT 'pre' AS phase, event_type, count(*) AS n,
        |    sum(cents)::BIGINT AS cents_sum,
        |    round(sum(cents)::DOUBLE / count(*), 4) AS m
        |  FROM ev WHERE event_id % 3 = 0 GROUP BY event_type
        |  UNION ALL
        |  SELECT 'post', event_type, count(*), sum(cents)::BIGINT,
        |    round(sum(cents)::DOUBLE / count(*), 4)
        |  FROM ev WHERE event_id % 3 = 1 GROUP BY event_type
        |) u ORDER BY phase, event_type""".stripMargin
  )
}
