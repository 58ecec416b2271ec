package graft.streaming

import org.apache.spark.sql.types._
import graft.{Scratch, SparkSpec}

/** DDL front-end contract: type lattice, quote-aware script
  * splitting, positional INSERT semantics, the WATERMARK→stream
  * wiring, and the loud rejections (q225–q227 bind the end-to-end
  * pipelines against the oracle). */
class FlinkDdlSpec extends SparkSpec {

  test("type lattice maps the Flink DDL names") {
    assert(FlinkDdl.sqlType("BIGINT") === LongType)
    assert(FlinkDdl.sqlType("varchar(255)") === StringType)
    assert(FlinkDdl.sqlType("STRING") === StringType)
    assert(FlinkDdl.sqlType("TIMESTAMP(3)") === TimestampType)
    assert(FlinkDdl.sqlType("DECIMAL(10, 2)") === DecimalType(10, 2))
    assert(FlinkDdl.sqlType("BOOLEAN") === BooleanType)
    val e = intercept[IllegalArgumentException](FlinkDdl.sqlType("GEOMETRY"))
    assert(e.getMessage.contains("unsupported column type"))
  }

  test("script splitting ignores semicolons inside string literals") {
    val stmts = FlinkDdl.splitStatements(
      "CREATE TABLE t (a BIGINT) WITH ('path' = '/x;y');  SELECT 1 ;")
    assert(stmts.size == 2)
    assert(stmts.head.contains("/x;y"))
  }

  test("script splitting honors the SQL '' escape inside literals") {
    // 'it''s; fine' is ONE literal containing a quote and a semicolon —
    // toggling on every quote would mis-split after the escape
    val stmts = FlinkDdl.splitStatements(
      "SELECT 'it''s; fine' AS a; SELECT 2")
    assert(stmts == Seq("SELECT 'it''s; fine' AS a", "SELECT 2"))
    // an escaped quote at the very end of a literal, then a real split
    assert(FlinkDdl.splitStatements("SELECT 'x'''; SELECT 'y;z'").size == 2)
  }

  test("non-filesystem connectors are rejected with the env reason") {
    val env = new FlinkDdl.Env(spark)
    val e = intercept[IllegalArgumentException](env.executeSql(
      "CREATE TABLE k (a BIGINT) WITH ('connector' = 'kafka', 'topic' = 'x')"))
    assert(e.getMessage.contains("external services"))
  }

  test("PROCTIME computed columns are rejected") {
    val env = new FlinkDdl.Env(spark)
    val e = intercept[IllegalArgumentException](env.executeSql(
      """CREATE TABLE t (a BIGINT, p AS PROCTIME())
        |WITH ('connector' = 'filesystem', 'path' = '/tmp/x')""".stripMargin))
    assert(e.getMessage.contains("nondeterministic"))
  }

  test("INSERT aligns positionally and casts to declared types") {
    val base = Scratch.dir("ddlspec")
    val env = new FlinkDdl.Env(spark)
    env.executeSql(
      s"""CREATE TABLE snk (big BIGINT, name STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$base/snk',
         |      'format' = 'parquet')""".stripMargin)
    // source columns are named differently and typed INT — position +
    // cast must carry them into (BIGINT, STRING)
    env.executeSql("INSERT INTO snk SELECT 7 AS x, 'a' AS y")
    val got = env.executeSql("SELECT big, name FROM snk").get.collect()
    assert(got.length == 1 && got(0).getLong(0) == 7L && got(0).getString(1) == "a")
  }

  test("column-count mismatch on INSERT fails loudly") {
    val base = Scratch.dir("ddlspec2")
    val env = new FlinkDdl.Env(spark)
    env.executeSql(
      s"""CREATE TABLE snk2 (a BIGINT, b STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$base/snk',
         |      'format' = 'parquet')""".stripMargin)
    val e = intercept[IllegalArgumentException](
      env.executeSql("INSERT INTO snk2 SELECT 1"))
    assert(e.getMessage.contains("columns for"))
  }

  test("WATERMARK clause becomes withWatermark on the stream read") {
    val base = Scratch.dir("ddlspec3")
    import spark.implicits._
    Seq((1L, 1000000L)).toDF("a", "ts_us").write
      .option("header", "false").csv(s"$base/src")
    val env = new FlinkDdl.Env(spark)
    env.executeSql(
      s"""CREATE TABLE ws (a BIGINT, ts_us BIGINT,
         |  ts AS timestamp_micros(ts_us),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)
         |WITH ('connector.type' = 'filesystem',
         |      'connector.path' = '$base/src', 'format.type' = 'csv')""".stripMargin)
    val stream = env.readStream("ws")
    assert(stream.isStreaming)
    assert(stream.queryExecution.logical.toString.contains("EventTimeWatermark"),
      s"watermark missing from plan:\n${stream.queryExecution.logical}")
  }

  test("SHOW TABLES and DESCRIBE expose the DDL catalog") {
    val base = Scratch.dir("ddlshow")
    val env = new FlinkDdl.Env(spark)
    env.executeSql(
      s"""CREATE TABLE shown (a BIGINT, ts_us BIGINT,
         |  ts AS timestamp_micros(ts_us),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' MINUTE)
         |WITH ('connector' = 'filesystem', 'path' = '$base/x',
         |      'format' = 'parquet')""".stripMargin)
    val names = env.executeSql("SHOW TABLES").get
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("shown"))
    val desc = env.executeSql("DESCRIBE shown").get
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc == Map("a" -> "physical", "ts_us" -> "physical",
      "ts" -> "watermark")) // ts appears as computed AND watermark; map keeps last
    val kinds = env.executeSql("DESC shown").get
      .collect().map(_.getString(2)).toSeq
    assert(kinds.count(_ == "computed") == 1 && kinds.count(_ == "watermark") == 1)
  }

  test("unknown statements are rejected, DROP TABLE forgets the table") {
    val env = new FlinkDdl.Env(spark)
    val e = intercept[IllegalArgumentException](
      env.executeSql("TRUNCATE TABLE t"))
    assert(e.getMessage.contains("unsupported statement"))
    // ALTER RENAME is supported now — but only for known tables
    assert(intercept[IllegalArgumentException](
      env.executeSql("ALTER TABLE t RENAME TO u"))
      .getMessage.contains("unknown table"))
    val base = Scratch.dir("ddlspec4")
    env.executeSql(
      s"""CREATE TABLE gone (a BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$base/x',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("DROP TABLE gone")
    val e2 = intercept[IllegalArgumentException](
      env.executeSql("INSERT INTO gone SELECT 1"))
    assert(e2.getMessage.contains("unknown DDL table"))
  }

  test("avro DDL tables write+read through graft-avro; partition leg rejects") {
    val env = new FlinkDdl.Env(spark)
    val base = Scratch.dir("ddlspec5")
    env.executeSql(
      s"""CREATE TABLE av (a BIGINT, s STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$base/av',
         |      'format' = 'avro')""".stripMargin)
    env.executeSql("INSERT INTO av SELECT 7, 'x'")
    assert(env.executeSql("SELECT a, s FROM av").get
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "x")))
    // container files really are avro, via the raw connector
    assert(spark.read.format("graft-avro").load(s"$base/av")
      .count() == 1)
    val e2 = intercept[IllegalArgumentException](env.executeSql(
      s"""CREATE TABLE avp (a BIGINT, p STRING) PARTITIONED BY (p)
         |WITH ('connector' = 'filesystem', 'path' = '$base/avp',
         |      'format' = 'avro')""".stripMargin))
    assert(e2.getMessage.contains("does not support"))
  }

  test("DDL tail: DROP TABLE/VIEW flag semantics and object-kind checks") {
    val env = new FlinkDdl.Env(spark)
    val base = Scratch.dir("ddltail1")
    // DROP TABLE without IF EXISTS on an unknown name fails loudly
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP TABLE nope")).getMessage.contains("IF EXISTS"))
    env.executeSql("DROP TABLE IF EXISTS nope") // and with the flag: no-op
    env.executeSql(
      s"""CREATE TABLE tt (a BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$base/tt',
         |      'format' = 'parquet')""".stripMargin)
    // a table is not a view
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP VIEW tt")).getMessage.contains("DROP TABLE"))
    env.executeSql("INSERT INTO tt SELECT 5")
    env.executeSql("CREATE VIEW vv AS SELECT a + 1 AS b FROM tt")
    assert(env.executeSql("SELECT b FROM vv").get.head().getLong(0) == 6L)
    env.executeSql("DROP VIEW vv")
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP VIEW vv")).getMessage.contains("IF EXISTS"))
    env.executeSql("DROP VIEW IF EXISTS vv")
  }

  test("DDL tail: ALTER TABLE RENAME keeps the data visible") {
    val env = new FlinkDdl.Env(spark)
    val base = Scratch.dir("ddltail2")
    env.executeSql(
      s"""CREATE TABLE before_t (a BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$base/t',
         |      'format' = 'parquet')""".stripMargin)
    env.executeSql("INSERT INTO before_t SELECT 42")
    env.executeSql("ALTER TABLE before_t RENAME TO after_t")
    assert(env.executeSql("SELECT a FROM after_t").get.head().getLong(0) == 42L)
    assert(intercept[IllegalArgumentException](
      env.executeSql("INSERT INTO before_t SELECT 1"))
      .getMessage.contains("unknown DDL table"))
  }

  test("DDL tail: CREATE/DROP FUNCTION against the shipped class surface") {
    val env = new FlinkDdl.Env(spark)
    env.executeSql(
      "CREATE FUNCTION wavg AS 'graft.functions.Udx$WeightedAvg'")
    val r = env.executeSql(
      "SELECT wavg(v, w) AS m FROM (SELECT 10.0 AS v, 1.0 AS w UNION ALL SELECT 20.0, 3.0)")
    assert(r.get.head().getDouble(0) == 17.5)
    // unknown class: loud, names the available surface
    assert(intercept[IllegalArgumentException](env.executeSql(
      "CREATE FUNCTION f AS 'com.example.MyUdf'"))
      .getMessage.contains("available"))
    // python: out of scope, loud
    assert(intercept[IllegalArgumentException](env.executeSql(
      "CREATE FUNCTION f AS 'x' LANGUAGE PYTHON"))
      .getMessage.contains("out of scope"))
    assert(env.executeSql("SHOW FUNCTIONS").get
      .collect().map(_.getString(0)).toSeq == Seq("wavg"))
    // name collision without IF NOT EXISTS: loud (reference
    // function-already-exists validation), never a silent re-register
    assert(intercept[IllegalArgumentException](env.executeSql(
      "CREATE FUNCTION wavg AS 'graft.functions.Udx$GeoMean'"))
      .getMessage.contains("already exists"))
    // with IF NOT EXISTS: a no-op that keeps the original binding
    env.executeSql(
      "CREATE FUNCTION IF NOT EXISTS wavg AS 'graft.functions.Udx$GeoMean'")
    assert(env.executeSql(
      "SELECT wavg(v, w) AS m FROM (SELECT 10.0 AS v, 1.0 AS w UNION ALL SELECT 20.0, 3.0)")
      .get.head().getDouble(0) == 17.5)
    env.executeSql("DROP FUNCTION wavg")
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP FUNCTION wavg")).getMessage.contains("IF EXISTS"))
    env.executeSql("DROP FUNCTION IF EXISTS wavg")
  }

  test("DDL tail: catalog lifecycle — create, switch, resolve, describe, drop") {
    val env = new FlinkDdl.Env(spark)
    // built-in state
    assert(env.executeSql("SHOW CATALOGS").get
      .collect().map(_.getString(0)).toSeq == Seq("default_catalog"))
    env.executeSql("CREATE CATALOG prod WITH ('owner' = 'pipeline')")
    assert(env.executeSql("SHOW CATALOGS").get
      .collect().map(_.getString(0)).toSeq == Seq("default_catalog", "prod"))
    // collision: loud without IF NOT EXISTS; no-op with it
    assert(intercept[IllegalArgumentException](
      env.executeSql("CREATE CATALOG prod")).getMessage.contains("already exists"))
    env.executeSql("CREATE CATALOG IF NOT EXISTS prod")
    // DESCRIBE surfaces the WITH properties
    val desc = env.executeSql("DESCRIBE CATALOG prod").get.collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("property:owner") == "pipeline")
    // databases are per-catalog: prod's database set starts fresh
    env.executeSql("USE CATALOG prod")
    env.executeSql("CREATE DATABASE raw")
    env.executeSql("USE CATALOG default_catalog")
    assert(intercept[IllegalArgumentException](
      env.executeSql("USE raw")).getMessage.contains("unknown database"))
    // drop guards: not current, not built-in, unknown needs IF EXISTS
    env.executeSql("USE CATALOG prod")
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP CATALOG prod")).getMessage.contains("current"))
    env.executeSql("USE CATALOG default_catalog")
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP CATALOG default_catalog"))
      .getMessage.contains("cannot be dropped"))
    env.executeSql("DROP CATALOG prod")
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP CATALOG prod")).getMessage.contains("IF EXISTS"))
    env.executeSql("DROP CATALOG IF EXISTS prod")
    assert(intercept[IllegalArgumentException](
      env.executeSql("USE CATALOG prod")).getMessage.contains("unknown catalog"))
    // the programmatic reference surface (TableEnvironment.java:104)
    env.registerCatalog("warehouse")
    assert(env.executeSql("SHOW CATALOGS").get.collect()
      .map(_.getString(0)).toSeq == Seq("default_catalog", "warehouse"))
  }

  test("DDL tail: database lifecycle with RESTRICT/CASCADE and USE") {
    val env = new FlinkDdl.Env(spark)
    val base = Scratch.dir("ddltail3")
    env.executeSql("CREATE DATABASE mart")
    assert(intercept[IllegalArgumentException](
      env.executeSql("CREATE DATABASE mart")).getMessage.contains("IF NOT EXISTS"))
    env.executeSql("CREATE DATABASE IF NOT EXISTS mart")
    env.executeSql("USE mart")
    env.executeSql(
      s"""CREATE TABLE martt (a BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$base/mt',
         |      'format' = 'parquet')""".stripMargin)
    // current database cannot be dropped
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP DATABASE mart")).getMessage.contains("current"))
    env.executeSql("USE default_database")
    // non-empty: RESTRICT (default) refuses, names the tables
    assert(intercept[IllegalArgumentException](
      env.executeSql("DROP DATABASE mart")).getMessage.contains("martt"))
    env.executeSql("DROP DATABASE mart CASCADE")
    assert(intercept[IllegalArgumentException](
      env.executeSql("INSERT INTO martt SELECT 1"))
      .getMessage.contains("unknown DDL table"))
    assert(env.executeSql("SHOW DATABASES").get
      .collect().map(_.getString(0)).toSeq == Seq("default_database"))
    // catalogs: only registered ones resolve (multi-catalog lifecycle
    // has its own test above)
    env.executeSql("USE CATALOG default_catalog")
    assert(intercept[IllegalArgumentException](
      env.executeSql("USE CATALOG hive_prod")).getMessage.contains("unknown catalog"))
    assert(intercept[IllegalArgumentException](
      env.executeSql("USE missing_db")).getMessage.contains("unknown database"))
  }

  test("ALTER TABLE SET repoints path and format; alias spellings merge") {
    import spark.implicits._
    val env = new FlinkDdl.Env(spark)
    val base = Scratch.dir("ddlalter1")
    Seq((1L, "csv-row")).toDF("a", "s").write
      .option("header", "false").csv(s"$base/a")
    Seq((2L, "parquet-row")).toDF("a", "s").write.parquet(s"$base/b")
    // created with the 1.10 dotted keys …
    env.executeSql(
      s"""CREATE TABLE moved (a BIGINT, s STRING)
         |WITH ('connector.type' = 'filesystem',
         |      'connector.path' = '$base/a', 'format.type' = 'csv')""".stripMargin)
    assert(env.executeSql("SELECT s FROM moved").get.head().getString(0)
      == "csv-row")
    // … altered with the flat keys: the delta must evict the dotted
    // spellings, not lose to them in the merge
    env.executeSql(
      s"ALTER TABLE moved SET ('path' = '$base/b', 'format' = 'parquet')")
    assert(env.executeSql("SELECT s FROM moved").get.head().getString(0)
      == "parquet-row")
    // invalid delta: loud, and the table keeps its previous binding
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER TABLE moved SET ('format' = 'xml')"))
      .getMessage.contains("unsupported format"))
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER TABLE nope SET ('path' = '/x')"))
      .getMessage.contains("unknown DDL table"))
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER TABLE moved SET ()")).getMessage.contains("no properties"))
  }

  test("ALTER DATABASE SET properties show through DESCRIBE DATABASE") {
    val env = new FlinkDdl.Env(spark)
    env.executeSql("CREATE DATABASE propd")
    env.executeSql("ALTER DATABASE propd SET ('owner' = 'graft')")
    env.executeSql("ALTER DATABASE propd SET ('tier' = 'gold')")
    val rows = env.executeSql("DESCRIBE DATABASE propd").get
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(rows == Seq("database" -> "propd",
      "property:owner" -> "graft", "property:tier" -> "gold"))
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER DATABASE missing SET ('k' = 'v')"))
      .getMessage.contains("unknown database"))
    assert(intercept[IllegalArgumentException](env.executeSql(
      "DESCRIBE DATABASE missing")).getMessage.contains("unknown database"))
  }

  test("ALTER FUNCTION re-registers the name to a different class") {
    val env = new FlinkDdl.Env(spark)
    env.executeSql("CREATE FUNCTION rf AS 'graft.functions.Udx$GeoMean'")
    // GeoMean is unary: geomean(4, 16) per group
    assert(math.abs(env.executeSql(
      "SELECT rf(v) AS m FROM (SELECT 4.0 AS v UNION ALL SELECT 16.0)")
      .get.head().getDouble(0) - 8.0) < 1e-9)
    env.executeSql("ALTER FUNCTION rf AS 'graft.functions.Udx$WeightedAvg'")
    // now binary — a silently ignored ALTER could not analyze this call
    assert(env.executeSql(
      "SELECT rf(v, w) AS m FROM (SELECT 10.0 AS v, 1.0 AS w UNION ALL SELECT 20.0, 3.0)")
      .get.head().getDouble(0) == 17.5)
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER FUNCTION missing AS 'graft.functions.Udx$GeoMean'"))
      .getMessage.contains("IF EXISTS"))
    env.executeSql(
      "ALTER FUNCTION IF EXISTS missing AS 'graft.functions.Udx$GeoMean'")
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER FUNCTION rf AS 'com.example.Nope'"))
      .getMessage.contains("available"))
    assert(intercept[IllegalArgumentException](env.executeSql(
      "ALTER FUNCTION rf AS 'x' LANGUAGE PYTHON"))
      .getMessage.contains("out of scope"))
  }

  test("SHOW CATALOGS and DESCRIBE CATALOG expose the session catalog") {
    val env = new FlinkDdl.Env(spark)
    assert(env.executeSql("SHOW CATALOGS").get
      .collect().map(_.getString(0)).toSeq == Seq("default_catalog"))
    val info = env.executeSql("DESCRIBE CATALOG default_catalog").get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(info("name") == "default_catalog")
    assert(intercept[IllegalArgumentException](env.executeSql(
      "DESCRIBE CATALOG hive_prod")).getMessage.contains("unknown catalog"))
  }
}
