package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Flink-SQL DDL front-end — the `TableEnvironment.executeSql` script
  * surface: a reference user's PURE-SQL pipeline (`CREATE TABLE … WITH
  * (connector properties)`, `CREATE VIEW`, `INSERT INTO t SELECT …`,
  * trailing `SELECT`) runs verbatim with no DataFrame code at all.
  * The statement tail covers the whole `flink-sql-parser` ddl/dql
  * surface: DROP TABLE/VIEW, ALTER TABLE (RENAME TO, SET properties),
  * CREATE/DROP/ALTER FUNCTION, CREATE/DROP/ALTER DATABASE, USE [CATALOG],
  * SHOW TABLES/DATABASES/FUNCTIONS/CATALOGS, DESCRIBE
  * [TABLE|DATABASE|CATALOG].
  *
  * Reference: the DDL grammar in `flink-table/flink-sql-parser/…/
  * FlinkSqlParserImplTest.java:207` (CREATE TABLE with computed
  * columns, WATERMARK, PARTITIONED BY, WITH property maps) executed
  * through `TableEnvironment.sqlUpdate/executeSql`; the filesystem
  * connector property keys from the descriptor tests
  * (`flink-table-planner/…/descriptors/FileSystemTest.scala`:
  * `connector.type`=`filesystem`, `connector.path`, `format.type`).
  * Both the 1.10 dotted keys and the later flat keys
  * (`connector`/`path`/`format`) are accepted.
  *
  * Mapping (all onto the native Spark readers/writers — the rewrite
  * costs nothing at scale; Catalyst sees ordinary relations):
  *  - CREATE TABLE + filesystem connector → `spark.read.format(fmt)
  *    .schema(declared)` registered as a temp view; a sink whose path
  *    does not exist yet registers lazily on first INSERT.
  *  - computed columns (`g AS expr`) → projection over the scan.
  *  - `WATERMARK FOR ts AS ts - INTERVAL 'n' U` → recorded; applied
  *    as `withWatermark` when the table is read as a STREAM
  *    ([[FlinkDdl.Env.readStream]]); metadata on the batch path (same
  *    division as the reference: watermarks only gate event-time
  *    operators).
  *  - PARTITIONED BY → `write.partitionBy` on the INSERT path.
  *  - INSERT INTO → positional column alignment + cast to the
  *    declared types, then a format write (INSERT OVERWRITE supported).
  *
  * Loud rejections: non-filesystem connectors (kafka/elasticsearch…
  * are environment-dependent), PROCTIME() computed columns
  * (processing time is nondeterministic by definition), unsupported
  * types, and any statement the parser did not consume.
  */
object FlinkDdl {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"FlinkDdl: $msg")

  final case class TableDef(name: String, schema: StructType,
      computed: Seq[(String, String)], watermark: Option[(String, String)],
      partitionedBy: Seq[String], path: String, format: String)

  /** Parse a Flink SQL type name to a Spark type. */
  def sqlType(t: String): DataType = {
    val up = t.trim.toUpperCase
    val Dec = """DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r
    up match {
      case "BIGINT" => LongType
      case "INT" | "INTEGER" => IntegerType
      case "SMALLINT" => ShortType
      case "TINYINT" => ByteType
      case "DOUBLE" => DoubleType
      case "FLOAT" | "REAL" => FloatType
      case "BOOLEAN" => BooleanType
      case "DATE" => DateType
      case s if s.startsWith("TIMESTAMP") => TimestampType
      case s if s.startsWith("VARCHAR") || s.startsWith("CHAR") || s == "STRING" =>
        StringType
      case Dec(p, sc) => DecimalType(p.toInt, sc.toInt)
      case other => fail(s"unsupported column type $other")
    }
  }

  // cols is NON-greedy: a greedy capture would swallow the optional
  // PARTITIONED BY clause into the column list
  private val CreateTableRe =
    """(?is)^\s*CREATE\s+TABLE\s+(\w+)\s*\((.*?)\)\s*(?:PARTITIONED\s+BY\s*\(([\w\s,]+)\)\s*)?WITH\s*\((.*)\)\s*$""".r
  private val CreateViewRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?VIEW\s+(\w+)\s+AS\s+(SELECT\b.*)$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+(\w+)\s+(SELECT\b.*|VALUES\b.*)$""".r
  private val SelectRe = """(?is)^\s*\(?\s*SELECT\b.*$""".r
  private val DropRe = """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*$""".r
  private val DropViewRe =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+)?VIEW\s+(IF\s+EXISTS\s+)?(\w+)\s*$""".r
  private val AlterRenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+TO\s+(\w+)\s*$""".r
  private val AlterTblPropsRe =
    """(?is)^\s*ALTER\s+TABLE\s+(\w+)\s+SET\s*\((.*)\)\s*$""".r
  private val AlterDbRe =
    """(?is)^\s*ALTER\s+DATABASE\s+(\w+)\s+SET\s*\((.*)\)\s*$""".r
  private val AlterFnRe =
    """(?is)^\s*ALTER\s+(?:TEMPORARY\s+(?:SYSTEM\s+)?)?FUNCTION\s+(IF\s+EXISTS\s+)?(\w+)\s+AS\s+'([^']+)'\s*(?:LANGUAGE\s+(\w+)\s*)?$""".r
  private val CreateFnRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+(?:SYSTEM\s+)?)?FUNCTION\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+AS\s+'([^']+)'\s*(?:LANGUAGE\s+(\w+)\s*)?$""".r
  private val DropFnRe =
    """(?is)^\s*DROP\s+(?:TEMPORARY\s+(?:SYSTEM\s+)?)?FUNCTION\s+(IF\s+EXISTS\s+)?(\w+)\s*$""".r
  private val CreateDbRe =
    """(?is)^\s*CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*$""".r
  private val DropDbRe =
    """(?is)^\s*DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?(\w+)\s*(?:(CASCADE|RESTRICT)\s*)?$""".r
  private val UseCatalogRe = """(?is)^\s*USE\s+CATALOG\s+(\w+)\s*$""".r
  private val CreateCatRe =
    """(?is)^\s*CREATE\s+CATALOG\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)\s*(?:WITH\s*\((.*)\)\s*)?$""".r
  private val DropCatRe =
    """(?is)^\s*DROP\s+CATALOG\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*$""".r
  private val UseDbRe = """(?is)^\s*USE\s+(\w+)\s*$""".r
  private val ShowDbRe = """(?is)^\s*SHOW\s+DATABASES\s*$""".r
  private val ShowFnRe = """(?is)^\s*SHOW\s+FUNCTIONS\s*$""".r
  private val ShowCatRe = """(?is)^\s*SHOW\s+CATALOGS\s*$""".r
  private val ShowRe = """(?is)^\s*SHOW\s+TABLES\s*$""".r
  private val DescCatRe =
    """(?is)^\s*DESC(?:RIBE)?\s+CATALOG\s+(\w+)\s*$""".r
  private val DescDbRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DATABASE\s+(?:EXTENDED\s+)?(\w+)\s*$""".r
  private val DescRe = """(?is)^\s*DESC(?:RIBE)?\s+(\w+)\s*$""".r
  private val WatermarkRe =
    """(?is)^\s*WATERMARK\s+FOR\s+(\w+)\s+AS\s+\w+\s*-\s*INTERVAL\s+'(\d+)'\s+(\w+)\s*$""".r
  private val ComputedRe = """(?is)^\s*(\w+)\s+AS\s+(.+)$""".r
  private val ColumnRe = """(?is)^\s*(\w+)\s+([A-Za-z]+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*(?:COMMENT\s+'[^']*')?\s*$""".r
  private val PropRe = """'([^']+)'\s*=\s*'([^']*)'""".r

  /** Split a script on statement-terminating semicolons — quote-aware,
    * including the SQL `''` escape: a doubled quote inside a quoted
    * region is a literal quote, not a close-then-reopen, so a literal
    * like 'it''s; fine' cannot mis-split the script. */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (c == '\'') {
        if (inQuote && i + 1 < script.length && script.charAt(i + 1) == '\'') {
          cur.append("''"); i += 1 // escaped quote: consume both
        } else { inQuote = !inQuote; cur.append('\'') }
      } else if (c == ';' && !inQuote) { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** A catalog of DDL-declared tables bound to one session.
    * `selectRewriter` runs over every SELECT body (bare, INSERT, and
    * CREATE VIEW) before execution — the hook [[FlinkSql]] uses to
    * compose the dialect rewriters (group windows, LATERAL TABLE)
    * with the DDL surface. */
  /** CREATE FUNCTION class registry: the reference registers by JVM
    * class name (`flink-sql-parser/.../ddl/SqlCreateFunction.java`);
    * offline, the loadable classes are the shipped UDx surface —
    * anything else fails loudly with the available names. Both the
    * full class name and the bare class name resolve. */
  private val functionClasses: Map[String, (SparkSession, String) => Unit] = {
    import org.apache.spark.sql.functions.udaf
    import graft.functions.Udx
    val base = Map[String, (SparkSession, String) => Unit](
      "graft.functions.Udx$WeightedAvg" ->
        ((s, n) => s.udf.register(n, udaf(new Udx.WeightedAvg))),
      "graft.functions.Udx$GeoMean" ->
        ((s, n) => s.udf.register(n, udaf(new Udx.GeoMean))),
      "graft.functions.Udx$Top2" ->
        ((s, n) => s.udf.register(n, udaf(new Udx.Top2))),
      "graft.functions.Udx$Tokenize" ->
        ((s, n) => s.udf.register(n, (t: String) => Udx.tokenize(t))))
    base ++ base.map { case (k, v) => k.substring(k.indexOf('$') + 1) -> v }
  }

  final class Env(spark: SparkSession,
      selectRewriter: String => String = identity) {
    // Database statements (SqlCreateDatabase/SqlDropDatabase/
    // SqlUseCatalog/SqlUseDatabase): databases are registry-level
    // namespaces — existence and currency are tracked and enforced;
    // the tables themselves stay session-global temp views (the
    // reference's TEMPORARY objects are similarly catalog-transparent).
    // Each table records its owning database so RESTRICT/CASCADE
    // drops behave.
    //
    // Catalogs are one level up (reference: TableEnvironment
    // .registerCatalog, TableEnvironment.java:104 — 1.10's parser has
    // no CREATE CATALOG statement yet; the SQL spelling accepted here
    // is the one later Flink releases bind to exactly this
    // registerCatalog semantic). Each catalog owns its own database
    // set, current database, and table registry; unqualified names
    // resolve against the CURRENT catalog, so USE CATALOG re-binds
    // the bare-name temp views to the target catalog's tables.
    private final class CatalogState {
      val tables = mutable.Map.empty[String, TableDef]
      val dbs = mutable.Set("default_database")
      var currentDb = "default_database"
      val tableDb = mutable.Map.empty[String, String]
      val tableProps = mutable.Map.empty[String, Map[String, String]]
      val dbProps = mutable.Map.empty[String, Map[String, String]]
    }
    private val catalogs = mutable.Map("default_catalog" -> new CatalogState)
    private val catalogProps = mutable.Map.empty[String, Map[String, String]]
    private var currentCatalog = "default_catalog"
    private def cat: CatalogState = catalogs(currentCatalog)
    private def tables = cat.tables
    private def dbs = cat.dbs
    private def currentDb = cat.currentDb
    private def currentDb_=(v: String): Unit = cat.currentDb = v
    private def tableDb = cat.tableDb
    private def tableProps = cat.tableProps
    private def dbProps = cat.dbProps
    // temporary functions are catalog-transparent in the reference —
    // session-global here for the same reason temp views are
    private val functions = mutable.Set.empty[String]

    /** Reference `TableEnvironment.registerCatalog` (:104): register a
      * fresh catalog namespace. The `CREATE CATALOG` SQL spelling
      * routes here. */
    def registerCatalog(name: String,
        props: Map[String, String] = Map.empty): Unit = {
      if (catalogs.contains(name) || name == "spark_catalog")
        fail(s"CREATE CATALOG: $name already exists (use IF NOT EXISTS)")
      catalogs(name) = new CatalogState
      if (props.nonEmpty) catalogProps(name) = props
    }
    // Raw WITH-property maps (CatalogState.tableProps/dbProps) keep
    // ALTER TABLE … SET (…) / SqlAlterDatabase / SqlDescribeDatabase
    // able to merge deltas and re-derive storage bindings.

    def table(name: String): TableDef =
      tables.getOrElse(name, fail(s"unknown DDL table $name"))

    /** Execute one statement; SELECTs return their frame. */
    def executeSql(stmt: String): Option[DataFrame] = stmt match {
      case CreateTableRe(name, cols, parts, props) =>
        createTable(name, cols, Option(parts), props); None
      case CreateViewRe(name, select) =>
        spark.sql(selectRewriter(select)).createOrReplaceTempView(name); None
      case InsertRe(mode, name, select) =>
        insert(name, select, mode.equalsIgnoreCase("OVERWRITE")); None
      case s if SelectRe.matches(s) => Some(spark.sql(selectRewriter(s)))
      case DropRe(ifExists, name) =>
        if (tables.remove(name).isEmpty && ifExists == null)
          fail(s"DROP TABLE: unknown table $name (use IF EXISTS)")
        tableDb.remove(name); tableProps.remove(name)
        spark.catalog.dropTempView(name); None
      case DropViewRe(ifExists, name) =>
        // a DDL TABLE is not a view — the reference's DropView checks
        // the object kind (SqlDropView vs SqlDropTable)
        if (tables.contains(name))
          fail(s"DROP VIEW: $name is a table (use DROP TABLE)")
        if (!spark.catalog.dropTempView(name) && ifExists == null)
          fail(s"DROP VIEW: unknown view $name (use IF EXISTS)")
        None
      case AlterRenameRe(from, to) =>
        val t = tables.remove(from).getOrElse(
          fail(s"ALTER TABLE: unknown table $from"))
        if (tables.contains(to)) fail(s"ALTER TABLE: $to already exists")
        val renamed = t.copy(name = to)
        tables(to) = renamed
        tableDb.put(to, tableDb.remove(from).getOrElse(currentDb))
        tableProps.remove(from).foreach(tableProps.put(to, _))
        spark.catalog.dropTempView(from)
        val fsPath = new org.apache.hadoop.fs.Path(renamed.path)
        if (fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(fsPath)) register(renamed)
        None
      // ALTER TABLE … SET ('k'='v', …) — SqlAlterTableProperties
      // (flink-sql-parser/…/ddl/SqlAlterTableProperties.java): merge
      // the delta into the WITH map and re-derive the storage binding,
      // so a table can be repointed (new path) or re-formatted. A key
      // given in either the 1.10 dotted or the flat spelling evicts
      // the other spelling from the merge, whichever the CREATE used.
      case AlterTblPropsRe(name, propsSrc) =>
        val t = table(name)
        val delta = PropRe.findAllMatchIn(propsSrc)
          .map(m => m.group(1) -> m.group(2)).toMap
        if (delta.isEmpty) fail(s"ALTER TABLE $name SET: no properties given")
        val aliases = Map(
          "path" -> "connector.path", "connector.path" -> "path",
          "format" -> "format.type", "format.type" -> "format",
          "connector" -> "connector.type", "connector.type" -> "connector")
        val merged = (tableProps.getOrElse(name, Map.empty) --
          delta.keys.flatMap(aliases.get)) ++ delta
        val (path, format) = storage(name, merged, t.partitionedBy.nonEmpty)
        val updated = t.copy(path = path, format = format)
        tables(name) = updated
        tableProps(name) = merged
        val fsP = new org.apache.hadoop.fs.Path(path)
        if (fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .exists(fsP)) register(updated)
        else spark.catalog.dropTempView(name) // back to lazy-sink state
        None
      // ALTER DATABASE … SET (…) — SqlAlterDatabase.java: property
      // merge on the database registry entry (visible via DESCRIBE
      // DATABASE).
      case AlterDbRe(name, propsSrc) =>
        if (!dbs.contains(name)) fail(s"ALTER DATABASE: unknown database $name")
        val delta = PropRe.findAllMatchIn(propsSrc)
          .map(m => m.group(1) -> m.group(2)).toMap
        if (delta.isEmpty) fail(s"ALTER DATABASE $name SET: no properties given")
        dbProps(name) = dbProps.getOrElse(name, Map.empty) ++ delta
        None
      // ALTER FUNCTION … AS '<class>' — SqlAlterFunction.java:
      // re-resolve the name to a (possibly different) class on the
      // offline surface and re-register it under the same name.
      case AlterFnRe(ifExists, name, cls, lang) =>
        if (lang != null && !Set("JAVA", "SCALA")(lang.toUpperCase))
          fail(s"ALTER FUNCTION $name: LANGUAGE ${lang.toUpperCase} is " +
            "out of scope (JVM languages only)")
        if (!functions.contains(name)) {
          if (ifExists == null)
            fail(s"ALTER FUNCTION: unknown function $name (use IF EXISTS)")
        } else {
          val reg = functionClasses.getOrElse(cls, fail(
            s"ALTER FUNCTION $name: class '$cls' is not on the offline " +
              s"function surface; available: ${functionClasses.keys.toSeq.sorted.mkString(", ")}"))
          reg(spark, name)
        }
        None
      case CreateFnRe(ifNotExists, name, cls, lang) =>
        if (lang != null && !Set("JAVA", "SCALA")(lang.toUpperCase))
          fail(s"CREATE FUNCTION $name: LANGUAGE ${lang.toUpperCase} is " +
            "out of scope (JVM languages only)")
        if (functions.contains(name)) {
          // reference parity (FunctionCatalog: function-already-exists
          // validation): a bare CREATE FUNCTION on a taken name fails
          // loudly instead of silently re-registering — the same
          // contract DROP/CREATE DATABASE and DROP TABLE honor here.
          if (ifNotExists == null)
            fail(s"CREATE FUNCTION: $name already exists (use IF NOT EXISTS)")
        } else {
          val reg = functionClasses.getOrElse(cls, fail(
            s"CREATE FUNCTION $name: class '$cls' is not on the offline " +
              s"function surface; available: ${functionClasses.keys.toSeq.sorted.mkString(", ")}"))
          reg(spark, name)
          functions += name
        }
        None
      case DropFnRe(ifExists, name) =>
        if (!functions.remove(name) && ifExists == null)
          fail(s"DROP FUNCTION: unknown function $name (use IF EXISTS)")
        spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $name"); None
      case CreateDbRe(ifNotExists, name) =>
        if (dbs.contains(name) && ifNotExists == null)
          fail(s"CREATE DATABASE: $name already exists (use IF NOT EXISTS)")
        dbs += name; None
      case DropDbRe(ifExists, name, modeOrNull) =>
        if (!dbs.contains(name)) {
          if (ifExists == null)
            fail(s"DROP DATABASE: unknown database $name (use IF EXISTS)")
        } else {
          if (name == currentDb) fail(s"DROP DATABASE: $name is the current database")
          val owned = tableDb.collect { case (t, d) if d == name => t }.toSeq
          val cascade = modeOrNull != null && modeOrNull.equalsIgnoreCase("CASCADE")
          if (owned.nonEmpty && !cascade)
            fail(s"DROP DATABASE: $name is not empty " +
              s"(tables: ${owned.sorted.mkString(", ")}); use CASCADE")
          owned.foreach { t =>
            tables.remove(t); tableDb.remove(t); tableProps.remove(t)
            spark.catalog.dropTempView(t)
          }
          dbs -= name; dbProps.remove(name)
        }
        None
      case CreateCatRe(ifNotExists, name, propsSrc) =>
        if (catalogs.contains(name) || name == "spark_catalog") {
          if (ifNotExists == null)
            fail(s"CREATE CATALOG: $name already exists (use IF NOT EXISTS)")
        } else registerCatalog(name,
          if (propsSrc == null) Map.empty
          else PropRe.findAllMatchIn(propsSrc)
            .map(m => m.group(1) -> m.group(2)).toMap)
        None
      case DropCatRe(ifExists, name) =>
        if (name == "default_catalog" || name == "spark_catalog")
          fail("DROP CATALOG: the built-in session catalog cannot be dropped")
        if (name == currentCatalog)
          fail(s"DROP CATALOG: $name is the current catalog")
        if (catalogs.remove(name).isEmpty && ifExists == null)
          fail(s"DROP CATALOG: unknown catalog $name (use IF EXISTS)")
        catalogProps.remove(name)
        None
      case UseCatalogRe(name) =>
        val resolved = if (name == "spark_catalog") "default_catalog" else name
        if (!catalogs.contains(resolved))
          fail(s"USE CATALOG: unknown catalog $name " +
            "(SHOW CATALOGS lists the registered set)")
        if (resolved != currentCatalog) {
          // unqualified names resolve against the CURRENT catalog:
          // unbind the outgoing catalog's bare-name views, bind the
          // incoming one's (existence-checked, like ALTER … RENAME)
          tables.keys.foreach(spark.catalog.dropTempView(_))
          currentCatalog = resolved
          tables.values.foreach { t =>
            val fsPath = new org.apache.hadoop.fs.Path(t.path)
            if (fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .exists(fsPath)) register(t)
          }
        }
        None
      case ShowDbRe() =>
        import spark.implicits._
        Some(dbs.toSeq.sorted.toDF("database_name"))
      case ShowFnRe() =>
        import spark.implicits._
        Some(functions.toSeq.sorted.toDF("function_name"))
      case UseDbRe(name) if !name.equalsIgnoreCase("CATALOG") =>
        if (!dbs.contains(name)) fail(s"USE: unknown database $name")
        currentDb = name; None
      case ShowCatRe() =>
        import spark.implicits._
        Some(catalogs.keys.toSeq.sorted.toDF("catalog_name"))
      case ShowRe() =>
        import spark.implicits._
        Some(tables.keys.toSeq.sorted.toDF("table_name"))
      // DESCRIBE CATALOG / DATABASE — SqlDescribeCatalog.java /
      // SqlDescribeDatabase.java: (info_name, info_value) rows, the
      // database form listing its ALTER-set properties.
      case DescCatRe(name) =>
        import spark.implicits._
        val resolved = if (name == "spark_catalog") "default_catalog" else name
        if (!catalogs.contains(resolved))
          fail(s"DESCRIBE CATALOG: unknown catalog $name")
        val props = catalogProps.getOrElse(resolved, Map.empty)
        Some((Seq(("name", name), ("type", "graft-session")) ++
            props.toSeq.sortBy(_._1).map { case (k, v) => (s"property:$k", v) })
          .toDF("info_name", "info_value"))
      case DescDbRe(name) =>
        import spark.implicits._
        if (!dbs.contains(name)) fail(s"DESCRIBE DATABASE: unknown database $name")
        val props = dbProps.getOrElse(name, Map.empty)
        Some((Seq(("database", name)) ++ props.toSeq.sortBy(_._1)
            .map { case (k, v) => (s"property:$k", v) })
          .toDF("info_name", "info_value"))
      case DescRe(name) =>
        import spark.implicits._
        val t = table(name)
        val rows =
          t.schema.fields.map(f => (f.name, f.dataType.sql, "physical")) ++
            t.computed.map { case (n, e) => (n, s"AS $e", "computed") } ++
            t.watermark.map { case (c, dl) =>
              (c, s"WATERMARK $dl delay", "watermark") }
        Some(rows.toSeq.toDF("col_name", "data_type", "kind"))
      case other => fail(s"unsupported statement: ${other.take(80)}")
    }

    /** Execute a whole script; returns the LAST select's frame. */
    def executeScript(script: String): DataFrame =
      splitStatements(script).flatMap(executeSql) match {
        case rs if rs.nonEmpty => rs.last
        case _ => fail("script contained no SELECT statement")
      }

    /** Resolve the storage binding (path, format) from a WITH-property
      * map — shared by CREATE TABLE and ALTER TABLE … SET. */
    private def storage(name: String, props: Map[String, String],
        partitioned: Boolean): (String, String) = {
      def prop(keys: String*): Option[String] = keys.flatMap(props.get).headOption
      val connector = prop("connector.type", "connector")
        .getOrElse(fail(s"table $name: no connector property"))
      if (connector != "filesystem")
        fail(s"table $name: connector '$connector' is not available in this " +
          "environment (filesystem only; kafka/es need external services)")
      val path = prop("connector.path", "path")
        .getOrElse(fail(s"table $name: no path property"))
      // 'avro' maps to the in-house graft-avro DataSource V2 connector
      // (COVERAGE §2.7): the reference's `'format.type' = 'avro'`
      // tables (flink-formats/flink-avro AvroRowFormatFactory) port
      // verbatim, batch and micro-batch stream reads both. Partitioned
      // avro sinks stay unsupported (the connector writes flat dirs).
      val format0 = prop("format.type", "format").getOrElse("csv")
      if (!Set("csv", "json", "parquet", "orc", "avro")(format0))
        fail(s"table $name: unsupported format '$format0'")
      val format = if (format0 == "avro") "graft-avro" else format0
      if (format == "graft-avro" && partitioned)
        fail(s"table $name: the avro connector does not support " +
          "PARTITIONED BY sinks")
      (path, format)
    }

    private def createTable(name: String, colsSrc: String,
        parts: Option[String], propsSrc: String): Unit = {
      val props = PropRe.findAllMatchIn(propsSrc)
        .map(m => m.group(1) -> m.group(2)).toMap
      val (path, format) = storage(name, props,
        parts.exists(_.split(",").exists(_.trim.nonEmpty)))

      var fields = Vector.empty[StructField]
      var computed = Vector.empty[(String, String)]
      var watermark = Option.empty[(String, String)]
      splitTopLevel(colsSrc).foreach {
        case WatermarkRe(c, n, unit) =>
          watermark = Some((c, s"$n ${unit.toLowerCase}${if (n == "1") "" else "s"}"))
        case c if c.toUpperCase.startsWith("PRIMARY KEY") => () // metadata
        case ColumnRe(n, t) => fields :+= StructField(n, sqlType(t))
        case ComputedRe(n, e) =>
          if (e.toUpperCase.contains("PROCTIME"))
            fail(s"computed column $n: PROCTIME() is nondeterministic " +
              "processing time — not supported on the oracle surface")
          computed :+= (n -> e)
        case other => fail(s"unparseable column clause: $other")
      }
      val defn = TableDef(name, StructType(fields), computed, watermark,
        parts.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        path, format)
      tables(name) = defn
      tableDb(name) = currentDb
      tableProps(name) = props
      // Hadoop FS existence check, not java.io.File: a DDL table may
      // point at hdfs:// or s3a:// (the avro connector underneath
      // reads them unchanged) and must still register eagerly.
      val fsPath = new org.apache.hadoop.fs.Path(path)
      val pathFs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (pathFs.exists(fsPath)) register(defn)
    }

    /** (Re-)register the table's batch view over its files. */
    private def register(t: TableDef): Unit = {
      val base = spark.read.format(t.format).schema(t.schema)
        .option("header", "false").load(t.path)
      val projected =
        if (t.computed.isEmpty) base
        else base.selectExpr(
          t.schema.fieldNames.toSeq ++ t.computed.map { case (n, e) => s"($e) AS $n" }: _*)
      projected.createOrReplaceTempView(t.name)
    }

    /** Streaming read of a DDL table: declared schema + recorded
      * WATERMARK applied (`withWatermark`), the reference's rowtime
      * attribute division. */
    def readStream(name: String, options: Map[String, String] = Map.empty)
        : DataFrame = {
      val t = table(name)
      val base = spark.readStream.format(t.format).schema(t.schema)
        .option("header", "false").options(options).load(t.path)
      val projected =
        if (t.computed.isEmpty) base
        else base.selectExpr(
          t.schema.fieldNames.toSeq ++ t.computed.map { case (n, e) => s"($e) AS $n" }: _*)
      t.watermark.fold(projected) { case (c, delay) =>
        projected.withWatermark(c, delay)
      }
    }

    /** The aligned write-side frame of an INSERT statement WITHOUT
      * executing the write — the `TableEnvironment.explainSql(INSERT …)`
      * surface (the reference explains sink plans; 1.10
      * `TableEnvironment.explain(Table)` over `sqlUpdate`). Returns
      * (sink table name, aligned frame) when the statement is an
      * INSERT, None otherwise. */
    def insertFrame(stmt: String): Option[(String, DataFrame)] = stmt match {
      case InsertRe(_, name, select) => Some((name, align(table(name), select)))
      case _ => None
    }

    // positional alignment + cast to declared types (Flink inserts
    // by position, not by name)
    private def align(t: TableDef, select: String): DataFrame = {
      val src = spark.sql(selectRewriter(select))
      if (src.columns.length != t.schema.length)
        fail(s"INSERT INTO ${t.name}: ${src.columns.length} columns for " +
          s"${t.schema.length}-column table")
      src.toDF(t.schema.fieldNames.toIndexedSeq: _*)
        .selectExpr(t.schema.fields.map(f =>
          s"CAST(${f.name} AS ${f.dataType.sql}) AS ${f.name}").toIndexedSeq: _*)
    }

    private def insert(name: String, select: String, overwrite: Boolean): Unit = {
      val t = table(name)
      val aligned = align(t, select)
      val writer = aligned.write.format(t.format)
        .mode(if (overwrite) "overwrite" else "append")
        .option("header", "false")
      (if (t.partitionedBy.nonEmpty) writer.partitionBy(t.partitionedBy: _*)
       else writer).save(t.path)
      register(t)
    }
  }
}
