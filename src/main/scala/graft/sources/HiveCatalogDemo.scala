package graft.sources

import graft.{GraftSession, Scratch}

/** Hive catalog exercise (reference `flink-connector-hive/.../
  * HiveTableSource.java` / `HiveTableSink.java`; SURVEY maps both to
  * `enableHiveSupport()`): managed-table write/read, SHOW TABLES, and
  * a partitioned table with partition-pruned reads — against an
  * embedded Derby metastore in a temp dir.
  *
  * Runs as its own main (HiveCatalogSpec drives it in a subprocess):
  * hive support must be set at FIRST session creation in a JVM, which
  * the shared test session cannot provide. Prints HIVE_OK on success.
  */
object HiveCatalogDemo {
  def main(args: Array[String]): Unit = {
    val wh = Scratch.dir("hive-wh").toString
    val ms = Scratch.dir("hive-ms").toString
    val spark = GraftSession.builder(4, "graft-hive")
      .config("spark.sql.warehouse.dir", wh)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$ms/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").saveAsTable("graftdb.dim")
    val n = spark.sql("SELECT count(*) FROM graftdb.dim").head().getLong(0)
    val tables = spark.sql("SHOW TABLES IN graftdb")
      .collect().map(_.getString(1)).toSet
    require(n == 2, s"managed table row count $n")
    require(tables.contains("dim"), s"catalog listing $tables")

    spark.sql("""CREATE TABLE IF NOT EXISTS graftdb.part_t (v STRING)
                 PARTITIONED BY (p INT) STORED AS PARQUET""")
    spark.sql("INSERT OVERWRITE TABLE graftdb.part_t PARTITION(p=1) VALUES ('x')")
    spark.sql("INSERT OVERWRITE TABLE graftdb.part_t PARTITION(p=2) VALUES ('y')")
    val pruned = spark.sql("SELECT v FROM graftdb.part_t WHERE p = 1")
    val plan = pruned.queryExecution.executedPlan.toString
    require(pruned.collect().map(_.getString(0)).toSeq == Seq("x"),
      "partition-filtered read")
    require(!plan.contains("p=2"), s"partition not pruned:\n$plan")

    println("HIVE_OK")
    spark.stop()
  }
}
