package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {
  /** A catalog query: (session, sf-dir) => result. Matches the driver
    * contract in SparkEntry.queries. */
  type Q = (SparkSession, String) => DataFrame

  /** One slice of the query catalog: its queries and, for each one SQL
    * can express, the equivalent DuckDB oracle SQL. */
  trait QuerySet {
    def queries: Map[String, Q]
    def oracle: Map[String, String]
  }

  /** Register the named tables as temp views so queries can use
    * spark.sql with the same table names the DuckDB oracle sees. */
  def withTables(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))
}
