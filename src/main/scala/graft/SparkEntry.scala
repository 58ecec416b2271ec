package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    JoinQueries.queries("q10_join_star")(spark, "/root/testdata/sf0.001")

  private def sets: Seq[QuerySet] = Seq(
    AggQueries, JoinQueries, WindowQueries, CalcQueries, EventQueries,
    TextQueries, VectorQueries, ExtraQueries, PipelineQueries, TpchQueries,
    TpchQueries2, TpcdsShapes, GraphQueries, StreamParityQueries,
    StreamParityQueries2, StreamParityQueries3, UdxQueries, FormatQueries,
    Partitioning, SourceQueries, CorpusQueries, StreamParityQueries4,
    SqlFrontendQueries, CurationQueries, StreamParityQueries5, IvfPqQueries,
    FluentApiQueries, SketchQueries, LayoutQueries, CapstoneQueries)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sets.map(_.queries).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = sets.map(_.oracle).reduce(_ ++ _)
}
