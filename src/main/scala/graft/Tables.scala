package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md), and
  * [[read]], graft's one plain parquet reader.
  *
  * Every scan is a parquet file scan, so Catalyst's vectorized reader,
  * predicate pushdown and column pruning apply — at 100 TB the same code
  * reads a partitioned table directory unchanged. Its schema is read
  * from one file footer on the driver, not inferred by a Spark job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Work-heavy tables get an adaptive post-scan repartition: the
    * testdata files are single-row-group parquet, so the scan yields
    * ONE task and everything fused into the scan stage (shingling,
    * md5, dot products, Expand+partial-agg, shuffle write) runs
    * single-threaded — measured 20×+ slowdowns at sf0.1. Small dims
    * (region…part) are NOT repartitioned: a shuffle there buys nothing
    * and would precede broadcast exchanges. Parallelism is estimated
    * from the file count (cheap listing, no RDD materialization — an
    * RDD conversion per load would run eagerly on every query and
    * defeat lazy planning). At real scale every big table is
    * multi-file, so this is a no-op — no blind shuffle. */
  private val workHeavyTables =
    Set("documents", "embeddings", "lineitem", "orders", "events")

  /** `spark.read.parquet(paths: _*)` without its schema-inference job.
    * Spark infers a parquet schema from the footer of the first data
    * file in path order, and reads that footer in a one-task job. This
    * reads the same footer on the driver, converts it the way Spark does
    * and hands the schema to the reader. The footer is read on every
    * call, so a rewritten table never gets a stale schema. When no data
    * file is visible, Spark infers, and its own error stands. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    firstDataFile(paths, conf) match {
      case Some(f) =>
        val schema = footer(f, conf)(m => GraftSqlBridge.parquetSchema(spark, new Footer(f, m)))
        spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Open `file`'s parquet footer on the driver and apply `f` to it. */
  def footer[A](file: Path, conf: Configuration)(f: ParquetMetadata => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(r.getFooter) finally r.close()
  }

  /** The file Spark's inference would read: the first, by path string,
    * of the files named in `paths` and the visible files below the
    * directories named there (Spark's listing hides names starting with
    * `.`, or `_` without a `=`). None when there is none, or a path
    * cannot be listed. */
  private def firstDataFile(paths: Seq[String], conf: Configuration): Option[Path] = {
    def visible(n: String) =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    def leaves(fs: FileSystem, st: FileStatus): Iterator[Path] =
      if (!st.isDirectory) Iterator(st.getPath)
      else fs.listStatus(st.getPath).iterator
        .filter(c => visible(c.getPath.getName)).flatMap(leaves(fs, _))
    try paths.iterator.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      leaves(fs, fs.getFileStatus(path))
    }.minByOption(_.toString)
    catch { case _: java.io.IOException => None }
  }

  /** Table `name`'s file scan, unspread: one task per file split. */
  def scan(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = scan(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (workHeavyTables(name) && df.inputFiles.length < target / 2)
      df.repartition(target)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped `ts` in two physical encodings across
    * driver testdata generations: parquet TIMESTAMP(NANOS) (read as a
    * long via spark.sql.legacy.parquet.nanosAsLong, set once in
    * GraftSession.builder as a legacy-data fallback) and plain
    * timestamp[us]. Dispatch on the scanned dtype so both yield the
    * same µs-precision TIMESTAMP column: longs get the ns→µs
    * truncation the DuckDB oracle applies via
    * make_timestamp(epoch_ns(ts)//1000); native timestamps are cast
    * as-is (session timezone is UTC, values identical). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = load(s, d, "events")
    val ts = df.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case TimestampType | TimestampNTZType => col("ts").cast(TimestampType)
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other")
    }
    // value normalizes to DOUBLE: if a future regeneration ships
    // float32, Spark would otherwise do FLOAT arithmetic where the
    // DuckDB oracle promotes to double — same drift class as the ts
    // encoding flip that wrecked round 5. No-op on today's data.
    df.withColumn("ts", ts)
      .withColumn("value", col("value").cast("double"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
