package graft.sources

import graft.{Scratch, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Round-trip every supported format with exact row equality against
  * the parquet original (nation: int/string; orders adds timestamps). */
class FormatsSpec extends SparkSpec {

  private def tmp(name: String) =
    Scratch.dir(name).toString

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("n_nationkey")).collect().toSeq

  test("csv round-trips nation exactly") {
    val nation = Tables.nation(spark, sf)
    val p = tmp("csv")
    Formats.writeCsv(nation, p)
    val back = Formats.readCsv(spark, p,
      "n_nationkey INT, n_name STRING, n_regionkey INT")
    assert(sortedRows(back) == sortedRows(nation))
  }

  test("json round-trips nation exactly") {
    val nation = Tables.nation(spark, sf)
    val p = tmp("json")
    Formats.writeJson(nation, p)
    val back = Formats.readJson(spark, p,
      "n_nationkey INT, n_name STRING, n_regionkey INT")
    assert(sortedRows(back) == sortedRows(nation))
  }

  test("orc round-trips orders (incl. timestamps) exactly") {
    val orders = Tables.orders(spark, sf)
    val p = tmp("orc")
    Formats.writeOrc(orders, p)
    val back = Formats.readOrc(spark, p)
    assert(back.orderBy(col("o_orderkey")).collect().toSeq ==
           orders.orderBy(col("o_orderkey")).collect().toSeq)
  }

  test("orc read pushes filters down") {
    val orders = Tables.orders(spark, sf)
    val p = tmp("orc2")
    Formats.writeOrc(orders, p)
    val plan = Formats.readOrc(spark, p)
      .filter(col("o_totalprice") > 100000).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"),
      s"no orc pushdown:\n$plan")
  }

  test("json error modes: FAILFAST throws, DROPMALFORMED keeps missing-field rows") {
    // reference flink-json JsonRowDeserializationSchema:84/:153 —
    // failOnMissingField / ignoreParseErrors; the PERMISSIVE
    // quarantine leg is oracle-bound as q259
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmp("jsonerr")
    Seq("""{"a": 1, "b": "x"}""", """{"a": 2""", """{"a": 3}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    // FAILFAST = the reference default (ignoreParseErrors unset):
    // the first malformed line aborts the read
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").json(dir).collect()
    }
    assert(e.getMessage.contains("Malformed") ||
      Option(e.getCause).exists(_.getMessage.contains("Malformed")))
    // DROPMALFORMED = ignoreParseErrors: the truncated line vanishes,
    // but the missing-field line survives with b = null
    // (failOnMissingField = false, the reference's builder default)
    val kept = spark.read.schema(schema).option("mode", "DROPMALFORMED")
      .json(dir).orderBy("a").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(kept(1).isNullAt(1))
  }

  test("csv error modes mirror flink-csv ignoreParseErrors") {
    // reference flink-csv CsvRowDeserializationSchema:74 — a type-bad
    // line is dropped under DROPMALFORMED, aborts under FAILFAST
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tmp("csverr")
    Seq("1,x", "oops,y", "3,z").toDF("value")
      .coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", StringType)))
    val kept = spark.read.schema(schema).option("mode", "DROPMALFORMED")
      .csv(dir).orderBy("a").collect()
    assert(kept.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (3L, "z")))
    intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST").csv(dir).collect()
    }
  }

  test("compressed jsonl round-trips exactly (gzip and bzip2)") {
    // 100 TB corpora ship compressed jsonl — the codec path must
    // round-trip bit-exactly (gzip + bzip2; this container's hadoop
    // has no zstd/text binding — parquet zstd is covered elsewhere)
    val ev = Tables.nation(spark, sf)
    for ((codec, ext) <- Seq("gzip" -> ".gz", "bzip2" -> ".bz2")) {
      val dir = tmp(s"jsonl-$codec")
      ev.write.mode("overwrite").option("compression", codec).json(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getName)
      assert(files.nonEmpty && files.forall(_.endsWith(ext)),
        files.toSeq.toString)
      val back = spark.read.schema(ev.schema).json(dir)
      assert(sortedRows(back) == sortedRows(ev), s"$codec round-trip drifted")
    }
  }

  test("partitioned catalog table prunes to the predicate's partition") {
    // the q187 scale contract: a source=… predicate over the
    // partitioned table must become a PartitionFilters entry (one
    // directory scanned), not a post-scan filter over all partitions
    val base = Scratch.dir("cattbl-spec")
    Tables.documents(spark, sf)
      .write.partitionBy("source").mode("overwrite")
      .option("path", s"$base/tbl")
      .saveAsTable("graft_docs_part_spec")
    val q = spark.table("graft_docs_part_spec")
      .filter(col("source") === "src1")
      .groupBy(col("lang")).count()
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(source"),
      s"no partition pruning:\n$plan")
    assert(q.count() > 0)
  }
}
