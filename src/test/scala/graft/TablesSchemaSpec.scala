package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.{col, count, lit, pmod}
import org.apache.spark.sql.types._

import graft.sources.ManifestTable
import graft.streaming.Replay

/** Pins the driver-testdata contract so schema drift fails fast here
  * (seconds, named) instead of as dozens of cryptic query reds.
  *
  * The driver has regenerated `/root/testdata` mid-build before and
  * changed the physical encoding of `events.ts` (parquet
  * TIMESTAMP(NANOS) → timestamp[us]), which silently broke every
  * events-bound query. `Tables.events` is schema-adaptive; this spec
  * asserts BOTH encodings normalize to the same µs TIMESTAMP column:
  *   - the live testdata, whatever the driver generated this round;
  *   - a checked-in nanos-ts fixture (src/test/resources/
  *     events_nanos.parquet) preserving the legacy encoding.
  *
  * Also pins `Tables.read`: the schema it takes from a file footer on
  * the driver is the one Spark's inference job would give, and the
  * table loads, manifest reads and replay readbacks built on it start
  * no schema-inference job.
  */
class TablesSchemaSpec extends SparkSpec {

  test("all driver tables load from live testdata") {
    val failures = Tables.all.flatMap { t =>
      try { Tables.load(spark, sf, t).schema; None }
      catch { case e: Throwable => Some(s"$t: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("live events normalizes ts to a microsecond timestamp") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType === TimestampType,
      s"events.ts must normalize to TimestampType, got ${ev.schema("ts").dataType}")
    assert(ev.schema("value").dataType === DoubleType,
      "events.value must normalize to DoubleType (float32 drift guard)")
    assert(ev.count() > 0)
    // and is usable in event-time arithmetic (the exact expression that
    // threw DATATYPE_MISMATCH when the loader was schema-rigid)
    ev.selectExpr("window(ts, '1 hour')", "ts - INTERVAL 5 MINUTES").collect()
  }

  test("legacy nanos-encoded events normalizes identically") {
    val tmp = nanosDir()
    // raw scan must surface the legacy encoding as a long (nanosAsLong)
    val raw = spark.read.parquet(s"$tmp/events.parquet")
    assert(raw.schema("ts").dataType === LongType,
      s"nanos fixture should scan as LongType, got ${raw.schema("ts").dataType}")

    val ev = Tables.events(spark, tmp)
    assert(ev.schema("ts").dataType === TimestampType)
    // ns→µs truncation: 1704067200123456789 ns → 1704067200123456 µs
    val got = ev.selectExpr("unix_micros(ts) AS us").orderBy("us")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1704067200123456L, 1704067201000000L, 1704070000999999L))
  }

  test("core TPC-H column contract holds") {
    def cols(t: String) = Tables.load(spark, sf, t).schema.fieldNames.toSet
    assert(Set("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
      .subsetOf(cols("lineitem")))
    assert(Set("o_orderkey", "o_custkey", "o_orderdate").subsetOf(cols("orders")))
    assert(Set("event_id", "ts", "user_id", "event_type", "value", "props")
      .subsetOf(cols("events")))
    assert(Set("doc_id", "text").subsetOf(cols("documents")))
    assert(cols("embeddings").contains("embedding") ||
      cols("embeddings").exists(_.contains("vec")))
  }

  /** The nanos-ts fixture copied into the expected `<dir>/events.parquet`
    * layout; returns `dir`. */
  private def nanosDir(): String = {
    assume(getClass.getResource("/events_nanos.parquet") != null, "fixture missing")
    val tmp = Scratch.dir("nanos").toString
    val in = getClass.getResourceAsStream("/events_nanos.parquet")
    try java.nio.file.Files.copy(in, java.nio.file.Paths.get(tmp, "events.parquet"))
    finally in.close()
    tmp
  }

  /** Jobs started while `body` ran. */
  private def jobsDuring(body: => Unit): Seq[Harness.Job] = {
    Harness.drain(spark)
    val log = Harness.jobLog(spark)
    try { body; Harness.drain(spark); log.jobs() }
    finally spark.sparkContext.removeSparkListener(log)
  }

  test("footer schema equals Spark's inferred schema") {
    val nested = Scratch.dir("nested").toString + "/t"
    spark.range(6).selectExpr("id", "array(id, id + 1) AS a",
        "map('k', cast(id AS string)) AS m",
        "named_struct('x', id, 'ys', array(named_struct('z', id % 2 = 0))) AS st")
      .repartition(2).write.parquet(nested)
    val table = Scratch.dir("mt").toString + "/t"
    ManifestTable.create(spark.range(20).selectExpr("id", "cast(id AS string) AS s")
      .repartition(3), table)
    val paths = Tables.all.map(t => s"$sf/$t.parquet") ++
      Seq(s"${nanosDir()}/events.parquet", nested)
    paths.foreach { p =>
      assert(Tables.read(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(ManifestTable.read(spark, table).schema == spark.read.parquet(table).schema)
  }

  test("an empty directory still fails with Spark's inference error") {
    val empty = Scratch.dir("empty").toString
    val e = intercept[AnalysisException](Tables.read(spark, empty))
    assert(e.getCondition == "UNABLE_TO_INFER_SCHEMA", e.getMessage)
  }

  test("table loads, manifest reads and replay readbacks start no Spark job") {
    assert(jobsDuring(Tables.all.foreach(t => Tables.load(spark, sf, t).schema)).isEmpty)
    assert(jobsDuring(Tables.events(spark, nanosDir()).schema).isEmpty)

    val table = Scratch.dir("mt").toString + "/t"
    ManifestTable.create(spark.range(20).toDF("id").repartition(2), table)
    assert(jobsDuring(ManifestTable.read(spark, table).schema).isEmpty)

    // the stream's own jobs run under SQL executions; an inference job
    // for the readback would run under none
    val base = Scratch.dir("rupd").toString
    val ids = spark.range(40).toDF("id")
    val (in, schema) =
      Replay.fileEpochs(ids, (0 until 2).map(i => pmod(col("id"), lit(2)) === i), base)
    val counts = Replay.streamDf(spark, in, schema)
      .groupBy(pmod(col("id"), lit(5)).as("k")).agg(count(lit(1)).as("n"))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { out = Replay.runUpdate(counts, base, spark) }
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.sqlId.isDefined), jobs.filter(_.sqlId.isEmpty).map(_.desc))
    assert(Replay.latestPerKey(out, col("k")).count() == 5)
  }
}
