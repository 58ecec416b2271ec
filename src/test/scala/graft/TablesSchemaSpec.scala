package graft

import org.apache.spark.sql.types._

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
    val dir = getClass.getResource("/events_nanos.parquet")
    assume(dir != null, "fixture missing")
    // copy the fixture into the expected <dir>/events.parquet layout
    val tmp = Scratch.dir("nanos").toString
    val dest = java.nio.file.Paths.get(tmp, "events.parquet")
    val in = getClass.getResourceAsStream("/events_nanos.parquet")
    try java.nio.file.Files.copy(in, dest) finally in.close()

    // raw scan must surface the legacy encoding as a long (nanosAsLong)
    val raw = spark.read.parquet(dest.toString)
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
}
