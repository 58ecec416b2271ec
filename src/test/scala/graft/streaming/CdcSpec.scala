package graft.streaming

import graft.{Scratch, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** CDC envelope/materialize semantics (Cdc.scala) beyond the q302/q303
  * oracle rows: field-exact decode, delete tombstones, and the
  * (ts_us, pos) version guard that makes the streaming MERGE
  * idempotent under micro-batch replay. */
class CdcSpec extends SparkSpec {

  private val sfDir = sf

  test("envelope → parse round-trips every field exactly") {
    // deterministic subset (a bare limit() may pick different rows on
    // each of the two evaluations below)
    val ev = Tables.events(spark, sfDir).filter(col("event_id") < 200)
    val back = Cdc.parse(Cdc.envelope(ev), col("json"))
    val orig = ev.select(col("event_id").as("pos"),
      unix_micros(col("ts")).as("o_ts_us"), col("user_id").as("o_user"),
      when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")).as("o_value"))
    val joined = back.join(orig, Seq("pos"), "full")
      .filter(col("ts_us") =!= col("o_ts_us") ||
        col("user_id") =!= col("o_user") ||
        coalesce(col("value"), lit(-1.0)) =!=
          coalesce(col("o_value"), lit(-1.0)))
    assert(joined.count() == 0, "decode must be lossless")
  }

  test("a trailing tombstone drops the key; a late older op cannot resurrect") {
    import spark.implicits._
    val chg = Seq(
      // key 1: insert then delete (delete is newest) → absent
      ("c", 100L, 1L, 1L, 10.0, 5L),
      ("d", 200L, 2L, 1L, 0.0, 0L),
      // key 2: delete arrives FIRST in the changelog order but is
      // older than the update → update wins
      ("d", 100L, 3L, 2L, 0.0, 0L),
      ("u", 300L, 4L, 2L, 42.0, 7L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k")
    val out = Cdc.materialize(chg)
      .select(col("user_id"), col("value"), col("k")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 2L && out.head.getDouble(1) == 42.0)
  }

  test("mergeBatch is idempotent and version-guarded") {
    import spark.implicits._
    val base = Scratch.dir("cdcspec")
    val url = s"jdbc:derby:$base/db;create=true"
    Cdc.initStateTable(url)
    val b1 = Seq(("c", 100L, 1L, 1L, 10.0, 5L),
                 ("c", 100L, 2L, 2L, 20.0, 6L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k")
    Cdc.mergeBatch(b1, url)
    Cdc.mergeBatch(b1, url) // replay: version guard must no-op
    val b2 = Seq(("u", 200L, 3L, 1L, 11.0, 7L),   // newer → applies
                 ("u",  50L, 0L, 2L, 99.0, 9L),   // OLDER → refused
                 ("d", 300L, 4L, 2L, 0.0, 0L))    // tombstone → gone
      .toDF("op", "ts_us", "pos", "user_id", "value", "k")
    Cdc.mergeBatch(b2, url)
    Cdc.mergeBatch(b2, url) // replay again
    val all = spark.read.format("jdbc").option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "CDC_STATE").load()
    val live = all.filter(col("DELETED") === 0)
      .select(col("USER_ID"), col("VAL"), col("K")).collect()
    assert(live.length == 1, "key 2 deleted, key 1 present")
    assert(live.head.getLong(0) == 1L)
    assert(live.head.getDouble(1) == 11.0 && live.head.getLong(2) == 7L)
    // the tombstone row itself is retained with its version watermark
    val dead = all.filter(col("DELETED") === 1)
      .select(col("USER_ID"), col("TS_US")).collect()
    assert(dead.length == 1 && dead.head.getLong(0) == 2L &&
      dead.head.getLong(1) == 300L)
  }

  test("tombstone compaction drops only sub-watermark tombstones") {
    import spark.implicits._
    val base = Scratch.dir("cdccomp")
    val url = s"jdbc:derby:$base/db;create=true"
    Cdc.initStateTable(url)
    val b = Seq(("d", 100L, 1L, 1L, 0.0, 0L),   // old tombstone
                ("d", 500L, 2L, 2L, 0.0, 0L),   // recent tombstone
                ("c", 400L, 3L, 3L, 1.0, 1L))   // live row, older than wm
      .toDF("op", "ts_us", "pos", "user_id", "value", "k")
    Cdc.mergeBatch(b, url)
    val dropped = Cdc.compactTombstones(url, watermarkUs = 450L)
    assert(dropped == 1, "only the sub-watermark tombstone goes")
    val left = spark.read.format("jdbc").option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "CDC_STATE").load()
      .select(col("USER_ID"), col("DELETED").cast("int")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(left == Map(2L -> 1, 3L -> 0),
      "live rows and at-or-after-watermark tombstones survive")
  }

  private def scd2Hist(url: String): Seq[(Long, Long, Option[Long])] =
    spark.read.format("jdbc").option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "SCD2_HIST").load()
      .orderBy(col("USER_ID"), col("VALID_FROM_US"), col("POS"))
      .collect().toSeq.map { r =>
        (r.getLong(r.fieldIndex("USER_ID")),
          r.getLong(r.fieldIndex("VALID_FROM_US")),
          if (r.isNullAt(r.fieldIndex("VALID_TO_US"))) None
          else Some(r.getLong(r.fieldIndex("VALID_TO_US"))))
      }

  test("scd2Batch repairs out-of-order versions to the window-built truth") {
    import spark.implicits._
    val base = Scratch.dir("scd2oospec")
    val url = s"jdbc:derby:$base/db;create=true"
    Cdc.initScd2Table(url)
    // batch 1: ts 100 and 300 → intervals [100,300), [300,∞)
    Cdc.scd2Batch(Seq(("c", 100L, 1L, 1L, 1.0, 1L),
                      ("u", 300L, 3L, 1L, 3.0, 3L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k"), url)
    // batch 2: ts 200 is LATE (between the stored versions) — repair
    // must splice it; ts 400 is genuinely new
    Cdc.scd2Batch(Seq(("u", 200L, 2L, 1L, 2.0, 2L),
                      ("u", 400L, 4L, 1L, 4.0, 4L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k"), url)
    assert(scd2Hist(url) == Seq(
      (1L, 100L, Some(200L)), (1L, 200L, Some(300L)),
      (1L, 300L, Some(400L)), (1L, 400L, None)),
      "late version spliced, every bound recomputed")
    // full replay of batch 2 is a no-op (all PK hits)
    Cdc.scd2Batch(Seq(("u", 200L, 2L, 1L, 2.0, 2L),
                      ("u", 400L, 4L, 1L, 4.0, 4L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k"), url)
    assert(scd2Hist(url).size == 4, "replay must not duplicate versions")
  }

  test("scd2Batch replay survives a mid-key crash that pre-stamped the bound") {
    import spark.implicits._
    val base = Scratch.dir("scd2crash")
    val url = s"jdbc:derby:$base/db;create=true"
    Cdc.initScd2Table(url)
    val batch = Seq(("c", 100L, 1L, 1L, 1.0, 1L),
                    ("u", 200L, 2L, 1L, 2.0, 2L))
      .toDF("op", "ts_us", "pos", "user_id", "value", "k")
    Cdc.scd2Batch(batch, url)
    // simulate the chunk-boundary crash: the first version committed
    // WITH its lookahead-stamped VALID_TO_US, the successor's insert
    // was lost — the key's newest stored version is CLOSED
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        "DELETE FROM SCD2_HIST WHERE USER_ID = 1 AND VALID_FROM_US = 200")
      st.close()
    } finally conn.close()
    // the r10 code found no open row here, treated every replayed row
    // as 'newer', and died re-inserting the (1, 100, 1) primary key;
    // the newest-version guard must instead skip ts 100 and re-insert
    // only ts 200 — no close needed, the bound was pre-stamped
    Cdc.scd2Batch(batch, url)
    assert(scd2Hist(url) == Seq((1L, 100L, Some(200L)), (1L, 200L, None)),
      "replay after the mid-key crash converges without duplicates")
  }
}
