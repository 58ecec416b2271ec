package graft.operators

import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}

/** Format-connector round-trip binds (SURVEY §2.7): each query writes
  * the events table through a non-parquet format, reads it back with
  * an explicit schema, and aggregates — hashed against the SQL on the
  * ORIGINAL parquet, so a value corrupted anywhere in the
  * write→parse→read path (quoting, header skew, type coercion,
  * timestamp parsing) breaks the oracle row.
  *
  * Reference: `flink-formats/flink-csv`, `flink-formats/flink-json`,
  * `flink-orc` (SURVEY §2.7 rows CSV / JSON / ORC).
  *
  * Text formats carry whole-cent BIGINTs (float text round-trips are
  * repr-fragile by design — documented in [oracle parity]); ORC is
  * binary and round-trips the full row including µs timestamps and
  * raw doubles.
  */
object FormatQueries extends QuerySet {

  private def aggAfter(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_v"),
        countDistinct(col("user_id")).as("users"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  private def centsProj(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), expr("cast(round(value*100) as bigint)").as("cents"))

  val queries: Map[String, Q] = Map(

    "q167_csv_roundtrip" -> ((s, d) => {
      val base = Scratch.dir("csvrt")
      val ev = centsProj(s, d)
      ev.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      aggAfter(s.read.schema(ev.schema).option("header", "true")
        .csv(s"$base/csv"))
    }),

    "q168_json_roundtrip" -> ((s, d) => {
      val base = Scratch.dir("jsonrt")
      val ev = centsProj(s, d)
      ev.write.mode("overwrite").json(s"$base/json")
      aggAfter(s.read.schema(ev.schema).json(s"$base/json"))
    }),

    // Malformed-input handling of the JSON format — the reference's
    // JsonRowDeserializationSchema error options (flink-formats/
    // flink-json/.../JsonRowDeserializationSchema.java:84
    // failOnMissingField, :153 ignoreParseErrors): Spark parity is
    // the read modes PERMISSIVE + columnNameOfCorruptRecord (the
    // quarantine / dead-letter split), DROPMALFORMED
    // (ignoreParseErrors), and FAILFAST (spec-bound in FormatsSpec —
    // throws on the first bad line). The jsonl file derives
    // deterministically from events: event_id%10==3 lines are
    // TRUNCATED (parse error → quarantined with the raw line
    // preserved), %10==7 lines drop the cents field (NOT an error
    // under failOnMissingField=false → null). Quarantine counts and
    // the clean-row aggregate face the oracle.
    "q259_json_errmodes" -> ((s, d) => {
      val base = Scratch.dir("jsonerr")
      val ev = centsProj(s, d)
      val full = to_json(struct(col("event_id"), col("user_id"),
        col("event_type"), col("cents")))
      val noCents = to_json(struct(col("event_id"), col("user_id"),
        col("event_type")))
      ev.select(col("event_id"), full.as("j"), noCents.as("jm"))
        .select(
          when(col("event_id") % 10 === 3,
            expr("substring(j, 1, length(j) - 3)"))
            .when(col("event_id") % 10 === 7, col("jm"))
            .otherwise(col("j")).as("value"))
        .write.mode("overwrite").text(s"$base/jsonl")
      val dataSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType)))
      val withCorrupt = dataSchema.add("_bad",
        org.apache.spark.sql.types.StringType)
      // ignoreParseErrors=true analog: malformed lines dropped at read
      val nDropped = s.read.schema(dataSchema)
        .option("mode", "DROPMALFORMED").json(s"$base/jsonl").count()
      // cache: Spark disallows predicates over the internal corrupt
      // column on the raw scan
      val read = s.read.schema(withCorrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(s"$base/jsonl").cache()
      read.agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L))
          .as("n_quarantined"),
        sum(when(col("_bad").isNull && col("cents").isNull, 1L)
          .otherwise(0L)).as("n_missing_field"),
        sum(when(col("_bad").isNull, col("cents"))).as("cents_clean"),
        lit(nDropped).as("n_kept_dropmalformed"))
    }),

    // ORC is binary: full-fidelity round trip including the µs
    // timestamp and the raw double — the aggregate covers both.
    "q169_orc_roundtrip" -> ((s, d) => {
      val base = Scratch.dir("orcrt")
      val ev = Tables.events(s, d)
      ev.write.mode("overwrite").orc(s"$base/orc")
      s.read.orc(s"$base/orc")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value*100) as bigint)")).as("cents_v"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),

    // JDBC connector round-trip (reference `flink-connectors/
    // flink-connector-jdbc/.../JdbcTableSource.java` +
    // JdbcOutputFormat write path): the cents projection is WRITTEN
    // to an embedded Derby table through the JDBC sink, read back
    // through the JDBC source (predicate pushdown applies at real
    // scale via partitionColumn bounds), and aggregated — a value
    // corrupted in SQL type mapping (BIGINT/VARCHAR), batching, or
    // read partitioning breaks the oracle row. The 2PC/MERGE write
    // paths are separately bound by q140 + TxnSinkSpec.
    "q186_jdbc_roundtrip" -> ((s, d) => {
      val base = Scratch.dir("jdbcrt")
      val url = s"jdbc:derby:$base/db;create=true"
      val ev = centsProj(s, d)
      ev.write.format("jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "EV")
        .option("createTableColumnTypes", "event_type VARCHAR(32)")
        .option("batchsize", "10000")
        .mode("overwrite").save()
      aggAfter(s.read.format("jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "EV")
        // partitioned read: 4 range-split tasks, the cluster read path
        .option("partitionColumn", "event_id")
        .option("numPartitions", "4")
        .option("lowerBound", "0")
        .option("upperBound", "1000000000")
        .load())
    }),

    // Catalog-managed PARTITIONED table (reference Hive catalog +
    // partitioned FileSystem connector, `flink-connectors/
    // flink-connector-hive/.../HiveCatalog.java`): documents written
    // as a source-partitioned table via saveAsTable, re-read through
    // the session catalog with a partition predicate — at 100 TB the
    // same plan prunes to one partition directory (PartitionFilters
    // in the scan; asserted in FormatsSpec). The oracle recomputes
    // the filtered aggregate from the raw parquet.
    // STREAMING text-format file sink oracle-bound (reference
    // StreamingFileSink with a row-encoded CSV bucket writer,
    // `flink-streaming-java/.../functions/sink/filesystem/
    // StreamingFileSink.java:120`): the cents projection streams
    // through the quarter replay into a checkpointed CSV file sink
    // (exactly-once manifest commit), is read back as plain CSV, and
    // aggregated — a dropped/duplicated micro-batch, a partial file
    // made visible, or a quoting/type corruption breaks the row.
    "q188_stream_csv_sink" -> ((s, d) => {
      val ep = graft.streaming.Replay.eventQuarters(s, d)
      val proj = ep.stream(s).toDF()
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(round(value*100) as bigint)").as("cents"))
      val (out, ck) = (s"${ep.dir}/out", s"${ep.dir}/ck")
      val q = proj.writeStream.format("csv")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      aggAfter(s.read.schema(proj.schema).csv(out))
    }),

    // Avro container-file round trip through the graft-avro DataSource
    // V2 connector (reference `flink-formats/flink-avro/.../
    // AvroInputFormat.java` + `AvroOutputFormat.java`; built directly
    // on avro-core since only the spark-avro datasource jar is absent
    // from the env). Binary format: full-fidelity round trip including
    // the µs timestamp (timestamp-micros logical type) and the raw
    // double — same aggregate as the ORC row, so a corruption in the
    // schema mapping, the snappy-coded container framing, or the
    // two-phase task-file commit breaks the oracle row.
    "q242_avro_roundtrip" -> ((s, d) => {
      val base = Scratch.dir("avrort")
      val ev = Tables.events(s, d)
      ev.write.format("graft-avro").mode("overwrite").save(s"$base/avro")
      s.read.format("graft-avro").load(s"$base/avro")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value*100) as bigint)")).as("cents_v"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),

    // Avro SCHEMA EVOLUTION oracle-bound: one directory holds two
    // file generations — "old" containers without the src column,
    // "new" containers with it — read together under the widened
    // schema (the reference's Avro default-value read path: absent
    // nullable fields decode as null). The aggregate splits rows by
    // src IS NULL, so a generation misrouted, a null not synthesized,
    // or a field matched by position instead of name breaks the row.
    "q248_avro_evolution" -> ((s, d) => {
      val base = Scratch.dir("avroev")
      val ev = centsProj(s, d)
      ev.filter(col("event_id") % 2 === 0)
        .write.format("graft-avro").mode("append").save(s"$base/avro")
      ev.filter(col("event_id") % 2 === 1).withColumn("src", lit("new"))
        .write.format("graft-avro").mode("append").save(s"$base/avro")
      s.read.format("graft-avro")
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
          "cents BIGINT, src STRING")
        .load(s"$base/avro")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_v"),
          count(when(col("src").isNull, 1)).as("n_old"),
          count(when(col("src") === "new", 1)).as("n_new"))
        .orderBy(col("event_type"))
    }),

    // STREAMING avro file sink (reference StreamingFileSink
    // .forBulkFormat with the Avro bulk writer, `flink-formats/
    // flink-avro/.../AvroWriters.java`): the cents projection streams
    // through the quarter replay into the graft-avro STREAMING_WRITE
    // sink — per-epoch temp files renamed to deterministic
    // part-e<epoch>-p<partition> names at commit (idempotent
    // re-commit, no partial epoch ever visible) — then the container
    // files are read back through the connector and aggregated. A
    // dropped/duplicated epoch, a partial file made visible, or an
    // encode corruption breaks the row.
    "q253_stream_avro_sink" -> ((s, d) => {
      val ep = graft.streaming.Replay.eventQuarters(s, d)
      val proj = ep.stream(s).toDF()
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("cast(round(value*100) as bigint)").as("cents"))
      val (out, ck) = (s"${ep.dir}/out", s"${ep.dir}/ck")
      val q = proj.writeStream.format("graft-avro")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      aggAfter(s.read.format("graft-avro").load(out))
    }),

    "q187_partitioned_table" -> ((s, d) => {
      val base = Scratch.dir("cattbl")
      Tables.documents(s, d)
        .write.partitionBy("source").mode("overwrite")
        .option("path", s"$base/tbl")
        .saveAsTable("graft_docs_part")
      s.table("graft_docs_part")
        .filter(col("source") === "src1")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    // Two-phase-commit sink RECOVERY oracle-bound (reference
    // TwoPhaseCommitSinkFunction.java:77 — recoverAndCommit): the
    // quarter replay streams into the transactional JDBC sink, and a
    // crash is injected AFTER batch 1's per-partition transactions
    // commit but BEFORE the engine checkpoint records the batch — the
    // exact window where an at-least-once sink double-writes. The
    // restarted query replays batch 1 from the same checkpoint; the
    // (batch, partition) commit markers skip every already-committed
    // transaction, so the table holds each input row EXACTLY once.
    // Oracle = the plain events projection: a double commit, a
    // dropped partition, or a marker keyed off replay-unstable
    // partitioning breaks the hash. (Partition-level retry and the
    // marker-PK race are pinned separately in TxnSinkSpec.)
    "q281_txn_sink_recovery" -> ((s, d) => {
      import graft.streaming.{Replay, TxnSink}
      val ep = Replay.eventQuarters(s, d)
      val url = s"jdbc:derby:${ep.dir}/db;create=true"
      TxnSink.init(url, "SUNK")
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      def start() = ep.streamDf(s)
        .select(col("event_id").as("id"),
          expr("cast(round(value*100) as bigint)").as("v"))
        .writeStream
        .option("checkpointLocation", s"${ep.dir}/ck")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          TxnSink.writeBatch(b, id, url, "SUNK")
          if (id == 1 && crashed.compareAndSet(false, true))
            throw new RuntimeException(
              "injected crash: transactions committed, checkpoint not yet")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val q1 = start()
      try q1.awaitTermination()
      catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
      }
      val q2 = start() // same checkpoint: batch 1 replays, markers skip
      q2.awaitTermination()
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "SUNK").load()
        .select(col("ID").as("id"), col("V").as("v"))
        .orderBy(col("id"))
    }),

    // CDC changelog ingestion, batch leg: events encoded as Debezium-
    // style JSON envelopes (insert/update/delete ops + before/after
    // images), decoded with one from_json, materialized to current
    // state — last op per key by (source ts, source pos) with delete
    // tombstones dropping the key. The JSON encode→decode round trip
    // is part of the verified path: a field lost or coerced anywhere
    // in the envelope breaks the oracle, which computes the same
    // materialization from the ORIGINAL events rows. One shuffle on
    // the primary key; per-op work is a pure projection.
    "q302_cdc_materialize" -> ((s, d) => {
      import graft.streaming.Cdc
      val wire = Cdc.envelope(Tables.events(s, d))
      val chg = Cdc.parse(wire, col("json"))
      val ops = chg.groupBy(col("user_id")).agg(count(lit(1)).as("n_ops"))
      Cdc.materialize(chg)
        .join(ops, "user_id")
        .select(col("user_id"), col("value"), col("k"),
          col("ts_us").as("last_ts_us"), col("n_ops"))
        .orderBy(col("user_id"))
    }),

    // CDC streaming leg: the same wire replayed as four micro-batches
    // through a file stream; each batch is reduced to latest-op-per-
    // key and MERGEd into a keyed JDBC state table (upsert for c/u,
    // DELETE for tombstones, guarded by a (ts_us, pos) version check
    // so replays are idempotent — the production CDC-MERGE recipe).
    // Cross-batch correctness is load-bearing: most keys' final ops
    // arrive in the last quarter and must overwrite state merged by
    // earlier batches; deleted keys must STAY deleted. Final state ≡
    // the q302 batch materialization (same oracle, minus n_ops).
    "q303_cdc_stream_merge" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cdc, Event, Replay}
      val real = Tables.events(s, d)
      val (lo, hi) = Replay.spanOf(real.as[Event])
      // checkpoint the wire BEFORE the replay prep: fileEpochs writes
      // each chunk through coalesce(1), which would otherwise run the
      // whole 1-task-serial JSON encode once PER chunk — materialized
      // once here, the encode is parallel and the chunk writes are
      // pure IO
      val wire = Cdc.envelope(real).localCheckpoint()
      val ep = Replay.fileEpochs(wire, Replay.quarterChunks(lo, hi))
      val url = s"jdbc:derby:${ep.dir}/db;create=true"
      Cdc.initStateTable(url)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("pos").desc)
      // each replay epoch is ONE ~chunk-sized file; at the default
      // 128 MB split size its JSON decode runs ~2-way — shrink the
      // split for the replay ON AN ISOLATED SESSION (newSession shares
      // the SparkContext but not the conf), so a query running
      // concurrently on the shared session can never inherit the
      // shrunken split size (ADVICE r10)
      val ss = s.newSession()
      ss.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      ep.runBatches(Cdc.parse(ep.streamDf(ss), col("json"))) { (b, _) =>
        Cdc.mergeBatch(
          b.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn"), url)
      }
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "CDC_STATE").load()
        .filter(col("DELETED") === 0) // live rows; tombstones retained
        .select(col("USER_ID").as("user_id"), col("VAL").as("value"),
          col("K").as("k"), col("TS_US").as("last_ts_us"))
        .orderBy(col("user_id"))
    }),

    // SCD2 (slowly-changing-dimension type 2) history table built from
    // the CDC changelog, probed by the custom as-of merge exec — the
    // reference's temporal-table story
    // (TemporalRowTimeJoinOperator.java:71) composed from this round's
    // CDC decode: ONE window pass per key orders the versions and
    // closes each interval at the next version's start
    // (valid_from/valid_to/version/is_current; tombstones close out
    // history without a live row), then three data-relative probe
    // times drive the q59-family AsOfJoinExec — each (probe, user)
    // pair gets the latest version at-or-before the probe instant
    // (one merge per key partition, O(1) state). At 100 TB: one key
    // shuffle to build the dimension, one co-partitioned merge per
    // probe set — never a per-probe rescan.
    "q311_scd2_asof" -> ((s, d) => {
      import graft.streaming.Cdc
      val chg = Cdc.parse(Cdc.envelope(Tables.events(s, d)), col("json"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("pos"))
      val scd2 = chg
        .withColumn("version", row_number().over(w).cast("long"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
        .withColumn("is_current",
          col("valid_to_us").isNull && col("op") =!= "d")
        .select(col("user_id").as("r_user"), col("ts_us").as("valid_from_us"),
          col("pos"), col("op"), col("value"), col("k"),
          col("version"), col("is_current"))
      val span = chg.agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (lo, hi) = (span.getLong(0), span.getLong(1))
      val probes = s.range(1, 4).select(col("id").as("probe_no"),
        expr(s"$lo + (($hi - $lo) * id) div 4").as("probe_ts_us"))
      val left = chg.select(col("user_id")).distinct()
        .crossJoin(broadcast(probes))
      graft.plans.AsOfJoin(left, scd2,
          left("user_id"), scd2("r_user"),
          left("probe_ts_us"), scd2("valid_from_us"),
          rightTie = Some(scd2("pos")))
        // no version at-or-before the probe → user not yet born;
        // tombstone as latest version → deleted at that instant
        .filter(col("version").isNotNull && col("op") =!= "d")
        .select(col("probe_no"), col("user_id"), col("value"), col("k"),
          col("version"), col("is_current"))
        .orderBy(col("probe_no"), col("user_id"))
    }),

    // STREAMING SCD2 maintenance — q311's history dimension kept
    // incrementally (the q303 discipline applied to the TYPE-2 shape):
    // the changelog replays in four micro-batches and each batch
    // closes open intervals + inserts new versions into a keyed
    // history table; intermediate versions inside a batch get their
    // VALID_TO_US at insert time (sorted per-key runs + lookahead), so
    // only the pre-existing open row per key is ever UPDATEd. The
    // final table must equal the one-shot window-built SCD2 — every
    // version, interval bound, and tombstone (same oracle CTE as
    // q311, minus the probes). A 2%-of-keys slice keeps the
    // full-history output bounded; the per-key maintenance cost is
    // identical at any corpus size.
    "q317_scd2_stream" -> ((s, d) =>
      scd2StreamRun(s, d, keyMod = 0, timeOrdered = true)),

    // SCD2 OUT-OF-ORDER REPAIR — q317 with the temporal-table
    // contract deliberately broken: the replay chunks by event_id %
    // 4, so EVERY micro-batch spans the full time range and most
    // keys' later batches deliver versions OLDER than the stored
    // newest (the shuffled-CDC-source-partitions case, the
    // reference's TemporalRowTimeJoinOperator buffered-late-row
    // semantics). scd2Batch detects each violation (stale version,
    // no PK hit) and REPAIRS: the key's history is read back, the
    // late versions spliced in, every interval bound recomputed, the
    // key rewritten in one transaction — bounded per-key work. The
    // final table must STILL equal the one-shot window-built SCD2
    // (same oracle CTE shape as q317, different key slice).
    "q320_scd2_ooo" -> ((s, d) =>
      scd2StreamRun(s, d, keyMod = 7, timeOrdered = false)),

    // CDC SCHEMA EVOLUTION — the source ALTERs a column onto the
    // table mid-stream (real Debezium streams do this): envelopes
    // before the data-relative midpoint are generation 1 (no `seg`
    // field in the after-image), envelopes after it generation 2
    // (seg = upper(event_type)). ONE permissive v2 schema decodes
    // both generations — from_json nulls the absent field, the Avro
    // widened-schema read discipline (q248) applied to the CDC
    // envelope — and the materialized state carries seg for keys
    // whose LATEST version is post-evolution, null for the rest. A
    // generation misrouted, a null not synthesized, or a field
    // matched by position breaks the oracle, which recomputes the
    // same split from the original events.
    "q321_cdc_evolution" -> ((s, d) => {
      import graft.streaming.Cdc
      val ev = Tables.events(s, d)
      val span = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val mid = (span.getLong(0) + span.getLong(1)) / 2
      val wire = Cdc.envelope(ev.filter(unix_micros(col("ts")) < mid))
        .unionAll(Cdc.envelopeV2(ev.filter(unix_micros(col("ts")) >= mid)))
      val chg = Cdc.parseV2(wire, col("json"))
      val ops = chg.groupBy(col("user_id")).agg(count(lit(1)).as("n_ops"))
      Cdc.materialize(chg)
        .join(ops, "user_id")
        .select(col("user_id"), col("value"), col("k"), col("seg"),
          col("ts_us").as("last_ts_us"), col("n_ops"))
        .orderBy(col("user_id"))
    }),

    // CDC TOMBSTONE COMPACTION — the production retention step the
    // DELETED-marker design (q303) defers: after each micro-batch's
    // MERGE, tombstones older than the batch's minimum event time are
    // physically dropped — safe because an event-time-ordered source
    // can never later deliver an op older than that watermark, so the
    // version guard the tombstone existed to enforce can no longer
    // fire (an op NEWER than a dropped tombstone re-inserts — a
    // genuine resurrection — which stays correct). The final table
    // holds every live row plus EXACTLY the tombstones at-or-after
    // the last batch's watermark; the oracle applies the same
    // retention window to the one-shot materialization. At 100 TB
    // this is what keeps CDC state proportional to the LIVE key set,
    // not the all-time delete history.
    "q326_cdc_compact" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cdc, Event, Replay}
      val real = Tables.events(s, d)
      val (lo, hi) = Replay.spanOf(real.as[Event])
      val wire = Cdc.envelope(real).localCheckpoint()
      val ep = Replay.fileEpochs(wire, Replay.quarterChunks(lo, hi))
      val url = s"jdbc:derby:${ep.dir}/db;create=true"
      Cdc.initStateTable(url)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("pos").desc)
      val ss = s.newSession()
      ss.conf.set("spark.sql.files.maxPartitionBytes", "8m")
      ep.runBatches(Cdc.parse(ep.streamDf(ss), col("json"))) { (b, _) =>
        Cdc.mergeBatch(
          b.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn"), url)
        val wm = b.agg(min(col("ts_us"))).head()
        if (!wm.isNullAt(0)) Cdc.compactTombstones(url, wm.getLong(0))
      }
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "CDC_STATE").load()
        .select(col("USER_ID").as("user_id"), col("VAL").as("value"),
          col("K").as("k"), col("TS_US").as("last_ts_us"),
          col("DELETED").cast("int").as("deleted"))
        .orderBy(col("user_id"))
    })
  )

  /** Shared q317/q320 runner: replay the CDC wire of the `user_id %
    * 50 == keyMod` slice either time-ordered (quarter chunks — the
    * monotone temporal-table contract) or deliberately shuffled
    * (event_id % 4 chunks — every batch spans the full time range,
    * exercising the out-of-order repair), maintain the SCD2 history
    * via scd2Batch, read the final table back. */
  private def scd2StreamRun(s: org.apache.spark.sql.SparkSession, d: String,
                            keyMod: Int, timeOrdered: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.streaming.{Cdc, Event, Replay}
    val real = Tables.events(s, d)
      .filter(pmod(col("user_id"), lit(50)) === keyMod)
    val wire = Cdc.envelope(real).localCheckpoint()
    val chunks =
      if (timeOrdered) {
        val (lo, hi) = Replay.spanOf(Tables.events(s, d).as[Event])
        Replay.quarterChunks(lo, hi)
      } else (0 until 4).map(i => pmod(col("event_id"), lit(4)) === i)
    val ep = Replay.fileEpochs(wire, chunks)
    val url = s"jdbc:derby:${ep.dir}/db;create=true"
    Cdc.initScd2Table(url)
    ep.runBatches(Cdc.parse(ep.streamDf(s), col("json")))((b, _) => Cdc.scd2Batch(b, url))
    val hist = s.read.format("jdbc").option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "SCD2_HIST").load()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("USER_ID"))
      .orderBy(col("VALID_FROM_US"), col("POS"))
    hist.select(col("USER_ID").as("user_id"),
        col("VALID_FROM_US").as("valid_from_us"), col("POS").as("pos"),
        col("OP").as("op"), col("VAL").as("value"), col("K").as("k"),
        col("VALID_TO_US").as("valid_to_us"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current",
        col("valid_to_us").isNull && col("op") =!= "d")
      .orderBy(col("user_id"), col("valid_from_us"), col("pos"))
  }

  private val centsSum = "sum(CAST(round(value*100) AS BIGINT))::BIGINT"

  /** The one-shot window-built SCD2 truth over the `user_id % 50 ==
    * keyMod` slice — shared by the time-ordered (q317) and the
    * out-of-order (q320) streaming maintenance legs: BOTH replays
    * must converge to this exact table. */
  private def scd2OracleSql(keyMod: Int): String =
    s"""WITH ch AS (
       |  SELECT user_id,
       |    CASE event_type WHEN 'signup' THEN 'c'
       |                    WHEN 'error' THEN 'd' ELSE 'u' END AS op,
       |    epoch_us(ts) AS ts_us, event_id AS pos, value,
       |    CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
       |  FROM events WHERE user_id % 50 = $keyMod),
       |v AS (
       |  SELECT user_id, op, ts_us, pos,
       |    CASE WHEN op = 'd' THEN NULL ELSE value END AS value,
       |    CASE WHEN op = 'd' THEN NULL ELSE k END AS k,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY ts_us, pos) AS version,
       |    lead(ts_us) OVER (PARTITION BY user_id
       |                      ORDER BY ts_us, pos) AS valid_to
       |  FROM ch)
       |SELECT user_id, ts_us AS valid_from_us, pos, op, value, k,
       |  valid_to AS valid_to_us, version::BIGINT AS version,
       |  (valid_to IS NULL AND op <> 'd') AS is_current
       |FROM v ORDER BY user_id, valid_from_us, pos""".stripMargin

  /** The CDC changelog re-derived from the original events rows —
    * shared by the q302 (batch) and q303 (streaming MERGE) oracles. */
  private val cdcCtes =
    """WITH ch AS (
      |  SELECT user_id,
      |    CASE event_type WHEN 'signup' THEN 'c'
      |                    WHEN 'error' THEN 'd' ELSE 'u' END AS op,
      |    epoch_us(ts) AS ts_us, event_id AS pos, value,
      |    CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k
      |  FROM events),
      |latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |             ORDER BY ts_us DESC, pos DESC) AS rn
      |  FROM ch)""".stripMargin

  /** Per-type counts, cents, users and id range of the events: every format
    * round trip and file sink that keeps the ids (q167, q168, q186, q188,
    * q253). */
  private val eventAggSql =
    s"""SELECT event_type, count(*)::BIGINT AS n, $centsSum AS cents_v,
         |  count(DISTINCT user_id)::BIGINT AS users,
         |  min(event_id) AS min_id, max(event_id) AS max_id
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-type counts, cents and ts range of the events: the binary round
    * trips (q169, q242). */
  private val eventTsAggSql =
    s"""SELECT event_type, count(*)::BIGINT AS n, $centsSum AS cents_v,
         |  min(make_timestamp(epoch_ns(ts)//1000)) AS min_ts,
         |  max(make_timestamp(epoch_ns(ts)//1000)) AS max_ts
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val oracle: Map[String, String] = Map(
    "q302_cdc_materialize" -> (cdcCtes + """,
      |ops AS (SELECT user_id, count(*) AS n_ops FROM ch GROUP BY 1)
      |SELECT l.user_id, l.value, l.k, l.ts_us AS last_ts_us, o.n_ops
      |FROM latest l JOIN ops o USING (user_id)
      |WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin),
    "q303_cdc_stream_merge" -> (cdcCtes + """
      |SELECT user_id, value, k, ts_us AS last_ts_us
      |FROM latest WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin),
    // the streamed history table must equal the one-shot window-built
    // SCD2 on the same key slice: every version, bound, tombstone
    "q317_scd2_stream" -> scd2OracleSql(0),
    // and the SAME truth must emerge from the deliberately
    // out-of-order replay — the repair path converges
    "q320_scd2_ooo" -> scd2OracleSql(7),

    // mixed-generation decode: keys whose latest op is post-evolution
    // carry seg = upper(event_type), the rest null
    "q321_cdc_evolution" ->
      """WITH span AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        |  FROM events),
        |ch AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'signup' THEN 'c'
        |                    WHEN 'error' THEN 'd' ELSE 'u' END AS op,
        |    epoch_us(ts) AS ts_us, event_id AS pos, value,
        |    CAST(regexp_extract(props, '"k": (-?[0-9]+)', 1) AS BIGINT) AS k,
        |    CASE WHEN epoch_us(ts) >= (SELECT mid FROM span)
        |         THEN upper(event_type) END AS seg
        |  FROM events),
        |latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |             ORDER BY ts_us DESC, pos DESC) AS rn
        |  FROM ch),
        |ops AS (SELECT user_id, count(*) AS n_ops FROM ch GROUP BY 1)
        |SELECT l.user_id, l.value, l.k, l.seg, l.ts_us AS last_ts_us,
        |  o.n_ops
        |FROM latest l JOIN ops o USING (user_id)
        |WHERE rn = 1 AND op <> 'd' ORDER BY user_id""".stripMargin,

    // post-compaction state = live rows ∪ tombstones at-or-after the
    // last batch's watermark (the min event time of the last quarter,
    // quarter cuts ms-truncated exactly as the replay harness does)
    "q326_cdc_compact" -> (cdcCtes + """,
      |span AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ch),
      |cut3 AS (
      |  SELECT ((lo + ((hi - lo) * 3) // 4) // 1000) * 1000 AS c3
      |  FROM span),
      |wm AS (
      |  SELECT min(ts_us) AS w FROM ch, cut3 WHERE ts_us >= c3)
      |SELECT user_id,
      |  CASE WHEN op = 'd' THEN NULL ELSE value END AS value,
      |  CASE WHEN op = 'd' THEN NULL ELSE k END AS k,
      |  ts_us AS last_ts_us,
      |  CASE WHEN op = 'd' THEN 1 ELSE 0 END AS deleted
      |FROM latest, wm
      |WHERE rn = 1 AND (op <> 'd' OR ts_us >= w)
      |ORDER BY user_id""".stripMargin),

    // the SCD2 intervals replayed as a window pass; the as-of probe is
    // the half-open interval join (valid_from <= t < valid_to) —
    // zero-length intervals from same-microsecond version ties can
    // never match, which is exactly the exec's highest-pos tie rule
    "q311_scd2_asof" -> (cdcCtes + """,
      |v AS (
      |  SELECT user_id, op, ts_us, pos, value, k,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts_us, pos) AS version,
      |    lead(ts_us) OVER (PARTITION BY user_id
      |                      ORDER BY ts_us, pos) AS valid_to
      |  FROM ch),
      |span AS (SELECT min(ts_us) AS lo, max(ts_us) AS hi FROM ch),
      |probes AS (
      |  SELECT p AS probe_no, lo + ((hi - lo) * p) // 4 AS pts
      |  FROM span, (VALUES (1), (2), (3)) t(p))
      |SELECT p.probe_no::BIGINT AS probe_no, v.user_id, v.value, v.k,
      |  v.version::BIGINT AS version,
      |  (v.valid_to IS NULL AND v.op <> 'd') AS is_current
      |FROM probes p JOIN v
      |  ON v.ts_us <= p.pts AND (v.valid_to IS NULL OR p.pts < v.valid_to)
      |WHERE v.op <> 'd'
      |ORDER BY probe_no, v.user_id""".stripMargin),
    "q167_csv_roundtrip" -> eventAggSql,
    "q168_json_roundtrip" -> eventAggSql,
    "q259_json_errmodes" ->
      """WITH ev AS (SELECT event_id,
        |  cast(round(value*100) as bigint) AS cents FROM events)
        |SELECT count(*)::BIGINT AS n_lines,
        |  sum(CASE WHEN event_id % 10 = 3 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_quarantined,
        |  sum(CASE WHEN event_id % 10 = 7 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_missing_field,
        |  sum(CASE WHEN event_id % 10 NOT IN (3, 7) THEN cents END)::BIGINT
        |    AS cents_clean,
        |  (count(*) - sum(CASE WHEN event_id % 10 = 3 THEN 1 ELSE 0 END))::BIGINT
        |    AS n_kept_dropmalformed
        |FROM ev""".stripMargin,
    "q169_orc_roundtrip" -> eventTsAggSql,
    "q242_avro_roundtrip" -> eventTsAggSql,
    "q248_avro_evolution" ->
      s"""SELECT event_type, count(*)::BIGINT AS n, $centsSum AS cents_v,
         |  count(CASE WHEN event_id % 2 = 0 THEN 1 END)::BIGINT AS n_old,
         |  count(CASE WHEN event_id % 2 = 1 THEN 1 END)::BIGINT AS n_new
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q186_jdbc_roundtrip" -> eventAggSql,
    "q187_partitioned_table" ->
      """SELECT lang, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE source = 'src1'
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q188_stream_csv_sink" -> eventAggSql,
    "q253_stream_avro_sink" -> eventAggSql,
    "q281_txn_sink_recovery" ->
      """SELECT event_id AS id, CAST(round(value*100) AS BIGINT) AS v
        |FROM events ORDER BY id""".stripMargin
  )
}
