package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max, min, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.{Par, Scratch, Tables}

/** Epoch replay: turns a finite table into a multi-epoch file stream
  * and runs a stream over it to completion — the harness behind every
  * streaming-vs-oracle parity query. The replay proves that keyed state
  * carries across micro-batches, so ONE policy decides the epochs.
  *
  * Epoch shapes, each returning an [[Epochs]]:
  *  - `quarters`: the four event-time quarters of an event table, then
  *    one epoch per caller-supplied sentinel event (drain/flush rows
  *    that push the watermark past the data); `eventQuarters` opens it
  *    over the events table;
  *  - `snapshotSplit`: the lower half of the ids stays a frozen batch
  *    snapshot, the upper half streams as three id-range epochs
  *    (`idThirds`);
  *  - `fileEpochs`: one epoch per caller condition, for bespoke orders
  *    (a straddle boundary, a late quarter, a half-plus-quarter
  *    continuation, non-event tables).
  *
  * Sinks are methods of the [[Epochs]]: `runAppend` (append mode to
  * parquet, read back), `runUpdate` (update mode through foreachBatch,
  * each refresh tagged with its batch id, reduced by `latestPerKey`),
  * and `runBatches`, the one foreachBatch-to-termination driver under
  * Trigger.AvailableNow that `runUpdate` and the hand-rolled per-batch
  * sinks build on.
  *
  * Each epoch is written as ONE file (coalesce(1) is replay fidelity,
  * not an operator choice: several part files per epoch would split it
  * across micro-batches in undefined file order) with an explicitly
  * increasing modification time, so the file source's
  * oldest-modtime-first order under maxFilesPerTrigger=1 replays the
  * epochs as consecutive micro-batches. An empty epoch is one empty
  * file (Spark writes the lone partition's file even without rows), so
  * it still runs as a 0-row micro-batch and batch ids equal epoch
  * indices. Epochs are parquet unless `quarters` is given another
  * format: the DDL stream queries read their tables as csv or
  * graft-avro, and their epochs are written through the same writer.
  *
  * Sentinel rows (user_id -1, event_id < 0, far-future ts) are dropped
  * at SINK READ, never inside the streaming plan: a filter on them —
  * even one placed above an aggregate — is pushed below the aggregate
  * and the EventTimeWatermark node, so the watermark never observes
  * the sentinels' event time and the last windows never emit (the
  * q129 pushdown trap). */
object Replay {

  val DayUs: Long = 86400L * 1000000L

  /** A written replay and the handle its streams and sinks run
    * through. The replay owns `dir`, a fresh `graft.Scratch`
    * directory laid out as:
    *  - `in/`: one file per epoch, `chunk_NN.<format extension>`,
    *    modification times increasing with the epoch index;
    *  - `stage_i/`: the write of epoch i before its file moves to `in/`;
    *  - `ck/`: the checkpoint of the sinks below;
    *  - `out/`: what `runAppend` and `runUpdate` write and read back.
    * A caller that keeps other files beside the replay (a JDBC db, a
    * manifest table, a snapshot dir) puts them under `dir` too.
    * `schema` is the epochs' schema as the file source reads it (every
    * column nullable), `format` their file format, and `lo`/`hi` the
    * replayed key span: event-time µs for `quarters`, ids for
    * `idThirds`, 0 for `fileEpochs`. */
  final case class Epochs(dir: String, schema: StructType, format: String,
      lo: Long = 0L, hi: Long = 0L) {

    /** The file-source directory. */
    def in: String = s"$dir/in"

    /** The epochs as a one-file-per-trigger stream. */
    def streamDf(s: SparkSession): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .format(format).load(in)

    /** [[streamDf]] typed as events. */
    def stream(s: SparkSession): Dataset[Event] =
      streamDf(s).as[Event](Encoders.product[Event])

    /** Run an append-mode streaming frame into a parquet `out/`, read
      * it back. `conf` applies to this stream only (see [[started]]). */
    def runAppend(df: DataFrame, conf: Map[String, String] = Map.empty): DataFrame = {
      val out = s"$dir/out"
      val q = started(df.sparkSession, conf) {
        df.writeStream.option("checkpointLocation", s"$dir/ck")
          .outputMode("append").format("parquet").option("path", out)
          .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      Tables.read(df.sparkSession, out)
    }

    /** Run an update-mode streaming frame via foreachBatch (parquet
      * has no update sink): every per-batch refresh is appended to
      * `out/` tagged with its batchId; the caller reduces to
      * newest-emission-per-key. `conf` applies to this stream only. */
    def runUpdate(df: DataFrame, conf: Map[String, String] = Map.empty): DataFrame = {
      val out = s"$dir/out"
      runBatches(df, "update", conf) { (b, id) =>
        b.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }
      Tables.read(df.sparkSession, out)
    }

    /** Run `df` to termination under Trigger.AvailableNow, handing
      * every micro-batch and its batch id to `f`; returns the finished
      * query (its progress log). The checkpoint is `ck/`. `conf`
      * applies to this stream only (see [[started]]), not to the
      * caller's session that `f` may use. */
    def runBatches(df: DataFrame, outputMode: String = "append",
        conf: Map[String, String] = Map.empty)(
        f: (DataFrame, Long) => Unit): StreamingQuery = {
      val q = started(df.sparkSession, conf) {
        df.writeStream.option("checkpointLocation", s"$dir/ck").outputMode(outputMode)
          .foreachBatch(f).trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      q
    }
  }

  /** µs since epoch → Timestamp, truncated to ms (the cut and sentinel
    * timestamps the oracles replicate). */
  def tsOf(us: Long): Timestamp = new Timestamp(us / 1000)

  /** (min ts µs, max ts µs) of the dataset — two bounded scalars. */
  def spanOf(real: Dataset[Event]): (Long, Long) = {
    val r = real.agg(min(col("ts")), max(col("ts"))).head()
    (Event.micros(r.getTimestamp(0)), Event.micros(r.getTimestamp(1)))
  }

  /** Four time-quarter conditions on `ts` — a partition of the range,
    * so the replay is genuinely multi-batch at every scale factor. */
  def quarterChunks(loUs: Long, hiUs: Long): Seq[Column] = {
    val cut = (q: Long) => lit(tsOf(loUs + (hiUs - loUs) * q / 4))
    Seq(
      col("ts") < cut(1),
      col("ts") >= cut(1) && col("ts") < cut(2),
      col("ts") >= cut(2) && col("ts") < cut(3),
      col("ts") >= cut(3))
  }

  /** A sentinel event for user -1 at `atUs`. */
  def sentinel(id: Long, atUs: Long, eventType: String = "flush",
      value: Double = 0.0): Event =
    Event(id, tsOf(atUs), -1L, eventType, value, "{}")

  /** Flush sentinels -1, -2, … at the given day offsets past the span's
    * end. Two are needed to close the last windows: the first advances
    * the watermark past them, the second runs the batch in which they
    * emit (append mode emits in the batch AFTER the watermark passes). */
  def flushes(offDays: Long*): (Long, Long) => Seq[Event] = (_, hi) =>
    offDays.zipWithIndex.map { case (o, i) => sentinel(-(i + 1L), hi + o * DayUs) }

  /** The quarter replay of `real`: its four time quarters, then one
    * epoch per sentinel, in that order. `sentinels` gets the span of
    * `real` (µs). Every epoch, sentinels included, is written through
    * `project` as `format` (parquet, csv or graft-avro). */
  def quarters(real: Dataset[Event],
      sentinels: (Long, Long) => Seq[Event] = (_, _) => Nil,
      format: String = "parquet",
      project: DataFrame => DataFrame = identity): Epochs = {
    val (lo, hi) = spanOf(real)
    val cols = real.columns.map(col)
    val tail = sentinels(lo, hi).map(e =>
      real.sparkSession.createDataset(Seq(e))(Encoders.product[Event]).select(cols: _*))
    val epochs = (quarterChunks(lo, hi).map(c => real.filter(c).toDF()) ++ tail).map(project)
    writeEpochs(epochs, project(real.toDF()).schema, format).copy(lo = lo, hi = hi)
  }

  /** [[quarters]] of the events table in the scale-factor dir `sf`. */
  def eventQuarters(s: SparkSession, sf: String,
      sentinels: (Long, Long) => Seq[Event] = (_, _) => Nil): Epochs =
    quarters(Tables.events(s, sf).as[Event](Encoders.product[Event]), sentinels)

  /** Snapshot/stream split by id: rows below half the max id are the
    * frozen batch snapshot, the upper half is written as three id-range
    * epochs. Returns (snapshot, epochs). */
  def snapshotSplit(ds: DataFrame, idCol: String): (DataFrame, Epochs) = {
    val maxId = ds.agg(max(col(idCol))).head().getLong(0)
    val half = maxId / 2
    (ds.filter(col(idCol) < half),
      idThirds(ds.filter(col(idCol) >= half), idCol, half, maxId))
  }

  /** Ids in [from, maxId] as three equal id-range epochs. */
  def idThirds(ds: DataFrame, idCol: String, from: Long, maxId: Long): Epochs = {
    val step = (maxId - from) / 3
    val (c1, c2, id) = (from + step, from + 2 * step, col(idCol))
    fileEpochs(ds, Seq(id >= from && id < c1, id >= c1 && id < c2, id >= c2))
      .copy(lo = from, hi = maxId)
  }

  /** `ds` as one parquet epoch per condition. Rows matching no
    * condition are dropped — make the conditions a partition of the
    * rows you mean to replay. Schema-generic: any Dataset replays
    * (events, documents, ...). */
  def fileEpochs(ds: Dataset[_], conds: Seq[Column]): Epochs =
    writeEpochs(conds.map(c => ds.filter(c)), ds.schema, "parquet")

  /** The one epoch writer: a fresh replay dir, and epoch i as the file
    * `in/chunk_<i>` in `format`. */
  private def writeEpochs(epochs: Seq[Dataset[_]], schema: StructType,
      format: String): Epochs = {
    val dir = Scratch.dir("replay").toString
    val in = Files.createDirectories(Paths.get(dir, "in"))
    // epochs are independent single-task write jobs: overlap them (at a
    // 10 M-row replay the serial writes were most of the prep time)
    Par.run(epochs.zipWithIndex.map { case (ep, i) => () => writeEpoch(ep, i, dir, in, format) })
    // the file source reads every column as nullable
    Epochs(dir, nullable(schema).asInstanceOf[StructType], format)
  }

  private def writeEpoch(ep: Dataset[_], i: Int, dir: String, in: Path,
      format: String): Unit = {
    val stage = Paths.get(dir, s"stage_$i")
    // small row groups: an epoch is ONE file, and parquet assigns a row
    // group to the byte-range split holding its midpoint — one
    // default-sized row group would make every micro-batch read
    // effectively serial no matter how many splits the planner creates
    ep.coalesce(1).write.mode("overwrite").format(format)
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .save(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(p => p.getFileName.toString.startsWith("part-")).findFirst()
      finally listing.close() // Files.list holds a directory handle
    if (part.isPresent) {
      val name = part.get().getFileName.toString
      val dst = in.resolve(f"chunk_$i%02d" + name.substring(name.lastIndexOf('.')))
      Files.move(part.get(), dst)
      // concurrent (or coarse-modtime) writes can TIE; pin an
      // explicitly increasing modtime per epoch index
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1_000_000_000_000L + i * 60_000L))
    }
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Start a stream with `conf` set on the session for the call only.
    * `start()` clones the session (StreamExecution's constructor calls
    * `cloneSession()`), so the stream keeps these values for its whole
    * run — planning, state stores and its micro-batch DataFrames —
    * while the caller's session has its own values back as soon as
    * `start()` returns. */
  def started(s: SparkSession, conf: Map[String, String])(
      start: => StreamingQuery): StreamingQuery = {
    val prev = conf.keys.map(k => k -> s.conf.getOption(k))
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try start
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Per-stream conf for streams whose keyed state is BOUNDED BY
    * CONSTRUCTION (sketch cells: ≤2 K CMS cells, HLL/KLL/theta grain
    * cells): the state-partition count (spark.sql.shuffle.partitions,
    * which the checkpoint then pins for every batch) — r12: every
    * micro-batch pays per-partition state-store
    * open/commit + task overhead, and with the session default (cores)
    * the 4-epoch sketch replays spent ~2 s/run on 32-way state traffic
    * for a few-KB state. A small count is the SCALE-CORRECT choice
    * here precisely because the state does not grow with the corpus
    * (the map side still tokenizes at full parallelism and partial
    * aggregation collapses each task to ≤cells rows before the
    * exchange); streams whose state grows with the data (per-user,
    * per-doc keys) keep the session default.
    *
    * r13 (VERDICT r12 item 7): DERIVED from the caller's state-cell
    * bound instead of one shared constant — one state partition per
    * 512 bounded cells, clamped to [1, 4]. The r12 controlled
    * experiment (q313, 2048 CMS cells: 32 partitions 6.4-7.6 s → 4
    * partitions 4.5-4.6 s) pins the top of the clamp; the
    * per-512-cells rule keeps a future larger-but-bounded state from
    * silently inheriting a too-small count, and drops the
    * source-grained sketches (≤64 cells) to one partition. */
  def boundedStateConf(stateCells: Long): Map[String, String] =
    Map("spark.sql.shuffle.partitions" ->
      math.max(1L, math.min(4L, (stateCells + 511) / 512)).toString)

  /** Newest emission per key group = the operator's final state. */
  def latestPerKey(hist: DataFrame, keys: Column*): DataFrame =
    hist.withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("batch_id").desc)))
      .filter(col("__rn") === 1).drop("__rn", "batch_id")
}
