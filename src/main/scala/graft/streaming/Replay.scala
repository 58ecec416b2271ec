package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, max, min, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.{Par, Tables}

/** Epoch replay: turns a finite table into a multi-epoch file stream
  * and runs a stream over it to completion — the harness behind every
  * streaming-vs-oracle parity query. The replay proves that keyed state
  * carries across micro-batches, so ONE policy decides the epochs.
  *
  * Epoch shapes:
  *  - `quarters`: the four event-time quarters of an event table, then
  *    one epoch per caller-supplied sentinel event (drain/flush rows
  *    that push the watermark past the data);
  *  - `snapshotSplit`: the lower half of the ids stays a frozen batch
  *    snapshot, the upper half streams as three id-range epochs
  *    (`idThirds`);
  *  - `fileEpochs`: one epoch per caller condition, for bespoke orders
  *    (a straddle boundary, a late quarter, a half-plus-quarter
  *    continuation, non-event tables).
  *
  * Sinks: `runAppend` (append mode to parquet, read back), `runUpdate`
  * (update mode through foreachBatch, each refresh tagged with its
  * batch id, reduced by `latestPerKey`), and `runBatches`, the one
  * foreachBatch-to-termination driver under Trigger.AvailableNow that
  * `runUpdate` and the hand-rolled per-batch sinks build on.
  *
  * Each epoch is written as ONE parquet file (coalesce(1) is replay
  * fidelity, not an operator choice: several part files per epoch
  * would split it across micro-batches in undefined file order) with
  * an explicitly increasing modification time, so the file source's
  * oldest-modtime-first order under maxFilesPerTrigger=1 replays the
  * epochs as consecutive micro-batches. An empty epoch is one empty
  * file (Spark writes the lone partition's file even without rows), so
  * it still runs as a 0-row micro-batch and batch ids equal epoch
  * indices.
  *
  * Sentinel rows (user_id -1, event_id < 0, far-future ts) are dropped
  * at SINK READ, never inside the streaming plan: a filter on them —
  * even one placed above an aggregate — is pushed below the aggregate
  * and the EventTimeWatermark node, so the watermark never observes
  * the sentinels' event time and the last windows never emit (the
  * q129 pushdown trap). */
object Replay {

  val DayUs: Long = 86400L * 1000000L

  /** A written replay: the file-source directory, its schema, and the
    * replayed key span — event-time µs for `quarters`, ids for
    * `idThirds`. */
  final case class Epochs(in: String, schema: StructType, lo: Long, hi: Long) {
    def stream(s: SparkSession): Dataset[Event] = Replay.stream(s, in, schema)
    def streamDf(s: SparkSession): DataFrame = Replay.streamDf(s, in, schema)
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
    * `real` (µs). */
  def quarters(real: Dataset[Event], base: String,
      sentinels: (Long, Long) => Seq[Event] = (_, _) => Nil): Epochs = {
    val (lo, hi) = spanOf(real)
    val cols = real.columns.map(col)
    val tail = sentinels(lo, hi).map(e =>
      real.sparkSession.createDataset(Seq(e))(Encoders.product[Event]).select(cols: _*))
    val (in, schema) =
      writeEpochs(quarterChunks(lo, hi).map(real.filter) ++ tail, real.schema, base)
    Epochs(in, schema, lo, hi)
  }

  /** Snapshot/stream split by id: rows below half the max id are the
    * frozen batch snapshot, the upper half is written as three id-range
    * epochs. Returns (snapshot, epochs). */
  def snapshotSplit(ds: DataFrame, idCol: String, base: String): (DataFrame, Epochs) = {
    val maxId = ds.agg(max(col(idCol))).head().getLong(0)
    val half = maxId / 2
    (ds.filter(col(idCol) < half),
      idThirds(ds.filter(col(idCol) >= half), idCol, half, maxId, base))
  }

  /** Ids in [from, maxId] as three equal id-range epochs. */
  def idThirds(ds: DataFrame, idCol: String, from: Long, maxId: Long,
      base: String): Epochs = {
    val step = (maxId - from) / 3
    val (c1, c2, id) = (from + step, from + 2 * step, col(idCol))
    val (in, schema) = fileEpochs(ds,
      Seq(id >= from && id < c1, id >= c1 && id < c2, id >= c2), base)
    Epochs(in, schema, from, maxId)
  }

  /** Write `ds` into `base/in` as one epoch per condition; returns
    * (inputDir, schema). Rows matching no condition are dropped — make
    * the conditions a partition of the rows you mean to replay.
    * Schema-generic: any Dataset replays (events, documents, ...). */
  def fileEpochs(ds: Dataset[_], conds: Seq[Column], base: String)
      : (String, StructType) =
    writeEpochs(conds.map(c => ds.filter(c)), ds.schema, base)

  private def writeEpochs(epochs: Seq[Dataset[_]], schema: StructType,
      base: String): (String, StructType) = {
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    // epochs are independent single-task write jobs: overlap them (at a
    // 10 M-row replay the serial writes were most of the prep time)
    Par.run(epochs.zipWithIndex.map { case (ep, i) => () => writeEpoch(ep, i, base, in) })
    // the file source reads every column as nullable
    (in, nullable(schema).asInstanceOf[StructType])
  }

  private def writeEpoch(ep: Dataset[_], i: Int, base: String, in: String): Unit = {
    val stage = Paths.get(s"$base/stage_$i")
    // small row groups: an epoch is ONE file, and parquet assigns a row
    // group to the byte-range split holding its midpoint — one
    // default-sized row group would make every micro-batch read
    // effectively serial no matter how many splits the planner creates
    ep.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(p => p.getFileName.toString.endsWith(".parquet")).findFirst()
      finally listing.close() // Files.list holds a directory handle
    if (part.isPresent) {
      val dst = Paths.get(in, f"chunk_$i%02d.parquet")
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

  /** Open the replay as a one-file-per-trigger stream. */
  def stream(spark: SparkSession, in: String, schema: StructType)
      : Dataset[Event] = {
    import spark.implicits._
    streamDf(spark, in, schema).as[Event]
  }

  /** Untyped replay stream for non-Event schemas. */
  def streamDf(spark: SparkSession, in: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)

  /** Run an append-mode streaming frame to parquet, read it back. */
  def runAppend(df: DataFrame, base: String, s: SparkSession): DataFrame = {
    val (out, ck) = (s"$base/out", s"$base/ck")
    val q = df.writeStream.option("checkpointLocation", ck)
      .outputMode("append").format("parquet").option("path", out)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Tables.read(s, out)
  }

  /** Run `df` to termination under Trigger.AvailableNow, handing every
    * micro-batch and its batch id to `f`; returns the finished query
    * (its progress log). */
  def runBatches(df: DataFrame, ck: String, outputMode: String = "append")(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = df.writeStream.option("checkpointLocation", ck).outputMode(outputMode)
      .foreachBatch(f).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** State-partition count for streams whose keyed state is BOUNDED BY
    * CONSTRUCTION (sketch cells: ≤2 K CMS cells, HLL/KLL/theta grain
    * cells) — r12: every micro-batch pays per-partition state-store
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
  def boundedStatePartitions(stateCells: Long): Option[Int] =
    Some(math.max(1L, math.min(4L, (stateCells + 511) / 512)).toInt)

  /** Run an UPDATE-mode streaming frame via foreachBatch (parquet has
    * no update sink): every per-batch refresh is appended tagged with
    * its batchId; the caller reduces to newest-emission-per-key.
    * `statePartitions` pins spark.sql.shuffle.partitions for THIS
    * stream only (the checkpoint pins it for every batch; the session
    * value is restored after the run) — pass it only when the keyed
    * state is bounded by construction. */
  def runUpdate(df: DataFrame, base: String, s: SparkSession,
      statePartitions: Option[Int] = None): DataFrame = {
    val out = s"$base/out"
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    statePartitions.foreach(p =>
      s.conf.set("spark.sql.shuffle.partitions", p.toString))
    try runBatches(df, s"$base/ck", "update") { (b, id) =>
      b.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
    } finally {
      if (statePartitions.isDefined)
        s.conf.set("spark.sql.shuffle.partitions", prev)
    }
    Tables.read(s, out)
  }

  /** Newest emission per key group = the operator's final state. */
  def latestPerKey(hist: DataFrame, keys: Column*): DataFrame =
    hist.withColumn("__rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("batch_id").desc)))
      .filter(col("__rn") === 1).drop("__rn", "batch_id")
}
