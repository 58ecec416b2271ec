package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.{Scratch, SparkSpec, Tables}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path => HPath}
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, OffsetSeqLog}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** The epoch-replay harness: how a finite table becomes epochs (one
  * file per epoch, in modification-time order) and how a stream over
  * them runs — one micro-batch per epoch. */
class ReplaySpec extends SparkSpec {

  private def events = {
    val spark2 = spark; import spark2.implicits._
    Tables.events(spark, sf).as[Event]
  }

  /** The epoch files of a replay, oldest modification time first. */
  private def epochFiles(in: String): Seq[Path] = {
    val ls = Files.list(Paths.get(in))
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("chunk_")).toSeq
      .sortBy(p => Files.getLastModifiedTime(p).toMillis)
    finally ls.close()
  }

  private def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("the quarter epochs partition the input rows exactly") {
    val real = events
    val ep = Replay.quarters(real)
    val files = epochFiles(ep.in)
    assert(files.map(_.getFileName.toString) ==
      (0 until 4).map(i => f"chunk_$i%02d.parquet"))
    Replay.quarterChunks(ep.lo, ep.hi).zip(files).foreach { case (cond, f) =>
      sameRows(read(f), real.toDF().filter(cond))
    }
    sameRows(spark.read.parquet(ep.in), real.toDF())
  }

  test("each epoch is one file; an empty epoch is an empty file and a 0-row batch") {
    val real = events.toDF()
    val conds = Seq(col("event_id") % 2 === 0, col("user_id") < 0, col("event_id") % 2 === 1)
    val ep = Replay.fileEpochs(real, conds)
    val files = epochFiles(ep.in)
    assert(files.map(_.getFileName.toString) ==
      (0 until 3).map(i => f"chunk_$i%02d.parquet"))
    conds.zip(files).foreach { case (cond, f) => sameRows(read(f), real.filter(cond)) }
    assert(read(files(1)).isEmpty)
    val q = ep.runBatches(ep.streamDf(spark)) { (b, _) => b.count(); () }
    assert(q.recentProgress.map(_.numInputRows).toSeq == files.map(read(_).count()))
  }

  test("sentinel epochs follow the quarters in modification-time order") {
    val real = events
    val ep = Replay.quarters(real, Replay.flushes(1, 2))
    val files = epochFiles(ep.in)
    assert(files.map(_.getFileName.toString) ==
      (0 until 6).map(i => f"chunk_$i%02d.parquet"))
    val mtimes = files.map(Files.getLastModifiedTime(_).toMillis)
    assert(mtimes == mtimes.distinct.sorted)
    val ids = files.drop(4).map(f =>
      read(f).select("event_id", "user_id", "event_type").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
    assert(ids == Seq(Seq((-1L, -1L, "flush")), Seq((-2L, -1L, "flush"))))
    sameRows(files.take(4).map(read).reduce(_ union _), real.toDF())
    val ts = files.drop(4).map(read(_).head().getTimestamp(1))
    assert(ts == Seq(1L, 2L).map(k => Replay.tsOf(ep.hi + k * Replay.DayUs)))
  }

  test("a replay of N epochs runs as exactly N micro-batches") {
    val real = events
    val ep = Replay.quarters(real, Replay.flushes(1, 2))
    val expected = epochFiles(ep.in).map(read(_).count())
    assert(expected.size == 6 && expected.drop(4) == Seq(1L, 1L))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = ep.runBatches(ep.streamDf(spark)) { (b, id) => seen += ((id, b.count())) }
    assert(seen.toSeq == expected.indices.map(_.toLong).zip(expected))
    assert(q.recentProgress.map(_.numInputRows).toSeq == expected)
  }

  test("the id split gives snapshot ∪ streamed = input, with no overlap") {
    val docs = Tables.documents(spark, sf)
    val (snap, ep) = Replay.snapshotSplit(docs, "doc_id")
    val streamed = spark.read.parquet(ep.in)
    assert(epochFiles(ep.in).size == 3)
    assert(snap.join(streamed, "doc_id").isEmpty)
    sameRows(snap.unionByName(streamed), docs)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    assert((ep.lo, ep.hi) == (maxId / 2, maxId))
    assert(snap.agg(max("doc_id")).head().getLong(0) < ep.lo)
  }

  test("the returned schema equals the schema read back from the epochs") {
    val spark2 = spark; import spark2.implicits._
    val ev = Tables.events(spark, sf)
    val cases: Seq[(String, org.apache.spark.sql.Dataset[_])] = Seq(
      "events" -> events,
      "cents-mapped events" -> events.map(e => e.copy(value = math.round(e.value * 100).toDouble)),
      "documents" -> Tables.documents(spark, sf),
      "embeddings" -> Tables.embeddings(spark, sf),
      "q233 projection" -> ev.select(col("event_type"),
        expr("cast(round(value*100) as bigint)").as("cents"), col("ts")),
      "q244 projection" -> ev.select(col("event_id"), col("user_id"),
        col("event_type"), expr("cast(round(value*100) as bigint)").as("cents"),
        unix_micros(col("ts")).as("ts_us")))
    cases.foreach { case (name, ds) =>
      val ep = Replay.fileEpochs(ds, Seq(lit(true)))
      assert(ep.schema == spark.read.parquet(ep.in).schema, name)
    }
    val ep = Replay.quarters(events, Replay.flushes(1, 2))
    assert(ep.schema == spark.read.parquet(ep.in).schema, "quarters with sentinels")
  }

  test("a per-stream conf reaches the stream's state, not the caller's session") {
    val spark2 = spark; import spark2.implicits._
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    val requested = own.toInt + 1
    val ep = Replay.quarters(events)
    val counts = ep.stream(spark).groupBy($"user_id").count()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = ep.runBatches(counts, "update", Map(key -> requested.toString)) { (b, _) =>
      seen.add(spark.conf.get(key))
      b.count()
    }
    assert(!seen.isEmpty && seen.asScala.forall(_ == own),
      s"foreachBatch saw $seen, the caller's value is $own")
    assert(q.lastProgress.stateOperators.head.numShufflePartitions == requested)
    assert(spark.conf.get(key) == own)
  }

  test("a replay stopped after its second batch resumes at batch 2 on its checkpoint") {
    type Batches = ArrayBuffer[(Long, Map[String, Long])]
    def run(ep: Replay.Epochs, seen: Batches, stopAt: Long = -1L): Unit =
      ep.runBatches(ep.streamDf(spark).groupBy("event_type").count(), "update") { (b, id) =>
        if (id == stopAt) throw new IllegalStateException(s"stopped at batch $id")
        seen += id -> b.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    // update mode emits the changed counts; the last emission per key wins
    def cells(bs: Batches) = bs.map(_._2).foldLeft(Map.empty[String, Long])(_ ++ _)
    val whole, first, rest = new Batches
    run(Replay.quarters(events), whole)
    val ep = Replay.quarters(events)
    intercept[StreamingQueryException](run(ep, first, stopAt = 2))
    run(ep, rest)
    assert(whole.map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(first.map(_._1) == Seq(0L, 1L))
    assert(rest.map(_._1) == Seq(2L, 3L))
    assert(cells(first ++ rest) == cells(whole))
    assert(cells(whole) == events.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("a second offsets/N write for an existing batch is refused") {
    val ep = Replay.quarters(events)
    ep.runBatches(ep.streamDf(spark)) { (b, _) => b.count(); () }
    val ck = s"${ep.dir}/ck"
    val file = Paths.get(ck, "offsets", "1")
    val written = Files.readAllBytes(file)
    assert(Files.exists(file.resolveSibling(".1.crc")))
    val log = new OffsetSeqLog(spark, s"$ck/offsets")
    assert(!log.add(1L, log.get(1L).get))
    val fm = CheckpointFileManager.create(new HPath(s"$ck/offsets"),
      spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
    val out = fm.createAtomic(new HPath(file.toUri), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes("UTF-8"))
    intercept[FileAlreadyExistsException](out.close())
    assert(Files.readAllBytes(file).sameElements(written))
  }

  /** The DDL stream tables' columns (q227, q244). */
  private def ddlColumns(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("user_id"), col("event_type"),
      expr("cast(round(value*100) as bigint)").as("cents"),
      unix_micros(col("ts")).as("ts_us"))

  /** (batch id, sorted rows) of every micro-batch of a replay. */
  private def batches(ep: Replay.Epochs): Seq[(Long, Seq[String])] = {
    val seen = ArrayBuffer[(Long, Seq[String])]()
    ep.runBatches(ep.streamDf(spark)) { (b, id) =>
      seen += id -> b.collect().map(_.toString).toSeq.sorted
    }
    seen.toSeq
  }

  test("csv and graft-avro epochs replay as the parquet epochs of the same rows") {
    val parquet = Replay.quarters(events, Replay.flushes(1, 2), project = ddlColumns)
    val expected = batches(parquet)
    assert(expected.map(_._1) == (0L until 6L))
    assert(expected.map(_._2.size.toLong) == epochFiles(parquet.in).map(read(_).count()))
    Seq("csv" -> "csv", "graft-avro" -> "avro").foreach { case (format, ext) =>
      val ep = Replay.quarters(events, Replay.flushes(1, 2), format, ddlColumns)
      assert(epochFiles(ep.in).map(_.getFileName.toString) ==
        (0 until 6).map(i => f"chunk_$i%02d.$ext"), format)
      assert(batches(ep) == expected, format)
    }
  }

  test("every replay owns a fresh dir under the Scratch root") {
    val ids = spark.range(4).toDF("id")
    val (a, b) = (Replay.fileEpochs(ids, Seq(lit(true))), Replay.fileEpochs(ids, Seq(lit(true))))
    assert(a.dir != b.dir)
    Seq(a, b).foreach(ep => assert(Paths.get(ep.dir).getParent == Scratch.root))
  }
}
