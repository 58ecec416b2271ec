package graft.streaming

import java.sql.Timestamp
import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Exactly-once streaming file sink (reference
  * `StreamingFileSink.java:98` two-phase commit /
  * `TwoPhaseCommitSinkFunction.java`): Spark's parquet sink commits
  * per micro-batch through the checkpoint's write-ahead commit log, so
  * a restarted query resumes AFTER the last committed batch — no
  * duplicates, no losses. */
class FileSinkRecoverySpec extends SparkSpec {

  private def ev(id: Long, tSec: Long) =
    Event(id, new Timestamp(tSec * 1000), 1L, "e", 0.0, "{}")

  test("restart from the checkpoint neither duplicates nor drops rows") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val out = Scratch.dir("fsink").toString
    val ckpt = Scratch.dir("fsink-ck").toString
    val ms = MemoryStream[Event]
    def start() = ms.toDS()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    ms.addData(ev(1, 10), ev(2, 20))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint → resumes after batch 0
    ms.addData(ev(3, 30))
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).as[Event].collect().map(_.event_id).toList
    assert(ids.sorted == List(1L, 2L, 3L), s"file sink rows: $ids")
  }
}

/** Keyed state survives a query restart (reference state backends +
  * CheckpointCoordinator: operator state is part of the checkpoint). */
class StateRecoverySpec extends SparkSpec {

  private def ev(id: Long, tSec: Long, user: Long, v: Double) =
    Event(id, new Timestamp(tSec * 1000), user, "click", v, "{}")

  test("flatMapGroupsWithState state is restored from the checkpoint") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Scratch.dir("st-ck").toString
    val ms = MemoryStream[Event]
    // memory sink refuses checkpoint recovery; foreachBatch (driver-
    // side) is the recoverable sink shape
    val emitted = scala.collection.mutable.ArrayBuffer[Long]()
    def start() = StatefulOps.dedupKeepLast(ms.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Event], _: Long) =>
        emitted.synchronized { emitted ++= df.collect().map(_.event_id) }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    val q1 = start()
    ms.addData(ev(1, 100, 1, 1.0)) // newest for user 1 → emitted
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // state for user 1 must come back from the checkpoint
    ms.addData(ev(2, 50, 1, 2.0)) // OLDER than the restored newest → silent
    q2.processAllAvailable()
    ms.addData(ev(3, 200, 1, 3.0)) // newer → emitted
    q2.processAllAvailable()
    q2.stop()

    val got = emitted.synchronized(emitted.toList)
    assert(got == List(1L, 3L), s"state not restored (got $got)")
  }
}
