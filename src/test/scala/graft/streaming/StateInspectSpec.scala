package graft.streaming

import java.sql.Timestamp
import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** State Processor API read path + queryable state (reference
  * flink-state-processing-api / QueryableStateClient), on Spark's
  * statestore data source: a streaming aggregate's keyed state is
  * read back OFFLINE from the checkpoint and must equal the values
  * the query computed; the live update-mode memory sink serves as the
  * point-lookup surface while the query runs. */
class StateInspectSpec extends SparkSpec {

  private def ev(id: Long, user: Long) =
    Event(id, new Timestamp(id * 1000), user, "click", 1.0, "{}")

  test("offline state read returns the aggregate's keyed state") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Scratch.dir("state").toString
    val ms = MemoryStream[Event]
    val agg = ms.toDF().groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("live_counts").start()
    ms.addData(ev(1, 1), ev(2, 2), ev(3, 1))
    q.processAllAvailable()
    // live queryable view: current value per key while running
    val live = spark.table("live_counts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).max }
    assert(live == Map(1L -> 2L, 2L -> 1L))
    ms.addData(ev(4, 1))
    q.processAllAvailable()
    q.stop()

    // offline: read the checkpoint's state store as a batch DataFrame
    val st = StateInspect.readState(spark, ckpt)
    assert(st.columns.contains("key") && st.columns.contains("value"))
    val counts = st.selectExpr("key.user_id", "value.count")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 1L))
  }

  test("point-in-time read sees the earlier batch's state") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Scratch.dir("state2").toString
    val ms = MemoryStream[Event]
    val q = ms.toDF().groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("ptq").start()
    ms.addData(ev(1, 7))
    q.processAllAvailable()
    ms.addData(ev(2, 7), ev(3, 7))
    q.processAllAvailable()
    q.stop()
    def countAt(b: Long) =
      StateInspect.readState(spark, ckpt, Some(b))
        .selectExpr("value.count").as[Long].collect().sum
    assert(countAt(0L) == 1L) // after batch 0: one event seen
    assert(countAt(1L) == 3L) // after batch 1: all three
    // skew diagnostic runs as a plain batch plan
    val skew = StateInspect.stateSkew(spark, ckpt).collect()
    assert(skew.map(_.getLong(1)).sum == 1L) // one key total
  }
}
