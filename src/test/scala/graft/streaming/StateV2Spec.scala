package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** State-v2 surface (transformWithState + StatefulProcessor + named
  * ValueState on RocksDB) — the KeyedProcessFunction analog. */
class StateV2Spec extends SparkSpec {

  private def ev(id: Long, tSec: Long, user: Long, typ: String, v: Double) =
    Event(id, new Timestamp(tSec * 1000), user, typ, v, "{}")

  test("keep-last dedup on the v2 API emits only on change") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Replay.started(spark, StateV2.rocksDb) {
      StateV2.dedupKeepLastV2(ms.toDS())
        .writeStream.format("memory").queryName("sv2")
        .outputMode("update").start()
    }
    ms.addData(ev(1, 10, 1, "a", 1.0), ev(2, 20, 1, "a", 2.0))
    q.processAllAvailable()
    ms.addData(ev(3, 15, 1, "a", 3.0)) // older than current winner
    q.processAllAvailable()
    ms.addData(ev(4, 30, 1, "a", 4.0)) // new winner
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sv2").as[Event].collect().map(_.event_id).toList
    // batch 1 emits the newest (2); batch 2 emits nothing (3 is
    // older); batch 3 emits 4 — the cross-batch overwrite
    assert(got == List(2L, 4L))
    // the session's own provider is untouched
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("reducing state emits only when the reduction changes champions") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = Replay.started(spark, StateV2.rocksDb) {
      StateV2.runningMaxV2(ms.toDS())
        .writeStream.format("memory").queryName("sv2r")
        .outputMode("update").start()
    }
    ms.addData(ev(1, 10, 1, "a", 5.0), ev(2, 20, 1, "a", 9.0))
    q.processAllAvailable()
    ms.addData(ev(3, 30, 1, "a", 7.0)) // below champion: silent
    q.processAllAvailable()
    // equal value, higher id wins the (value, id) tiebreak
    ms.addData(ev(4, 40, 1, "a", 9.0))
    q.processAllAvailable()
    ms.addData(ev(5, 50, 2, "a", 1.0)) // other key unaffected
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sv2r").as[StateV2.MaxRow].collect()
      .map(r => (r.user_id, r.event_id)).toList
    assert(got == List((1L, 2L), (1L, 4L), (2L, 5L)))
  }
}
