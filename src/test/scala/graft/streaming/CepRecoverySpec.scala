package graft.streaming

import java.sql.Timestamp
import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming CEP across a query restart: open partial matches live in
  * the state store (kryo-encoded PartialMatch lists), so a pattern
  * whose first half arrived before a crash completes after recovery —
  * the reference's NFA state in a keyed state backend restored from a
  * checkpoint (CEPOperatorTest restore cases). */
class CepRecoverySpec extends SparkSpec {

  private def ev(id: Long, tSec: Long, user: Long, typ: String) =
    Event(id, new Timestamp(tSec * 1000), user, typ, 0.0, "{}")

  test("an open partial survives restart and completes on the second half") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val ckpt = Scratch.dir("cep-ck").toString
    val pat = Cep.Pattern.begin[Event]("v")((e, _) => e.event_type == "view")
      .followedBy("p")((e, _) => e.event_type == "purchase")
    val ms = MemoryStream[Event]
    val matches = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    def start() = Cep.matchStream(ms.toDS(), pat)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(Long, Map[String, Vector[Event]])],
         _: Long) =>
          matches.synchronized {
            matches ++= df.collect().map { case (u, m) =>
              (u, m("v").head.event_id, m("p").head.event_id)
            }
          }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = start()
    ms.addData(ev(1, 10, 7, "view")) // first half of the pattern
    q1.processAllAvailable()
    q1.stop()
    assert(matches.synchronized(matches.isEmpty))

    val q2 = start() // the open partial must come back from the checkpoint
    ms.addData(ev(2, 20, 7, "purchase"))
    q2.processAllAvailable()
    q2.stop()
    val got = matches.synchronized(matches.toList)
    assert(got == List((7L, 1L, 2L)), s"partial not restored: $got")
  }
}
