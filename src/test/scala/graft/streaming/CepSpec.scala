package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class CepSpec extends SparkSpec {

  private def ev(id: Long, tSec: Long, user: Long, typ: String) =
    Event(id, new Timestamp(tSec * 1000), user, typ, 0.0, "{}")

  private def run(pat: Cep.Pattern[Event], events: Event*) = {
    val sorted = events.toList.sortBy(e => (Event.micros(e.ts), e.event_id))
      .map(e => (Event.micros(e.ts), e))
    Cep.advance(pat, Nil, sorted.iterator)._1
      .map(_.view.mapValues(_.map(_.event_id)).toMap)
  }

  private val isType = (t: String) =>
    (e: Event, _: Map[String, Vector[Event]]) => e.event_type == t

  test("3-step relaxed pattern matches across gaps") {
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("c")(isType("click"))
      .followedBy("p")(isType("purchase"))
    val got = run(pat,
      ev(1, 10, 1, "view"), ev(2, 11, 1, "error"), ev(3, 12, 1, "click"),
      ev(4, 13, 1, "error"), ev(5, 14, 1, "purchase"))
    assert(got == List(Map("v" -> List(1L), "c" -> List(3L), "p" -> List(5L))))
  }

  test("within prunes stale partials") {
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("p")(isType("purchase"))
      .within(5000000L) // 5 s
    val got = run(pat, ev(1, 10, 1, "view"), ev(2, 100, 1, "purchase"))
    assert(got.isEmpty)
    val got2 = run(pat, ev(1, 10, 1, "view"), ev(2, 14, 1, "purchase"))
    assert(got2.size == 1)
  }

  test("optional middle step can be skipped or taken") {
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("c")(isType("click")).optional
      .followedBy("p")(isType("purchase"))
    val withClick = run(pat,
      ev(1, 10, 1, "view"), ev(2, 11, 1, "click"), ev(3, 12, 1, "purchase"))
    assert(withClick == List(Map("v" -> List(1L), "c" -> List(2L), "p" -> List(3L))))
    val noClick = run(pat, ev(1, 10, 1, "view"), ev(3, 12, 1, "purchase"))
    assert(noClick == List(Map("v" -> List(1L), "p" -> List(3L))))
  }

  test("oneOrMore accumulates until the next step fires") {
    val pat = Cep.Pattern.begin[Event]("c")(isType("click")).oneOrMore
      .followedBy("p")(isType("purchase"))
    val got = run(pat,
      ev(1, 10, 1, "click"), ev(2, 11, 1, "click"), ev(3, 12, 1, "purchase"))
    // one match started at the first click, with both clicks bound
    assert(got.contains(Map("c" -> List(1L, 2L), "p" -> List(3L))))
  }

  test("each start event is consumed by its first completion") {
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("p")(isType("purchase"))
    val got = run(pat,
      ev(1, 10, 1, "view"), ev(2, 11, 1, "view"),
      ev(3, 12, 1, "purchase"), ev(4, 13, 1, "purchase"))
    // both views complete at the FIRST purchase; second purchase unmatched
    assert(got.toSet == Set(
      Map("v" -> List(1L), "p" -> List(3L)),
      Map("v" -> List(2L), "p" -> List(3L))))
  }

  test("matchStream carries partials across micro-batches") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("p")(isType("purchase"))
    val ms = MemoryStream[Event]
    val q = Cep.matchStream(ms.toDS(), pat)
      .map { case (u, m) => (u, m("v").head.event_id, m("p").head.event_id) }
      .writeStream.format("memory").queryName("cep").outputMode("append").start()
    ms.addData(ev(1, 10, 5, "view"))
    q.processAllAvailable() // partial only
    ms.addData(ev(2, 20, 5, "purchase"))
    q.processAllAvailable() // completes across the batch boundary
    q.stop()
    val got = spark.table("cep").as[(Long, Long, Long)].collect().toList
    assert(got == List((5L, 1L, 2L)))
  }

  test("matchStreamWithTimeouts emits an expired partial and a match once each") {
    val spark2 = spark; import spark2.implicits._
    implicit val ctx = spark.sqlContext
    val pat = Cep.Pattern.begin[Event]("v")(isType("view"))
      .followedBy("p")(isType("purchase"))
      .within(5000000L) // 5 s
    val ms = MemoryStream[Event]
    val q = Cep.matchStreamWithTimeouts(ms.toDS(), pat)
      .map { case (u, m, timedOut) => (u, m("v").head.event_id, timedOut) }
      .writeStream.format("memory").queryName("cep_timeouts").outputMode("append").start()
    ms.addData(ev(1, 10, 7, "view"), ev(3, 10, 8, "view"))
    q.processAllAvailable() // two open partials
    ms.addData(ev(2, 100, 7, "purchase"), ev(4, 12, 8, "purchase"))
    q.processAllAvailable() // user 7's partial outlived `within`, user 8's completed
    ms.addData(ev(5, 200, 7, "purchase"), ev(6, 201, 8, "purchase"))
    q.processAllAvailable() // neither is emitted again
    q.stop()
    val got = spark.table("cep_timeouts").as[(Long, Long, Boolean)].collect().toList.sorted
    assert(got == List((7L, 1L, true), (8L, 3L, false)))
  }
}
