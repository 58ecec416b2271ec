package graft.streaming

import scala.reflect.ClassTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed stateful streaming operators — the reference's
  * operators that Structured Streaming lacks as built-ins, implemented
  * with flatMapGroupsWithState (SURVEY §7.2 M6).
  *
  * Reference operators reproduced:
  *  - keep-last dedup: `deduplicate/DeduplicateKeepLastRowFunction.java`
  *  - per-key Top-N:   `rank/AppendOnlyTopNFunction.java` (222 LoC)
  *  - count windows:   `window/assigners/CountTumblingWindowAssigner`
  *  - temporal as-of join: `join/temporal/TemporalRowTimeJoinOperator.java:71`
  *
  * Model note: Flink emits per-record retractions (UPDATE_BEFORE /
  * UPDATE_AFTER); Structured Streaming exposes micro-batch update mode
  * instead, so these operators emit the refreshed result per key per
  * batch — identical at result granularity, no row-level changelog.
  *
  * Scale notes: state is per key (user), bounded — one row for dedup,
  * ≤ N rows for Top-N, one buffer of < windowSize rows for count
  * windows, one row for as-of. State lives in the executor-local state
  * store (RocksDB-backed on a real cluster), partitioned by key hash,
  * so the operators scale horizontally with key cardinality.
  */
object StatefulOps {

  implicit private def eventEnc: Encoder[Event] = Encoders.product[Event]

  /** The per-user skeleton of the count windows, the bounded OVERs and
    * `Cep`'s stream runners: events grouped by user_id, append mode, no
    * timeout, kryo state. `step` gets the key, its state (None on first
    * sight) and the batch's rows in (event time, event_id) order, and
    * returns the output rows and the key's new state. */
  private[streaming] def perUser[S: ClassTag, O: Encoder](events: Dataset[Event])(
      step: (Long, Option[S], List[Event]) => (Iterator[O], S)): Dataset[O] = {
    implicit val stateEnc: Encoder[S] = Encoders.kryo[S]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[S]) =>
          val (out, next) = step(user, state.getOption,
            rows.toList.sortBy(e => (Event.micros(e.ts), e.event_id)))
          state.update(next)
          out
      }
  }

  // ---- keep-last dedup ----------------------------------------------

  /** Latest event per (user_id, event_type), emitted each time it
    * changes (update-mode changelog of the latest row). */
  def dedupKeepLast(events: Dataset[Event]): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Event, Event](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Event]) =>
          val newest = (state.getOption.iterator ++ rows)
            .maxBy(e => (Event.micros(e.ts), e.event_id))
          val changed = !state.getOption.contains(newest)
          state.update(newest)
          if (changed) Iterator(newest) else Iterator.empty
      }
  }

  // ---- streaming Top-N ----------------------------------------------

  case class TopNRow(user_id: Long, rank: Int, event_id: Long, value: Double)

  /** Top-N events per user by value (append-only input): keeps the N
    * best rows in state, re-emits the refreshed Top-N for a key when
    * it changes. */
  def topNPerKey(events: Dataset[Event], n: Int): Dataset[TopNRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[List[(Double, Long)]] =
      Encoders.kryo[List[(Double, Long)]]
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Double, Long)], TopNRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[List[(Double, Long)]]) =>
          val old = state.getOption.getOrElse(Nil)
          val merged = (old ++ rows.map(e => (e.value, e.event_id)))
            .sortBy { case (v, id) => (-v, id) }
            .take(n)
          state.update(merged)
          if (merged != old)
            merged.iterator.zipWithIndex.map { case ((v, id), i) =>
              TopNRow(user, i + 1, id, v)
            }
          else Iterator.empty
      }
  }

  case class GlobalTopRow(rank: Int, event_id: Long, value: Double)

  /** Streaming global sort-limit (StreamExecSortLimit.scala:52): the
    * k best rows over the WHOLE stream, refreshed as rows arrive. All
    * rows route to one state key — state is O(k) and the merge is a
    * single reducer, inherent to a global limit (the reference's
    * global rank has the same singleton shape). */
  def sortLimitGlobal(events: Dataset[Event], k: Int): Dataset[GlobalTopRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[List[(Double, Long)]] =
      Encoders.kryo[List[(Double, Long)]]
    events.groupByKey(_ => 0)
      .flatMapGroupsWithState[List[(Double, Long)], GlobalTopRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[List[(Double, Long)]]) =>
          val old = state.getOption.getOrElse(Nil)
          val merged = (old ++ rows.map(e => (e.value, e.event_id)))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          state.update(merged)
          if (merged != old)
            merged.iterator.zipWithIndex.map { case ((v, id), i) =>
              GlobalTopRow(i + 1, id, v)
            }
          else Iterator.empty
      }
  }

  // ---- count windows ------------------------------------------------

  case class CountWindowAgg(user_id: Long, w_id: Long, n: Int, sum_v: Double)

  case class CountWinState(
      nextW: Long, buf: List[(Long, Long, Double)]) // (ts µs, id, value)

  /** Tumbling count windows of `size` events per user (in event order
    * within each batch): emits one aggregate row per completed window.
    * Flink analog: CountTumblingWindowAssigner + count trigger. */
  def countTumbleWindow(events: Dataset[Event], size: Int): Dataset[CountWindowAgg] = {
    import events.sparkSession.implicits._
    perUser[CountWinState, CountWindowAgg](events) { (user, prev, rows) =>
      val st = prev.getOrElse(CountWinState(0L, Nil))
      val all = st.buf ++ rows.map(e => (Event.micros(e.ts), e.event_id, e.value))
      val (complete, rest) = all.splitAt(all.size - all.size % size)
      val out = complete.grouped(size).zipWithIndex.map {
        case (grp, i) =>
          CountWindowAgg(user, st.nextW + i, grp.size, grp.map(_._3).sum)
      }.toList
      (out.iterator, CountWinState(st.nextW + out.size, rest))
    }
  }

  /** Sliding count windows (CountSlidingWindowAssigner): every `slide`
    * events per user, aggregate the most recent `size` events (fewer
    * while the stream warms up). State = last `size` rows + a counter. */
  def countSlideWindow(events: Dataset[Event], size: Int, slide: Int)
      : Dataset[CountWindowAgg] = {
    import events.sparkSession.implicits._
    perUser[CountWinState, CountWindowAgg](events) { (user, prev, rows) =>
      // nextW doubles as the total-events-seen counter here
      val st = prev.getOrElse(CountWinState(0L, Nil))
      var seen = st.nextW
      var buf = st.buf
      val out = List.newBuilder[CountWindowAgg]
      rows.foreach { e =>
        buf = (buf :+ ((Event.micros(e.ts), e.event_id, e.value))).takeRight(size)
        seen += 1
        if (seen % slide == 0)
          out += CountWindowAgg(user, seen / slide - 1, buf.size, buf.map(_._3).sum)
      }
      (out.result().iterator, CountWinState(seen, buf))
    }
  }

  // ---- TTL'd dedup (StateTtlConfig analog) -------------------------

  /** Keep-first dedup with state TTL (reference StateTtlConfig.java):
    * a key's "seen" marker expires ttlMs after it was written, so
    * re-arrivals after expiry emit again. Expiry is checked lazily on
    * access (the Flink lazy-TTL model; engine ProcessingTimeTimeout is
    * avoided — an armed timeout keeps processAllAvailable from ever
    * quiescing on this Spark version). `now` is injectable for tests. */
  def dedupFirstWithTtl(events: Dataset[Event], ttlMs: Long,
                        now: () => Long = () => System.currentTimeMillis())
      : Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          val t = now()
          val live = state.getOption.exists(seenAt => t - seenAt <= ttlMs)
          if (live) Iterator.empty
          else {
            val first = rows.minBy(e => (Event.micros(e.ts), e.event_id))
            state.update(t)
            Iterator(first)
          }
      }
  }

  /** Event-time TTL dedup: keep an event iff no KEPT event for the
    * same (user_id, event_type) lies within `ttlUs` of it in event
    * time — the first row opens the key, then the key re-opens each
    * time the TTL elapses past the last KEPT row. The event-time
    * analog of the reference's TTL'd first-row dedup
    * (`deduplicate/DeduplicateKeepFirstRowFunction.java` +
    * `StateTtlConfig.java:60`), with the wall-clock TTL replaced by
    * the stream's own time so replays are deterministic (wall-clock
    * form: [[dedupFirstWithTtl]]). State per key = ONE timestamp (the
    * last kept row's), updated monotonically — bounded regardless of
    * key heat; batches must arrive in event-time order (the replay
    * harness guarantees it), rows inside a batch are sorted here. */
  def dedupFirstEventTtl(events: Dataset[Event], ttlUs: Long): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = List.newBuilder[Event]
          rows.toList.sortBy(e => (Event.micros(e.ts), e.event_id)).foreach { e =>
            val t = Event.micros(e.ts)
            if (last == Long.MinValue || t - last > ttlUs) {
              out += e
              last = t
            }
          }
          state.update(last)
          out.result().iterator
      }
  }

  // ---- streaming bounded OVER --------------------------------------

  case class OverRow(user_id: Long, event_id: Long, sum_prev: Double, cnt_prev: Int)

  /** Streaming OVER (ROWS n PRECEDING): per key, aggregates over the
    * last `n` rows up to and including the current one, in event order
    * (reference RowTimeRangeBoundedPrecedingFunction.java and its ROWS
    * sibling). State = the last n rows per key (bounded). */
  def boundedRowsOver(events: Dataset[Event], n: Int): Dataset[OverRow] = {
    import events.sparkSession.implicits._
    perUser[List[(Long, Long, Double)], OverRow](events) { (user, prev, rows) =>
      var window = prev.getOrElse(Nil) // oldest..newest, ≤ n
      val out = rows.map { e =>
        window = (window :+ ((Event.micros(e.ts), e.event_id, e.value))).takeRight(n)
        OverRow(user, e.event_id, window.map(_._3).sum, window.size)
      }
      (out.iterator, window)
    }
  }

  /** Streaming OVER (RANGE interval PRECEDING): per key, aggregates
    * over rows within the trailing `rangeMs` time window up to and
    * including the current row, in event order (reference
    * RowTimeRangeBoundedPrecedingFunction.java — the RANGE sibling of
    * boundedRowsOver). State = rows inside the time range (bounded by
    * data rate × range, the reference's retention). */
  def boundedRangeOver(events: Dataset[Event], rangeMs: Long): Dataset[OverRow] = {
    import events.sparkSession.implicits._
    perUser[List[(Long, Long, Double)], OverRow](events) { (user, prev, rows) =>
      var window = prev.getOrElse(Nil) // oldest..newest
      val out = rows.map { e =>
        val t = Event.micros(e.ts)
        window = (window :+ ((t, e.event_id, e.value)))
          .dropWhile { case (ts, _, _) => ts < t - rangeMs * 1000 }
        OverRow(user, e.event_id, window.map(_._3).sum, window.size)
      }
      (out.iterator, window)
    }
  }

  // ---- temporal (as-of) join ---------------------------------------

  case class AsOfJoined(user_id: Long, purchase_id: Long,
                        last_view_id: Option[Long], lag_us: Option[Long])

  case class AsOfState(viewId: Long, viewTsUs: Long)

  /** Event-time as-of join inside one keyed stream: each `rightType`
    * event joins the latest `leftType` event of the same user at or
    * before its time (TemporalRowTimeJoinOperator semantics; in-order
    * delivery within the watermark assumed — buffering both sides for
    * full out-of-order support is the documented round-2 refinement). */
  def asOfJoin(events: Dataset[Event], leftType: String, rightType: String): Dataset[AsOfJoined] = {
    val spark = events.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[AsOfState] = Encoders.kryo[AsOfState]
    events
      .filter(e => e.event_type == leftType || e.event_type == rightType)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfJoined](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[AsOfState]) =>
          val sorted = rows.toList.sortBy(e => (Event.micros(e.ts),
            if (e.event_type == leftType) 0 else 1, e.event_id))
          val out = List.newBuilder[AsOfJoined]
          var cur = state.getOption
          sorted.foreach { e =>
            val tUs = Event.micros(e.ts)
            if (e.event_type == leftType) {
              if (cur.forall(_.viewTsUs <= tUs))
                cur = Some(AsOfState(e.event_id, tUs))
            } else {
              out += AsOfJoined(user, e.event_id,
                cur.map(_.viewId), cur.map(tUs - _.viewTsUs))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }
}
