package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The reference's rich keyed-process surface
  * (`flink-streaming-java/.../api/functions/KeyedProcessFunction.java`
  * with named state descriptors — ValueState / ListState / MapState —
  * and timers) re-expressed on Spark's state-v2 API:
  * `KeyValueGroupedDataset.transformWithState` + `StatefulProcessor`,
  * whose `StatefulProcessorHandle` serves exactly Flink's named-state
  * model (`getValueState(name, encoder, ttl)` ↔
  * `getRuntimeContext.getState(new ValueStateDescriptor(...))`) plus
  * `registerTimer` ↔ `ctx.timerService.registerEventTimeTimer`.
  *
  * The operators themselves are already oracle-bound through
  * flatMapGroupsWithState (q131/q136); this surface re-expresses
  * keep-last dedup on the v2 API — same changelog contract, named
  * per-state TTL, RocksDB-backed (transformWithState requires the
  * RocksDB state store provider, the analog of the reference's
  * RocksDBStateBackend).
  */
object StateV2 {

  /** Flink KeyedProcessFunction with one named ValueState:
    * keep-the-latest per (user, type), emit on change. */
  class KeepLastProcessor
      extends StatefulProcessor[(Long, String), Event, Event] {
    @transient private var latest: ValueState[Event] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Event](
        "latest", Encoders.product[Event], TTLConfig.NONE)

    override def handleInputRows(
        key: (Long, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Event] = {
      val prev = Option(latest.get())
      val newest = (prev.iterator ++ rows)
        .maxBy(e => (Event.micros(e.ts), e.event_id))
      latest.update(newest)
      if (prev.contains(newest)) Iterator.empty else Iterator.single(newest)
    }
  }

  /** Keep-last dedup on the v2 surface (update-mode changelog —
    * result-identical to [[StatefulOps.dedupKeepLast]]). The caller
    * must run with the RocksDB state store provider (see
    * [[rocksDb]]). */
  def dedupKeepLastV2(events: Dataset[Event]): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new KeepLastProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Flink KeyedProcessFunction with one named ListState — the
    * ListStateDescriptor analog (`flink-core/.../api/common/state/
    * ListStateDescriptor.java`): the bounded ROWS-OVER window buffer
    * (reference RowTimeRowsBoundedPrecedingFunction keeps exactly
    * this rolling tail in ListState). Re-expresses
    * [[StatefulOps.boundedRowsOver]] (oracle-bound as q134) on the
    * v2 surface: per-key tail of the last `n` (tsUs, id, value)
    * rows, one [[StatefulOps.OverRow]] per input row. */
  class BoundedOverProcessor(n: Int)
      extends StatefulProcessor[Long, Event, StatefulOps.OverRow] {
    @transient private var tail: ListState[(Long, Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tail = getHandle.getListState[(Long, Long, Double)](
        "tail", Encoders.product[(Long, Long, Double)], TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[StatefulOps.OverRow] = {
      var window = tail.get().toList // oldest..newest, ≤ n entries
      val out = rows.toList
        .sortBy(e => (Event.micros(e.ts), e.event_id))
        .map { e =>
          window = (window :+ ((Event.micros(e.ts), e.event_id, e.value)))
            .takeRight(n)
          StatefulOps.OverRow(user, e.event_id, window.map(_._3).sum, window.size)
        }
      tail.put(window.toArray)
      out.iterator
    }
  }

  /** ROWS `n-1` PRECEDING running aggregate on the v2 ListState
    * surface (append-mode, result-identical to
    * [[StatefulOps.boundedRowsOver]]). RocksDB provider required
    * (see [[rocksDb]]). */
  def boundedRowsOverV2(events: Dataset[Event], n: Int): Dataset[StatefulOps.OverRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BoundedOverProcessor(n),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-(user, event_type) running count row. */
  case class TypeCount(user_id: Long, event_type: String, cnt: Long)

  /** Flink KeyedProcessFunction with one named MapState — the
    * MapStateDescriptor analog (`flink-core/.../api/common/state/
    * MapStateDescriptor.java`, the reference's per-key map used by
    * GroupAggFunction distinct counters): event_type → running count
    * per user, emitting the updated (type, count) on every change —
    * an update-mode changelog whose final state is the GROUP BY
    * truth. */
  class TypeCountProcessor
      extends StatefulProcessor[Long, Event, TypeCount] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val deltas = rows.toList.groupBy(_.event_type)
        .view.mapValues(_.size.toLong).toMap
      deltas.toList.sortBy(_._1).map { case (t, d) =>
        val next = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + d
        counts.updateValue(t, next)
        TypeCount(user, t, next)
      }.iterator
    }
  }

  /** Per-(user, type) counts on the v2 MapState surface (update-mode
    * changelog). RocksDB provider required (see [[rocksDb]]). */
  def typeCountsV2(events: Dataset[Event]): Dataset[TypeCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The running champion per user: the (value, event_id)-max
    * purchase seen so far. */
  case class MaxRow(user_id: Long, event_id: Long, value: Double)

  /** Flink KeyedProcessFunction with one named ValueState updated
    * EXCLUSIVELY through a reduce function — the
    * ReducingStateDescriptor analog (`flink-core/.../api/common/
    * state/ReducingStateDescriptor.java:30`: `state.add(in)` applies
    * `reduce(state, in)`; the rolling `KeyedStream.maxBy` is built on
    * exactly this state kind). Here reduce = max by (value,
    * event_id) over purchases, emitting the new champion whenever the
    * reduction changes — an update-mode changelog whose final state
    * per user is the SQL arg-max. (The AggregatingState sibling —
    * accumulator type ≠ input ≠ output — is exercised by
    * [[StateBootstrap.runningAggBootstrapped]]'s KeyAgg accumulator,
    * oracle-bound as q173.) */
  class ReducingMaxProcessor
      extends StatefulProcessor[Long, Event, MaxRow] {
    @transient private var best: ValueState[(Double, Long)] = _

    private def reduce(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      if (b._1 > a._1 || (b._1 == a._1 && b._2 > a._2)) b else a

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      best = getHandle.getValueState[(Double, Long)](
        "best", Encoders.product[(Double, Long)], TTLConfig.NONE)

    override def handleInputRows(
        user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[MaxRow] = {
      val prev = Option(best.get())
      val in = rows.map(e => (e.value, e.event_id))
      val next = (prev.iterator ++ in).reduce(reduce)
      best.update(next)
      if (prev.contains(next)) Iterator.empty
      else Iterator.single(MaxRow(user, next._2, next._1))
    }
  }

  /** Rolling per-user maxBy on the v2 reducing-state surface
    * (update-mode changelog). RocksDB provider required (see
    * [[rocksDb]]). */
  def runningMaxV2(events: Dataset[Event]): Dataset[MaxRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new ReducingMaxProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The per-stream conf that installs the RocksDB state store provider
    * (transformWithState's requirement); pass it to a `Replay` runner
    * or `Replay.started`, so other queries in the session keep their
    * HDFS-backed checkpoints. */
  val rocksDb: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
}
