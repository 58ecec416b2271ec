package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** State BOOTSTRAP (write) path of the reference's State Processor
  * API: seed a keyed streaming operator's state store from
  * batch-computed data, then run the stream on top of it.
  *
  * Reference: `flink-libraries/flink-state-processing-api/src/main/
  * java/org/apache/flink/state/api/OperatorTransformation.java:66`
  * (`bootstrapWith(DataSet)`) →
  * `KeyedOperatorTransformation.java:73` (`transform(
  * KeyedStateBootstrapFunction)`, whose `processElement` writes each
  * batch row into keyed state) → `Savepoint.java:75` (`create(...)
  * .withOperator(...).write(path)` produces a savepoint a streaming
  * job then restores from).
  *
  * Spark-first: there is no public checkpoint-file writer, but the
  * same capability is first-class on the operator itself —
  * `KeyValueGroupedDataset.flatMapGroupsWithState(outputMode,
  * timeout, initialState)(func)`: the batch `Dataset[S]`, keyed the
  * same way as the stream, IS the bootstrapped state store. On the
  * first micro-batch each key's `GroupState` starts from its initial
  * row instead of empty, exactly what a restored savepoint provides.
  * The first checkpoint then persists the merged state, so later
  * restarts recover bootstrap + stream deltas together.
  *
  * Scale notes: the initial state is a distributed Dataset joined to
  * the stream by key hash inside the state-store RDD — never
  * collected; a 100 TB batch-computed state table bootstraps the same
  * way, partitioned across executors like any shuffle.
  */
object StateBootstrap {

  /** Per-key running aggregate state: the shape both the batch
    * bootstrap job and the streaming continuation share. */
  case class KeyAgg(user_id: Long, cnt: Long, cents: Long) {
    /** This state with `rows` counted and their whole cents added: the
      * one fold of the batch bootstrap and the stream continuation. */
    def plus(rows: Iterator[Event]): KeyAgg = {
      var (c, cs) = (cnt, cents)
      rows.foreach { e => c += 1; cs += math.round(e.value * 100) }
      KeyAgg(user_id, c, cs)
    }
  }

  /** Continue a per-user running (count, sum-of-cents) aggregate on
    * top of batch-bootstrapped state. Emits the refreshed state for a
    * key whenever a micro-batch touches it (update-mode changelog, the
    * same contract as StatefulOps). Keys only present in `init` keep
    * their bootstrapped state but emit nothing until touched — the
    * savepoint-restore contract (state exists, no output until data).
    */
  def runningAggBootstrapped(
      stream: Dataset[Event], init: Dataset[KeyAgg]): Dataset[KeyAgg] = {
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stateEnc: Encoder[KeyAgg] = Encoders.product[KeyAgg]
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyAgg, KeyAgg](
        OutputMode.Update, GroupStateTimeout.NoTimeout,
        initialState = init.groupByKey(_.user_id)) {
        case (user, rows, state: GroupState[KeyAgg]) =>
          val touched = rows.hasNext
          val s1 = state.getOption.getOrElse(KeyAgg(user, 0L, 0L)).plus(rows)
          state.update(s1)
          if (touched) Iterator(s1) else Iterator.empty
      }
  }
}
