package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-windowing + temporal operators over the events table — the
  * batch analogs of the reference's streaming operators (SURVEY §2.2,
  * §2.4 "Joins" temporal rows). The streaming (Structured Streaming)
  * forms of the same operators live in graft.streaming and are spec-
  * tested with MemoryStream; these batch forms are the oracle-checked
  * semantics.
  *
  * Reference: group window agg `StreamExecGroupWindowAggregate.scala:33`
  * + assigners `window/assigners/` (Tumbling, Sliding, Session);
  * interval join `StreamExecWindowJoin.scala:53` /
  * `TimeBoundedStreamJoin.java`; temporal as-of join
  * `StreamExecTemporalJoin.scala` / `TemporalRowTimeJoinOperator.java:71`;
  * dedup `StreamExecDeduplicate.scala:50`.
  *
  * Scale notes: tumble/hop use Spark's `window()` which is a plain
  * projection + aggregation (no shuffle beyond the group-by);
  * sessionization uses one shuffle on user_id then two window passes
  * over the same partitioning (single WindowExec ordering reused); the
  * as-of join is the union+window trick — sort-merge within key
  * partitions, no per-row subquery — which scales linearly and avoids
  * the O(n·m) correlated-lookup plan.
  */
object EventQueries extends QuerySet {

  // Order-independent exact sum of a 2-decimal double column: sum
  // integer cents, and KEEP it integer cents (BIGINT) — a DECIMAL
  // output column materializes as float64 from DuckDB but object
  // Decimal from Spark parquet, and the driver's repr-sensitive hash
  // rejects `194.5` vs `194.50` even when values are exact (the r2
  // reds q50/q51/q52/q57; see oracle-parity-rules).
  private def sumCents =
    expr("sum(cast(round(value * 100) as bigint))")

  val queries: Map[String, Q] = Map(
    // Tumbling event-time window (TumblingEventTimeWindows:46).
    // All value sums here go through exact integer cents
    // (round(value*100) as bigint): a groupBy sum over doubles is
    // order-nondeterministic under partial aggregation, so a
    // round(sum(double),2) can flip at a half-cent boundary vs the
    // oracle's sequential sum. Integer sums are order-independent.
    "q50_window_tumble" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumCents.as("cents_v"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("cents_v"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // Sliding/hopping window (SlidingEventTimeWindows:47): 1h size, 15m slide.
    "q51_window_hop" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sumCents.as("cents_v"))
        .select(col("w.start").as("w_start"), col("n"), col("cents_v"))
        .orderBy(col("w_start"))
    }),

    // Session windows, 30-minute gap (EventTimeSessionWindows:45):
    // classic gaps-and-islands — lag + cumulative sum over one
    // user_id partitioning.
    "q52_window_session" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
               unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("sess_start"),
             max(col("ts")).as("sess_end"),
             sumCents.as("cents_v"))
        .orderBy(col("user_id"), col("sess_id"))
    }),

    // Interval join (KeyedStream.intervalJoin / TimeBoundedStreamJoin):
    // for each purchase, error events of the same user within ±10 min.
    "q53_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      val x = e.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("e_id"), col("ts").as("e_ts"))
      p.join(x, col("p_user") === col("e_user") &&
               col("e_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
               col("e_ts") <= col("p_ts") + expr("INTERVAL 10 MINUTES"))
        .select(col("p_user").as("user_id"), col("p_id"), col("e_id"),
                (unix_micros(col("e_ts")) - unix_micros(col("p_ts"))).as("delta_us"))
        .orderBy(col("user_id"), col("p_id"), col("e_id"))
    }),

    // Temporal as-of join (TemporalRowTimeJoinOperator.java:71): each
    // purchase joined to the latest view of the same user at or before
    // its time. Implemented scalably as union + window (no correlated
    // subquery): tag both sides, sort by (user, ts), carry the last
    // view forward with last_value(ignoreNulls).
    "q54_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val tagged = e.filter(col("event_type").isin("purchase", "view"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          when(col("event_type") === "view", col("event_id")).as("view_id"),
          when(col("event_type") === "view", col("ts")).as("view_ts"))
      // Views sort before purchases at identical ts (as-of includes ties).
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), when(col("event_type") === "view", 0).otherwise(1), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
        .withColumn("last_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("last_view_id"),
          (unix_micros(col("ts")) - unix_micros(col("last_view_ts"))).as("lag_us"))
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    // Streaming dedup batch analog: keep-LAST row per (user, type)
    // (DeduplicateKeepLastRowFunction).
    "q55_dedup_keeplast" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
                round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Rolling keyed aggregate (KeyedStream.reduce/sum batch analog):
    // per-user running totals in event order.
    "q56_rolling_agg" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .filter(col("user_id") <= 50)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run_sum"),
          round(max(col("value")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("run_max"),
          count(lit(1)).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("run_cnt"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // CEP / MATCH_RECOGNIZE (StreamExecMatch.scala:69, NFA.java:85):
    // 2-step pattern "view followed by purchase within 10 min" run
    // through the compiled NFA (graft.streaming.Cep).
    "q58_cep_follow" -> ((s, d) => {
      import s.implicits._
      val ev = graft.Tables.events(s, d).as[graft.streaming.Event]
      graft.streaming.Cep.firstFollowedBy(ev, "view", "purchase", 600000000L)
        .toDF()
        .withColumnRenamed("first_id", "view_id")
        .withColumnRenamed("second_id", "purchase_id")
        .orderBy(col("user_id"), col("view_id"))
    }),

    // CEP with relaxed NEGATION (Pattern.notFollowedBy, reference
    // Pattern.java:177 / MATCH_RECOGNIZE NOT pattern): "view, then
    // purchase within 10 min, with NO click in between" — the
    // abandoned-browse-converts pattern. A click between view and
    // purchase kills the partial match; DSL form "A !X B within 10m".
    "q88_cep_nofollow" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cep, Event}
      val pat = Cep.Pattern
        .begin[Event]("a")((e, _) => e.event_type == "view")
        .notFollowedBy("x") { (e, bound) =>
          e.event_type == "click" &&
            Event.micros(e.ts) > Event.micros(bound("a").head.ts)
        }
        .followedBy("b") { (e, bound) =>
          e.event_type == "purchase" &&
            Event.micros(e.ts) > Event.micros(bound("a").head.ts)
        }
        .within(600000000L)
      val types = Set("view", "click", "purchase")
      Cep.matchBatchSorted(
          graft.Tables.events(s, d).as[Event].filter(e => types(e.event_type)),
          pat)
        .map { case (user, m) =>
          (user, m("a").head.event_id, m("b").head.event_id)
        }.toDF("user_id", "view_id", "purchase_id")
        .orderBy(col("user_id"), col("view_id"))
    }),

    // CEP loop quantifier, oracle-bound: "one or more views, then a
    // purchase, within 1 hour" under the reference's RELUCTANT loop
    // semantics — every stop point of the view run is its own match,
    // completed by the first purchase after it. The oracle enumerates
    // (start view, stop view) pairs directly, so the NFA's branch
    // spawning is checked value-for-value against SQL.
    "q110_cep_loop" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cep, CepDsl, Event}
      // fully declarative: pattern AND output both compile from the
      // MATCH_RECOGNIZE-shaped DSL — the measures replace the
      // hand-written extraction lambda (StreamExecMatch.scala:69)
      val pat = CepDsl.compile[Event]("A+ B within 1h", Map(
        "A" -> ((e, _) => e.event_type == "view"),
        "B" -> ((e, _) => e.event_type == "purchase")))
      val ms = CepDsl.compileMeasures[Event](
        "first(A.event_id) AS first_view, last(A.event_id) AS last_view, " +
          "count(A) AS n_views, first(B.event_id) AS purchase_id",
        Event.fieldTable)
      val types = Set("view", "purchase")
      Cep.selectMeasures(
          Cep.matchBatchSorted(
            graft.Tables.events(s, d).as[Event].filter(e => types(e.event_type)),
            pat),
          "user_id", ms)
        .orderBy(col("user_id"), col("first_view"), col("last_view"))
    }),

    // STREAMING CEP oracle-bound end to end (round-4 VERDICT item 3):
    // the same "view then purchase within 10 min" pattern as q58, but
    // run through Cep.matchStream — events.parquet is replayed as a
    // FILE STREAM in four time-ordered chunks (maxFilesPerTrigger=1,
    // so each chunk is its own micro-batch and partial matches REALLY
    // cross batch boundaries in the state store), sunk to parquet,
    // and hashed against the identical q58 SQL oracle. This closes
    // the batch/stream oracle-coverage asymmetry: the reference's CEP
    // is stream-first (CEP.java:29), and here the streaming path —
    // not just the batch NFA — is value-checked on real data.
    "q118_cep_stream" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Cep, Event}
      val pat = Cep.Pattern.begin[Event]("a")((e, _) => e.event_type == "view")
        .followedBy("b") { (e, bound) =>
          e.event_type == "purchase" &&
            Event.micros(e.ts) > Event.micros(bound("a").head.ts)
        }
        .within(600000000L)
      val ev = Tables.events(s, d).as[Event]
        .filter(e => e.event_type == "view" || e.event_type == "purchase")
      // time-ordered chunks replayed one-per-micro-batch. One
      // boundary is placed at a real match's PURCHASE timestamp so
      // that pair's partial (view bound, waiting) provably crosses a
      // micro-batch boundary through the state store — without it a
      // 10-min pattern never straddles quarter-wide chunks and the
      // cross-batch path would go unexercised on real data.
      val straddleTs = Cep.matchBatchSorted(ev, pat)
        .map { case (_, m) => m("b").head.ts }
        .orderBy(col("value")).take(1).toSeq // bounded: one row, tiny set
      val bounds = (Seq("2024-04-01", "2024-07-01", "2024-10-01")
        .map(ds => java.sql.Timestamp.valueOf(ds + " 00:00:00")) ++ straddleTs)
        .distinct.sortBy(Event.micros)
      val chunks =
        (col("ts") < bounds.head) +:
        bounds.sliding(2).map { case Seq(lo, hi) =>
          col("ts") >= lo && col("ts") < hi
        }.toSeq :+
        (col("ts") >= bounds.last)
      val ep = graft.streaming.Replay.fileEpochs(ev, chunks)
      val matched = Cep.matchStream(ep.stream(s), pat).map { case (user, m) =>
        val a = m("a").head; val b = m("b").head
        (user, a.event_id, b.event_id, Event.micros(b.ts) - Event.micros(a.ts))
      }.toDF("user_id", "view_id", "purchase_id", "delta_us")
      ep.runAppend(matched).orderBy(col("user_id"), col("view_id"))
    }),

    // STREAMING group window aggregate oracle-bound (the reference's
    // StreamExecGroupWindowAggregate path, stream-first like CEP):
    // the same 1h tumbling windows as q50, computed by a REAL
    // watermarked streaming aggregation over the four-epoch file
    // replay — append mode emits each window exactly once when the
    // watermark passes it, so windows open across micro-batch
    // boundaries close incrementally; a far-future FLUSH sentinel in
    // the last epoch advances the watermark past the final real
    // window (it is filtered after the watermark node, so it moves
    // event-time without entering the aggregate). Hashed against the
    // identical q50 SQL oracle.
    "q129_window_stream" -> ((s, d) => {
      import graft.streaming.Replay
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      // NO flush filter anywhere inside the streaming plan: a filter
      // on event_type — even placed above the aggregate — is
      // predicate-pushed through the Aggregate (grouping column) and
      // then through the EventTimeWatermark node, so flush rows would
      // be dropped BEFORE the watermark operator ever observes their
      // event time, silently freezing the watermark at the last real
      // event and leaving the final window unemitted (verified via
      // batchWatermarkMs in the checkpoint). The sentinel groups are
      // filtered from the SINK OUTPUT instead — and in practice never
      // emit anyway, because their own windows have no later batch to
      // close them.
      val agg = ep.stream(s)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumCents.as("cents_v"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("n"), col("cents_v"))
      ep.runAppend(agg).filter(col("event_type") =!= "flush")
        .orderBy(col("w_start"), col("event_type"))
    }),

    // STREAMING NON-KEYED window aggregate (the reference's
    // `DataStream.timeWindowAll` → `windowAll(TumblingEventTimeWindows)`,
    // DataStream.java:789): q129's replay harness with NO key — one
    // global 1h tumbling series. Flink pins windowAll to parallelism 1
    // (AllWindowedStream is non-parallel by contract); Spark's
    // groupBy(window) distributes BY WINDOW, so the same query
    // parallelizes across the time axis — strictly better at scale.
    // Flush-window rows can't be filtered by key (there is none): the
    // output keeps only windows starting at or before the last real
    // event, which excludes the day-offset sentinels structurally.
    "q265_windowall_stream" -> ((s, d) => {
      import graft.streaming.Replay
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      val agg = ep.stream(s)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), sumCents.as("cents_v"))
        .select(col("w.start").as("w_start"), col("n"), col("cents_v"))
      ep.runAppend(agg).filter(col("w_start") <= lit(Replay.tsOf(ep.hi)))
        .orderBy(col("w_start"))
    }),

    // NON-KEYED count windows (`DataStream.countWindowAll`,
    // DataStream.java:832 → KeyedStream countWindow semantics over
    // the whole stream): consecutive 500-event windows in global
    // (ts, event_id) order. Flink again runs this at parallelism 1;
    // here the global order comes from the q221 two-pass distributed
    // rank (repartitionByRange → sortWithinPartitions →
    // RDD zipWithIndex — range partitions number in order, so the
    // index IS the rank) and the per-window aggregation distributes.
    // No single-partition Window operator anywhere in the plan.
    "q266_countwindowall" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .repartitionByRange(col("ts"), col("event_id"))
        .sortWithinPartitions(col("ts"), col("event_id"))
      DatasetUtils.zipWithIndex(ev)
        .groupBy((col("idx") / 500).cast("long").as("win_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_v"),
          min(col("event_id")).as("min_ev"),
          max(col("event_id")).as("max_ev"))
        .orderBy(col("win_id"))
    }),

    // STREAMING session windows oracle-bound (the reference's
    // EventTimeSessionWindows path): Spark's session_window with a
    // 30-minute gap over the multi-epoch replay — sessions merge in
    // the state store as epochs arrive and emit (append mode) when
    // the watermark passes session-end+gap. Session ORDINALS
    // (sess_id) are assigned after the fact by ranking closed
    // sessions per user — the ordinal is presentation, the session
    // ASSIGNMENT is what streams. Same double-flush + sink-side
    // sentinel filter as q129 (see the pushdown note there). Hashed
    // against the identical q52 SQL oracle.
    "q130_session_stream" -> ((s, d) => {
      import graft.streaming.Replay
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      val sess = ep.stream(s)
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"),
          sumCents.as("cents_v"))
        .select(col("user_id"), col("n_events"), col("sess_start"),
          col("sess_end"), col("cents_v"))
      ep.runAppend(sess).filter(col("user_id") >= 0) // drop flush sentinels
        .withColumn("sess_id", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("sess_start")))
          .cast("long"))
        .select(col("user_id"), col("sess_id"), col("n_events"),
          col("sess_start"), col("sess_end"), col("cents_v"))
        .orderBy(col("user_id"), col("sess_id"))
    }),

    // STREAMING keep-first dedup oracle-bound (the reference's
    // StreamExecDeduplicate keep-first): the keyed seen-marker op
    // (StatefulOps.dedupFirstWithTtl, TTL effectively infinite) over
    // the time-ordered epoch replay — the first batch containing a
    // key wins across batches, the in-batch (ts, event_id) min wins
    // within one, so arrival order inside a micro-batch never leaks
    // into the result. flatMapGroupsWithState emits immediately: no
    // watermark, no flush sentinels. Oracle = ROW_NUMBER()=1.
    "q131_dedup_stream" -> ((s, d) => {
      import graft.streaming.{Replay, StatefulOps}
      val ep = Replay.eventQuarters(s, d)
      val deduped = StatefulOps
        .dedupFirstWithTtl(ep.stream(s), Long.MaxValue / 2)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      ep.runAppend(deduped).orderBy(col("user_id"), col("event_type"))
    }),

    // STREAMING interval join oracle-bound (the reference's
    // TimeBoundedStreamJoin / StreamExecWindowJoin): the library's
    // stream-stream intervalJoin over TWO independent file-stream
    // readers of the same epoch replay — purchases held in join state
    // match errors arriving in LATER micro-batches and vice versa.
    // Inner joins emit eagerly on match (watermarks gate state
    // EVICTION, not emission), so no flush sentinels are needed.
    // Hashed against the identical q53 SQL oracle.
    "q132_interval_stream" -> ((s, d) => {
      val ep = graft.streaming.Replay.eventQuarters(s, d)
      val joined = purchaseErrorJoin(s, ep)
        .select(expr("l.user_id").as("user_id"), col("p_id"), col("e_id"),
          (unix_micros(expr("r.ts")) - unix_micros(expr("l.ts"))).as("delta_us"))
      ep.runAppend(joined).orderBy(col("user_id"), col("p_id"), col("e_id"))
    }),

    // STREAMING temporal as-of join oracle-bound (the reference's
    // TemporalRowTimeJoinOperator.java:71, stream-first like CEP):
    // the out-of-order-safe buffered as-of join over the epoch
    // replay — each purchase joins the latest view at-or-before it,
    // rows buffering until the watermark confirms completeness. The
    // drain sentinels are far-future VIEWS for user -1 (the op's
    // internal type filter would drop a 'flush' type before the
    // watermark node — the q129 pushdown trap in another coat; a
    // view for a userless key advances event time and joins
    // nothing). Hashed against the identical q54 SQL oracle.
    "q133_asof_stream" -> ((s, d) => {
      import graft.streaming.{EventTimeOps, Replay}
      val ep = Replay.eventQuarters(s, d,
        (_, hi) => Seq(1L, 2L).map(k =>
          Replay.sentinel(-k, hi + k * Replay.DayUs, "view")))
      val joined = EventTimeOps.asOfJoinBuffered(
          ep.stream(s), "view", "purchase", "1 minute")
      ep.runAppend(joined.toDF()).filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("purchase_id"))
    }),

    // STREAMING bounded OVER oracle-bound (the reference's
    // RowTimeRowsBoundedPrecedingFunction): ROWS 4 PRECEDING running
    // aggregates per user over the epoch replay — the n-row window
    // carries across micro-batches in keyed state. Values are mapped
    // to WHOLE-CENT doubles before the op so the running double sum
    // is exact (integers ≤ 2^53) and casts losslessly to BIGINT for
    // the hash compare. Emits per row immediately: no watermark, no
    // sentinels. Oracle = the SQL ROWS frame.
    "q134_over_stream" -> ((s, d) => {
      import graft.streaming.{Replay, StatefulOps}
      val ep = Replay.eventQuarters(s, d)
      val over = StatefulOps.boundedRowsOver(centsStream(ep.stream(s)), n = 5)
      ep.runAppend(over.toDF()
        .select(col("user_id"), col("event_id"),
          expr("cast(sum_prev as bigint)").as("cents_prev"), col("cnt_prev")))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Count-tumbling window batch analog (CountTumblingWindowAssigner):
    // fixed windows of 10 events per user in time order.
    "q57_count_window" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(byUser))
        .withColumn("w_id", floor((col("rn") - 1) / 10))
        .groupBy(col("user_id"), col("w_id"))
        .agg(count(lit(1)).as("n"), sumCents.as("cents_v"))
        .orderBy(col("user_id"), col("w_id"))
    })
  )

  /** Hourly tumbling windows per event type: q50, and q129 streamed. */
  private val tumbleSql =
    evCte +
      """
        |SELECT date_trunc('hour', ts) AS w_start, event_type,
        |  count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 30-minute-gap sessions per user: q52, and q130 streamed. */
  private val sessionSql =
    evCte +
      """,
        |sess AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sess_id
        |  FROM sess)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(ts) AS sess_start, max(ts) AS sess_end,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM numbered GROUP BY user_id, sess_id ORDER BY user_id, sess_id""".stripMargin

  /** Purchases joined to errors of the same user within ±10 minutes: q53, and
    * q132 streamed. */
  private val intervalJoinSql =
    evCte +
      """
        |SELECT p.user_id AS user_id, p.event_id AS p_id, x.event_id AS e_id,
        |  epoch_us(x.ts) - epoch_us(p.ts) AS delta_us
        |FROM (SELECT * FROM ev WHERE event_type='purchase') p
        |JOIN (SELECT * FROM ev WHERE event_type='error') x
        |  ON p.user_id = x.user_id
        | AND x.ts >= p.ts - INTERVAL 10 MINUTE
        | AND x.ts <= p.ts + INTERVAL 10 MINUTE
        |ORDER BY user_id, p_id, e_id""".stripMargin

  /** View followed by purchase within 10 minutes: q58, and q118 streamed. */
  private val cepFollowSql =
    evCte +
      """
        |SELECT user_id, view_id, purchase_id, delta_us FROM (
        |  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |    epoch_us(p.ts) - epoch_us(v.ts) AS delta_us,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM (SELECT * FROM ev WHERE event_type='view') v
        |  JOIN (SELECT * FROM ev WHERE event_type='purchase') p
        |    ON p.user_id = v.user_id AND p.ts > v.ts
        |   AND epoch_us(p.ts) - epoch_us(v.ts) <= 600000000)
        |WHERE rn = 1 ORDER BY user_id, view_id""".stripMargin

  /** Each purchase with the latest view at or before it: q54, q59's exec
    * node, and q133 streamed. */
  private[operators] val asofSql =
    evCte +
      """
        |SELECT user_id, purchase_id, last_view_id, lag_us FROM (
        |  SELECT p.user_id, p.event_id AS purchase_id,
        |    v.event_id AS last_view_id,
        |    epoch_us(p.ts) - epoch_us(v.ts) AS lag_us,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
        |  FROM (SELECT * FROM ev WHERE event_type='purchase') p
        |  LEFT JOIN (SELECT * FROM ev WHERE event_type='view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts)
        |WHERE rn = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** Latest row per (user, type): q55, and q136 and q178 streamed. */
  private[operators] val dedupLastSql =
    evCte +
      """
        |SELECT user_id, event_type, event_id, round(value,2) AS value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Reluctant view loop closed by a purchase within the hour: q110, and
    * q141's MATCH_RECOGNIZE text. */
  private[operators] val cepLoopSql =
    evCte +
      """,
        |views AS (SELECT * FROM ev WHERE event_type = 'view'),
        |purch AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT s.user_id, s.event_id AS first_view, j.event_id AS last_view,
        |    s.ts AS s_ts, j.ts AS j_ts, j.event_id AS j_id,
        |    (SELECT count(*) FROM views v WHERE v.user_id = s.user_id
        |       AND (v.ts > s.ts OR (v.ts = s.ts AND v.event_id >= s.event_id))
        |       AND (v.ts < j.ts OR (v.ts = j.ts AND v.event_id <= j.event_id))
        |    )::BIGINT AS n_views
        |  FROM views s JOIN views j ON s.user_id = j.user_id
        |   AND (j.ts > s.ts OR (j.ts = s.ts AND j.event_id >= s.event_id))
        |   AND epoch_us(j.ts) - epoch_us(s.ts) <= 3600000000)
        |SELECT user_id, first_view, last_view, n_views, purchase_id FROM (
        |  SELECT pr.user_id, pr.first_view, pr.last_view, pr.n_views,
        |    p.event_id AS purchase_id,
        |    row_number() OVER (
        |      PARTITION BY pr.user_id, pr.first_view, pr.last_view
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM pairs pr JOIN purch p ON p.user_id = pr.user_id
        |   AND (p.ts > pr.j_ts OR (p.ts = pr.j_ts AND p.event_id > pr.j_id))
        |   AND epoch_us(p.ts) - epoch_us(pr.s_ts) <= 3600000000)
        |WHERE rn = 1 ORDER BY user_id, first_view, last_view""".stripMargin

  /** ROWS 4 PRECEDING running cents per user: q134, and q180 on the state-v2
    * surface. */
  private[operators] val rowsOverSql =
    evCte +
      """
        |SELECT user_id, event_id,
        |  (sum(CAST(round(value*100) AS BIGINT)) OVER w)::BIGINT AS cents_prev,
        |  (count(*) OVER w)::INT AS cnt_prev
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q50_window_tumble" -> tumbleSql,
    // q129 minus the key: ONE global tumbling series; the streaming
    // windowAll must close every window on exactly the batch result
    "q265_windowall_stream" -> (evCte +
      """
        |SELECT date_trunc('hour', ts) AS w_start,
        |  count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin),
    // global (ts, event_id) rank → consecutive 500-event windows;
    // the engine's two-pass distributed rank must reproduce the
    // window boundaries of the literal row_number exactly
    "q266_countwindowall" -> (evCte +
      """,
        |rk AS (
        |  SELECT (row_number() OVER (ORDER BY ts, event_id) - 1) // 500
        |           AS win_id,
        |         event_id, value
        |  FROM ev)
        |SELECT win_id, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v,
        |  min(event_id) AS min_ev, max(event_id) AS max_ev
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin),
    // identical SQL to q50: the watermarked streaming aggregation must
    // close every window on exactly the batch result
    "q129_window_stream" -> tumbleSql,
    "q51_window_hop" -> (evCte +
      """
        |SELECT w_start, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM (
        |  SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000
        |                        - k.g * 900000000) AS w_start, value
        |  FROM ev, generate_series(0, 3) k(g)
        |  WHERE epoch_us(ts) - ((epoch_us(ts) // 900000000) * 900000000
        |                        - k.g * 900000000) < 3600000000)
        |GROUP BY w_start ORDER BY w_start""".stripMargin),
    "q52_window_session" -> sessionSql,
    // identical SQL to q52: the streaming session_window assignment
    // must close every session on exactly the batch result
    "q130_session_stream" -> sessionSql,
    "q131_dedup_stream" -> (evCte +
      """
        |SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM ev)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),
    "q53_interval_join" -> intervalJoinSql,
    // identical SQL to q53: the stream-stream join must land on the
    // batch interval-join rows exactly
    "q132_interval_stream" -> intervalJoinSql,
    "q54_asof_join" -> asofSql,
    // identical SQL to q54: the buffered streaming as-of join must
    // land on the batch as-of rows exactly
    "q133_asof_stream" -> asofSql,
    "q134_over_stream" -> rowsOverSql,
    "q58_cep_follow" -> cepFollowSql,
    // identical SQL to q58: the streaming replay must land on the very
    // same rows the batch NFA (and the oracle) produce
    "q118_cep_stream" -> cepFollowSql,
    "q88_cep_nofollow" -> (evCte +
      """
        |SELECT user_id, view_id, c_id AS purchase_id FROM (
        |  SELECT v.user_id, v.event_id AS view_id, c.event_id AS c_id,
        |    c.event_type AS c_type,
        |    row_number() OVER (PARTITION BY v.event_id
        |      ORDER BY c.ts, c.event_id) AS rn
        |  FROM (SELECT * FROM ev WHERE event_type='view') v
        |  JOIN (SELECT * FROM ev WHERE event_type IN ('click','purchase')) c
        |    ON c.user_id = v.user_id AND c.ts > v.ts
        |   AND epoch_us(c.ts) - epoch_us(v.ts) <= 600000000)
        |WHERE rn = 1 AND c_type = 'purchase'
        |ORDER BY user_id, view_id""".stripMargin),
    "q110_cep_loop" -> cepLoopSql,
    "q55_dedup_keeplast" -> dedupLastSql,
    "q56_rolling_agg" -> (evCte +
      """
        |SELECT user_id, event_id,
        |  round(sum(value) OVER w, 2) AS run_sum,
        |  round(max(value) OVER w, 2) AS run_max,
        |  count(*) OVER w AS run_cnt
        |FROM ev WHERE user_id <= 50
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    "q57_count_window" -> (evCte +
      """
        |SELECT user_id, w_id, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v FROM (
        |  SELECT user_id, value,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 10 AS w_id
        |  FROM ev)
        |GROUP BY user_id, w_id ORDER BY user_id, w_id""".stripMargin)
  )
}
