package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{Scratch, Tables}
import graft.streaming.{BroadcastState, Cep, CepDsl, Event, MatchRecognize, Replay, StateBootstrap, StateV2, StatefulOps, WindowOps}
import graft.streaming.Replay.{latestPerKey, runAppend, runUpdate, spanOf, tsOf}
import StreamParityQueries.evCte

/** Round-5 parity pack, part 3: the state BOOTSTRAP (write) path —
  * the last partial row of SURVEY §2.8 — oracle-bound.
  *
  * Reference: `flink-libraries/flink-state-processing-api/.../
  * OperatorTransformation.java:66` (bootstrapWith) +
  * `KeyedOperatorTransformation.java:73` + `Savepoint.java:75`:
  * batch-compute keyed state, write it as a savepoint, start the
  * streaming job from it. Spark-first equivalent:
  * `flatMapGroupsWithState(..., initialState)` — see
  * `streaming/StateBootstrap.scala`.
  */
object StreamParityQueries3 extends QuerySet {

  val queries: Map[String, Q] = Map(

    // STATE BOOTSTRAP oracle-bound: per-user running (count, cents)
    // aggregate. The FIRST half of events is batch-aggregated into a
    // KeyAgg table — the "savepoint" — and the stream replays only the
    // SECOND half (two micro-batches) on top of that initial state.
    // Final state (newest emission per touched user, bootstrapped row
    // for untouched users) must equal the one-shot GROUP BY over ALL
    // events: wrong iff the bootstrap is dropped, double-applied, or
    // mis-keyed. Most users have rows in both halves, so the
    // merge path is load-bearing for nearly every output row.
    "q173_state_bootstrap" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("bootstrap")
      val real = Tables.events(s, d).as[Event]
      val (lo, hi) = spanOf(real)
      val mid = tsOf(lo + (hi - lo) / 2)
      val cut34 = tsOf(lo + (hi - lo) * 3 / 4)

      // batch "savepoint": keyed state computed from the first half
      val init = real.filter(col("ts") < lit(mid))
        .groupByKey(_.user_id)
        .mapGroups { (u, it) =>
          var (c, cents) = (0L, 0L)
          it.foreach { e => c += 1; cents += math.round(e.value * 100) }
          StateBootstrap.KeyAgg(u, c, cents)
        }

      // stream continuation: ONLY the second half replays
      val (inDir, schema) = Replay.fileEpochs(
        real.filter(col("ts") >= lit(mid)),
        Seq(col("ts") < lit(cut34), col("ts") >= lit(cut34)),
        base.toString)
      val cont = StateBootstrap.runningAggBootstrapped(
        Replay.stream(s, inDir, schema), init)

      val touched = latestPerKey(
        runUpdate(cont.toDF(), base.toString, s), col("user_id"))
      // untouched keys: bootstrapped state the stream never saw
      val untouched = init.toDF().join(touched.select("user_id"),
        Seq("user_id"), "left_anti")
      touched.unionByName(untouched)
        .select(col("user_id"), col("cnt"), col("cents"))
        .orderBy(col("user_id"))
    }),

    // ContinuousEventTimeTrigger oracle-bound — the carried-forward
    // "spec-only by design" trigger. Its fires DO depend on micro-batch
    // watermark timing, but under the replay that timing is a known
    // deterministic schedule, verified by probe and encoded below:
    // file batches run back-to-back (no intermediate no-data batches
    // — data availability preempts them), so the watermark during the
    // batch of quarter q is w_{q-1} = maxTs(quarter q-1) - delay.
    // With interval = 1 ms (any watermark advance fires) and ONE
    // giant window (size 1e12 ms spans the whole table, start pinned
    // at 1e12 ms), each key fires on every invocation whose watermark
    // advanced: invoked via data or via the re-armed event-time timer
    // chain from its first batch onward. Per key with first quarter
    // q0, the early-fire contents are the cumulative prefixes C_q for
    // q in max(q0,2)..4 (no fire in the first batch when wm=0), plus
    // one more C_4 at the first sentinel's batch (wm=w_4), then the
    // closing C_4 once the second sentinel's watermark passes the
    // window end. The oracle rebuilds exactly that multiset; one fire
    // added, dropped, or mis-filled anywhere in the schedule breaks
    // the (user, n, cents, closing, times) hash. Values are mapped to
    // whole cents BEFORE the op so streaming-order double sums are
    // exact integers (the q134 trick).
    // Reference: windowing/triggers/ContinuousEventTimeTrigger.java.
    "q174_cont_trigger_stream" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("cet")
      val real = Tables.events(s, d).as[Event]
        .map(e => e.copy(value = math.round(e.value * 100).toDouble))
      val endUs = 2_000_000_000_000_000L // window = [1e12, 2e12) ms
      val ep = Replay.quarters(real, base.toString, (_, _) => Seq(
        Replay.sentinel(-1L, endUs + 120_000_000L),       // closes the real window
        Replay.sentinel(-2L, endUs + Replay.DayUs)))      // runs the closing batch
      val fires = WindowOps.tumble(ep.stream(s),
        sizeMs = 1_000_000_000_000L, delay = "1 minute",
        trigger = WindowOps.ContinuousEventTimeTrigger(1L))
      runAppend(fires.toDF(), base.toString, s)
        .filter(col("user_id") >= 0)
        .groupBy(col("user_id"), col("n"),
          expr("cast(sum_v as bigint)").as("cents"), col("closing"))
        .agg(count(lit(1)).as("times"))
        .orderBy(col("user_id"), col("n"), col("cents"), col("closing"))
    }),

    // DYNAMIC broadcast state oracle-bound (BroadcastProcessFunction,
    // DataStream.java:430 + BroadcastProcessFunction.java:51): the
    // control stream (error events with value > 90 → "block this
    // user") and the data stream (purchases) arrive as one tagged
    // quarter replay; each micro-batch merges its control rows into
    // the rules store BEFORE flagging its purchases. Rule visibility
    // is therefore micro-batch-causal: a purchase is blocked iff some
    // qualifying error for its user occurred in the SAME quarter or
    // earlier — apply-before-merge, a dropped store merge, or
    // cross-batch leakage each break the hash.
    "q177_broadcast_state_stream" -> ((s, d) => {
      val base = Scratch.dir("bstate")
      import s.implicits._
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      BroadcastState.run(
          ep.streamDf(s),
          StructType(Seq(StructField("user_id", LongType))), base.toString)(
        extractRules = b => b
          .filter(col("event_type") === "error" && col("value") > 90)
          .select(col("user_id")).distinct())(
        applyRules = (b, rules) => b
          .filter(col("event_type") === "purchase")
          .join(rules.withColumn("blocked", lit(true)), Seq("user_id"), "left")
          .select(col("event_id"), col("user_id"),
            coalesce(col("blocked"), lit(false)).as("blocked")))
        .orderBy(col("event_id"))
    }),

    // The state-v2 surface (transformWithState + StatefulProcessor +
    // named ValueState, RocksDB-backed) oracle-bound: keep-last dedup
    // re-expressed as a KeyedProcessFunction analog through the same
    // quarter replay as q136, against the identical ROW_NUMBER DESC
    // oracle — the v2 API must land on the v1 rows exactly.
    "q178_statev2_dedup_stream" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("statev2")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      StateV2.withRocksDb(s) {
        val ded = StateV2.dedupKeepLastV2(ep.stream(s))
        latestPerKey(runUpdate(ded.toDF(), base.toString, s),
            col("user_id"), col("event_type"))
          .select(col("user_id"), col("event_type"), col("event_id"),
            round(col("value"), 2).as("value"))
          .orderBy(col("user_id"), col("event_type"))
          .localCheckpoint() // materialize before the provider resets
      }
    }),

    // MATCH_RECOGNIZE pattern ALTERNATION oracle-bound (reference
    // group patterns, `cep/pattern/GroupPattern.java`; SQL:2016
    // PATTERN (A (B|C))): each 'view' start binds the FIRST following
    // purchase-OR-error within 1 hour, and the classifier identity —
    // WHICH alternative matched — survives into MEASURES as the
    // count(B)/count(C) split. The oracle recomputes the first
    // qualifying successor per view with a row_number over the union
    // of both types; a bind under the wrong alternative, a missed
    // leftmost preference, or alternation-blind counting each break
    // the hash.
    "q179_match_alternation" -> ((s, d) => {
      import s.implicits._
      val sql = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES first(A.event_id) AS view_id, count(B) AS n_buy,
                   count(C) AS n_err
          PATTERN (A (B|C)) WITHIN INTERVAL '1' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase',
                 C AS C.event_type = 'error'
        )"""
      val types = Set("view", "purchase", "error")
      MatchRecognize.run(
          Tables.events(s, d).as[Event].filter(e => types(e.event_type)), sql)
        .orderBy(col("user_id"), col("view_id"))
    }),

    // Named ListState on the v2 surface oracle-bound (the reference's
    // ListStateDescriptor family, `flink-core/.../api/common/state/
    // ListStateDescriptor.java`; RowTimeRowsBoundedPrecedingFunction
    // keeps exactly this rolling tail in ListState): q134's ROWS 4
    // PRECEDING running aggregate re-expressed through
    // transformWithState + getListState, RocksDB-backed, same quarter
    // replay, against the identical SQL ROWS-frame oracle — the v2
    // ListState must land on the v1 rows exactly. Cents mapping keeps
    // the running double sum exact (q134 trick).
    "q180_statev2_liststate" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("statev2l")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      StateV2.withRocksDb(s) {
        val over = StateV2.boundedRowsOverV2(
          ep.stream(s)
            .map(e => e.copy(value = math.round(e.value * 100).toDouble)),
          n = 5)
        runAppend(over.toDF()
            .select(col("user_id"), col("event_id"),
              expr("cast(sum_prev as bigint)").as("cents_prev"), col("cnt_prev")),
            base.toString, s)
          .orderBy(col("user_id"), col("event_id"))
          .localCheckpoint() // materialize before the provider resets
      }
    }),

    // Named MapState on the v2 surface oracle-bound (the reference's
    // MapStateDescriptor family, `flink-core/.../api/common/state/
    // MapStateDescriptor.java`): per-user event_type→count map,
    // update-mode changelog through the quarter replay; the FINAL
    // emission per (user, type) must equal the one-shot GROUP BY —
    // a lost map entry, a reset counter, or cross-batch leakage each
    // break the hash.
    "q181_statev2_mapstate" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("statev2m")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      StateV2.withRocksDb(s) {
        val cnts = StateV2.typeCountsV2(ep.stream(s))
        latestPerKey(runUpdate(cnts.toDF(), base.toString, s),
            col("user_id"), col("event_type"))
          .select(col("user_id"), col("event_type"), col("cnt"))
          .orderBy(col("user_id"), col("event_type"))
          .localCheckpoint() // materialize before the provider resets
      }
    }),

    // MATCH_RECOGNIZE zero-or-more (`*`) oracle-bound — the last
    // quantifier of the reference's MATCH_RECOGNIZE surface
    // (PatternTranslator composes SQL `*` as oneOrMore().optional();
    // `cep/pattern/Quantifier.java`). PATTERN (A B* C): each view
    // start runs a GREEDY click loop (SQL default greediness) closed
    // by the first purchase within the hour; MEASURES counts the
    // loop's occurrences, so a loop that over- or under-collects, a
    // zero-occurrence drift that fails, or a non-greedy stop each
    // break the hash. The oracle recomputes the first purchase per
    // view and counts the clicks strictly between them in
    // (ts, event_id) order — exactly the greedy binding set
    // (property-proved equal to the NFA in CepStarSpec).
    "q189_match_star" -> ((s, d) => {
      import s.implicits._
      val sql = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES first(A.event_id) AS view_id, count(B) AS n_clicks,
                   first(C.event_id) AS buy_id
          PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )"""
      val types = Set("view", "click", "purchase")
      MatchRecognize.run(
          Tables.events(s, d).as[Event].filter(e => types(e.event_type)), sql)
        .orderBy(col("user_id"), col("view_id"))
    }),

    // The STREAMING path of the star machinery: q189's parsed clause
    // (parser → NFA with a greedy optional loop) executed by
    // Cep.matchStream over a file replay whose chunk bounds include a
    // real match's closing-purchase timestamp, so at least one
    // mid-loop partial provably crosses a micro-batch boundary
    // through the state store (the q118 straddle trick). Same oracle
    // as q189 — the streaming run must land on the batch rows
    // exactly; a loop count lost at the boundary, a re-bound B, or a
    // dropped partial each break the hash.
    "q198_match_star_stream" -> ((s, d) => {
      import s.implicits._
      val sql = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES first(A.event_id) AS view_id, count(B) AS n_clicks,
                   first(C.event_id) AS buy_id
          PATTERN (A B* C) WITHIN INTERVAL '1' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'click',
                 C AS C.event_type = 'purchase'
        )"""
      val parsed = MatchRecognize.parse(sql)
      val base = Scratch.dir("starstream")
      val types = Set("view", "click", "purchase")
      val ev = Tables.events(s, d).as[Event].filter(e => types(e.event_type))
      val straddleTs = Cep.matchBatchSorted(ev, parsed.pattern, parsed.skip)
        .map { case (_, m) => m("C").head.ts }
        .orderBy(col("value")).take(1).toSeq // bounded: one row
      val (lo, hi) = spanOf(ev)
      val bounds = ((1 to 3).map(k => tsOf(lo + (hi - lo) * k / 4)) ++ straddleTs)
        .distinct.sortBy(Event.micros)
      val chunks =
        (col("ts") < bounds.head) +:
        bounds.sliding(2).map { case Seq(a, b) => col("ts") >= a && col("ts") < b }
          .toSeq :+
        (col("ts") >= bounds.last)
      val (inDir, schema) = Replay.fileEpochs(ev, chunks, base.toString)
      val matches = Cep.matchStream(Replay.stream(s, inDir, schema),
        parsed.pattern, parsed.skip)
      val measures = CepDsl.compileMeasures[Event](parsed.measuresSrc, Event.fieldTable)
      runAppend(Cep.selectMeasures(matches, parsed.partitionBy, measures), base.toString, s)
        .orderBy(col("user_id"), col("view_id"))
    }),

    // TTL'd keyed state oracle-bound — the carried-forward "keyed
    // state primitives + TTL" spec-only row. Event-time TTL dedup:
    // per (user, type) the first event is kept, then the key re-opens
    // whenever 48 h of EVENT time pass the last kept row — the
    // deterministic analog of the reference's
    // DeduplicateKeepFirstRowFunction + StateTtlConfig (state expiry
    // re-admitting the key), replayable because the clock is the
    // stream's own. The chain is inherently sequential (each kept row
    // defines the next window), so the oracle walks it with a
    // recursive CTE; a dropped state update, a batch-boundary leak,
    // or an off-by-one at exactly TTL each break the hash.
    "q190_ttl_dedup_stream" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("ttl")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      val ded = StatefulOps.dedupFirstEventTtl(
        ep.stream(s), ttlUs = 172_800_000_000L) // 48 h
      runAppend(ded.toDF(), base.toString, s)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy(col("user_id"), col("event_type"), col("event_id"))
    }),

    // ReducingState on the v2 surface oracle-bound — the last named
    // state kind of the reference's descriptor family
    // (ReducingStateDescriptor.java:30; rolling KeyedStream.maxBy is
    // built on it): per-user running (value, event_id)-max through
    // the quarter replay, update-mode changelog whose final champion
    // per user must equal the SQL arg-max — a reduction applied to
    // the wrong operand order, a lost champion at a batch boundary,
    // or an emit on non-change each break the hash.
    "q200_statev2_reducing" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("statev2r")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      StateV2.withRocksDb(s) {
        val mx = StateV2.runningMaxV2(ep.stream(s))
        latestPerKey(runUpdate(mx.toDF(), base.toString, s), col("user_id"))
          .select(col("user_id"), col("event_id"),
            round(col("value"), 2).as("value"))
          .orderBy(col("user_id"))
          .localCheckpoint() // materialize before the provider resets
      }
    }),

    // QUERYABLE STATE point-lookup HISTORY oracle-bound — hardens
    // q171's final-state check (VERDICT r5 stretch): the complete-mode
    // serving layer is snapshotted at EVERY micro-batch boundary (the
    // moments a QueryableStateClient lookup would observe), so the
    // oracle faces the full lookup history, not just the last state.
    // Each quarter replay batch q must serve exactly the cumulative
    // per-user aggregate over quarters 1..q — a stale table, a
    // dropped update, or a batch observing half an epoch each breaks
    // the (q, user) hash. Reference: `flink-queryable-state/.../
    // QueryableStateClient.java` + `KeyedStream.java:1005`.
    "q182_queryable_history" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("qhist")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString)
      val counts = ep.stream(s).toDF()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value*100) as bigint)")).as("cents_v"))
      val snapDir = s"$base/snap"
      Replay.runBatches(counts, s"$base/ck", "complete") { (b, id) =>
        // the point-lookup surface at this boundary = the full table
        b.withColumn("q", lit(id + 1)).write.mode("append").parquet(snapDir)
      }
      Tables.read(s, snapDir)
        .select(col("q"), col("user_id"), col("n"), col("cents_v"))
        .orderBy(col("q"), col("user_id"))
    }))

  val oracle: Map[String, String] = Map(
    // one-shot truth over the WHOLE table: bootstrap half + stream half
    "q173_state_bootstrap" -> (evCte +
      """
        |SELECT user_id, count(*) AS cnt,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin),

    // the deterministic fire schedule of the replay (see the Spark
    // side): early fires = prefixes C_q, q in max(q0,2)..4, + one
    // extra C_4 (first-sentinel batch), closing = C_4
    "q174_cont_trigger_stream" -> (evCte +
      """,
        |b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM ev),
        |c AS (SELECT ((lo + (hi - lo) * 1 // 4) // 1000) * 1000 AS c1,
        |             ((lo + (hi - lo) * 2 // 4) // 1000) * 1000 AS c2,
        |             ((lo + (hi - lo) * 3 // 4) // 1000) * 1000 AS c3 FROM b),
        |e AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
        |  CASE WHEN epoch_us(ts) < c1 THEN 1 WHEN epoch_us(ts) < c2 THEN 2
        |       WHEN epoch_us(ts) < c3 THEN 3 ELSE 4 END AS qr FROM ev, c),
        |u AS (SELECT user_id, min(qr) AS q0 FROM e GROUP BY user_id),
        |pre AS (SELECT e.user_id, g.q, count(*) AS n, sum(e.cents) AS cents
        |        FROM e JOIN (VALUES (2),(3),(4)) AS g(q) ON e.qr <= g.q
        |        GROUP BY e.user_id, g.q),
        |fires AS (
        |  SELECT p.user_id, p.n, p.cents, false AS closing
        |  FROM pre p JOIN u USING (user_id) WHERE p.q >= greatest(u.q0, 2)
        |  UNION ALL
        |  SELECT user_id, n, cents, false FROM pre WHERE q = 4
        |  UNION ALL
        |  SELECT user_id, n, cents, true FROM pre WHERE q = 4)
        |SELECT user_id, n, cents::BIGINT AS cents, closing,
        |  count(*) AS times
        |FROM fires GROUP BY user_id, n, cents, closing
        |ORDER BY user_id, n, cents, closing""".stripMargin),

    // micro-batch-causal rule visibility: blocked iff a qualifying
    // error for the user sits in the same quarter or earlier
    "q177_broadcast_state_stream" -> (evCte +
      """,
        |b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM ev),
        |c AS (SELECT ((lo + (hi - lo) * 1 // 4) // 1000) * 1000 AS c1,
        |             ((lo + (hi - lo) * 2 // 4) // 1000) * 1000 AS c2,
        |             ((lo + (hi - lo) * 3 // 4) // 1000) * 1000 AS c3 FROM b),
        |e AS (SELECT *, CASE WHEN epoch_us(ts) < c1 THEN 1
        |                     WHEN epoch_us(ts) < c2 THEN 2
        |                     WHEN epoch_us(ts) < c3 THEN 3 ELSE 4 END AS qr
        |      FROM ev, c),
        |rules AS (SELECT user_id, min(qr) AS rq FROM e
        |          WHERE event_type = 'error' AND value > 90 GROUP BY user_id)
        |SELECT p.event_id, p.user_id,
        |  (r.user_id IS NOT NULL AND r.rq <= p.qr) AS blocked
        |FROM e p LEFT JOIN rules r ON p.user_id = r.user_id
        |WHERE p.event_type = 'purchase' ORDER BY p.event_id""".stripMargin),

    // identical SQL to q136/q55: the v2 API's final state must equal
    // the batch keep-last rows
    "q178_statev2_dedup_stream" -> (evCte +
      """
        |SELECT user_id, event_type, event_id, round(value,2) AS value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM ev)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // first purchase-or-error after each view within the hour; the
    // classifier split is the CASE over the winner's type
    "q179_match_alternation" -> (evCte +
      """
        |SELECT user_id, view_id,
        |  CASE WHEN x_type = 'purchase' THEN 1 ELSE 0 END::BIGINT AS n_buy,
        |  CASE WHEN x_type = 'error' THEN 1 ELSE 0 END::BIGINT AS n_err
        |FROM (
        |  SELECT v.user_id, v.event_id AS view_id, x.event_type AS x_type,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |      ORDER BY x.ts, x.event_id) AS rn
        |  FROM (SELECT * FROM ev WHERE event_type = 'view') v
        |  JOIN (SELECT * FROM ev WHERE event_type IN ('purchase','error')) x
        |    ON x.user_id = v.user_id
        |   AND (x.ts > v.ts OR (x.ts = v.ts AND x.event_id > v.event_id))
        |   AND epoch_us(x.ts) - epoch_us(v.ts) <= 3600000000)
        |WHERE rn = 1 ORDER BY user_id, view_id""".stripMargin),

    // identical frame to q134: the v2 ListState must land on the SQL
    // ROWS-frame rows exactly
    "q180_statev2_liststate" -> (evCte +
      """
        |SELECT user_id, event_id,
        |  (sum(CAST(round(value*100) AS BIGINT)) OVER w)::BIGINT AS cents_prev,
        |  (count(*) OVER w)::INT AS cnt_prev
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),

    // one-shot GROUP BY truth for the MapState changelog's final state
    "q181_statev2_mapstate" -> (evCte +
      """
        |SELECT user_id, event_type, count(*) AS cnt
        |FROM ev GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    // first purchase after each view within the hour; the greedy B*
    // binding set = clicks strictly between them in (ts,event_id) order
    "q189_match_star" -> (evCte +
      """,
        |v AS (SELECT * FROM ev WHERE event_type = 'view'),
        |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |k AS (SELECT * FROM ev WHERE event_type = 'click'),
        |fp AS (
        |  SELECT v.user_id, v.event_id AS view_id, v.ts AS vts,
        |    p.ts AS pts, p.event_id AS buy_id,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM v JOIN p ON p.user_id = v.user_id
        |   AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        |   AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000)
        |SELECT f.user_id, f.view_id,
        |  (SELECT count(*) FROM k WHERE k.user_id = f.user_id
        |     AND (k.ts > f.vts OR (k.ts = f.vts AND k.event_id > f.view_id))
        |     AND (k.ts < f.pts OR (k.ts = f.pts AND k.event_id < f.buy_id)))
        |    ::BIGINT AS n_clicks,
        |  f.buy_id
        |FROM fp f WHERE rn = 1 ORDER BY user_id, view_id""".stripMargin),

    // identical SQL to q189: the streaming replay must land on the
    // batch star rows exactly
    "q198_match_star_stream" -> (evCte +
      """,
        |v AS (SELECT * FROM ev WHERE event_type = 'view'),
        |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |k AS (SELECT * FROM ev WHERE event_type = 'click'),
        |fp AS (
        |  SELECT v.user_id, v.event_id AS view_id, v.ts AS vts,
        |    p.ts AS pts, p.event_id AS buy_id,
        |    row_number() OVER (PARTITION BY v.user_id, v.event_id
        |      ORDER BY p.ts, p.event_id) AS rn
        |  FROM v JOIN p ON p.user_id = v.user_id
        |   AND (p.ts > v.ts OR (p.ts = v.ts AND p.event_id > v.event_id))
        |   AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000)
        |SELECT f.user_id, f.view_id,
        |  (SELECT count(*) FROM k WHERE k.user_id = f.user_id
        |     AND (k.ts > f.vts OR (k.ts = f.vts AND k.event_id > f.view_id))
        |     AND (k.ts < f.pts OR (k.ts = f.pts AND k.event_id < f.buy_id)))
        |    ::BIGINT AS n_clicks,
        |  f.buy_id
        |FROM fp f WHERE rn = 1 ORDER BY user_id, view_id""".stripMargin),

    // the TTL chain walked explicitly: seed = first row per key, step
    // = earliest row more than TTL past the last kept one (argmin via
    // NOT EXISTS — aggregates are not allowed in a recursive term)
    "q190_ttl_dedup_stream" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts,
        |         user_id, event_type FROM events),
        |kept AS (
        |  SELECT user_id, event_type, ts, event_id FROM (
        |    SELECT user_id, event_type, ts, event_id,
        |      row_number() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS rn FROM ev) WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.ts, e.event_id
        |  FROM kept k JOIN ev e
        |    ON e.user_id = k.user_id AND e.event_type = k.event_type
        |   AND epoch_us(e.ts) - epoch_us(k.ts) > 172800000000
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM ev e2
        |    WHERE e2.user_id = e.user_id AND e2.event_type = e.event_type
        |      AND epoch_us(e2.ts) - epoch_us(k.ts) > 172800000000
        |      AND (e2.ts < e.ts OR (e2.ts = e.ts AND e2.event_id < e.event_id))))
        |SELECT user_id, event_type, event_id FROM kept
        |ORDER BY user_id, event_type, event_id""".stripMargin,

    // the final reduced state per user = the SQL arg-max row
    "q200_statev2_reducing" -> (evCte +
      """
        |SELECT user_id, event_id, round(value, 2) AS value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id DESC) AS rn FROM ev)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // every batch boundary serves the cumulative prefix over quarters
    // 1..q (quarter cuts = the replay's ms-truncated chunk bounds)
    "q182_queryable_history" -> (evCte +
      """,
        |b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM ev),
        |c AS (SELECT ((lo + (hi - lo) * 1 // 4) // 1000) * 1000 AS c1,
        |             ((lo + (hi - lo) * 2 // 4) // 1000) * 1000 AS c2,
        |             ((lo + (hi - lo) * 3 // 4) // 1000) * 1000 AS c3 FROM b),
        |e AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
        |  CASE WHEN epoch_us(ts) < c1 THEN 1 WHEN epoch_us(ts) < c2 THEN 2
        |       WHEN epoch_us(ts) < c3 THEN 3 ELSE 4 END AS qr FROM ev, c)
        |SELECT g.q::BIGINT AS q, e.user_id, count(*)::BIGINT AS n,
        |  sum(e.cents)::BIGINT AS cents_v
        |FROM e JOIN (VALUES (1),(2),(3),(4)) AS g(q) ON e.qr <= g.q
        |GROUP BY g.q, e.user_id ORDER BY q, user_id""".stripMargin))
}
