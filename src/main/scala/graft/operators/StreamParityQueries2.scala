package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.{Scratch, Tables}
import graft.streaming.{Event, EventTimeOps, Replay, StreamDedup, StreamIterate, WindowOps}
import graft.streaming.Replay.runAppend
import StreamParityQueries.evCte

/** Round-5 parity pack, part 2: the window-machinery TRIGGERS and
  * EVICTORS, streaming event-time sort, the stream-feedback iteration,
  * the drop-side corpus near-dedup, and weighted community detection —
  * each previously spec-only, now driven through the Replay harness
  * (or the feedback-loop harness) and hashed against a one-shot DuckDB
  * oracle.
  *
  * Reference operators faced here:
  *  - event-time sort       `sort/StreamExecTemporalSort` (RowTimeSortOperator)
  *  - stream iterate        `IterativeStream.java`
  *  - CountTrigger          `windowing/triggers/CountTrigger.java`
  *  - PurgingTrigger        `windowing/triggers/PurgingTrigger.java`
  *  - CountEvictor          `windowing/evictors/CountEvictor.java`
  *  - DeltaEvictor          `windowing/evictors/DeltaEvictor.java`
  *  - CommunityDetection    `flink-gelly/.../library/CommunityDetection.java`
  *
  * Trigger/evictor fires are deterministic here because the replay
  * delivers rows in event-time order: per (key, window) the ingest
  * sequence equals the (ts, event_id) order, so "fire every nth
  * element" and "evict all but the newest k at fire time" are exactly
  * expressible as row_number/frame SQL — no watermark modeling needed
  * for count/delta machinery (ContinuousEventTimeTrigger stays
  * spec-only: its fires depend on micro-batch watermark timing, which
  * a one-shot SQL cannot see).
  */
object StreamParityQueries2 extends QuerySet {

  /** The quarter replay plus two flush sentinels (user_id = -1) that
    * advance the watermark so final windows/buffers emit; callers drop
    * user_id < 0 at sink read. */
  private def flushedReplay(s: SparkSession, d: String, base: String): Replay.Epochs = {
    import s.implicits._
    Replay.quarters(Tables.events(s, d).as[Event], base, Replay.flushes(1, 2))
  }

  /** Whole-cent prescale (the q134 trick): ranking/sums stay exact
    * integers on both sides of the compare. */
  private def centsStream(s: SparkSession, ep: Replay.Epochs) = {
    import s.implicits._
    ep.stream(s).map(e => e.copy(value = math.round(e.value * 100).toDouble))
  }

  private val weekMs = 604800000L // 7-day tumble ≈ 17 events/user-window

  /** Run a trigger/evictor tumble through the flushed replay and
    * normalize the WindowFire output for the oracle compare. */
  private def fires(s: SparkSession, d: String, tag: String,
                    trigger: WindowOps.Trigger,
                    evictor: WindowOps.Evictor): DataFrame = {
    val base = Scratch.dir(tag)
    val out = WindowOps.tumble(centsStream(s, flushedReplay(s, d, base.toString)),
      sizeMs = weekMs, delay = "1 minute", trigger = trigger,
      evictor = evictor)
    runAppend(out.toDF(), base.toString, s)
      .filter(col("user_id") >= 0) // drop flush sentinels
      .select(col("user_id"), col("w_start_ms"), col("n"), col("sum_v"),
        col("closing"))
      .orderBy(col("user_id"), col("w_start_ms"), col("closing"), col("n"),
        col("sum_v"))
  }

  // Shared oracle CTE: per (user, 7-day window) rows in (ts, event_id)
  // order with cumulative count/sum and window totals — the ingest
  // sequence the operator sees. w_start replicates tUs/1000/size*size.
  private val winCte = evCte +
    s""",
       |r AS (SELECT user_id, ts, event_id,
       |  CAST(round(value*100) AS BIGINT) AS cents,
       |  (epoch_us(ts) // 1000 // $weekMs) * $weekMs AS w_start,
       |  row_number() OVER w AS rn,
       |  sum(CAST(round(value*100) AS BIGINT)) OVER
       |    (w ROWS UNBOUNDED PRECEDING) AS csum,
       |  count(*) OVER (PARTITION BY user_id,
       |    epoch_us(ts) // 1000 // $weekMs) AS cnt,
       |  sum(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id,
       |    epoch_us(ts) // 1000 // $weekMs) AS tot
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id, epoch_us(ts) // 1000 // $weekMs
       |               ORDER BY ts, event_id))""".stripMargin

  val queries: Map[String, Q] = Map(

    // STREAMING event-time sort oracle-bound (StreamExecTemporalSort):
    // eventTimeSorted buffers per key and releases rows in exact
    // (ts, event_id) order as the watermark passes them — here its
    // output feeds an ORDER-SENSITIVE stateful consumer computing the
    // per-key running value delta in emission order. Only the correct
    // cross-micro-batch release order lands on the lag() oracle; a row
    // released one batch early or late pairs with the wrong
    // predecessor and shifts every delta after it. (Within one batch
    // the consumer re-sorts, so the bind proves the cross-batch
    // buffering/release — the part with state in it.)
    "q157_sort_delta_stream" -> ((s, d) => {
      import s.implicits._
      val base = Scratch.dir("sortstream")
      val ep = flushedReplay(s, d, base.toString)
      // The sort RELEASES rows as the watermark passes them, so by
      // construction its output is at-watermark — Spark's global-
      // watermark check flags any stateful consumer of it as a late-row
      // risk. The consumer here is order-driven (no event-time state,
      // NoTimeout), which is exactly the Flink chained-operator shape;
      // scope the check off for this query only.
      val ckKey = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      val ckPrev = s.conf.get(ckKey, "true")
      s.conf.set(ckKey, "false")
      try {
      val sorted = EventTimeOps.eventTimeSorted(
        centsStream(s, ep), "1 minute")
      val deltas = sorted.groupByKey(_.user_id)
        .flatMapGroupsWithState[Long, (Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (_, rows, st: GroupState[Long]) =>
            var prev = st.getOption.getOrElse(Long.MinValue)
            val out = rows.toList
              .sortBy(e => (Event.micros(e.ts), e.event_id))
              .map { e =>
                val c = e.value.toLong
                val dlt = if (prev == Long.MinValue) 0L else c - prev
                prev = c
                (e.event_id, dlt)
              }
            st.update(prev)
            out.iterator
        }
      runAppend(deltas.toDF("event_id", "delta_cents"), base.toString, s)
        .filter(col("event_id") >= 0)
        .orderBy(col("event_id"))
      } finally s.conf.set(ckKey, ckPrev)
    }),

    // STREAM FEEDBACK ITERATION oracle-bound (IterativeStream): every
    // event's cents value circles the durable feedback edge, halving
    // per hop, until it drops to ≤ 100; exits carry their hop count.
    // The oracle is the same fixpoint as a recursive CTE — each row's
    // exit value AND loop depth must match, so multi-hop feedback
    // routing (up to 9 generations here) faces the oracle directly.
    "q158_iterate_stream" -> ((s, d) => {
      val base = Scratch.dir("iterstream")
      val (in, fb, out, ck) = (s"$base/in", s"$base/fb", s"$base/out", s"$base/ck")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(fb))
      val seed = Tables.events(s, d).select(col("event_id"),
        expr("cast(round(value*100) as bigint)").as("cents"),
        lit(0L).as("hops"))
      seed.write.mode("overwrite").parquet(in)
      val q = StreamIterate.loop(s, seed.schema, in, fb, out, ck)(
        step = b => b.select(col("event_id"),
          expr("cents DIV 2").as("cents"), (col("hops") + 1).as("hops")),
        isFeedback = col("cents") > 100)
      // deepest record: 49002 cents → 9 halvings; each drain advances
      // one feedback generation, run extras for slack
      try (1 to 13).foreach(_ => q.processAllAvailable()) finally q.stop()
      s.read.option("recursiveFileLookup", "true").parquet(out)
        .select(col("event_id"), col("cents").as("cents_final"), col("hops"))
        .orderBy(col("event_id"))
    }),

    // STREAMING corpus near-dup DROP oracle-bound — the drop-side
    // complement of q155 (flag): per micro-batch, a doc survives iff
    // ALL 8 of its band keys miss the corpus bucket table. The
    // survivors-count aggregation makes this a batch-composed stage
    // (foreachBatch), the documented scale shape for it.
    "q159_neardrop_corpus_stream" -> ((s, d) => {
      val base = Scratch.dir("neardropstream")
      val (corpus, ep) =
        Replay.snapshotSplit(Tables.documents(s, d), "doc_id", base.toString)
      val bands = StreamDedup.corpusBands(corpus).localCheckpoint()
      val out = s"$base/out"
      Replay.runBatches(ep.streamDf(s), s"$base/ck") { (b, _) =>
        StreamDedup.dropNearDups(b, bands).select("doc_id")
          .write.mode("append").parquet(out)
      }
      Tables.read(s, out).orderBy(col("doc_id"))
    }),

    // CountTrigger oracle-bound: fire every 4th buffered row (early,
    // cumulative prefix aggregate) + the closing fire at the watermark
    // (full window). 7-day windows span quarter boundaries, so the
    // count cadence provably survives micro-batch crossings.
    "q160_count_trigger_stream" -> ((s, d) =>
      fires(s, d, "ctrig", WindowOps.CountTrigger(4), WindowOps.NoEvictor)),

    // PurgingTrigger(CountTrigger) oracle-bound: each early fire emits
    // ONLY the rows since the last fire (blocks of exactly 4) and
    // clears the buffer; the closing fire emits the remainder block —
    // including an EMPTY one (n=0) when the window size divides evenly,
    // which is the purge-path edge the oracle must see.
    "q161_purging_trigger_stream" -> ((s, d) =>
      fires(s, d, "ptrig", WindowOps.PurgingTrigger(WindowOps.CountTrigger(4)),
        WindowOps.NoEvictor)),

    // CountEvictor oracle-bound: the closing fire keeps only the
    // newest 5 rows by (ts, event_id) — aggregate over a suffix frame.
    "q162_count_evictor_stream" -> ((s, d) =>
      fires(s, d, "cevict", WindowOps.EventTimeTrigger,
        WindowOps.CountEvictor(5))),

    // DeltaEvictor oracle-bound: at fire time, evict rows whose value
    // differs from the NEWEST buffered row's value by ≥ $100 (10000
    // cents) — value-relative eviction anchored at the last row.
    "q163_delta_evictor_stream" -> ((s, d) =>
      fires(s, d, "devict", WindowOps.EventTimeTrigger,
        WindowOps.DeltaEvictor(10000.0))),

    // STREAMING RIGHT OUTER interval join oracle-bound — completes the
    // outer family (LEFT q145, FULL q156): unmatched ERROR rows
    // null-pad exactly once at the watermark horizon.
    "q170_right_outer_interval_stream" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.StreamJoins
      val base = Scratch.dir("routerivstream")
      val ep = Replay.quarters(Tables.events(s, d).as[Event], base.toString,
        StreamParityQueries.outerDrains)
      def side(tpe: String, outCol: String) =
        ep.stream(s).toDF()
          .filter(col("event_type") === tpe)
          .select(col("user_id"), col("ts"), col("event_id").as(outCol))
      val joined = StreamJoins.intervalJoin(
          side("purchase", "p_id"), side("error", "e_id"),
          "user_id", "ts", "1 minute", "10 MINUTES", "10 MINUTES",
          joinType = "right_outer")
        .select(coalesce(expr("l.user_id"), expr("r.user_id")).as("user_id"),
          coalesce(col("p_id"), lit(-1L)).as("p_id"), col("e_id"),
          coalesce(unix_micros(expr("r.ts")) - unix_micros(expr("l.ts")), lit(0L))
            .as("delta_us"))
      runAppend(joined, base.toString, s)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("p_id"), col("e_id"))
    }),

    // QUERYABLE STATE oracle-bound (asQueryableState approximation):
    // the complete-mode memory sink IS the serving layer — every
    // micro-batch replaces the in-memory table with the operator's
    // current state, so `spark.table(...)` is the point-lookup surface
    // while the query runs. Its FINAL content faces the one-shot SQL.
    "q171_queryable_state" -> ((s, d) => {
      val base = Scratch.dir("qstate")
      val ep = Replay.quarters(
        { import s.implicits._; Tables.events(s, d).as[Event] }, base.toString)
      s.catalog.dropTempView("graft_qstate")
      val counts = ep.stream(s).toDF()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value*100) as bigint)")).as("cents_v"))
      val q = counts.writeStream
        .option("checkpointLocation", s"$base/ck")
        .outputMode("complete").format("memory").queryName("graft_qstate")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_qstate").orderBy(col("user_id"))
    }),

    // STATE PROCESSOR READ PATH oracle-bound: a keyed streaming count
    // runs over the replay (sink discarded — the STATE is the
    // artifact), then the checkpoint's keyed state is read back
    // offline via the statestore source and hashed against the batch
    // GROUP BY. Savepoint analysis facing the oracle.
    "q172_state_read" -> ((s, d) => {
      import graft.streaming.StateInspect
      val base = Scratch.dir("stateread")
      val ep = Replay.quarters(
        { import s.implicits._; Tables.events(s, d).as[Event] }, base.toString)
      val ck = s"$base/ck"
      val counts = ep.stream(s).toDF()
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      // the batch must still EXECUTE for the state stores to commit
      Replay.runBatches(counts, ck, "update") { (b, _) => b.count(); () }
      val st = StateInspect.readState(s, ck)
      val valField = st.select(col("value.*")).columns.head
      st.select(col("key.user_id").as("user_id"),
          col(s"value.`$valField`").cast("long").as("n"))
        .orderBy(col("user_id"))
    }),

    // TimeEvictor oracle-bound: at the closing fire keep only rows
    // within 2 days of the NEWEST buffered row — a window-relative
    // time suffix.
    "q165_time_evictor_stream" -> ((s, d) =>
      fires(s, d, "tevict", WindowOps.EventTimeTrigger,
        WindowOps.TimeEvictor(keepMs = 2 * 86400000L))),

    // DeltaTrigger oracle-bound: fire when a row's value drifts ≥ $100
    // from the ANCHOR (window's first value, re-anchored at each
    // fire) — a data-dependent recurrence the oracle walks with a
    // recursive CTE carrying the anchor row-by-row.
    "q166_delta_trigger_stream" -> ((s, d) =>
      fires(s, d, "dtrig", WindowOps.DeltaTrigger(10000.0),
        WindowOps.NoEvictor)),

    // ContinuousEventTimeTrigger oracle-bound (the last trigger that
    // was spec-only): fire whenever the watermark advances ≥ 2 days
    // past the window's last fire (initially its start), while the
    // window is still open. The fire HISTORY depends on the watermark
    // sequence — which the flushed quarter replay makes fully
    // deterministic: batch b sees wm = maxTs(batches < b) − 60 s
    // (Spark's one-batch watermark lag), with the two flush sentinels
    // appending hi+1d / hi+2d. The oracle walks the 6-batch sequence
    // with a recursive CTE carrying each window's last-fire time and
    // emits the cumulative (n, Σ) of rows arrived through the firing
    // batch — a wrong watermark model, a missed batch callback, or an
    // extra per-batch fire all break the hash.
    "q276_continuous_trigger_stream" -> ((s, d) =>
      fires(s, d, "cet",
        WindowOps.ContinuousEventTimeTrigger(2L * 86400000L),
        WindowOps.NoEvictor)),

    // Weighted community detection oracle-bound (the one Gelly library
    // algorithm still spec-only): co-purchase graph with shared-order
    // counts as weights, TWO supersteps. Bounded at 2 so every score
    // in flight is a half-integer (weights are integers; penalties are
    // 0.5/step for steps 1..2) — all double arithmetic is exact, so
    // the unrolled-CTE oracle is bit-deterministic on both engines.
    // (At step 3 the 0.5/3 penalty becomes inexact and cross-engine
    // sum order could flip near-ties; the algorithm itself is
    // iteration-count-agnostic.)
    "q164_graph_community" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1997-02-01").cast("timestamp"))
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val ed = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      val vertices = ed.select(col("src").as("id"))
        .union(ed.select(col("dst").as("id"))).distinct()
      GraphOps.communityDetection(vertices, ed, maxIter = 2)
        .orderBy(col("id"))
    })
  )

  private val centsSel = "CAST(round(value*100) AS BIGINT)"

  val oracle: Map[String, String] = Map(
    "q157_sort_delta_stream" -> (evCte +
      s"""
         |SELECT event_id,
         |  coalesce(cents - lag(cents) OVER (PARTITION BY user_id
         |    ORDER BY ts, event_id), 0)::BIGINT AS delta_cents
         |FROM (SELECT event_id, user_id, ts, $centsSel AS cents FROM ev)
         |ORDER BY event_id""".stripMargin),
    "q158_iterate_stream" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT event_id, $centsSel AS c FROM events),
         |it AS (
         |  SELECT event_id, c // 2 AS c, 1::BIGINT AS hops FROM base
         |  UNION ALL
         |  SELECT event_id, c // 2, hops + 1 FROM it WHERE c > 100)
         |SELECT event_id, c AS cents_final, hops FROM it WHERE c <= 100
         |ORDER BY event_id""".stripMargin,
    "q159_neardrop_corpus_stream" -> {
      val sigArr = "[" + (0 until TextQueries.nSig).map(j => s"m$j").mkString(",") + "]"
      s"""WITH hf AS (SELECT max(doc_id) // 2 AS half FROM documents),
         |sig AS (${TextQueries.sigSelectSql}),
         |bands AS (
         |  SELECT doc_id, g.g AS band, ($sigArr)[g.g + 1] AS h
         |  FROM sig, generate_series(0, ${TextQueries.nSig - 1}) g(g)),
         |cb AS (SELECT DISTINCT band, h FROM bands, hf WHERE doc_id < half),
         |sb AS (SELECT doc_id, band, h FROM bands, hf WHERE doc_id >= half),
         |flagged AS (SELECT DISTINCT sb.doc_id AS doc_id
         |            FROM sb JOIN cb USING (band, h))
         |SELECT d.doc_id FROM documents d, hf
         |WHERE d.doc_id >= hf.half
         |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
         |ORDER BY d.doc_id""".stripMargin
    },
    "q160_count_trigger_stream" -> (winCte +
      """
        |SELECT user_id, w_start::BIGINT AS w_start_ms, rn::BIGINT AS n,
        |  csum::DOUBLE AS sum_v, false AS closing
        |FROM r WHERE rn % 4 = 0
        |UNION ALL
        |SELECT user_id, w_start::BIGINT, cnt::BIGINT, tot::DOUBLE, true
        |FROM (SELECT DISTINCT user_id, w_start, cnt, tot FROM r)
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    "q161_purging_trigger_stream" -> (winCte +
      """,
        |blk AS (SELECT user_id, w_start, (rn - 1) // 4 AS b,
        |          count(*) AS bn, sum(cents) AS bs
        |        FROM r GROUP BY user_id, w_start, (rn - 1) // 4)
        |SELECT user_id, w_start::BIGINT AS w_start_ms, bn::BIGINT AS n,
        |  bs::DOUBLE AS sum_v, false AS closing
        |FROM blk WHERE bn = 4
        |UNION ALL
        |SELECT w.user_id, w.w_start::BIGINT, coalesce(p.bn, 0)::BIGINT,
        |  coalesce(p.bs, 0)::DOUBLE, true
        |FROM (SELECT DISTINCT user_id, w_start FROM r) w
        |LEFT JOIN (SELECT user_id, w_start, bn, bs FROM blk WHERE bn < 4) p
        |  ON w.user_id = p.user_id AND w.w_start = p.w_start
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    "q162_count_evictor_stream" -> (winCte +
      """
        |SELECT user_id, w_start::BIGINT AS w_start_ms,
        |  least(max(cnt), 5)::BIGINT AS n,
        |  coalesce(sum(cents) FILTER (WHERE rn > cnt - 5), 0)::DOUBLE AS sum_v,
        |  true AS closing
        |FROM r GROUP BY user_id, w_start
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    "q163_delta_evictor_stream" -> (winCte +
      """,
        |r2 AS (SELECT *, first_value(cents) OVER (PARTITION BY user_id, w_start
        |         ORDER BY ts DESC, event_id DESC) AS last_c FROM r)
        |SELECT user_id, w_start::BIGINT AS w_start_ms,
        |  count(*) FILTER (WHERE abs(last_c - cents) < 10000)::BIGINT AS n,
        |  coalesce(sum(cents) FILTER (WHERE abs(last_c - cents) < 10000),
        |           0)::DOUBLE AS sum_v,
        |  true AS closing
        |FROM r2 GROUP BY user_id, w_start
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    "q170_right_outer_interval_stream" -> (evCte +
      """
        |SELECT coalesce(p.user_id, x.user_id) AS user_id,
        |  coalesce(p.event_id, -1) AS p_id, x.event_id AS e_id,
        |  coalesce(epoch_us(x.ts) - epoch_us(p.ts), 0) AS delta_us
        |FROM (SELECT * FROM ev WHERE event_type='purchase') p
        |RIGHT JOIN (SELECT * FROM ev WHERE event_type='error') x
        |  ON p.user_id = x.user_id
        | AND x.ts >= p.ts - INTERVAL 10 MINUTE
        | AND x.ts <= p.ts + INTERVAL 10 MINUTE
        |ORDER BY user_id, p_id, e_id""".stripMargin),
    "q171_queryable_state" -> (evCte +
      """
        |SELECT user_id, count(*)::BIGINT AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q172_state_read" -> (evCte +
      """
        |SELECT user_id, count(*)::BIGINT AS n
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q165_time_evictor_stream" -> (winCte +
      """,
        |r2 AS (SELECT *, max(epoch_us(ts)) OVER (PARTITION BY user_id,
        |         w_start) AS mx_tu FROM r)
        |SELECT user_id, w_start::BIGINT AS w_start_ms,
        |  count(*) FILTER (WHERE mx_tu - epoch_us(ts) <= 172800000000)::BIGINT AS n,
        |  coalesce(sum(cents) FILTER (WHERE mx_tu - epoch_us(ts) <= 172800000000),
        |           0)::DOUBLE AS sum_v,
        |  true AS closing
        |FROM r2 GROUP BY user_id, w_start
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    // anchor recurrence: row 1 anchors itself (|v-v|=0 never fires);
    // each later row fires iff it drifts >= 10000 cents from the
    // carried anchor and then becomes the new anchor. Early fires emit
    // the full cumulative buffer (no purging); closing emits the
    // whole window.
    // the 6-batch watermark walk: quarter cuts replicate flushedReplay
    // (lo + (hi−lo)·q/4 in µs), per-batch max-ts in ms, wm at batch b =
    // cummax(batches < b) − 60 000; recursion carries last_fire per
    // open window and emits cumulative prefix aggregates at each fire
    "q276_continuous_trigger_stream" -> (evCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
         |span AS (SELECT epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi FROM ev),
         |rb AS (
         |  SELECT user_id, event_id,
         |    CAST(round(value*100) AS BIGINT) AS cents,
         |    (epoch_us(ts) // 1000 // $weekMs) * $weekMs AS w_start,
         |    CASE WHEN epoch_us(ts) < lo + (hi-lo)*1//4 THEN 1
         |         WHEN epoch_us(ts) < lo + (hi-lo)*2//4 THEN 2
         |         WHEN epoch_us(ts) < lo + (hi-lo)*3//4 THEN 3
         |         ELSE 4 END AS b
         |  FROM ev, span),
         |rbmax AS (SELECT b, max(epoch_us(ts)) // 1000 AS max_ms
         |          FROM ev, span,
         |            LATERAL (SELECT CASE
         |              WHEN epoch_us(ts) < lo + (hi-lo)*1//4 THEN 1
         |              WHEN epoch_us(ts) < lo + (hi-lo)*2//4 THEN 2
         |              WHEN epoch_us(ts) < lo + (hi-lo)*3//4 THEN 3
         |              ELSE 4 END AS b) x
         |          GROUP BY b),
         |bmax AS (
         |  SELECT g.b, r.max_ms
         |  FROM generate_series(1, 4) g(b) LEFT JOIN rbmax r ON r.b = g.b
         |  UNION ALL SELECT 5, (hi + 86400000000) // 1000 FROM span
         |  UNION ALL SELECT 6, (hi + 2*86400000000) // 1000 FROM span),
         |wm AS (
         |  SELECT b, max(max_ms) OVER (ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 60000 AS wm_ms
         |  FROM bmax),
         |win AS (
         |  SELECT user_id, w_start, min(b) AS firstb,
         |         count(*) AS cnt, sum(cents) AS tot
         |  FROM rb GROUP BY 1, 2),
         |cum AS (
         |  SELECT w.user_id, w.w_start, g.b,
         |         count(r.event_id) AS n, coalesce(sum(r.cents), 0) AS s
         |  FROM win w
         |  CROSS JOIN generate_series(1, 6) g(b)
         |  LEFT JOIN rb r ON r.user_id = w.user_id
         |    AND r.w_start = w.w_start AND r.b <= g.b
         |  GROUP BY 1, 2, 3),
         |rec AS (
         |  SELECT user_id, w_start, firstb - 1 AS b,
         |         w_start AS last_fire,
         |         CAST(NULL AS BIGINT) AS fire_n,
         |         CAST(NULL AS BIGINT) AS fire_s, FALSE AS fired
         |  FROM win
         |  UNION ALL
         |  SELECT t.user_id, t.w_start, t.b + 1,
         |    CASE WHEN f.ok THEN f.wm_ms ELSE t.last_fire END,
         |    CASE WHEN f.ok THEN c.n END,
         |    CASE WHEN f.ok THEN c.s END,
         |    f.ok
         |  FROM rec t
         |  JOIN cum c ON c.user_id = t.user_id AND c.w_start = t.w_start
         |            AND c.b = t.b + 1
         |  JOIN LATERAL (
         |    SELECT w2.wm_ms,
         |      w2.wm_ms IS NOT NULL AND w2.wm_ms < t.w_start + $weekMs
         |        AND w2.wm_ms - t.last_fire >= 172800000 AS ok
         |    FROM wm w2 WHERE w2.b = t.b + 1) f ON TRUE
         |  WHERE t.b < 6)
         |SELECT user_id, w_start AS w_start_ms, fire_n AS n,
         |  CAST(fire_s AS DOUBLE) AS sum_v, FALSE AS closing
         |FROM rec WHERE fired
         |UNION ALL
         |SELECT user_id, w_start, cnt, CAST(tot AS DOUBLE), TRUE FROM win
         |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),

    "q166_delta_trigger_stream" -> (winCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |walk AS (
        |  SELECT user_id, w_start, rn, cents AS anchor, false AS fired,
        |    csum, cnt, tot
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.w_start, r.rn,
        |    CASE WHEN abs(r.cents - w.anchor) >= 10000
        |         THEN r.cents ELSE w.anchor END,
        |    abs(r.cents - w.anchor) >= 10000, r.csum, r.cnt, r.tot
        |  FROM walk w JOIN r ON r.user_id = w.user_id
        |    AND r.w_start = w.w_start AND r.rn = w.rn + 1)
        |SELECT user_id, w_start::BIGINT AS w_start_ms, rn::BIGINT AS n,
        |  csum::DOUBLE AS sum_v, false AS closing
        |FROM walk WHERE fired
        |UNION ALL
        |SELECT user_id, w_start::BIGINT, cnt::BIGINT, tot::DOUBLE, true
        |FROM (SELECT DISTINCT user_id, w_start, cnt, tot FROM r)
        |ORDER BY user_id, w_start_ms, closing, n, sum_v""".stripMargin),
    // two unrolled supersteps; arg-max by (tot DESC, label ASC) = the
    // Spark side's max_by(struct(label, mx), struct(tot, -label))
    "q164_graph_community" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-02-01'),
        |ed AS (
        |  SELECT a.pk AS src, b.pk AS dst, count(*)::DOUBLE AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk),
        |bidir AS (SELECT src, dst, w FROM ed
        |          UNION ALL SELECT dst, src, w FROM ed),
        |v0 AS (SELECT DISTINCT src AS id, src AS label, 1.0 AS score
        |       FROM bidir),
        |p1 AS (SELECT e.dst AS id, v.label, sum(v.score * e.w) AS tot,
        |         max(v.score * e.w) AS mx
        |       FROM bidir e JOIN v0 v ON e.src = v.id
        |       GROUP BY e.dst, v.label),
        |b1 AS (SELECT id, label, mx FROM (
        |         SELECT *, row_number() OVER (PARTITION BY id
        |           ORDER BY tot DESC, label ASC) AS rk FROM p1)
        |       WHERE rk = 1),
        |v1 AS (SELECT v.id, coalesce(b.label, v.label) AS label,
        |         CASE WHEN b.label IS NULL THEN v.score
        |              WHEN b.label <> v.label THEN b.mx - 0.5
        |              ELSE b.mx END AS score
        |       FROM v0 v LEFT JOIN b1 b ON v.id = b.id),
        |p2 AS (SELECT e.dst AS id, v.label, sum(v.score * e.w) AS tot,
        |         max(v.score * e.w) AS mx
        |       FROM bidir e JOIN v1 v ON e.src = v.id
        |       GROUP BY e.dst, v.label),
        |b2 AS (SELECT id, label FROM (
        |         SELECT *, row_number() OVER (PARTITION BY id
        |           ORDER BY tot DESC, label ASC) AS rk FROM p2)
        |       WHERE rk = 1)
        |SELECT v.id, coalesce(b.label, v.label) AS label
        |FROM v1 v LEFT JOIN b2 b ON v.id = b.id
        |ORDER BY v.id""".stripMargin
  )
}
