package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{Event, Replay, Retract, SemiAntiJoin, StatefulOps}
import graft.streaming.Replay.latestPerKey

/** Round-5 streaming↔batch parity pack: the remaining spec-only
  * stateful streaming operators, each driven through the file-stream
  * Replay harness (one micro-batch per time chunk) and hashed against
  * a one-shot DuckDB oracle — the technique that oracle-bound
  * q118/q129–q134.
  *
  * Reference operators faced here:
  *  - per-key Top-N            `rank/AppendOnlyTopNFunction.java`
  *  - keep-last dedup          `deduplicate/DeduplicateKeepLastRowFunction.java`
  *  - streaming semi/anti join `join/stream/StreamingSemiAntiJoinOperator.java:35`
  *  - count windows            `window/assigners/CountTumblingWindowAssigner`
  *  - retract chain (agg→rank) `aggregate/GroupAggFunction.java:44` +
  *                             `rank/RetractableTopNFunction.java`
  *
  * Update-mode operators (Top-N, keep-last) cannot sink to parquet
  * directly; they run through foreachBatch, appending every per-batch
  * refresh tagged with its batchId, and the FINAL state — newest
  * emission per key — is what faces the oracle. That is exactly the
  * reference's changelog contract ("latest row per key is current").
  * The retract chain goes one further and MERGEs its changelog into a
  * keyed JDBC table (tombstones = DELETE), proving the changelog
  * algebra lands a downstream materialization on the one-shot truth.
  */
object StreamParityQueries extends QuerySet {

  /** Sentinels of the outer interval joins (q145, q156, q170): far-
    * future purchase/error pairs for user -1, one day apart so they
    * cannot join each other, pushing the two-source watermark past
    * every pending row. */
  private[operators] def outerDrains(lo: Long, hi: Long): Seq[Event] =
    Seq("purchase", "error", "purchase", "error").zipWithIndex.map { case (t, i) =>
      Replay.sentinel(-(i + 1L), hi + (i + 1) * Replay.DayUs, t, 100.0)
    }

  val queries: Map[String, Q] = Map(

    // STREAMING Top-N per key oracle-bound (AppendOnlyTopNFunction):
    // top-3 events per user by value through the quarter replay — the
    // per-user leaderboard genuinely reshuffles across micro-batches
    // (a later quarter's event can evict an earlier one from state).
    // Values are mapped to whole-cent doubles BEFORE the op so ranking
    // and the hash compare are exact-integer on both sides (the q134
    // trick). Final state = newest refresh per (user, rank).
    "q135_topn_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val top = StatefulOps.topNPerKey(centsStream(ep.stream(s)), n = 3)
      latestPerKey(ep.runUpdate(top.toDF()),
          col("user_id"), col("rank"))
        .select(col("user_id"), col("rank").as("rnk"), col("event_id"),
          expr("cast(value as bigint)").as("cents_v"))
        .orderBy(col("user_id"), col("rnk"))
    }),

    // STREAMING keep-LAST dedup oracle-bound (the r4 list's keep-first
    // sibling, DeduplicateKeepLastRowFunction): latest row per
    // (user, type) through the quarter replay — by construction most
    // keys' winners arrive in the LAST quarter's micro-batch,
    // overwriting winners emitted by earlier batches, so the
    // cross-batch overwrite path is load-bearing. Final state = newest
    // emission per key; oracle = the identical q55 SQL.
    "q136_dedup_last_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val ded = StatefulOps.dedupKeepLast(ep.stream(s))
      latestPerKey(ep.runUpdate(ded.toDF()),
          col("user_id"), col("event_type"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          round(col("value"), 2).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // STREAMING semi join oracle-bound (StreamingSemiAntiJoinOperator):
    // purchases of users who EVER log a high-value error (value > 95 —
    // every user has SOME error, so the plain-key form would be
    // all-pass; the threshold makes ~12% of purchases semi-negative).
    // Two independent file-stream readers of the same replay; a left
    // arriving before its first right parks in state and emits when
    // the right lands batches later (and vice versa). Retention is
    // effectively infinite so the operator's final output IS the
    // batch EXISTS semantics.
    "q137_semi_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val left = ep.stream(s)
        .filter(col("event_type") === "purchase")
      val right = ep.stream(s)
        .filter(col("event_type") === "error" && col("value") > 95)
      val out = SemiAntiJoin.semiJoin(left, right,
        delay = "1 minute", retentionMs = Long.MaxValue / 4)
      ep.runAppend(out.toDF().select(col("user_id"), col("event_id"), col("ts")))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // STREAMING anti join oracle-bound — the hard half: a left may
    // only emit once the WATERMARK HORIZON proves no matching right
    // can still arrive. The emission gap is set to the full data span,
    // so "no right before my horizon" degenerates to exactly the batch
    // NOT EXISTS, and two far-future right-side drain sentinels (user
    // -1, joining nothing) push the watermark past every left's
    // horizon — the first advances event time, the second triggers the
    // batch in which the armed event-time timeouts actually fire.
    "q138_anti_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d,
        (lo, hi) => Seq(1L, 2L).map(k => Replay.sentinel(-k,
          hi + (hi - lo) / 1000 * 1000 + k * Replay.DayUs, "error", 100.0)))
      val spanMs = (ep.hi - ep.lo) / 1000
      val left = ep.stream(s)
        .filter(col("event_type") === "purchase")
      val right = ep.stream(s)
        .filter(col("event_type") === "error" && col("value") > 95)
      val out = SemiAntiJoin.antiJoin(left, right,
        delay = "1 minute", gapMs = spanMs, retentionMs = Long.MaxValue / 4)
      ep.runAppend(out.toDF().select(col("user_id"), col("event_id"), col("ts")))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // STREAMING count windows oracle-bound (CountTumblingWindowAssigner
    // + count trigger): tumbling 10-event windows per user through the
    // quarter replay — a user's window routinely fills across a chunk
    // boundary, so the buffered-remainder state path is load-bearing.
    // The op emits a window only when it FILLS (the reference's count
    // trigger), so the oracle keeps only complete windows (HAVING
    // count(*) = 10). Cents mapped before the op for exact sums.
    "q139_countwin_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val wins = StatefulOps.countTumbleWindow(centsStream(ep.stream(s)), size = 10)
      ep.runAppend(wins.toDF()
          .select(col("user_id"), col("w_id"), col("n"),
            expr("cast(sum_v as bigint)").as("cents_v")))
        .orderBy(col("user_id"), col("w_id"))
    }),

    // STREAMING sliding count windows oracle-bound
    // (CountSlidingWindowAssigner — the q139 tumble's sibling): every
    // 5th event per user aggregates the trailing 10, the ring buffer
    // and the seen-counter carrying across micro-batches. Oracle =
    // every 5th row by row_number with a ROWS 9 PRECEDING frame.
    "q142_countslide_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val wins = StatefulOps.countSlideWindow(centsStream(ep.stream(s)),
        size = 10, slide = 5)
      ep.runAppend(wins.toDF()
          .select(col("user_id"), col("w_id"), col("n"),
            expr("cast(sum_v as bigint)").as("cents_v")))
        .orderBy(col("user_id"), col("w_id"))
    }),

    // STREAMING RANGE-bounded OVER oracle-bound (the reference's
    // RowTimeRangeBoundedPrecedingFunction — the q134 ROWS frame's
    // time-range sibling): per-user trailing 30-minute aggregates,
    // the in-range buffer carrying across micro-batches. (user, ts)
    // is unique in this data, so the RANGE frame's peer-row semantics
    // cannot diverge between the op's (ts, event_id) order and SQL.
    "q143_rangeover_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val over = StatefulOps.boundedRangeOver(centsStream(ep.stream(s)),
        rangeMs = 1800000L)
      ep.runAppend(over.toDF()
          .select(col("user_id"), col("event_id"),
            expr("cast(sum_prev as bigint)").as("cents_prev"), col("cnt_prev")))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // STREAMING global sort-limit oracle-bound
    // (StreamExecSortLimit.scala:52): the 20 best events over the
    // WHOLE stream, every refresh appended via foreachBatch; newest
    // emission per rank = the final leaderboard. The singleton state
    // key is inherent to a global limit (the reference's global rank
    // has the same shape).
    "q144_sortlimit_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val top = StatefulOps.sortLimitGlobal(centsStream(ep.stream(s)), k = 20)
      latestPerKey(ep.runUpdate(top.toDF()), col("rank"))
        .select(col("rank").as("rnk"), col("event_id"),
          expr("cast(value as bigint)").as("cents_v"))
        .orderBy(col("rnk"))
    }),

    // STREAMING left-outer interval join oracle-bound (the reference's
    // 6-join-type streaming matrix, StreamExecWindowJoin outer rows:
    // an unmatched left emits null-padded ONLY when the watermark
    // proves no right can still arrive — inner q132 never exercised
    // that path). Spark's own stream-stream outer machinery handles
    // the horizon; far-future sentinels on BOTH sides (user -1, 1 day
    // apart so they cannot join each other) push the two-source
    // watermark past every pending left. NULL match columns are
    // coalesced to -1/0 on both sides: a nullable int64 materializes
    // as float64 in pandas and would repr-mismatch the oracle.
    "q145_outer_interval_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d, outerDrains)
      val joined = purchaseErrorJoin(s, ep, "left_outer")
        .select(expr("l.user_id").as("user_id"), col("p_id"),
          coalesce(col("e_id"), lit(-1L)).as("e_id"),
          coalesce(unix_micros(expr("r.ts")) - unix_micros(expr("l.ts")), lit(0L))
            .as("delta_us"))
      ep.runAppend(joined)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("p_id"), col("e_id"))
    }),

    // STREAMING dynamic-gap session windows oracle-bound
    // (DynamicEventTimeSessionWindows — the q130 fixed-gap bind's
    // per-row-gap sibling): errors close after 5 minutes of silence,
    // everything else after 20, sessions merging in the state store
    // across micro-batches. Double-flush sentinels as q129/q130 (see
    // EventQueries for the pushdown trap note); sentinels filtered at
    // SINK READ, never inside the streaming plan. Oracle = running-max
    // islands: a session breaks exactly when ts >= max(prev ts+gap) —
    // prior sessions' ends can never exceed the current session's
    // start, so the cumulative max is safe.
    "q150_session_dynamic_stream" -> ((s, d) => {
      import graft.streaming.WindowedAggs
      val ep = Replay.eventQuarters(s, d, Replay.flushes(1, 2))
      // session_window's dynamic gap must be CalendarIntervalType
      // (ANSI INTERVAL literals parse as DayTimeIntervalType)
      def mins(m: Int) =
        lit(new org.apache.spark.unsafe.types.CalendarInterval(0, 0, m * 60000000L))
      val gap = when(col("event_type") === "error", mins(5)).otherwise(mins(20))
      val sess = WindowedAggs.sessionDynamic(
        ep.stream(s).toDF()
          .withColumn("cents", expr("cast(round(value*100) as bigint)")),
        "ts", gap, "1 minute", Seq(col("user_id")),
        Seq(count(lit(1)).as("n"), sum(col("cents")).as("cents_v")))
        .select(col("user_id"), col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col("n"), col("cents_v"))
      ep.runAppend(sess)
        .filter(col("user_id") >= 0) // drop flush sentinels
        .orderBy(col("user_id"), col("w_start"))
    }),

    // STREAMING sync lookup join oracle-bound (LookupJoinRunner.java:36
    // — the reference's dimension-table point-lookup enrich): events
    // flow through mapPartitions with ONE client per partition
    // resolving user_id%25 against the nation dimension; the oracle is
    // the plain relational join the lookup must agree with.
    "q151_lookup_stream" -> ((s, d) => {
      import graft.streaming.StreamJoins
      val ep = Replay.eventQuarters(s, d)
      val nmap = Tables.load(s, d, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val joined = StreamJoins.lookupJoin(
        ep.stream(s).toDF().select("event_id", "user_id"),
        "user_id", () => (k: Long) => nmap.get(k % 25), "n_name")
      ep.runAppend(joined).orderBy(col("event_id"))
    }),

    // STREAMING async lookup join oracle-bound (AsyncDataStream
    // .unorderedWait): same dimension, lookups issued as futures with
    // bounded in-flight concurrency; unordered completion within a
    // partition cannot show through the sorted compare — same oracle.
    "q152_lookup_async_stream" -> ((s, d) => {
      import graft.streaming.StreamJoins
      val ep = Replay.eventQuarters(s, d)
      val nmap = Tables.load(s, d, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val joined = StreamJoins.lookupJoinAsync(
        ep.stream(s).toDF().select("event_id", "user_id"),
        "user_id",
        () => (k: Long) => scala.concurrent.Future.successful(nmap.get(k % 25)),
        "n_name")
      ep.runAppend(joined).orderBy(col("event_id"))
    }),

    // STREAMING late-data side output oracle-bound (WindowOperator
    // .java:139 lateDataOutputTag): the replay deliberately delivers
    // the SECOND time-quarter first, so every first-quarter event
    // whose key already saw a later timestamp arrives >10 min behind
    // its key's max event time and is tagged late. The oracle
    // recomputes the per-key running max over the same arrival order
    // (epoch index is derivable from the ts-range chunk layout).
    "q153_late_tag_stream" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.WindowedAggs
      val real = Tables.events(s, d).as[Event]
      val (lo, hi) = Replay.spanOf(real)
      val Seq(q1, q2, q3, q4) = Replay.quarterChunks(lo, hi)
      // quarter 2 arrives FIRST; quarter 1 is late
      val ep = Replay.fileEpochs(real, Seq(q2, q1, q3, q4))
      val tagged = WindowedAggs.tagLate(ep.stream(s), 600000L)
      ep.runAppend(tagged.toDF()
          .select(col("_1.event_id").as("event_id"), col("_2").as("is_late")))
        .orderBy(col("event_id"))
    }),

    // STREAMING ingestion dedup vs a static corpus oracle-bound
    // (dedup-against-history, StreamingSemiAntiJoinOperator.java:35
    // with a frozen side): the lower-doc_id half is the corpus, the
    // upper half streams in three micro-batches, and each batch's
    // stream-static LEFT ANTI on md5(text) drops exact re-crawls.
    "q154_dedup_corpus_stream" -> ((s, d) => {
      import graft.streaming.StreamDedup
      val (corpus, ep) = Replay.snapshotSplit(Tables.documents(s, d), "doc_id")
      val out = StreamDedup.dropSeenExact(ep.streamDf(s), corpus).select("doc_id")
      ep.runAppend(out).orderBy(col("doc_id"))
    }),

    // STREAMING near-dup flagging vs the corpus's LSH bucket table
    // oracle-bound: per-row minhash signature (all-expression — no
    // shuffle on the stream side), band explode, stream-static SEMI
    // join against the corpus bands; streaming dropDuplicates emits
    // each flagged doc exactly once across batches. Oracle = the same
    // banded-minhash algebra in DuckDB (sig SQL shared with q64/q65).
    "q155_neardup_corpus_stream" -> ((s, d) => {
      import graft.streaming.StreamDedup
      val (corpus, ep) = Replay.snapshotSplit(Tables.documents(s, d), "doc_id")
      val out = StreamDedup.flagNearDups(ep.streamDf(s), StreamDedup.corpusBands(corpus))
      ep.runAppend(out).orderBy(col("doc_id"))
    }),

    // STREAMING FULL OUTER interval join oracle-bound — q145's
    // left-outer sibling: BOTH sides' unmatched rows must null-pad
    // exactly once when the watermark proves no partner can arrive.
    "q156_full_outer_interval_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d, outerDrains)
      val joined = purchaseErrorJoin(s, ep, "full_outer")
        .select(coalesce(expr("l.user_id"), expr("r.user_id")).as("user_id"),
          coalesce(col("p_id"), lit(-1L)).as("p_id"),
          coalesce(col("e_id"), lit(-1L)).as("e_id"),
          coalesce(unix_micros(expr("r.ts")) - unix_micros(expr("l.ts")), lit(0L))
            .as("delta_us"))
      ep.runAppend(joined)
        .filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("p_id"), col("e_id"))
    }),

    // MATCH_RECOGNIZE from SQL TEXT oracle-bound (the reference
    // compiles actual SQL — StreamExecMatch.scala:69 + Calcite parser
    // symbols in FlinkSqlOperatorTable.java:944+; previously this
    // library only had the string DSL, so a user pasting the clause
    // had to hand-translate). q110's loop pattern re-expressed as the
    // literal MATCH_RECOGNIZE clause — parser → CepDsl → NFA — and
    // hashed against the identical q110 SQL oracle: same rows proves
    // the SQL surface compiles to the same machine. `A+?` is SQL's
    // reluctant loop = the reference NFA's every-stop-point branches.
    "q141_match_recognize" -> ((s, d) => {
      import s.implicits._
      import graft.streaming.{Event, MatchRecognize}
      val sql = """
        MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES first(A.event_id) AS first_view, last(A.event_id) AS last_view,
                   count(A) AS n_views, first(B.event_id) AS purchase_id
          PATTERN (A+? B) WITHIN INTERVAL '1' HOUR
          DEFINE A AS A.event_type = 'view', B AS B.event_type = 'purchase'
        )"""
      val types = Set("view", "purchase")
      MatchRecognize.run(
          Tables.events(s, d).as[Event].filter(e => types(e.event_type)), sql)
        .orderBy(col("user_id"), col("first_view"), col("last_view"))
    }),

    // STREAMING retract chain END STATE oracle-bound (the full
    // reference flow GroupAggFunction → RetractableTopNFunction in
    // AccRetract mode): per-user event counts as a ±1 keyed changelog
    // feeding the retractable Top-10 "most active users" leaderboard;
    // every rank refresh (and tombstone) MERGEs into a keyed Derby
    // table per micro-batch — UPDATE/INSERT per rank, DELETE on
    // tombstone — and the TABLE'S final content faces the one-shot
    // SQL. This proves the changelog algebra (retraction emission,
    // demotion, order-independent delta application) against the
    // oracle, not just the property models.
    "q140_retract_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d)
      val url = s"jdbc:derby:${ep.dir}/db;create=true"
      initRankTable(url)
      val ranks = Retract.topUsersByCount(ep.stream(s), n = 10)
      ep.runBatches(ranks.toDF())((b, _) => mergeRanks(b, url))
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "RANKS").load()
        .filter(col("ID") =!= Retract.TombstoneId)
        .select(col("RNK").cast("int").as("rnk"), col("ID").as("user_id"),
          col("VAL").as("cnt"))
        .orderBy(col("rnk"))
    })
  )

  /** Keyed rank table for the q140 MERGE target (idempotent DDL). */
  private def initRankTable(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        "CREATE TABLE RANKS (PKEY VARCHAR(64) NOT NULL, RNK INT NOT NULL, " +
          "ID BIGINT, VAL BIGINT, PRIMARY KEY (PKEY, RNK))")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      st.close()
    } finally conn.close()
  }

  /** MERGE one micro-batch of rank refreshes: tombstone → DELETE the
    * vacated rank, otherwise UPDATE-else-INSERT the occupant — the
    * "newest emission per (pkey, rank) is current" contract applied to
    * an external keyed store (the reference's retract-consuming sink).
    * Rows per batch are ≤ N+tombstones per touched pkey, so the
    * round-trip is tiny; executor-side like Retract.upsertUserCounts. */
  private def mergeRanks(batch: DataFrame, url: String): Unit = {
    batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(
            "DELETE FROM RANKS WHERE PKEY = ? AND RNK = ?")
          val up = conn.prepareStatement(
            "UPDATE RANKS SET ID = ?, VAL = ? WHERE PKEY = ? AND RNK = ?")
          val ins = conn.prepareStatement(
            "INSERT INTO RANKS (PKEY, RNK, ID, VAL) VALUES (?, ?, ?, ?)")
          rows.foreach { r =>
            val pkey = r.getAs[String]("pkey")
            val rank = r.getAs[Number]("rank").intValue()
            val id = r.getAs[Number]("id").longValue()
            val value = r.getAs[Number]("value").longValue()
            if (id == Retract.TombstoneId) {
              del.setString(1, pkey); del.setInt(2, rank); del.executeUpdate()
            } else {
              up.setLong(1, id); up.setLong(2, value)
              up.setString(3, pkey); up.setInt(4, rank)
              if (up.executeUpdate() == 0) {
                ins.setString(1, pkey); ins.setInt(2, rank)
                ins.setLong(3, id); ins.setLong(4, value)
                ins.executeUpdate()
              }
            }
          }
          conn.commit(); del.close(); up.close(); ins.close()
        } finally conn.close()
      }
    }
  }

  /** Events enriched with the nation of user_id % 25: q151, and q152's async
    * lookup. */
  private val lookupSql =
    evCte +
      """
        |SELECT e.event_id, e.user_id, n.n_name
        |FROM ev e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |ORDER BY e.event_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q135_topn_stream" -> (evCte +
      """
        |SELECT user_id, rnk, event_id, cents_v FROM (
        |  SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents_v,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(round(value*100) AS BIGINT) DESC, event_id) AS INT) AS rnk
        |  FROM ev)
        |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin),
    // identical SQL to q55: the streaming keep-last final state must
    // land on the batch keep-last rows exactly
    "q136_dedup_last_stream" -> EventQueries.dedupLastSql,
    "q137_semi_stream" -> (evCte +
      """
        |SELECT user_id, event_id, ts FROM ev p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM ev x WHERE x.user_id = p.user_id
        |    AND x.event_type = 'error' AND x.value > 95)
        |ORDER BY user_id, event_id""".stripMargin),
    "q138_anti_stream" -> (evCte +
      """
        |SELECT user_id, event_id, ts FROM ev p
        |WHERE p.event_type = 'purchase' AND NOT EXISTS (
        |  SELECT 1 FROM ev x WHERE x.user_id = p.user_id
        |    AND x.event_type = 'error' AND x.value > 95)
        |ORDER BY user_id, event_id""".stripMargin),
    // q57's SQL restricted to COMPLETE windows — the count trigger
    // only fires when a window fills
    "q139_countwin_stream" -> (evCte +
      """
        |SELECT user_id, w_id, count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v FROM (
        |  SELECT user_id, value,
        |    (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 10 AS w_id
        |  FROM ev)
        |GROUP BY user_id, w_id HAVING count(*) = 10
        |ORDER BY user_id, w_id""".stripMargin),
    "q142_countslide_stream" -> (evCte +
      """
        |SELECT user_id, w_id, n, cents_v FROM (
        |  SELECT user_id,
        |    rn // 5 - 1 AS w_id,
        |    CAST(least(rn, 10) AS INT) AS n,
        |    (sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))::BIGINT AS cents_v,
        |    rn
        |  FROM (SELECT user_id, ts, event_id,
        |          CAST(round(value*100) AS BIGINT) AS cents,
        |          row_number() OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS rn FROM ev))
        |WHERE rn % 5 = 0 ORDER BY user_id, w_id""".stripMargin),
    "q143_rangeover_stream" -> (evCte +
      """
        |SELECT user_id, event_id,
        |  (sum(CAST(round(value*100) AS BIGINT)) OVER w)::BIGINT AS cents_prev,
        |  (count(*) OVER w)::INT AS cnt_prev
        |FROM ev
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    "q144_sortlimit_stream" -> (evCte +
      """
        |SELECT CAST(rn AS INT) AS rnk, event_id, cents_v FROM (
        |  SELECT event_id, CAST(round(value*100) AS BIGINT) AS cents_v,
        |    row_number() OVER (ORDER BY CAST(round(value*100) AS BIGINT) DESC,
        |                       event_id) AS rn
        |  FROM ev)
        |WHERE rn <= 20 ORDER BY rnk""".stripMargin),
    "q145_outer_interval_stream" -> (evCte +
      """
        |SELECT p.user_id AS user_id, p.event_id AS p_id,
        |  coalesce(x.event_id, -1) AS e_id,
        |  coalesce(epoch_us(x.ts) - epoch_us(p.ts), 0) AS delta_us
        |FROM (SELECT * FROM ev WHERE event_type='purchase') p
        |LEFT JOIN (SELECT * FROM ev WHERE event_type='error') x
        |  ON p.user_id = x.user_id
        | AND x.ts >= p.ts - INTERVAL 10 MINUTE
        | AND x.ts <= p.ts + INTERVAL 10 MINUTE
        |ORDER BY user_id, p_id, e_id""".stripMargin),
    // identical SQL to q110: the SQL-text front-end must land on the
    // DSL-compiled NFA's exact rows
    "q141_match_recognize" -> EventQueries.cepLoopSql,
    "q140_retract_stream" -> (evCte +
      """,
        |counts AS (SELECT user_id, count(*)::BIGINT AS cnt FROM ev GROUP BY user_id)
        |SELECT CAST(rn AS INT) AS rnk, user_id, cnt FROM (
        |  SELECT user_id, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, user_id) AS rn FROM counts)
        |WHERE rn <= 10 ORDER BY rnk""".stripMargin),
    // Dynamic-gap sessions as running-max islands: a session breaks
    // exactly when ts >= max over all earlier rows of (ts + its gap) —
    // prior sessions' ends can never exceed the current session's
    // running max, so the cumulative max is the merged-session end.
    // Spark session ends are EXCLUSIVE: ts == prev end starts a new
    // session (>=, not >).
    "q150_session_dynamic_stream" -> (evCte +
      """,
        |g AS (SELECT user_id, ts, CAST(round(value*100) AS BIGINT) AS cents,
        |  CASE WHEN event_type = 'error' THEN INTERVAL 5 MINUTE
        |       ELSE INTERVAL 20 MINUTE END AS gap FROM ev),
        |m AS (SELECT *, max(ts + gap) OVER (PARTITION BY user_id
        |        ORDER BY ts, cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |      FROM g),
        |s AS (SELECT *, sum(CASE WHEN prev_end IS NULL OR ts >= prev_end
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |        ORDER BY ts, cents ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS w_start, max(ts + gap) AS w_end,
        |  count(*)::BIGINT AS n, sum(cents)::BIGINT AS cents_v
        |FROM s GROUP BY user_id, sid ORDER BY user_id, w_start""".stripMargin),
    // the lookup enrich must agree with the plain relational join
    "q151_lookup_stream" -> lookupSql,
    "q152_lookup_async_stream" -> lookupSql,
    // per-key running max over ARRIVAL order (epoch = the replay's
    // chunk index: quarter 2 first, then 1, 3, 4; the cut timestamps
    // replicate tsOf's µs→ms truncation), strict < with a 10-minute
    // allowed lag — exactly tagLate's state recurrence.
    "q153_late_tag_stream" -> (evCte +
      """,
        |b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM ev),
        |c AS (SELECT ((lo + (hi - lo) * 1 // 4) // 1000) * 1000 AS c1,
        |             ((lo + (hi - lo) * 2 // 4) // 1000) * 1000 AS c2,
        |             ((lo + (hi - lo) * 3 // 4) // 1000) * 1000 AS c3 FROM b),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS tu,
        |  CASE WHEN epoch_us(ts) >= c1 AND epoch_us(ts) < c2 THEN 0
        |       WHEN epoch_us(ts) < c1 THEN 1
        |       WHEN epoch_us(ts) >= c2 AND epoch_us(ts) < c3 THEN 2
        |       ELSE 3 END AS ep FROM ev, c),
        |m AS (SELECT event_id, tu, max(tu) OVER (PARTITION BY user_id
        |        ORDER BY ep, tu, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM e)
        |SELECT event_id, (pm IS NOT NULL AND tu < pm - 600000000) AS is_late
        |FROM m ORDER BY event_id""".stripMargin),
    "q154_dedup_corpus_stream" ->
      """WITH hf AS (SELECT max(doc_id) // 2 AS half FROM documents)
        |SELECT d.doc_id FROM documents d, hf
        |WHERE d.doc_id >= hf.half
        |  AND d.text NOT IN (SELECT c.text FROM documents c, hf
        |                     WHERE c.doc_id < hf.half)
        |ORDER BY d.doc_id""".stripMargin,
    // same banded-minhash algebra as the q64/q65 oracles (sig CTE is
    // literally shared): flagged = any (band, h) in common with the
    // sub-half corpus
    "q155_neardup_corpus_stream" -> {
      val sigArr = "[" + (0 until TextQueries.nSig).map(j => s"m$j").mkString(",") + "]"
      s"""WITH hf AS (SELECT max(doc_id) // 2 AS half FROM documents),
         |sig AS (${TextQueries.sigSelectSql}),
         |bands AS (
         |  SELECT doc_id, g.g AS band, ($sigArr)[g.g + 1] AS h
         |  FROM sig, generate_series(0, ${TextQueries.nSig - 1}) g(g)),
         |cb AS (SELECT DISTINCT band, h FROM bands, hf WHERE doc_id < half),
         |sb AS (SELECT doc_id, band, h FROM bands, hf WHERE doc_id >= half)
         |SELECT DISTINCT sb.doc_id AS doc_id FROM sb JOIN cb USING (band, h)
         |ORDER BY doc_id""".stripMargin
    },
    "q156_full_outer_interval_stream" -> (evCte +
      """
        |SELECT coalesce(p.user_id, x.user_id) AS user_id,
        |  coalesce(p.event_id, -1) AS p_id, coalesce(x.event_id, -1) AS e_id,
        |  coalesce(epoch_us(x.ts) - epoch_us(p.ts), 0) AS delta_us
        |FROM (SELECT * FROM ev WHERE event_type='purchase') p
        |FULL JOIN (SELECT * FROM ev WHERE event_type='error') x
        |  ON p.user_id = x.user_id
        | AND x.ts >= p.ts - INTERVAL 10 MINUTE
        | AND x.ts <= p.ts + INTERVAL 10 MINUTE
        |ORDER BY user_id, p_id, e_id""".stripMargin)
  )
}
