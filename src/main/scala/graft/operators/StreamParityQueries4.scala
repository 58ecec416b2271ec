package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{QuotaSampler, Replay}

/** Round-7 parity pack: streaming corpus-curation additions. */
object StreamParityQueries4 extends QuerySet {

  val queries: Map[String, Q] = Map(

    // STREAMING per-language admission quota: replay the documents
    // table as three doc_id-ordered micro-batches through the keyed
    // counter state op — the first `quota` docs of each language are
    // admitted, everything later is dropped. Deterministic because
    // epochs replay in id order and batches sort on doc_id; oracle is
    // the batch rank over the same order. Wrong iff the counter
    // resets between batches, over-admits inside a batch, or the
    // key partitioning leaks rows across languages.
    "q207_stream_quota" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val ep = Replay.idThirds(docs.select(col("doc_id"), col("lang").as("k")),
        "doc_id", 0L, maxId)
      val admitted = QuotaSampler.admitFirstN(
        ep.streamDf(s).as[QuotaSampler.DocKey], 40)
      ep.runAppend(admitted.toDF())
        .select(col("doc_id"), col("k").as("lang"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING SLIDING windows — the third assigner's streaming leg
    // (tumbling = q129, sessions = q130): 1-day windows sliding every
    // 6 h per event type over the quarter replay, append mode closing
    // each of the 4 covering windows as the watermark passes; q129's
    // double-flush sentinels emit the tail. Oracle = the slide-
    // aligned window algebra of q208's HOP branch.
    "q239_hop_window_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d, Replay.flushes(2, 4))
      val agg = ep.stream(s)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 day", "6 hours").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("cast(round(value*100) as bigint)")).as("cents_v"))
        .select(col("w.start").as("ws"), col("w.end").as("we"),
          col("event_type"), col("n"), col("cents_v"))
      ep.runAppend(agg)
        .filter(col("event_type") =!= "flush")
        .orderBy(col("event_type"), col("ws"))
    }),

    // STREAMING windowed COUNT(DISTINCT) — the reference's
    // distinct-agg SPLIT on a stream (q02 binds the batch split):
    // watermarked dropDuplicates over (window, type, user) feeding a
    // windowed count — TWO chained stateful operators with watermark
    // propagation, the split-distinct topology. Day windows close via
    // q129's double-flush sentinels; dedup state evicts because the
    // window struct on the watermarked column is among the keys.
    "q238_distinct_window_stream" -> ((s, d) => {
      val ep = Replay.eventQuarters(s, d, Replay.flushes(2, 4))
      val ded = ep.stream(s)
        .withWatermark("ts", "1 minute")
        .select(window(col("ts"), "1 day").as("w"), col("event_type"),
          col("user_id"))
        .dropDuplicates("w", "event_type", "user_id")
      val agg = ded.groupBy(col("w"), col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .select(col("w.start").as("ws"), col("event_type"), col("n_users"))
      ep.runAppend(agg)
        .filter(col("event_type") =!= "flush")
        .orderBy(col("ws"), col("event_type"))
    }),

    // LATE-FIRING window updates — the reference's allowedLateness
    // re-fire semantics (a late element UPDATES an already-fired
    // window): day-window aggregates run in UPDATE mode over an
    // OUT-OF-ORDER quarter replay (Q2 arrives before Q1), with no
    // watermark so nothing is dropped (allowedLateness = ∞). The
    // FULL emission history faces the oracle — every (window, type)
    // must re-emit exactly in the batches where its chunk contributed
    // rows, with the cumulative-to-that-batch count and sum. Wrong if
    // update mode over- or under-emits, state resets between batches,
    // or the late quarter fails to re-fire its windows.
    "q233_window_update_history" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("cast(round(value*100) as bigint)").as("cents"), col("ts"),
        unix_micros(col("ts")).as("tu"))
      val org.apache.spark.sql.Row(lo: Long, hi: Long) =
        ev.agg(min(col("tu")), max(col("tu"))).head()
      val cut = (q: Long) => lo + (hi - lo) * q / 4
      val chunks = Seq( // quarter 2 arrives FIRST; quarter 1 is late
        col("tu") >= cut(1) && col("tu") < cut(2),
        col("tu") < cut(1),
        col("tu") >= cut(2) && col("tu") < cut(3),
        col("tu") >= cut(3))
      val ep = Replay.fileEpochs(ev.drop("tu"), chunks)
      val agg = ep.streamDf(s)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_v"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("cents_v"))
      ep.runUpdate(agg)
        .orderBy(col("ws"), col("event_type"), col("batch_id"))
    }),

    // STREAMING SemDeDup — q209's semantic near-dup flagging against
    // a STATIC embedded corpus (the nightly-snapshot + intra-day-
    // stream shape of q154/q155, but in vector space): the lower-id
    // half is the corpus, quantized int8 with q209's seed clusters;
    // the upper half streams in three micro-batches; each batch is a
    // PURE PROJECTION (quantize + literal-argmax cluster — no
    // aggregate, so no watermark needed) into a stream-static join
    // confined to the row's cluster, flagging at code-cosine >= 0.4;
    // streaming dropDuplicates emits each flagged vector exactly
    // once across batches. At 100 TB the corpus side is partitioned
    // by cluster id so a micro-batch touches only its clusters'
    // members — never the whole corpus.
    "q213_semdedup_stream" -> ((s, d) => {
      val (lower, ep) = Replay.snapshotSplit(Tables.embeddings(s, d), "vec_id")
      val corpusQ = VectorQueries.quantI8(lower, "vec_id")
      val seeds = corpusQ.orderBy(col("vec_id")).limit(32).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      val corpus = corpusQ.withColumn("cluster",
          VectorQueries.clusterOfI8(col("qv"), col("nrm"), seeds))
        .select(col("vec_id").as("cid"), col("qv").as("cqv"),
          col("nrm").as("cnrm"), col("cluster"))
      val sq = VectorQueries.quantI8(ep.streamDf(s), "vec_id")
        .withColumn("cluster",
          VectorQueries.clusterOfI8(col("qv"), col("nrm"), seeds))
      val dotI = aggregate(zip_with(col("qv"), col("cqv"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      val cos = dotI.cast("double") /
        greatest(sqrt((col("nrm") * col("cnrm")).cast("double")), lit(1e-30))
      val flagged = sq.join(corpus, Seq("cluster"))
        .filter(cos >= 0.4)
        .select(col("vec_id"))
        .dropDuplicates("vec_id")
      ep.runAppend(flagged).orderBy(col("vec_id"))
    }),

    // STREAMING Gaussian outlier gate — q261's Mahalanobis scorer in
    // the q154/q218 snapshot+stream shape: the lower-id half is the
    // nightly corpus whose per-dim moments FREEZE (q261's fit), the
    // gate is the corpus's own P90 self-score (the min of its top
    // n/10 scores — "more anomalous than the corpus's own worst
    // decile"), and the upper half streams in three micro-batches.
    // Each batch is a PURE PROJECTION (grid codes + literal-moments
    // score + literal-gate filter — no aggregate, no watermark, no
    // stream-side state), so at 100 TB/day ingestion this runs at
    // scan speed with the moments riding the closure. Wrong iff the
    // frozen moments drift between batches, the gate is recomputed
    // per-batch, or a batch boundary splits a score.
    "q263_gaussian_gate_stream" -> ((s, d) => {
      val (lower, ep) = Replay.snapshotSplit(Tables.embeddings(s, d), "vec_id")
      val corpusCodes = VectorQueries.gridCodes(lower)
      val m = VectorQueries.gaussianMoments(corpusCodes)
      val k = math.min(math.max(m.n / 10, 1L), Int.MaxValue.toLong).toInt
      val gate = corpusCodes
        .select(col("vec_id"),
          VectorQueries.mahalanobis(col("xs"), m).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(k)
        .agg(min(col("score"))).head().getLong(0)
      val scored = VectorQueries.gridCodes(ep.streamDf(s))
        .withColumn("score", VectorQueries.mahalanobis(col("xs"), m))
        .filter(col("score") > gate)
        .select(col("vec_id"), col("label"), col("score"))
      ep.runAppend(scored).orderBy(col("vec_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // slide-aligned covering windows (q208's HOP algebra): each event
    // belongs to the 4 windows starting at slide-floor(ts) − k·6h
    "q239_hop_window_stream" ->
      """WITH ev AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS ts,
        |              event_type, value FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    make_timestamp((epoch_us(ts) // 21600000000) * 21600000000
        |                   - k.g * 21600000000) AS ws
        |  FROM ev, generate_series(0, 3) k(g))
        |SELECT ws, ws + INTERVAL 1 DAY AS we, event_type,
        |  count(*) AS n,
        |  sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents_v
        |FROM w GROUP BY 1, 2, 3 ORDER BY event_type, ws""".stripMargin,
    "q238_distinct_window_stream" ->
      """WITH ev AS (SELECT make_timestamp(epoch_ns(ts)//1000) AS ts,
        |              user_id, event_type FROM events)
        |SELECT date_trunc('day', ts) AS ws, event_type,
        |  count(DISTINCT user_id) AS n_users
        |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Epoch assignment mirrors the replay's chunk conditions (Q2 is
    // batch 0, Q1 batch 1, Q3 batch 2, Q4 batch 3 — integer cut
    // arithmetic identical to the Scala side); an emission exists for
    // every (day window, type, batch) whose chunk contributed rows,
    // carrying the cumulative-to-that-batch aggregate.
    "q233_window_update_history" ->
      """WITH ev AS (SELECT event_type, value,
        |              make_timestamp(epoch_ns(ts)//1000) AS ts,
        |              epoch_us(make_timestamp(epoch_ns(ts)//1000)) AS tu
        |            FROM events),
        |c AS (SELECT min(tu) AS lo, max(tu) AS hi FROM ev),
        |cut AS (SELECT lo + ((hi - lo) * 1) // 4 AS c1,
        |               lo + ((hi - lo) * 2) // 4 AS c2,
        |               lo + ((hi - lo) * 3) // 4 AS c3 FROM c),
        |e AS (SELECT date_trunc('day', ts) AS ws, event_type,
        |        CAST(round(value*100) AS BIGINT) AS cents,
        |        CASE WHEN tu >= c1 AND tu < c2 THEN 0
        |             WHEN tu < c1 THEN 1
        |             WHEN tu >= c2 AND tu < c3 THEN 2
        |             ELSE 3 END AS ep
        |      FROM ev, cut),
        |agg AS (SELECT ws, event_type, ep, count(*) AS n_e,
        |               sum(cents) AS c_e
        |        FROM e GROUP BY 1, 2, 3)
        |SELECT ws, event_type, ep AS batch_id,
        |  sum(n_e) OVER (PARTITION BY ws, event_type ORDER BY ep)::BIGINT
        |    AS n,
        |  sum(c_e) OVER (PARTITION BY ws, event_type ORDER BY ep)::BIGINT
        |    AS cents_v
        |FROM agg ORDER BY ws, event_type, batch_id""".stripMargin,
    "q207_stream_quota" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 40
        |ORDER BY doc_id""".stripMargin,

    // q209's quantize+assign CTEs with corpus-half seeds; a stream
    // (upper-half) vector is flagged when any corpus (lower-half)
    // member of its cluster sits at code-cosine >= 0.4. The epoch
    // split is invisible to the result — flagging is against the
    // static corpus only, so the oracle is one-shot.
    "q213_semdedup_stream" ->
      s"""WITH hf AS (SELECT max(vec_id) // 2 AS half FROM embeddings),
         |q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 /
         |      greatest(list_max(list_transform(embedding,
         |        y -> abs(CAST(y AS DOUBLE)))), 1e-30)) AS BIGINT)) AS qv
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, qv,
         |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm
         |  FROM q),
         |seeds AS (
         |  SELECT vec_id AS sid, qv AS sqv, nrm AS snrm
         |  FROM n, hf WHERE vec_id < hf.half ORDER BY vec_id LIMIT 32),
         |asg AS (
         |  SELECT n.vec_id, seeds.sid,
         |    CAST(list_dot_product(n.qv, seeds.sqv) AS DOUBLE) /
         |      greatest(sqrt(CAST(n.nrm * seeds.snrm AS DOUBLE)), 1e-30) AS sc
         |  FROM n, seeds),
         |cl AS (
         |  SELECT vec_id, sid AS cluster FROM (
         |    SELECT vec_id, sid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sc DESC, sid) AS rn
         |    FROM asg) WHERE rn = 1),
         |m AS (
         |  SELECT cl.vec_id, cl.cluster, n.qv, n.nrm
         |  FROM cl JOIN n USING (vec_id))
         |SELECT DISTINCT s.vec_id
         |FROM m s, m c, hf
         |WHERE s.vec_id >= hf.half AND c.vec_id < hf.half
         |  AND s.cluster = c.cluster
         |  AND CAST(list_dot_product(s.qv, c.qv) AS DOUBLE) /
         |      greatest(sqrt(CAST(s.nrm * c.nrm AS DOUBLE)), 1e-30) >= 0.4
         |ORDER BY s.vec_id""".stripMargin,

    // q261's fixed-point pipeline with the moments fitted on the
    // lower-id half only; the gate is the min of the corpus's top
    // n/10 self-scores (rank with vec_id tiebreak); upper-half
    // vectors emit iff strictly above it. The epoch split is
    // invisible — scoring is stateless against frozen moments.
    "q263_gaussian_gate_stream" ->
      """WITH mx AS (SELECT max(vec_id) // 2 AS half FROM embeddings),
        |c AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(least(greatest(round(CAST(x AS DOUBLE) * 1000), -8000),
        |                 8000) AS BIGINT) + 8000) AS xs
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, label, generate_subscripts(xs, 1) AS d,
        |         unnest(xs) AS x
        |  FROM c),
        |st AS (
        |  SELECT d, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x*x) AS BIGINT) AS qx
        |  FROM e, mx WHERE vec_id < half GROUP BY d),
        |mv AS (
        |  SELECT d, (2*sx + n) // (2*n) AS mu,
        |         greatest(qx // n - ((2*sx + n) // (2*n)) *
        |                            ((2*sx + n) // (2*n)), 1) AS v
        |  FROM st),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(sum((1000 * (e.x - mv.mu) * (e.x - mv.mu)) // mv.v)
        |         AS BIGINT) AS score
        |  FROM e JOIN mv USING (d) GROUP BY 1, 2),
        |selfsc AS (SELECT sc.* FROM sc, mx WHERE vec_id < half),
        |ranked AS (
        |  SELECT score, row_number() OVER (ORDER BY score DESC, vec_id) AS rk
        |  FROM selfsc),
        |nc AS (SELECT count(*) AS n FROM selfsc),
        |gate AS (
        |  SELECT r.score AS g FROM ranked r, nc
        |  WHERE r.rk = greatest(n // 10, 1))
        |SELECT sc.vec_id, sc.label, sc.score
        |FROM sc, mx, gate
        |WHERE sc.vec_id >= half AND sc.score > g
        |ORDER BY sc.vec_id""".stripMargin
  )
}
