package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Corpus-curation tier 3 — model-free quality scoring and corpus-
  * statistics filters for LLM training-data pipelines: unigram-LM
  * surprisal scoring (CCNet-style LM filtering, with the LM reduced
  * to the corpus's own unigram table), DSIR-style hashed-feature
  * importance weighting, C4-style cross-document boilerplate removal,
  * first-seer novelty scoring, and the streaming leg of the surprisal
  * scorer (score-at-ingestion against a frozen corpus LM snapshot).
  *
  * Exactness discipline: every score is INTEGER arithmetic so the
  * DuckDB oracle matches bit-for-bit. Logarithms are quantized to
  * floor(log2(k)) computed as `length(bin(k)) - 1` — both engines
  * produce the identical binary string for the identical BIGINT, so
  * the quantized information content of a token is exactly
  * reproducible (and at 100 TB a 1-bit-resolution surprisal is well
  * inside the noise of any real LM filter).
  *
  * Scale design: each operator is explode → shuffle on a derived key
  * (term / feature bucket / chunk / shingle) with map-side partial
  * aggregation, followed by a bounded side table (vocabulary /
  * 1024-bucket feature space / boilerplate set) joined back —
  * broadcast-able at any corpus size for q215 (fixed 1024 rows),
  * vocabulary-sized for the LM joins. The only driver scalars are
  * metadata-sized aggregates (a corpus token total), same discipline
  * as q201's corpus count.
  */
object CurationQueries extends QuerySet {

  // ---- shared BPE machinery (q286 trainer / q290 encoder) ------------

  /** A word as its character-token array. */
  private def bpeChars(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Exact index-scan greedy fusion of the (a, b) merge over a token
    * array: process index i only when the scan reaches it, consume i
    * and i+1 on a match, never rescan the merged output — Sennrich et
    * al.'s re-tokenization step. r13: one fused native loop
    * (functions/BpeApplyMerges.scala) — the array-fold form was an
    * interpreted higher-order function allocating a struct + array per
    * processed index, and the q290 encoder NESTED one per merge rank. */
  private def bpeFuse(toksCol: Column, a: String, b: String): Column =
    graft.functions.GraftFunctions.bpe_apply_merges(toksCol, Array((a, b)))

  /** The q286 trainer: one corpus pass (word-frequency count), then
    * `rounds` merge rounds on the DISTINCT-word table. Returns
    * (step, lhs, rhs, pair_count, tokens_after) per round — the only
    * driver scalars are the 1-row argmax rule and one total per round
    * (metadata-sized, the q218 discipline). */
  private def trainBpeMerges(s: SparkSession, d: String,
                             rounds: Int): Seq[(Int, String, String, Long, Long)] = {
    var words = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("toks", bpeChars(col("w")))
      .localCheckpoint() // ONE corpus pass; round 1 reads the cache (r12)
    (1 to rounds).map { step =>
      val Row(a: String, b: String, cnt: Long) = words
        .filter(size(col("toks")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a"), col("p.b")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).head()
      words = words.withColumn("toks", bpeFuse(col("toks"), a, b))
        .localCheckpoint()
      val after = words.agg(sum(col("freq") * size(col("toks"))))
        .head().getLong(0)
      (step, a, b, cnt, after)
    }
  }

  /** Corpus word-frequency table (w, freq) — the shared input of the
    * unigram-LM family (q294 segmentation, q304 EM training). */
  private def wordFreqs(s: SparkSession,
                        d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // vocabulary-bounded — materialize: every unigram-family trainer
      // consumes this table several times (seed grams ×3 lengths, EM
      // rounds, encode), and each un-cached walk was a corpus
      // tokenize+count pass (r12)
      .localCheckpoint()

  /** floor(log2(x)) of a positive long: the bit width of x minus one
    * (the driver-side twin of [[blog2]]). */
  private def fl2(x: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(x)

  /** q294's seed piece vocabulary with initial integer costs: every
    * corpus character + the 256 most frequent 2–3-char substrings
    * (frequency-weighted), cost = flog2(total) − flog2(cnt) + 1. The
    * only driver state is the vocabulary itself (guarded collect). */
  private def unigramSeedCosts(wf: DataFrame): Map[String, Long] = {
    def gramsOf(l: Int) = wf.select(col("freq"),
      explode(when(length(col("w")) >= l,
        transform(sequence(lit(1), length(col("w")) - (l - 1)),
          i => col("w").substr(i, lit(l))))
        .otherwise(array().cast("array<string>"))).as("piece"))
    val sub = (1 to 3).map(gramsOf).reduce(_ union _)
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint() // 3 consumers (total, chars, top grams) — r12
    val total = sub.agg(sum(col("cnt"))).head().getLong(0)
    val charRows = sub.filter(length(col("piece")) === 1).collect()
    require(charRows.length <= 4096,
      s"unigram seed: ${charRows.length} distinct chars — not a " +
        "natural-language alphabet; refusing the driver collect")
    val gramRows = sub.filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece")).limit(256).collect()
    (charRows ++ gramRows).map { r =>
      r.getString(0) -> (fl2(total) - fl2(r.getLong(1)) + 1L)
    }.toMap
  }

  /** The unigram-EM forward DP (q304/q309): per position the packed
    * (cost·4 + 3−chosenLen) optimum as ONE array fold over the word,
    * with the piece-cost table riding the plan as a map literal. */
  private def emViterbiDp(vocabLit: Column): Column = {
    val sentinel = lit(Long.MaxValue / 8)
    aggregate(
      sequence(lit(1), length(col("w"))),
      array(lit(3L)), // position 0: cost 0, len-marker 0 (=3−3)
      (acc, i) => {
        def cand(l: Int): Column = {
          val c = element_at(vocabLit,
            col("w").substr(i - (l - 1), lit(l)))
          when(i >= l && c.isNotNull,
            shiftleft(shiftright(element_at(acc, i - l + 1), 2) + c, 2)
              + lit(3L - l))
            .otherwise(sentinel)
        }
        array_append(acc, least(cand(1), cand(2), cand(3)))
      })
  }

  /** The matching backtrace walk over a materialized `dp` column:
    * pos ← pos − len, emitting each winning piece. */
  private def emBacktrace(): Column =
    aggregate(
      sequence(lit(1), length(col("w"))),
      struct(length(col("w")).as("pos"),
        array().cast("array<string>").as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val packed = element_at(col("dp"), pos + 1)
        val len = lit(3L) - packed.bitwiseAND(lit(3L))
        when(pos > 0, struct(
          (pos - len).cast("int").as("pos"),
          array_append(acc.getField("ps"),
            col("w").substr((pos - len + lit(1)).cast("int"),
              len.cast("int"))).as("ps")))
          .otherwise(acc)
      },
      acc => acc.getField("ps"))

  /** One EM-round oracle block (q304/q309): the forward DP unrolled
    * as 16 chained CTE steps over packed (cost·4 + 3−len) values
    * under cost table `vocab`, the backtrace unrolled as 16 walk
    * steps, usage → flog2 re-estimation over `domain`'s piece set
    * (v0 for the fixed-vocabulary trainer, the pruned table for the
    * pruning trainer). Defines d{r}_*, dp{r}, pieces{r}, usage{r},
    * tot{r}, cost{r}, v{r}. MATERIALIZED throughout (the q294/q127
    * discipline: plain CTEs re-inline). */
  private def emDpBlock(r: Int, vocab: String, domain: String): String = {
    val walk = (1 to 16).map { j =>
      s"""s${r}_$j AS MATERIALIZED (
         |  SELECT b.w, b.pos, (3 - (d.packed % 4)) AS l
         |  FROM b${r}_${j - 1} b JOIN dp$r d
         |    ON d.w = b.w AND d.pos = b.pos
         |  WHERE b.pos > 0),
         |p${r}_$j AS (SELECT w, substr(w, pos - l + 1, l) AS piece
         |             FROM s${r}_$j),
         |b${r}_$j AS (SELECT w, pos - l AS pos FROM s${r}_$j)""".stripMargin
    }.mkString(",\n")
    val pUnion = (1 to 16)
      .map(j => s"  SELECT w, piece FROM p${r}_$j")
      .mkString("\n  UNION ALL\n")
    s"""${emDpSteps(r, vocab)},
       |b${r}_0 AS (SELECT w, len(w) AS pos FROM wf16),
       |$walk,
       |pieces$r AS (
       |$pUnion),
       |usage$r AS MATERIALIZED (
       |  SELECT piece, sum(f.freq)::BIGINT AS cnt
       |  FROM pieces$r pc JOIN wf16 f ON f.w = pc.w GROUP BY 1),
       |tot$r AS (SELECT sum(cnt)::BIGINT AS t FROM usage$r),
       |v$r AS MATERIALIZED (
       |  SELECT v.piece,
       |    (CASE WHEN u.cnt IS NULL THEN (len(bin(t.t)) - 1) + 2
       |          ELSE len(bin(t.t)) - len(bin(u.cnt)) + 1
       |     END)::BIGINT AS cost
       |  FROM $domain v LEFT JOIN usage$r u ON u.piece = v.piece
       |  CROSS JOIN tot$r t)""".stripMargin
  }

  /** Just the forward-DP chain + per-round corpus cost (the pruning
    * trainer's final evaluation pass needs no backtrace/M-step).
    * Defines d{r}_*, dp{r}, cost{r}. */
  private def emDpSteps(r: Int, vocab: String): String = {
    val steps = (1 to 16).map { k =>
      val legs = (1 to 3).filter(_ <= k).map { l =>
        s"""  SELECT p.w, ((p.packed // 4 + v.cost) * 4 + ${3 - l}) AS cand
           |  FROM d${r}_${k - l} p JOIN $vocab v
           |    ON v.piece = substr(p.w, ${k - l + 1}, $l)
           |  WHERE len(p.w) >= $k""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"d${r}_$k AS MATERIALIZED (SELECT w, min(cand) AS packed " +
        s"FROM (\n$legs\n) GROUP BY w)"
    }.mkString(",\n")
    val dpUnion = (0 to 16).map {
      case 0 => "  SELECT w, 0 AS pos, 3::BIGINT AS packed FROM wf16"
      case k => s"  SELECT w, $k, packed FROM d${r}_$k"
    }.mkString("\n  UNION ALL\n")
    s"""d${r}_0 AS (SELECT w, 3::BIGINT AS packed FROM wf16),
       |$steps,
       |dp$r AS MATERIALIZED (
       |$dpUnion),
       |cost$r AS (SELECT sum(f.freq * (d.packed // 4))::BIGINT AS c
       |           FROM wf16 f JOIN dp$r d
       |             ON d.w = f.w AND d.pos = len(f.w))""".stripMargin
  }

  /** The corpus cost Σ freq · cost(w) of a word table whose `dp`
    * column holds [[emViterbiDp]]: each word's optimum is the packed
    * value at position len(w). */
  private def emCorpusCost(withDp: DataFrame): Long =
    withDp.agg(sum(col("freq") *
        shiftright(element_at(col("dp"), length(col("w")) + 1), 2)))
      .head().getLong(0)

  /** One unigram-EM round over the ≤16-char word table `wf16` under
    * the piece costs `costs`: E-step = Viterbi-segment every word (the
    * DP materialized once; corpus cost and usage both read it), usage =
    * freq-weighted winning pieces (a guarded driver collect), M-step =
    * cost flog2(totalUse) − flog2(cnt) + 1 for every piece of `costs`
    * (unused ones keep a finite flog2(totalUse) + 2). Returns (the
    * corpus cost, the usage, the re-estimated costs). */
  private def emRound(wf16: DataFrame, costs: Map[String, Long])
      : (Long, Map[String, Long], Map[String, Long]) = {
    val withDp = wf16.withColumn("dp", emViterbiDp(typedLit(costs)))
      .localCheckpoint()
    val usage = withDp
      .select(col("freq"), explode(emBacktrace()).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val corpusCost = emCorpusCost(withDp)
    val used = usage.collect()
    require(used.length <= 8192,
      s"unigram EM: ${used.length} used pieces exceeds the " +
        "vocabulary bound; refusing the driver collect")
    val usedMap = used.map(r => r.getString(0) -> r.getLong(1)).toMap
    val totUse = usedMap.values.sum
    val reEst = costs.map { case (p, _) =>
      p -> usedMap.get(p).map(c => fl2(totUse) - fl2(c) + 1L)
        .getOrElse(fl2(totUse) + 2L)
    }
    (corpusCost, usedMap, reEst)
  }

  /** A driver-side table of `rows` under the DDL schema `ddl`. */
  private def localTable(s: SparkSession, ddl: String, rows: Seq[Row]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType.fromDDL(ddl))

  /** The ≤16-char word table the unigram-EM trainers segment
    * (checkpointed) and the seed piece costs. */
  private def emSeed(s: SparkSession, d: String)
      : (DataFrame, Map[String, Long]) = {
    val wf = wordFreqs(s, d)
    (wf.filter(length(col("w")).between(1, 16)).localCheckpoint(),
      unigramSeedCosts(wf))
  }

  /** The q309/q318 EM+prune trainer: [[emRound]]s alternate with
    * pruning multi-char pieces to the round's top-K by usage (single
    * chars always survive — character coverage). Returns the ≤16-char
    * word-frequency table (checkpointed), the final pruned cost table,
    * per-round corpus costs, and the last round's usage. */
  private def emTrainPrune(s: SparkSession, d: String,
                           keeps: Seq[Int])
      : (DataFrame, Map[String, Long], Seq[Long], Map[String, Long]) = {
    val (wf16, seed) = emSeed(s, d)
    var costs = seed
    var lastUsage: Map[String, Long] = Map.empty
    val roundCosts = keeps.map { keep =>
      val (corpusCost, usedMap, reEst) = emRound(wf16, costs)
      // prune: chars stay, multi-char pieces keep the top-`keep` by
      // usage (ties by piece — same total order as the oracle's
      // ORDER BY)
      val keptMulti = usedMap.toSeq
        .filter { case (p, _) => p.codePointCount(0, p.length) >= 2 }
        .sortBy { case (p, c) => (-c, p) }.take(keep).map(_._1).toSet
      costs = reEst.filter { case (p, _) =>
        p.codePointCount(0, p.length) == 1 || keptMulti(p) }
      lastUsage = usedMap
      corpusCost
    }
    (wf16, costs, roundCosts, lastUsage)
  }

  /** 13-gram hashes (doc_id, h) of (doc_id, text) rows — the q283
    * decontamination unit (every doc has ≥1 gram: a short doc hashes
    * its whole text). */
  private[operators] def gramHashes(df: DataFrame): DataFrame = {
    val w = toks(col("text"))
    df.select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(w) - 12, lit(1))),
        i => concat_ws(" ", slice(w, i, lit(13))))).as("g"))
      .select(col("doc_id"), md5i(col("g")).as("h"))
  }

  /** The corpus side of a tokenizer encode (q290, q318): the encoded
    * distinct-word table (w, n, enc) joins back onto the exploded corpus
    * — per doc its word count, its token total (column `nTokens`) and
    * its head word's encoding. */
  private def encodeCorpus(docs: DataFrame, encoded: DataFrame,
                           nTokens: String): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
    val perDoc = words.join(encoded, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n")).cast("long").as(nTokens))
    val head = docs
      .select(col("doc_id"), element_at(toks(col("text")), 1).as("w"))
      .join(encoded.select(col("w"), col("enc").as("head_enc")),
        Seq("w"), "left")
      .select(col("doc_id"), col("head_enc"))
    perDoc.join(head, "doc_id")
      .select(col("doc_id"), col("n_words"), col(nTokens), col("head_enc"))
      .orderBy(col("doc_id"))
  }

  /** The bigram LM's inputs (q315, q330): the even-doc_id training
    * half, its bigram counts (prev, cur, cb), and the (doc_id, prev,
    * cur) bigrams of the odd-doc_id held-out half. */
  private def bigramLm(docs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val ws = toks(col("text"))
    def pairs(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(when(size(ws) >= 2,
        transform(sequence(lit(2), size(ws)),
          i => struct(element_at(ws, i - 1).as("prev"),
                      element_at(ws, i).as("cur"))))
        .otherwise(array().cast("array<struct<prev:string,cur:string>>")))
        .as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.cur").as("cur"))
    val train = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val cb = pairs(train).groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("cb"))
    (train, cb, pairs(docs.filter(pmod(col("doc_id"), lit(2)) === 1)))
  }

  /** [[bigramLm]] as DuckDB: CTEs tr, hd and cb, the caller's `model`
    * CTEs over them, hdbg (the held-out bigrams), then `score`. */
  private def bigramLmSql(model: String, score: String): String =
    s"""WITH tr AS (SELECT doc_id, string_split(text, ' ') AS ws
       |            FROM documents WHERE doc_id % 2 = 0),
       |hd AS (SELECT doc_id, string_split(text, ' ') AS ws
       |       FROM documents WHERE doc_id % 2 = 1),
       |cb AS (SELECT prev, cur, count(*)::BIGINT AS cb FROM (
       |         SELECT ws[i-1] AS prev, ws[i] AS cur
       |         FROM tr, LATERAL unnest(range(2, len(ws)+1)) AS t(i))
       |       GROUP BY 1, 2),
       |$model,
       |hdbg AS (SELECT doc_id, ws[i-1] AS prev, ws[i] AS cur
       |         FROM hd, LATERAL unnest(range(2, len(ws)+1)) AS t(i)),
       |$score""".stripMargin

  /** One prune step of the q309/q318 oracles: chars always survive,
    * multi-char pieces keep round r's top-`keep` by usage. */
  private def emPruneCte(r: Int, keep: Int): String =
    s"""vp$r AS MATERIALIZED (
       |  SELECT piece, cost FROM v$r WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cost FROM (
       |    SELECT v.piece, v.cost FROM v$r v JOIN usage$r u USING (piece)
       |    WHERE len(v.piece) >= 2
       |    ORDER BY u.cnt DESC, v.piece LIMIT $keep))""".stripMargin

  /** The full seed → EM+prune(128) → EM+prune(64) trainer replay —
    * shared prefix of the q309 (pruning) and q318 (encoding) oracles;
    * leaves the final vocabulary in vp2. */
  private def emPrunedVocabCtes: String =
    s"""$emSeedCtes,
       |${emDpBlock(1, "v0", "v0")},
       |${emPruneCte(1, 128)},
       |${emDpBlock(2, "vp1", "vp1")},
       |${emPruneCte(2, 64)}""".stripMargin

  /** [[unigramSeedCosts]] as DuckDB CTEs (no WITH): word frequencies
    * wf, 1–3-char substring counts sub, their total `tot` and the seed
    * cost table `vocab` (every char + top-256 grams). */
  private def seedCostCtes(tot: String, vocab: String): String =
    s"""wf AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq
       |       FROM (SELECT unnest(string_split(text,' ')) AS w
       |             FROM documents)
       |       WHERE len(w) > 0 GROUP BY w),
       |sub AS MATERIALIZED (
       |        SELECT substr(w, i, L) AS piece, sum(freq)::BIGINT AS cnt
       |        FROM wf, LATERAL unnest(range(1, len(w)+1)) AS t(i),
       |             (VALUES (1),(2),(3)) AS ll(L)
       |        WHERE i + L - 1 <= len(w)
       |        GROUP BY 1),
       |$tot AS MATERIALIZED (SELECT sum(cnt)::BIGINT AS t FROM sub),
       |$vocab AS MATERIALIZED (
       |  SELECT piece,
       |    (len(bin($tot.t)) - len(bin(s.cnt)) + 1)::BIGINT AS cost
       |  FROM (
       |    SELECT piece, cnt FROM sub WHERE len(piece) = 1
       |    UNION ALL
       |    SELECT piece, cnt FROM (
       |      SELECT piece, cnt FROM sub WHERE len(piece) >= 2
       |      ORDER BY cnt DESC, piece LIMIT 256)
       |  ) s, $tot)""".stripMargin

  /** The shared seed-vocabulary CTE prefix of the unigram-EM oracles:
    * the seed costs v0 and the ≤16-char word table wf16. */
  private val emSeedCtes: String =
    s"""${seedCostCtes("sdtot", "v0")},
       |wf16 AS MATERIALIZED (
       |  SELECT w, freq FROM wf WHERE len(w) BETWEEN 1 AND 16)""".stripMargin

  /** floor(log2(k)) for a positive integer column, integer-exact in
    * both engines: the bit width of k minus one. bin(0) = "0" in both,
    * so k = 0 maps to 0 (used by the smoothed streaming scorer when a
    * token outnumbers the corpus). */
  private def blog2(k: Column): Column =
    (length(bin(k)) - 1).cast("long")

  private def blog2Sql(e: String): String = s"(length(bin($e)) - 1)"

  private val nBuckets = 1024 // q215: hashed feature space
  private val boilerDf = 2 // q216: chunk df threshold for removal

  val queries: Map[String, Q] = Map(
    // Unigram-LM surprisal score (CCNet-style quality filter with the
    // LM collapsed to the corpus unigram distribution): each token
    // instance contributes floor(log2(N_tokens // c(token))) bits;
    // the doc score is the sum, plus a milli-bits-per-token rate for
    // thresholding. Two shuffles (term count, doc_id sum) — the
    // vocabulary table re-joins the token stream on term with
    // map-side-combined counts; the 1-row total crossJoins broadcast.
    "q214_surprisal_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"),
        explode(toks(col("text"))).as("term"))
      val cnt = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum(col("c")).as("n_tot"))
      tok.join(cnt, "term").crossJoin(broadcast(tot))
        .withColumn("surp", blog2(expr("n_tot div c")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("surp")).as("surprisal"))
        .withColumn("bits_per_tok_milli", expr("(1000 * surprisal) div n_tok"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance weight (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling" — public paper):
    // hashed bigram features into a FIXED 1024-bucket space, target
    // distribution = the English slice, raw = whole corpus; a doc's
    // weight is the sum over its feature instances of the quantized
    // log-ratio floor(log2(ct+1)) − floor(log2(cr+1)). The feature
    // table is 1024 rows at ANY corpus size — it broadcasts, so the
    // scoring pass is one explode + one broadcast join + one doc_id
    // shuffle.
    "q215_dsir_weight" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val feat = docs.select(col("doc_id"), col("lang"),
        explode(bigrams(col("text"))).as("bg"))
        .withColumn("f", pmod(md5i(col("bg")), lit(nBuckets)))
      val ct = feat.filter(col("lang") === "en").groupBy(col("f"))
        .agg(count(lit(1)).as("ct"))
      val cr = feat.groupBy(col("f")).agg(count(lit(1)).as("cr"))
      val qw = cr.join(ct, Seq("f"), "left")
        .select(col("f"),
          (blog2(coalesce(col("ct"), lit(0L)) + 1) -
            blog2(col("cr") + 1)).as("qw"))
      feat.join(broadcast(qw), "f")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_feat"), sum(col("qw")).as("weight"))
        .orderBy(col("doc_id"))
    }),

    // C4-style cross-document boilerplate removal: any chunkW-word
    // chunk occurring in ≥ boilerDf DISTINCT documents is removed from
    // EVERY document (q205 keeps the first occurrence; boilerplate
    // keeps none — headers, licenses, navigation text). The
    // boilerplate set is aggregation-bounded (one row per distinct
    // repeated chunk); the anti join shuffles the chunks once on
    // chunk text, reassembly once on doc_id — q205's exact budget.
    "q216_boilerplate_strip" -> ((s, d) =>
      chunkClean(Tables.documents(s, d)) { chunks =>
        val boiler = chunks.groupBy(col("chunk"))
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= boilerDf).select(col("chunk"))
        chunks.join(boiler, Seq("chunk"), "left_anti")
      }),

    // First-seer novelty score: a doc's distinct 4-word shingles that
    // NO earlier doc (by doc_id) contains, as count + permille of its
    // shingle set — the marginal-contribution ranking used to order
    // near-duplicate-heavy crawls before thresholded dedup. One
    // shuffle on shingle (min-doc aggregation, map-side combined),
    // one on doc_id.
    "q217_novelty_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = docs.select(col("doc_id"),
        explode(TextQueries.shingles4(col("text"))).as("sh")).distinct()
      val first = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(first, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        .withColumn("novelty_permille", expr("(1000 * n_novel) div n_sh"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING surprisal scoring — q214 at ingestion time against a
    // FROZEN corpus LM snapshot (the q154/q155 snapshot+stream shape):
    // the lower-doc_id half is the corpus whose unigram table is the
    // static side, the upper half streams in three micro-batches, and
    // each batch scores with add-one smoothing (an unseen token's
    // count is 0 → c+1) so out-of-vocabulary streamed tokens are
    // well-defined. Per-batch work is stateless (explode → broadcast
    // vocabulary join → per-doc sum inside foreachBatch — docs arrive
    // whole, so no cross-batch state); the corpus total is the one
    // driver scalar (metadata-sized).
    "q218_stream_surprisal" -> ((s, d) => {
      import graft.streaming.Replay
      val (corpus, ep) = Replay.snapshotSplit(Tables.documents(s, d), "doc_id")
      val cnt = corpus
        .select(explode(toks(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
        .cache()
      val nTot = cnt.agg(sum(col("c"))).head().getLong(0)
      val out = s"${ep.dir}/out"
      ep.runBatches(ep.streamDf(s)) { (b, _) =>
        b.select(col("doc_id"), explode(toks(col("text"))).as("term"))
          .join(broadcast(cnt), Seq("term"), "left")
          .withColumn("surp",
            blog2(expr(s"$nTot div (coalesce(c, 0L) + 1L)")))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tok"), sum(col("surp")).as("surprisal"))
          .write.mode("append").parquet(out)
      }
      cnt.unpersist()
      Tables.read(s, out).orderBy(col("doc_id"))
    }),

    // Per-language quality-quantile gate: integer type-token ratio
    // (distinct tokens permille — repetition-heavy docs score low) →
    // exact ntile(4)-equivalent quartile within each language over
    // (ttr desc, doc_id), keep = top quartile. NOT ntile over a
    // per-language total order — a real corpus is 50-90% one
    // language, so that window is a single-task sort of most of the
    // corpus. The ttr score space is BOUNDED (0..1000), so the
    // per-row rank comes from the q220 histogram trick instead: a
    // ≤1001-row-per-lang (lang, ttr) histogram gives each tier its
    // count of strictly-better rows, and only WITHIN a (lang, ttr)
    // tier does a row_number run — a window distributed across
    // |langs|·|tiers| keys. rank = cum_before + rn, and the quartile
    // is ntile's exact bucket arithmetic (first n%4 buckets take one
    // extra row) applied to the rank.
    "q219_quality_quantile" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w0 = toks(col("text"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(w0).cast("long").as("n_tok"),
          expr("(1000 * cast(size(array_distinct(split(text, ' '))) as bigint)) div size(split(text, ' '))").as("ttr"))
      // bounded histogram: per-lang windows over ≤1001 tier rows
      val histW = Window.partitionBy(col("lang"))
      val hist = docs.groupBy(col("lang"), col("ttr"))
        .agg(count(lit(1)).as("tc"))
        .withColumn("cum_before",
          coalesce(sum(col("tc")).over(histW.orderBy(col("ttr").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("tc")).over(histW))
        .select(col("lang"), col("ttr"), col("cum_before"), col("n"))
      // per-tier rank only — distributed across (lang, ttr) keys
      val tierW = Window.partitionBy(col("lang"), col("ttr"))
        .orderBy(col("doc_id"))
      docs.join(broadcast(hist), Seq("lang", "ttr"))
        .withColumn("rank", col("cum_before") + row_number().over(tierW))
        // ntile(4): first (n%4) buckets hold (n div 4)+1 rows
        .withColumn("quartile", expr(
          """CASE WHEN rank <= ((n div 4) + 1) * (n % 4)
            |  THEN (rank - 1) div ((n div 4) + 1) + 1
            |  ELSE (n % 4) +
            |    (rank - (n % 4) * ((n div 4) + 1) - 1)
            |      div greatest(n div 4, 1) + 1
            |END""".stripMargin))
        .withColumn("kept", col("quartile") === 1)
        .select(col("doc_id"), col("lang"), col("n_tok"), col("ttr"),
          col("quartile"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget corpus selection — keep the highest-quality docs
    // until a global token budget (10% of corpus tokens) is filled.
    // NOT a global-order running sum (a single-partition window dies
    // at scale): the ttr score space is BOUNDED (0..1000), so the
    // cumulative threshold comes from a ≤1001-row score HISTOGRAM —
    // tiers strictly above the cutoff keep everything, and only the
    // boundary tier runs a per-tier doc_id-ordered running sum
    // (partitioned window, parallel across tiers). Two bounded
    // shuffles + one broadcast of the histogram.
    "q220_token_budget_select" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w0 = toks(col("text"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(w0).cast("long").as("n_tok"),
          expr("(1000 * cast(size(array_distinct(split(text, ' '))) as bigint)) div size(split(text, ' '))").as("ttr"))
      val hist = docs.groupBy(col("ttr")).agg(sum(col("n_tok")).as("t"))
      val cum = hist.withColumn("cum_before",
        coalesce(sum(col("t")).over(Window.orderBy(col("ttr").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val budget = docs.agg((sum(col("n_tok")) / 10).cast("long").as("budget"))
      val win = Window.partitionBy(col("ttr")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(cum.select(col("ttr"), col("cum_before"))), "ttr")
        .crossJoin(broadcast(budget))
        .withColumn("tier_cum", sum(col("n_tok")).over(win))
        .filter(col("cum_before") + col("tier_cum") <= col("budget"))
        .select(col("doc_id"), col("ttr"), col("n_tok"),
          (col("cum_before") + col("tier_cum")).as("cum_tok"))
        .orderBy(col("doc_id"))
    }),

    // Per-source distribution drift — the data-mixing QA monitor:
    // each source's token distribution scored against the whole
    // corpus by a QUANTIZED log-likelihood ratio,
    // Σ_t c_s(t)·(floor(log2(c_s(t)·N)) − floor(log2(c(t)·n_s)))
    // (positive ⇒ the source over-represents its tokens vs the
    // corpus). Integer-exact end to end; one term shuffle with
    // map-side combine, the per-source rollup is |sources|-bounded.
    // PII detection + redaction — the scrub pass every corpus runs
    // before training. The documents corpus is synthetic word salad,
    // so deterministic PII (an IP, an email, a phone) is INJECTED per
    // doc first — built identically on both engines — then detected
    // (match counts per class) and REDACTED (class tokens), with the
    // redacted text's md5 facing the oracle, so a regex-dialect
    // mismatch, a missed occurrence, or an over-eager replacement
    // breaks the row. Patterns stay in the RE2∩Java-regex common
    // subset (no \b, no shorthand classes). Pure projection — no
    // shuffle; at 100 TB this runs at scan speed.
    "q251_pii_redact" -> ((s, d) => {
      val ipRe = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
      val emailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phoneRe = "555-[0-9]+"
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" ip 10."), pmod(col("doc_id"), lit(256)),
            lit(".0.1 mail u"), col("doc_id"), lit("@example.com tel 555-"),
            col("doc_id")).as("t"))
        .select(col("doc_id"),
          // Column-form regexp_count: the pattern bypasses SQL-literal
          // parsing (where '\.' would lose its backslash)
          regexp_count(col("t"), lit(emailRe)).as("n_email"),
          regexp_count(col("t"), lit(phoneRe)).as("n_phone"),
          regexp_count(col("t"), lit(ipRe)).as("n_ip"),
          md5(regexp_replace(regexp_replace(regexp_replace(col("t"),
            ipRe, "<IP>"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"))
            .as("red_md5"))
        .orderBy(col("doc_id"))
    }),

    "q235_source_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("source"), explode(toks(col("text"))).as("term"))
      val cs = tok.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_s"))
      val ct = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val ns = tok.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val nTot = tok.agg(count(lit(1)).as("n_tot"))
      cs.join(ct, "term").join(ns, "source").crossJoin(broadcast(nTot))
        .withColumn("contrib",
          col("c_s") * (blog2(col("c_s") * col("n_tot")) -
            blog2(col("c") * col("n_s"))))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tok"), sum(col("contrib")).as("drift_q"))
        .orderBy(col("source"))
    }),

    // Train/test SPLIT-LEAKAGE audit: q203's content-hash split makes
    // byte-identical duplicates split-safe, but NEAR-duplicates can
    // still straddle — this measures exactly that: every test-split
    // doc sharing ≥1 distinct 4-shingle with ANY train-split doc,
    // with the shared-shingle count. The standard pre-training
    // leakage check before an eval split ships. One shingle-keyed
    // join; the train side carries each distinct shingle once.
    "q236_split_leakage" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("split", contentSplit)
      val sh = docs.select(col("split"), col("doc_id"),
        explode(TextQueries.shingles4(col("text"))).as("sh")).distinct()
      val train = sh.filter(col("split") === "train")
        .select(col("sh")).distinct()
      sh.filter(col("split") === "test")
        .join(train, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING leakage gate — q236 at ingestion time: the train
    // split's distinct-shingle set is the frozen static side, the
    // test split streams in three micro-batches, and each batch's
    // docs are checked for shared shingles via a stream-static join
    // (explode → join → per-doc count inside foreachBatch; docs
    // arrive whole, so no cross-batch state). The streaming result
    // must equal q236's one-shot audit exactly — same oracle SQL.
    "q237_stream_leakage" -> ((s, d) => {
      import graft.streaming.Replay
      val docs = Tables.documents(s, d).withColumn("split", contentSplit)
      val train = docs.filter(col("split") === "train")
        .select(explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct().cache()
      train.count()
      val test = docs.filter(col("split") === "test")
        .select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val ep = Replay.idThirds(test, "doc_id", 0L, maxId)
      val out = s"${ep.dir}/out"
      ep.runBatches(ep.streamDf(s)) { (b, _) =>
        b.select(col("doc_id"),
            explode(TextQueries.shingles4(col("text"))).as("sh"))
          .distinct()
          .join(train, "sh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .write.mode("append").parquet(out)
      }
      train.unpersist()
      Tables.read(s, out).orderBy(col("doc_id"))
    }),

    // Maximal duplicated spans (the excision unit of exact substring
    // dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    // Language Models Better" — anchor-based form): every 4-token
    // shingle occurring ≥2× in the corpus marks its start position;
    // consecutive marked positions merge into maximal runs (the
    // pos − row_number island trick), and runs spanning ≥ 8 tokens
    // emit (doc, start, end, span length). Two bounded shuffles
    // (shingle occurrence count, per-doc islands) — the full
    // suffix-array pass of the paper reduces to this anchor join at
    // fixed k, which is the scalable production form.
    "q231_dup_spans_maximal" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      // materialize the positions ONCE (r12, the q291 discipline): the
      // occurrence count AND the anchor join both consume this table —
      // without the checkpoint the split+slice+concat shingle pipeline
      // re-ran per consumer
      val pos = docs.select(col("doc_id"),
        posexplode(TextQueries.shingles4(col("text"))))
        .toDF("doc_id", "pos0", "sh")
        .withColumn("pos", col("pos0") + 1).drop("pos0")
        .localCheckpoint()
      // duplicated shingles are a small fraction of the postings, so
      // the anchor join was shuffling the WHOLE position table against
      // the full per-shingle aggregate. Materialize just the ANCHOR
      // KEYS (one row per duplicated shingle) so the planner sees a
      // small build side and broadcasts it — the position table is
      // then never shuffled for the join (guide §3.1/§3.2; a manual
      // Bloom pre-filter was A/B'd here and REJECTED: its extra
      // count+sketch driver actions cost more than the saved shuffle
      // at bench scale — see OPTIMIZATION_r13.md)
      val anchors = pos.groupBy(col("sh")).agg(count(lit(1)).as("occ"))
        .filter(col("occ") >= 2)
        .select(col("sh"))
        .localCheckpoint()
      val dup = pos.join(anchors, "sh")
        .select(col("doc_id"), col("pos"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      dup.withColumn("island", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("start_tok"), max(col("pos")).as("last_sh"))
        .withColumn("end_tok", col("last_sh") + 3)
        .withColumn("span_tokens", col("end_tok") - col("start_tok") + 1)
        .filter(col("span_tokens") >= 8)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"),
          col("span_tokens").cast("long").as("span_tokens"))
        .orderBy(col("doc_id"), col("start_tok"))
    }),

    // Cross-doc maximal-span WITNESS pairs — the suffix-follow of
    // q231 (Lee et al. 2022): the paper's actionable unit is not just
    // "this span is duplicated" but WHICH OTHER DOC shares it, so
    // excision can be directional (keep-first). Each duplicated anchor
    // position picks its minimum other-doc witness through a DF-CAPPED
    // posting join (q280's discipline: shingles living in more than
    // dfCap docs never fan out — a boilerplate shingle in half the
    // corpus would otherwise explode the pair space); the island merge
    // then carries min(witness) per span. Spans whose shingles are all
    // same-doc repeats (or all above the cap) get a null witness and
    // are never excised. Scale: posting fanout ≤ dfCap per position
    // (linear), two key-bounded shuffles + the per-doc window — no
    // doc×doc path exists.
    "q291_dup_span_witness" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val dfCap = 16
      val docs = Tables.documents(s, d)
      // shingles shuffle three times (occurrence count, postings,
      // anchor join) — key them as 60-bit md5 hashes instead of
      // strings (the q280 discipline; the oracle keys on the SAME
      // hash, so both engines agree by construction even in the
      // astronomically-unlikely collision)
      // materialize the hashed positions ONCE: occ, postings and the
      // anchor join all consume this table, and re-deriving the
      // shingle strings (split + slice + concat + md5) per consumer
      // costs three corpus CPU passes — the dominant term at ≈sf10.
      // localCheckpoint stores (doc_id, pos, sh) longs
      // partition-local; at cluster scale this is the standard
      // persist-a-projection, ~20 bytes/shingle
      val pos = docs.select(col("doc_id"),
        posexplode(TextQueries.shingles4(col("text"))))
        .toDF("doc_id", "pos0", "shs")
        .select(col("doc_id"), (col("pos0") + 1).as("pos"),
          conv(substring(md5(col("shs")), 1, 15), 16, 10)
            .cast("long").as("sh"))
        .localCheckpoint()
      val occ = pos.groupBy(col("sh")).agg(count(lit(1)).as("occ"),
        count_distinct(col("doc_id")).as("df"))
        .localCheckpoint() // anchor filter + witness postings both read it (r12)
      // q231's anchor rule: positions whose shingle occurs ≥ 2× in the
      // corpus (same-doc repeats included). Join against the slim
      // ANCHOR-KEY projection of the (checkpointed) aggregate rather
      // than the full per-shingle table, so the build side the planner
      // sees is one long per duplicated shingle (guide §3.1; a manual
      // Bloom pre-filter of the position table was A/B'd here and
      // REJECTED — its count+sketch driver actions cost more than the
      // saved shuffle at bench scale, see OPTIMIZATION_r13.md)
      val dup = pos.join(occ.filter(col("occ") >= 2).select(col("sh")), "sh")
        .select(col("doc_id"), col("pos"), col("sh"))
      // df-capped witness postings, PRE-AGGREGATED to (min, second-min)
      // doc per shingle: "my minimum OTHER doc" is ws[1] unless ws[1]
      // is me, then ws[2] — so the witness join is one row per
      // shingle and the per-position (doc, pos) re-aggregation
      // shuffle disappears entirely (measured 54 s → the join+window
      // only at ≈sf10). collect_set is bounded by the df cap.
      val post = pos.join(occ.filter(col("df").between(2, dfCap)), "sh")
        .groupBy(col("sh"))
        .agg(slice(sort_array(collect_set(col("doc_id"))), 1, 2).as("ws"))
        .withColumnRenamed("sh", "psh")
      val wmin = dup
        .join(post, col("sh") === col("psh"), "left")
        .withColumn("wmin",
          when(element_at(col("ws"), 1) =!= col("doc_id"),
            element_at(col("ws"), 1))
            .otherwise(element_at(col("ws"), 2)))
        .select(col("doc_id"), col("pos"), col("wmin"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      wmin.withColumn("island", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("start_tok"), max(col("pos")).as("last_sh"),
          min(col("wmin")).as("witness_doc"))
        .withColumn("end_tok", col("last_sh") + 3)
        .withColumn("span_tokens", col("end_tok") - col("start_tok") + 1)
        .filter(col("span_tokens") >= 8)
        .select(col("doc_id"),
          col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"),
          col("span_tokens").cast("long").as("span_tokens"),
          col("witness_doc"),
          (col("witness_doc").isNotNull &&
            col("witness_doc") < col("doc_id")).as("excise"))
        .orderBy(col("doc_id"), col("start_tok"))
    }),

    // Balanced training-shard assignment: docs ranked by size (n_tok
    // desc, doc_id) round-robin into 8 shards — the LPT-flavored
    // static balancer — with the audit (docs, token total, heaviest
    // doc) per shard proving balance. The global rank is NOT a
    // single-task row_number: docs are repartitionByRange'd on the
    // rank order (every partition holds a contiguous key range) and
    // sorted WITHIN partitions in parallel, then the dense rank is
    // [[DatasetUtils.zipWithIndex]] — the reference's own two-pass
    // design (count per partition, then local offsets; no data ever
    // concentrates). (n_tok desc, doc_id) is a total order (doc_id
    // unique), so no tie straddles a range boundary and the composed
    // index IS the global row_number. Both passes run on the SAME
    // materialized shuffle, so the rank is deterministic without a
    // cache.
    "q221_balanced_shards" -> ((s, d) => {
      val w0 = toks(col("text"))
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(w0).cast("long").as("n_tok"))
      val sorted = docs
        .repartitionByRange(32, col("n_tok").desc, col("doc_id"))
        .sortWithinPartitions(col("n_tok").desc, col("doc_id"))
      DatasetUtils.zipWithIndex(sorted)
        .withColumn("shard", pmod(col("idx"), lit(8L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_total"),
          max(col("n_tok")).as("tok_max"))
        .orderBy(col("shard"))
    }),

    // Exact directional CONTAINMENT (Broder's containment coefficient
    // — the asymmetric sibling of q66's Jaccard): C(A→B) =
    // |A∩B| / |A| over 4-shingles, the doc-in-doc / quote-detection
    // measure (near-dup misses a short doc fully embedded in a long
    // one because the union washes it out; containment catches it).
    // Shingle universe is DF-CAPPED (2..16 docs — q280/q291's posting
    // discipline): boilerplate shingles in half the corpus carry no
    // containment signal and would explode the pair space. Exact
    // integer permille, both directions from one ordered pair row;
    // pairs need ≥ 8 shared shingles to emit. Scale: fanout ≤ cap²
    // per shingle, two bounded shuffles, no doc×doc path.
    "q296_containment" -> ((s, d) => {
      val dfCap = 16
      // materialize once (the q291 lesson): pos feeds two consumers
      // and capped three — un-checkpointed, the documents scan +
      // shingle build + distinct re-runs EIGHT times (plan-audited)
      val pos = Tables.documents(s, d).select(col("doc_id"),
        explode(TextQueries.shingles4(col("text"))).as("shs"))
        .select(col("doc_id"),
          conv(substring(md5(col("shs")), 1, 15), 16, 10)
            .cast("long").as("sh"))
        .distinct()
        .localCheckpoint()
      val capped = pos.join(
        pos.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df").between(2, dfCap)),
        "sh")
        .select(col("sh"), col("doc_id"))
        .localCheckpoint()
      val a = capped.select(col("sh").as("sha"), col("doc_id").as("doc_a"))
      val b = capped.select(col("sh").as("shb"), col("doc_id").as("doc_b"))
      val inter = a.join(b, col("sha") === col("shb") &&
          col("doc_a") =!= col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .filter(col("inter") >= 8)
      val n = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      inter
        .join(n.select(col("doc_id").as("doc_a"), col("n").as("n_a")), "doc_a")
        .join(n.select(col("doc_id").as("doc_b"), col("n").as("n_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("n_a"), col("n_b"),
          floor(col("inter") * 1000 / col("n_a")).cast("long")
            .as("permille_a_in_b"),
          (col("inter") * 1000 >= col("n_a") * 800).as("a_contained"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // GPT-style training-sequence packing: the corpus is concatenated
    // in deterministic doc_id order and split into fixed 2048-token
    // sequences (the standard pretraining packing pass — documents
    // straddle sequence boundaries). A doc's sequence is
    // prefix/2048 where prefix = tokens strictly before it, so the
    // whole assignment needs exactly ONE exact prefix sum — computed
    // by [[DatasetUtils.prefixSum]]'s two-pass partial-sums design
    // (numPartitions longs through the driver, never a
    // single-partition window: q221's discipline applied to running
    // sums). Per-sequence audit: docs starting there, their token
    // mass, boundary straddlers, heaviest doc. At 100 TB the packing
    // is a scan + one metadata-sized collect + one group-by.
    "q295_seq_packing" -> ((s, d) => {
      val B = 2048L
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tok"))
      val sorted = docs
        .repartitionByRange(32, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
      DatasetUtils.prefixSum(sorted, "n_tok")
        .withColumn("seq_id", floor(col("prefix") / B).cast("long"))
        .withColumn("straddles",
          floor((col("prefix") + col("n_tok") - 1) / B).cast("long")
            =!= col("seq_id"))
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_sum"),
          sum(col("straddles").cast("long")).as("n_straddlers"),
          max(col("n_tok")).as("max_tok"))
        .orderBy(col("seq_id"))
    }),

    // Semantic-cluster-balanced data mixing — the embedding-space
    // sibling of q206's source mixing and q220's budget select: docs
    // cluster by their embedding (q146's coarse quantizer, the
    // deterministic lloydIters=0 seed setting q269 proved SQL-exact),
    // then each cluster admits docs by content-hash rank until the
    // per-cluster token budget (corpus_tokens/16) fills — caps any
    // one semantic mode of the corpus, the cluster-diversity
    // counterpart of per-source quotas. Scale: one broadcast K×dim
    // assignment projection, one shuffle on cluster for the running
    // sum, budget rides as a broadcast 1-row aggregate; trained
    // centroids drop in without changing the operator.
    "q282_cluster_mix" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val K = 8
      val emb = Tables.embeddings(s, d)
      val model = IvfAnn.Model(emb.orderBy(col("vec_id")).limit(K)
        .select(transform(col("embedding"), x => x.cast("double")).as("e"))
        .collect().map(_.getSeq[Double](0).toArray))
      val assigned = IvfAnn.assign(emb, "embedding", model)
        .select(col("vec_id").as("doc_id"),
          col("cluster").cast("long").as("cluster"))
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      val budget = docs.agg((sum(col("n_tok")) / (2 * K)).cast("long")
        .as("budget"))
      val win = Window.partitionBy(col("cluster"))
        .orderBy(md5(col("text")), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(assigned, "doc_id")
        .crossJoin(broadcast(budget))
        .withColumn("cum_tok", sum(col("n_tok")).over(win))
        .select(col("doc_id"), col("cluster"), col("n_tok"),
          (col("cum_tok") <= col("budget")).as("kept"))
        .orderBy(col("doc_id"))
    }),

    // Exact 13-gram train/test contamination report — the GPT-3/PaLM
    // appendix-style decontamination audit, downstream of q203's
    // leakage-safe content-hash split: every test doc's 13-gram
    // positions checked against the DISTINCT train 13-gram set, per-
    // doc dirty-gram count + permille. (q210's Bloom pass is the
    // sketch-accelerated form; this is the exact audit you run on the
    // final candidate set.) Scale: grams shuffle once on their hash;
    // the train set is distinct-collapsed (vocabulary-bounded) before
    // the join, so fan-out is 1 per test gram; no doc×doc pairing.
    "q283_contamination_13gram" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"),
        contentSplit.as("split"))
      val trainG = gramHashes(base.filter(col("split") === "train"))
        .select(col("h")).distinct()
      gramHashes(base.filter(col("split") === "test"))
        .join(trainG.withColumn("hit", lit(1)), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_dirty"))
        .select(col("doc_id"), col("n_grams"), col("n_dirty"),
          (col("n_dirty") > 0).as("dirty"),
          expr("(1000 * n_dirty) div n_grams").as("contam_permille"))
        .orderBy(col("doc_id"))
    }),

    // Dedup-CLUSTER assignment — the step real pipelines run after
    // candidate mining: q280's winnowing pairs become an undirected
    // graph, connected components (GraphOps' delta-Pregel min-label
    // HCC) turn pairwise hits into transitive duplicate clusters, and
    // the minimum doc_id is the canonical survivor. Every doc is a
    // vertex, so non-duplicates come out as singleton clusters.
    // Scale: edges are q280's df-capped posting pairs (linear), CC
    // shuffles only changed labels per superstep; cluster sizes are
    // one aggregation. Oracle = q280's pair SQL + the q124 recursive
    // reachability closure.
    "q287_dedup_clusters" -> ((s, d) => {
      val pairs = CorpusQueries.queries("q280_winnow_dedup")(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id").as("id"))
      // pointer-jumping CC, not plain min-label: dup chains build
      // HIGH-DIAMETER components (the soak replica has a 3037-doc
      // chain, diameter >> any sane superstep budget); the
      // label(label(v)) doubling shortcuts pointer depth per round,
      // but a fresh minimum discovered via a NEIGHBOR edge mid-run
      // still re-propagates, so the bound is closer to
      // O(log² diameter) than O(log diameter) — 30 rounds left 536
      // labels moving at the ≈sf1 replica; 64 covers it with the
      // same early-stop (each settled round costs one metadata count)
      val cc = GraphOps.connectedComponentsJump(docs,
        pairs.select(col("a").as("src"), col("b").as("dst")), maxIter = 64)
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("n_members"))
      cc.join(sizes, "component")
        .select(col("id").as("doc_id"), col("component").as("cluster"),
          col("n_members"), (col("id") === col("component")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge training (Sennrich et al. 2016 — the tokenizer-
    // training primitive): 3 merge rounds over the corpus vocabulary.
    // The corpus is touched ONCE (word-frequency count); every
    // subsequent round works on the DISTINCT-word table — pair counts
    // are freq-weighted per adjacent position (get_stats semantics,
    // overlaps included), the best pair wins on (count desc, lhs,
    // rhs), and re-tokenization is the exact index-scan greedy fusion
    // (consume both symbols, never rescan the merged output) as an
    // array fold per word. That is the textbook scalable BPE trainer:
    // at 100 TB the only corpus-scale work is one explode+count, and
    // the walk is bounded by |vocabulary| × max word length. The only
    // driver scalars are the 1-row argmax rule and two totals per
    // round (metadata-sized, the q218 discipline).
    "q286_bpe_merges" -> ((s, d) => {
      import s.implicits._
      trainBpeMerges(s, d, 3)
        .toDF("step", "lhs", "rhs", "pair_count", "tokens_after")
        .orderBy(col("step"))
    }),

    // BPE ENCODE at corpus scale (the production tokenization pass —
    // the second half of the q286 tokenizer-fitting story): train the
    // 3-round merge table, then tokenize the WHOLE corpus with it.
    // Applying the merges in rank order with the same exact index-scan
    // fusion IS correct BPE encoding for any word (each training round
    // applies its merge everywhere before the next is chosen), so the
    // encoder is merge-table-driven and works on unseen words too.
    // Scale: each DISTINCT word is encoded ONCE (the walk is bounded
    // by |vocabulary| × rank count × max word length), then joined
    // back to the exploded corpus — at 100 TB the corpus-scale work is
    // one explode + one vocabulary equi-join + per-doc aggregation;
    // the encoded vocabulary is a bounded table (natural-language
    // vocabularies saturate), so the join broadcasts or hash-joins at
    // any corpus size. Output = per-doc exact token totals plus each
    // doc's head-word encoding, so the oracle verifies both the counts
    // and the token CONTENT for thousands of sampled words.
    "q290_bpe_encode" -> ((s, d) => {
      val merges = trainBpeMerges(s, d, 3).map(r => (r._2, r._3))
      val docs = Tables.documents(s, d)
      val vocab = docs.select(explode(toks(col("text"))).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .withColumn("toks", bpeChars(col("w")))
      // all ranked merges in ONE fused pass per distinct word (r13 —
      // the foldLeft nested one interpreted array-fold per rank)
      val encoded = vocab
        .withColumn("toks", graft.functions.GraftFunctions
          .bpe_apply_merges(col("toks"), merges.toArray))
        .select(col("w"), size(col("toks")).as("n"),
          concat_ws("|", col("toks")).as("enc"))
        // encode each distinct word once; both joins reuse it
        .localCheckpoint()
      encodeCorpus(docs, encoded, "n_tokens")
    }),

    // Unigram-LM Viterbi segmentation (Kudo 2018 — the SentencePiece
    // tokenizer family, the q286/q290 BPE story's sibling): a seed
    // piece vocabulary (every corpus character + the 256 most frequent
    // 2-3-char substrings, frequency-weighted) gets integer costs
    // cost = flog2(total) − flog2(cnt) + 1 (the engine's exact-log2
    // discipline), and each word is segmented by Viterbi DP minimizing
    // (total cost, piece count) lexicographically — encoded as ONE
    // long (cost·256 + pieces) so the DP is a plain running `least`.
    // The DP rides the plan as a codegen'd array fold; the bounded
    // vocabulary (chars + 256 grams) rides it as a MAP LITERAL — the
    // q282 "centroids ride the projection" shape, so segmentation is
    // scan-speed at any corpus size and the only collected state is
    // the vocabulary itself (guarded). Oracle: the DP unrolled as 16
    // chained CTE rounds (the q125/q127 discipline), min(enc) per
    // position.
    "q294_unigram_segment" -> ((s, d) => {
      val wf = wordFreqs(s, d)
      val costMap = unigramSeedCosts(wf)
      val vocabLit = typedLit(costMap)
      val sentinel = lit(Long.MaxValue / 4)
      val enc = aggregate(
        sequence(lit(1), length(col("w"))),
        array(lit(0L)),
        (acc, i) => {
          def cand(l: Int): Column = {
            val c = element_at(vocabLit, col("w").substr(i - (l - 1), lit(l)))
            when(i >= l && c.isNotNull,
              element_at(acc, i - l + 1) + c * 256L + 1L).otherwise(sentinel)
          }
          array_append(acc, least(cand(1), cand(2), cand(3)))
        },
        acc => element_at(acc, -1))
      wf.filter(length(col("w")).between(2, 16))
        .orderBy(col("freq").desc, col("w")).limit(200)
        .withColumn("enc", enc)
        .select(col("w"), col("freq"),
          floor(col("enc") / 256).cast("long").as("cost"),
          pmod(col("enc"), lit(256L)).cast("long").as("n_pieces"))
        .orderBy(col("freq").desc, col("w"))
    }),

    // Unigram-LM EM TRAINING (Kudo 2018 §3.2, hard-EM variant — the
    // trainer behind q294's fixed-vocabulary inference, completing the
    // SentencePiece story the way q290 completed BPE): two EM rounds
    // over the q294 seed vocabulary. E-step = Viterbi-segment every
    // DISTINCT word (≤16 chars) under the current integer costs — the
    // forward DP packs (cost·4 + 3−chosenLen) per position so ONE
    // array fold yields both the optimum and its backtrace, and a
    // second fold walks pos ← pos − len emitting the winning pieces;
    // M-step = freq-weighted piece usage → cost = flog2(totalUse) −
    // flog2(cnt) + 1 (unused candidates keep a finite flog2(total)+2
    // penalty so coverage never breaks). All integer arithmetic
    // (shifts, not division) — bit-identical across engines, no float
    // likelihoods. Scale: the corpus is touched once (word-frequency
    // count); every EM round works on the vocabulary-bounded DISTINCT
    // word table with the cost table riding the plan as a map literal
    // (the q282/q294 shape); driver state per round = the
    // vocabulary-bounded usage table (guarded) + two scalars. Oracle:
    // both rounds replayed as unrolled DP + backtrace-walk CTE chains.
    "q304_unigram_em" -> ((s, d) => {
      val (wf16, seed) = emSeed(s, d)
      var costs = seed
      val rounds = (1 to 2).map { step =>
        val (corpusCost, usage, reEst) = emRound(wf16, costs)
        costs = reEst
        // the round's rows come from the collected usage table
        val costLit = typedLit(costs)
        localTable(s, "piece STRING, cnt BIGINT",
            usage.toSeq.map { case (p, c) => Row(p, c) })
          .orderBy(col("cnt").desc, col("piece")).limit(40)
          .select(lit(step).as("step"), col("piece"), col("cnt"),
            element_at(costLit, col("piece")).as("new_cost"),
            lit(corpusCost).as("corpus_cost"))
      }
      rounds.reduce(_ union _)
        .orderBy(col("step"), col("cnt").desc, col("piece"))
    }),

    // Unigram-LM VOCABULARY PRUNING to a target size (Kudo 2018 §3.2's
    // full trainer loop, completing q304): EM rounds alternate with
    // pruning the lowest-contribution pieces — after each round's
    // usage-weighted re-estimation, single-character pieces ALWAYS
    // survive (character coverage: any word stays segmentable) while
    // multi-character pieces keep only the top-K by corpus usage
    // (seed ≈ chars+256 → chars+128 → chars+64). A final evaluation
    // pass segments the corpus under the surviving vocabulary, so the
    // output pins the whole trajectory: the surviving pieces with
    // their final costs AND the per-round corpus cost (decreasing —
    // re-estimation concentrates probability mass faster than pruning
    // rare pieces loses it). Scale: identical to q304 — the corpus is
    // touched once (word frequencies); every round is vocabulary-
    // bounded work over the distinct-word table with the cost table
    // riding the plan as a map literal; driver state = the bounded
    // usage table (guarded) per round.
    "q309_unigram_prune" -> ((s, d) => {
      val (wf16, costs, roundCosts, lastUsage) =
        emTrainPrune(s, d, Seq(128, 64))
      // final evaluation pass under the surviving vocabulary
      val finalCost =
        emCorpusCost(wf16.withColumn("dp", emViterbiDp(typedLit(costs))))
      val usageLit = typedLit(lastUsage)
      val costLit = typedLit(costs)
      localTable(s, "piece STRING NOT NULL", costs.keys.toSeq.sorted.map(Row(_)))
        .select(col("piece"),
          length(col("piece")).cast("long").as("piece_len"),
          coalesce(element_at(usageLit, col("piece")), lit(0L)).as("cnt"),
          element_at(costLit, col("piece")).as("cost"),
          lit(roundCosts.head).as("cost_round1"),
          lit(roundCosts(1)).as("cost_round2"),
          lit(finalCost).as("cost_final"),
          lit(costs.size.toLong).as("vocab_size"))
        .orderBy(col("cnt").desc, col("piece"))
    }),

    // Unigram-LM CORPUS ENCODING under the pruned vocabulary — the
    // q290 (BPE-encode) shape for the unigram family, completing the
    // tokenizer symmetry train→prune→ENCODE: q309's trainer produces
    // the final cost table, each DISTINCT word is Viterbi-segmented
    // ONCE (the DP + backtrace as codegen'd array folds, costs riding
    // as a map literal), and the encoded vocabulary joins back onto
    // the exploded corpus. Output = per-doc exact piece totals plus
    // each doc's head-word segmentation string, so the oracle
    // verifies counts AND piece CONTENT/ORDER. At 100 TB the
    // corpus-scale work is one explode + one vocabulary equi-join +
    // per-doc aggregation — segmentation cost is vocabulary-bounded.
    "q318_unigram_encode" -> ((s, d) => {
      val (wf16, costs, _, _) = emTrainPrune(s, d, Seq(128, 64))
      // emBacktrace emits pieces END→START; reverse for reading order
      val encoded = wf16
        .withColumn("dp", emViterbiDp(typedLit(costs)))
        .withColumn("pieces", reverse(emBacktrace()))
        .select(col("w"), size(col("pieces")).cast("long").as("n"),
          concat_ws("|", col("pieces")).as("enc"))
        .localCheckpoint() // each distinct word encoded once
      encodeCorpus(Tables.documents(s, d), encoded, "n_pieces")
    }),

    // Stupid-Backoff bigram LM surprisal (Brants et al. 2007, "Large
    // Language Models in Machine Translation" — the web-scale LM
    // scoring recipe: score backs off to the unigram with a fixed
    // factor, no normalization, which is what makes it exactly
    // integer-quantizable). Completes the LM-quality family: q214 is
    // the unigram scorer; this is the conditional bigram scorer with
    // real out-of-vocabulary handling. The LM trains on the EVEN-
    // doc_id half (bigram+unigram counts) and scores the ODD half —
    // the q235/q236 held-out discipline, so unseen bigrams AND unseen
    // words genuinely exercise both backoff tiers. Per position i≥2:
    //   seen bigram            → flog2(c(prev) div c(prev,cur))
    //   unseen bigram, seen w  → flog2(N div c(cur)) + 1  (0.4 ≈ 1 bit)
    //   unseen word            → flog2(N) + 2
    // All integer (the q214 flog2 discipline). Scale: count tables
    // are corpus-bounded aggregates; scoring = one explode + three
    // equi-joins + a per-doc rollup — no per-row UDF, no driver state.
    "q315_backoff_lm" -> ((s, d) => {
      val (train, cb, held) = bigramLm(Tables.documents(s, d))
      val cu = train.select(explode(toks(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cu"))
      val nTot = cu.agg(sum(col("cu")).as("n_tot"))
      held
        .join(cb, Seq("prev", "cur"), "left")
        .join(cu.select(col("w").as("prev"), col("cu").as("cprev")),
          Seq("prev"), "left")
        .join(cu.select(col("w").as("cur"), col("cu").as("ccur")),
          Seq("cur"), "left")
        .crossJoin(broadcast(nTot))
        .withColumn("s",
          when(col("cb").isNotNull, blog2(expr("cprev div cb")))
          .when(col("ccur").isNotNull, blog2(expr("n_tot div ccur")) + 1)
          .otherwise(blog2(col("n_tot")) + 2))
        .withColumn("backoff", col("cb").isNull.cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("s")).as("surprisal"),
          sum(col("backoff")).as("n_backoff"))
        .withColumn("milli_bits_per_bigram",
          expr("(1000 * surprisal) div n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    // Interpolated KNESER-NEY bigram LM (Kneser & Ney 1995; Chen &
    // Goodman 1998 — THE standard n-gram smoothing): completes the LM
    // family next to Stupid Backoff (q315). Where backoff swaps in the
    // raw unigram, KN discounts every seen bigram by a fixed D = 3/4
    // and redistributes the held-out mass over the CONTINUATION
    // distribution Pcont(w) = N1+(·w)/N1+(··) — "how many contexts
    // does w follow" (the reason 'Francisco' scores low despite high
    // frequency). With D = 3/4 the probability is the exact rational
    //   P(w|v) = [(4c(v,w)−3)⁺·Nbb + 3·N1+(v·)·N1+(·w)] / (4c(v)·Nbb)
    // so surprisal quantizes to blog2(denom div numer) — all integer,
    // replicated verbatim by the oracle (the q315/q214 flog2
    // discipline). Trains on even docs, scores held-out odd docs; the
    // three tiers (seen context, unseen context → pure Pcont, OOV
    // word) all genuinely fire. Scale: the model IS three count
    // tables (corpus-bounded aggregates of one bigram pass); scoring
    // is one explode + three equi-joins + a per-doc rollup — no UDF,
    // no driver state, same 100 TB shape as q315.
    "q330_kneser_ney" -> ((s, d) => {
      val (_, bigramCounts, held) = bigramLm(Tables.documents(s, d))
      // one bigram pass feeds all 3 count tables
      val cb = bigramCounts.localCheckpoint()
      // c(v) = Σ_w c(v,w) and N1+(v·) in one rollup; N1+(·w) in the
      // other; N1+(··) = total bigram TYPES (the Pcont denominator)
      val ctx = cb.groupBy(col("prev"))
        .agg(sum(col("cb")).as("cv"), count(lit(1)).as("n1v"))
      val cont = cb.groupBy(col("cur")).agg(count(lit(1)).as("ncw"))
      val nbb = cb.agg(count(lit(1)).as("nbb"))
      held
        .join(cb, Seq("prev", "cur"), "left")
        .join(ctx, Seq("prev"), "left")
        .join(cont, Seq("cur"), "left")
        .crossJoin(broadcast(nbb))
        .withColumn("s",
          // BIGINT-range guard (ADVICE r11): the rational arithmetic
          // is exact only while 4·cv·nbb and 3·n1v·ncw fit a long —
          // cv ≤ tokens-per-context, nbb = bigram TYPES, so the bound
          // holds up to cv·nbb < 2^61 (far past every tested SF, but
          // breakable on a 100 TB corpus with a huge type inventory).
          // Non-ANSI Spark would WRAP silently where DuckDB errors;
          // fail loudly instead — past the bound the fix is log-domain
          // or DECIMAL(38) scoring, not a quiet wrong sign bit.
          when(col("cv").isNotNull && col("ncw").isNotNull,
            blog2(expr(
              "if(cv <= 1152921504606846975 div nbb and " +     // 2^60-1
              "   n1v <= 768614336404564650 div ncw, " + // (2^61-1)/3
              // bounds chosen so numerator ≤ 2^62 and the denominator
              // SUM ≤ 2^62 + 2^61 — no intermediate can wrap

              "(4 * cv * nbb) div " +
              "((case when cb is null then 0 else 4 * cb - 3 end) * nbb" +
              " + 3 * n1v * ncw), " +
              "cast(assert_true(false, 'q330: cv*nbb exceeds bigint " +
              "range at this corpus scale - rescore in log-domain or " +
              "DECIMAL(38)') as bigint))")))
          .when(col("ncw").isNotNull, blog2(expr("nbb div ncw")))
          .otherwise(blog2(col("nbb")) + 2))
        .withColumn("discounted", (col("cb").isNull &&
          col("cv").isNotNull && col("ncw").isNotNull).cast("long"))
        .withColumn("oov", col("ncw").isNull.cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("s")).as("surprisal"),
          sum(col("discounted")).as("n_cont"),
          sum(col("oov")).as("n_oov"))
        .withColumn("milli_bits_per_bigram",
          expr("(1000 * surprisal) div n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING winnowing gate at ingestion — q280's fingerprints
    // recomputed as a PURE PER-ROW PROJECTION (grams → packed keys →
    // per-window minima → distinct hashes, all inside array
    // functions; no SQL window → streaming-legal and scan-speed at
    // ingest): the lower-id half is the frozen corpus fingerprint
    // set, the upper half arrives in three micro-batches, and a doc
    // flags when ≥2 of its fingerprints already exist in the corpus
    // (the q154/q218 snapshot+stream shape; per-batch work is a
    // stateless stream-static equi-join — the fingerprint set is
    // corpus-sized, so at 100 TB it stays a distributed join, not a
    // broadcast). Same key packing as q280, so batch and streaming
    // legs can never drift.
    "q284_winnow_stream" -> ((s, d) => {
      import graft.streaming.Replay
      // TWO projection steps, not one expression: a Column subtree is
      // DUPLICATED at every reference, so inlining `keys` into the
      // per-window lambda would re-run every gram md5 once per window
      // — O(n²·w) per doc (measured: 67 s for 5k docs). Materializing
      // __keys as its own column evaluates it once per row;
      // CollapseProject keeps the boundary because the non-cheap HOF
      // output is referenced more than once downstream.
      def withFps(df: DataFrame): DataFrame = {
        val ws = toks(col("text"))
        val grams = transform(sequence(lit(1), greatest(size(ws) - 2, lit(1))),
          i => concat_ws(" ", slice(ws, i, lit(3))))
        df.withColumn("__keys", transform(grams, (g, i0) =>
            conv(substring(md5(g), 1, 8), 16, 10).cast("long") * lit(1048576L) +
              (lit(1048575L) - (i0 + 1))))
          .withColumn("__fps", array_distinct(transform(
            sequence(lit(1), greatest(size(col("__keys")) - 3, lit(1))),
            j => floor(array_min(slice(col("__keys"), j, lit(4))) /
              lit(1048576L)).cast("long"))))
          .drop("__keys")
      }
      val (corpus, ep) = Replay.snapshotSplit(Tables.documents(s, d), "doc_id")
      // explode_OUTER on purpose: plain explode triggers
      // InferFiltersFromGenerate, which pushes a `size(fps) > 0`
      // filter to the scan with the WHOLE fingerprint expression
      // inlined — the O(n²·w) re-evaluation the __keys column split
      // exists to avoid (measured 100 s vs 4 s at sf0.1). The arrays
      // are never empty (≥1 window always), so outer ≡ inner here.
      val corpusFps = withFps(corpus)
        .select(explode_outer(col("__fps")).as("fh")).distinct().cache()
      val out = s"${ep.dir}/out"
      ep.runBatches(ep.streamDf(s)) { (b, _) =>
        val hits = withFps(b)
          .select(col("doc_id"), explode_outer(col("__fps")).as("fh"))
          .join(corpusFps, Seq("fh"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        b.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .write.mode("append").parquet(out)
      }
      corpusFps.unpersist()
      Tables.read(s, out)
        .withColumn("flagged", col("n_hits") >= 2)
        .orderBy(col("doc_id"))
    })
  )

  // CosineSimilarity's exact three-fold accumulation (q269's cosSql)
  private def cosFold(a: String, b: String): String = {
    def f(ex: String): String =
      s"list_reduce(list_transform(range(1, 65), i -> $ex), (x,y) -> x+y)"
    s"${f(s"$a[i]*$b[i]")} / (sqrt(${f(s"$a[i]*$a[i]")}) * " +
      s"sqrt(${f(s"$b[i]*$b[i]")}))"
  }

  /** Shared q286/q290 oracle prefix: 3-round BPE training as
    * recursive CTEs — wf (corpus word frequencies), m0 (char tokens),
    * p_k/r_k (pair counts + 1-row argmax rule), w_k (the index-walk
    * re-tokenization), m_k (the round's merged vocabulary); ends at
    * m3, the fully merged vocabulary the encoder oracle reads. */
  private val bpeTrainCte: String = {
    def round(k: Int) =
      s"""p$k AS (SELECT t.toks[i] AS a, t.toks[i+1] AS b,
         |         sum(t.freq)::BIGINT AS cnt
         |       FROM m${k - 1} t, unnest(range(1, len(t.toks))) AS u(i)
         |       GROUP BY 1, 2),
         |r$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |w$k AS (SELECT m.w, m.freq, m.toks, r.a, r.b, 1 AS i,
         |         []::VARCHAR[] AS out
         |       FROM m${k - 1} m, r$k r
         |       UNION ALL
         |       SELECT w, freq, toks, a, b,
         |         CASE WHEN i < len(toks) AND toks[i] = a AND toks[i+1] = b
         |              THEN i + 2 ELSE i + 1 END,
         |         CASE WHEN i < len(toks) AND toks[i] = a AND toks[i+1] = b
         |              THEN list_append(out, a || b)
         |              ELSE list_append(out, toks[i]) END
         |       FROM w$k WHERE i <= len(toks)),
         |m$k AS (SELECT w, freq, out AS toks FROM w$k WHERE i = len(toks) + 1),
         |""".stripMargin
    """WITH RECURSIVE
      |wf AS (SELECT w, count(*)::BIGINT AS freq
      |       FROM (SELECT unnest(string_split(text,' ')) AS w
      |             FROM documents)
      |       WHERE len(w) > 0 GROUP BY w),
      |m0 AS (SELECT w, freq,
      |         list_transform(range(1, len(w)+1), i -> w[i:i]) AS toks
      |       FROM wf),
      |""".stripMargin + (1 to 3).map(round).mkString
  }

  /** q236's leakage audit as DuckDB SQL (also q237's oracle). */
  private val splitLeakageSql =
    s"""WITH d AS (
      |  SELECT doc_id, text,
      |    $contentSplitSql AS split
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT split, doc_id, sh FROM (
      |    SELECT split, doc_id, unnest(${TextQueries.shinglesSql}) AS sh
      |    FROM d)),
      |train AS (SELECT DISTINCT sh FROM sh WHERE split = 'train')
      |SELECT doc_id, count(*) AS n_shared
      |FROM sh JOIN train USING (sh) WHERE split = 'test'
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q282_cluster_mix" ->
      s"""WITH de AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, dv AS cv
         |  FROM de ORDER BY vec_id LIMIT 8),
         |asg AS (
         |  SELECT d.vec_id, c.j, ${cosFold("d.dv", "c.cv")} AS sim
         |  FROM de d, cents c),
         |cl AS (
         |  SELECT vec_id AS doc_id, j AS cluster FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, j) AS rn
         |    FROM asg) WHERE rn = 1),
         |sc AS (SELECT doc_id, text,
         |         len(string_split(text,' '))::BIGINT AS n_tok
         |       FROM documents),
         |b AS (SELECT sum(n_tok)::BIGINT // 16 AS budget FROM sc),
         |cum AS (
         |  SELECT s.doc_id, cl.cluster, s.n_tok,
         |    sum(s.n_tok) OVER (PARTITION BY cl.cluster
         |      ORDER BY md5(s.text), s.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS cum_tok
         |  FROM sc s JOIN cl ON cl.doc_id = s.doc_id)
         |SELECT doc_id, cluster, n_tok, cum_tok <= b.budget AS kept
         |FROM cum, b ORDER BY doc_id""".stripMargin,
    "q283_contamination_13gram" ->
      s"""WITH base AS (
         |  SELECT doc_id, string_split(text,' ') AS ws,
         |    $contentSplitSql AS split
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, split,
         |    unnest(list_transform(range(1, greatest(len(ws) - 11, 2)),
         |      i -> ('0x'||substr(md5(
         |             array_to_string(ws[i:i+12], ' ')),1,8))::BIGINT)) AS h
         |  FROM base),
         |tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
         |te AS (SELECT doc_id, h FROM g WHERE split = 'test')
         |SELECT te.doc_id, count(*)::BIGINT AS n_grams,
         |  count(tr.h)::BIGINT AS n_dirty,
         |  count(tr.h) > 0 AS dirty,
         |  (1000 * count(tr.h)) // count(*) AS contam_permille
         |FROM te LEFT JOIN tr ON te.h = tr.h
         |GROUP BY te.doc_id ORDER BY te.doc_id""".stripMargin,
    "q287_dedup_clusters" -> ("WITH " + CorpusQueries.winnowPostingCtes +
      """,
        |pr AS (SELECT a.doc_id AS src, b.doc_id AS dst
        |       FROM p a JOIN p b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |bidir AS (SELECT src, dst FROM pr UNION SELECT dst, src FROM pr),
        |cc AS (
        |  SELECT id, min(reach) AS component FROM (
        |    WITH RECURSIVE r(id, reach) AS (
        |      SELECT doc_id, doc_id FROM documents
        |      UNION
        |      SELECT r.id, e.dst FROM r JOIN bidir e ON e.src = r.reach)
        |    SELECT id, reach FROM r)
        |  GROUP BY id),
        |sz AS (SELECT component, count(*) AS n_members FROM cc GROUP BY 1)
        |SELECT cc.id AS doc_id, cc.component AS cluster, sz.n_members,
        |       cc.id = cc.component AS is_canonical
        |FROM cc JOIN sz USING (component) ORDER BY doc_id""".stripMargin),
    "q286_bpe_merges" -> (bpeTrainCte +
      """s1 AS (SELECT sum(freq * len(toks))::BIGINT AS t FROM m1),
        |s2 AS (SELECT sum(freq * len(toks))::BIGINT AS t FROM m2),
        |s3 AS (SELECT sum(freq * len(toks))::BIGINT AS t FROM m3)
        |SELECT * FROM (
        |  SELECT 1 AS step, r1.a AS lhs, r1.b AS rhs, r1.cnt AS pair_count,
        |         s1.t AS tokens_after FROM r1, s1
        |  UNION ALL
        |  SELECT 2, r2.a, r2.b, r2.cnt, s2.t FROM r2, s2
        |  UNION ALL
        |  SELECT 3, r3.a, r3.b, r3.cnt, s3.t FROM r3, s3
        |) ORDER BY step""".stripMargin),

    "q290_bpe_encode" -> (bpeTrainCte +
      """dw AS (SELECT d.doc_id, u.w
        |       FROM documents d, unnest(string_split(d.text, ' ')) AS u(w)
        |       WHERE len(u.w) > 0),
        |pd AS (SELECT dw.doc_id, count(*)::BIGINT AS n_words,
        |              sum(len(e.toks))::BIGINT AS n_tokens
        |       FROM dw JOIN m3 e ON e.w = dw.w GROUP BY 1),
        |he AS (SELECT d.doc_id, array_to_string(e.toks, '|') AS head_enc
        |       FROM documents d
        |       LEFT JOIN m3 e ON e.w = string_split(d.text, ' ')[1])
        |SELECT pd.doc_id, pd.n_words, pd.n_tokens, he.head_enc
        |FROM pd JOIN he USING (doc_id) ORDER BY pd.doc_id""".stripMargin),
    "q284_winnow_stream" ->
      """WITH hf AS (SELECT max(doc_id) // 2 AS half FROM documents),
        |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |k AS (SELECT doc_id,
        |        list_transform(range(1, greatest(len(ws) - 1, 2)),
        |          i -> ('0x'||substr(md5(
        |                 array_to_string(ws[i:i+2],' ')),1,8))::BIGINT
        |               * 1048576 + (1048575 - i)) AS keys
        |      FROM w),
        |fp AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(
        |           range(1, greatest(len(keys) - 2, 2)),
        |           j -> list_min(keys[j:j+3]) // 1048576))) AS fh
        |       FROM k),
        |corpus AS (SELECT DISTINCT fh FROM fp, hf WHERE doc_id < half),
        |up AS (SELECT doc_id, fh FROM fp, hf WHERE doc_id >= half),
        |hits AS (SELECT up.doc_id, count(*) AS n_hits
        |         FROM up JOIN corpus USING (fh) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) >= 2 AS flagged
        |FROM (SELECT doc_id FROM documents, hf WHERE doc_id >= half) d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q214_surprisal_score" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |            FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n_tot FROM cnt)
        |SELECT doc_id, count(*) AS n_tok,
        |  sum(length(bin(n_tot // c)) - 1)::BIGINT AS surprisal,
        |  (1000 * sum(length(bin(n_tot // c)) - 1)::BIGINT) // count(*)
        |    AS bits_per_tok_milli
        |FROM tok JOIN cnt USING (term), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q215_dsir_weight" ->
      s"""WITH feat AS (
         |  SELECT doc_id, lang, ${md5iSql("bg")} % $nBuckets AS f
         |  FROM (SELECT doc_id, lang, unnest($bigramsSql) AS bg
         |        FROM documents)),
         |ct AS (SELECT f, count(*) AS ct FROM feat WHERE lang = 'en'
         |       GROUP BY 1),
         |cr AS (SELECT f, count(*) AS cr FROM feat GROUP BY 1),
         |qw AS (SELECT cr.f,
         |         (${blog2Sql("coalesce(ct.ct, 0) + 1")} -
         |          ${blog2Sql("cr.cr + 1")})::BIGINT AS qw
         |       FROM cr LEFT JOIN ct USING (f))
         |SELECT doc_id, lang, count(*) AS n_feat, sum(qw)::BIGINT AS weight
         |FROM feat JOIN qw USING (f)
         |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "q216_boilerplate_strip" -> ("WITH " + chunkCleanSql("documents",
      s"""boiler AS (
         |  SELECT chunk FROM ch GROUP BY chunk
         |  HAVING count(DISTINCT doc_id) >= $boilerDf),
         |kept AS (
         |  SELECT ch.doc_id, ch.idx, ch.chunk
         |  FROM ch ANTI JOIN boiler b ON ch.chunk = b.chunk)""".stripMargin)),
    "q217_novelty_score" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents)),
         |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_sh,
         |  count(CASE WHEN first_doc = doc_id THEN 1 END) AS n_novel,
         |  (1000 * count(CASE WHEN first_doc = doc_id THEN 1 END)) // count(*)
         |    AS novelty_permille
         |FROM sh JOIN f USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q218_stream_surprisal" ->
      """WITH hf AS (SELECT max(doc_id) // 2 AS half FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |        FROM documents, hf WHERE doc_id >= hf.half),
        |cnt AS (SELECT term, count(*) AS c FROM (
        |          SELECT unnest(string_split(text,' ')) AS term
        |          FROM documents, hf WHERE doc_id < hf.half) GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n_tot FROM cnt)
        |SELECT doc_id, count(*) AS n_tok,
        |  sum(length(bin(n_tot // (coalesce(c, 0) + 1))) - 1)::BIGINT
        |    AS surprisal
        |FROM tok LEFT JOIN cnt USING (term), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q219_quality_quantile" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text,' '))::BIGINT AS n_tok,
        |    (1000 * len(list_distinct(string_split(text,' ')))::BIGINT)
        |      // len(string_split(text,' ')) AS ttr
        |  FROM documents)
        |SELECT doc_id, lang, n_tok, ttr,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY ttr DESC, doc_id)::BIGINT
        |    AS quartile,
        |  ntile(4) OVER (PARTITION BY lang ORDER BY ttr DESC, doc_id) = 1
        |    AS kept
        |FROM sc ORDER BY doc_id""".stripMargin,
    "q220_token_budget_select" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(string_split(text,' '))::BIGINT AS n_tok,
        |    (1000 * len(list_distinct(string_split(text,' ')))::BIGINT)
        |      // len(string_split(text,' ')) AS ttr
        |  FROM documents),
        |hist AS (SELECT ttr, sum(n_tok)::BIGINT AS t FROM sc GROUP BY 1),
        |cum AS (SELECT ttr, coalesce(sum(t) OVER (ORDER BY ttr DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |          AS cum_before FROM hist),
        |b AS (SELECT sum(n_tok)::BIGINT // 10 AS budget FROM sc),
        |t AS (SELECT sc.doc_id, sc.ttr, sc.n_tok, cum.cum_before,
        |        sum(sc.n_tok) OVER (PARTITION BY sc.ttr ORDER BY sc.doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |          AS tier_cum
        |      FROM sc JOIN cum USING (ttr))
        |SELECT doc_id, ttr, n_tok, (cum_before + tier_cum)::BIGINT AS cum_tok
        |FROM t, b WHERE cum_before + tier_cum <= b.budget
        |ORDER BY doc_id""".stripMargin,
    "q251_pii_redact" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' ip 10.' || (doc_id % 256) || '.0.1 mail u' || doc_id ||
        |    '@example.com tel 555-' || doc_id AS t
        |FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+', 0))::INT AS n_email,
        |  len(regexp_extract_all(t, '555-[0-9]+', 0))::INT AS n_phone,
        |  len(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', 0))::INT AS n_ip,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '<IP>', 'g'),
        |    '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g')) AS red_md5
        |FROM t ORDER BY doc_id""".stripMargin,

    "q235_source_drift" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS term
         |            FROM documents),
         |cs AS (SELECT source, term, count(*) AS c_s FROM tok GROUP BY 1, 2),
         |ct AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |ns AS (SELECT source, count(*) AS n_s FROM tok GROUP BY 1),
         |nt AS (SELECT count(*) AS n_tot FROM tok)
         |SELECT source, max(n_s)::BIGINT AS n_tok,
         |  sum(c_s * (${blog2Sql("c_s * n_tot")} -
         |             ${blog2Sql("c * n_s")}))::BIGINT AS drift_q
         |FROM cs JOIN ct USING (term) JOIN ns USING (source), nt
         |GROUP BY source ORDER BY source""".stripMargin,
    "q236_split_leakage" -> splitLeakageSql,
    // the streaming gate must land on the very same audit rows the
    // one-shot batch computes: q236's SQL
    "q237_stream_leakage" -> splitLeakageSql,
    "q231_dup_spans_maximal" ->
      s"""WITH pos AS (
         |  SELECT doc_id, s.pos AS pos, s.sh AS sh FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(
         |        range(1, greatest(len(string_split(text,' ')) - 2, 2)),
         |        i -> struct_pack(pos := i,
         |          sh := array_to_string(string_split(text,' ')[i:i+3], ' '))))
         |        AS s
         |    FROM documents)),
         |occ AS (SELECT sh, count(*) AS occ FROM pos GROUP BY 1),
         |dup AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |      AS island
         |  FROM pos JOIN occ USING (sh) WHERE occ >= 2)
         |SELECT doc_id, min(pos)::BIGINT AS start_tok,
         |  (max(pos) + 3)::BIGINT AS end_tok,
         |  (max(pos) + 3 - min(pos) + 1)::BIGINT AS span_tokens
         |FROM dup GROUP BY doc_id, island
         |HAVING max(pos) + 3 - min(pos) + 1 >= 8
         |ORDER BY doc_id, start_tok""".stripMargin,
    "q291_dup_span_witness" ->
      s"""WITH pos AS (
         |  SELECT doc_id, s.pos AS pos,
         |    ('0x'||substr(md5(s.sh),1,15))::BIGINT AS sh FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(
         |        range(1, greatest(len(string_split(text,' ')) - 2, 2)),
         |        i -> struct_pack(pos := i,
         |          sh := array_to_string(string_split(text,' ')[i:i+3], ' '))))
         |        AS s
         |    FROM documents)),
         |occ AS (SELECT sh, count(*) AS occ, count(DISTINCT doc_id) AS df
         |        FROM pos GROUP BY 1),
         |post AS (SELECT DISTINCT p.sh, p.doc_id AS wit
         |         FROM pos p JOIN occ o USING (sh)
         |         WHERE o.df BETWEEN 2 AND 16),
         |dup AS (SELECT p.doc_id, p.pos, p.sh
         |        FROM pos p JOIN occ o USING (sh) WHERE o.occ >= 2),
         |wmin AS (SELECT d.doc_id, d.pos, min(po.wit) AS wmin
         |         FROM dup d LEFT JOIN post po
         |           ON po.sh = d.sh AND po.wit <> d.doc_id
         |         GROUP BY 1, 2),
         |isl AS (SELECT doc_id, pos, wmin,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
         |            AS island
         |        FROM wmin)
         |SELECT doc_id, min(pos)::BIGINT AS start_tok,
         |  (max(pos) + 3)::BIGINT AS end_tok,
         |  (max(pos) + 3 - min(pos) + 1)::BIGINT AS span_tokens,
         |  min(wmin) AS witness_doc,
         |  (min(wmin) IS NOT NULL AND min(wmin) < doc_id) AS excise
         |FROM isl GROUP BY doc_id, island
         |HAVING max(pos) + 3 - min(pos) + 1 >= 8
         |ORDER BY doc_id, start_tok""".stripMargin,
    "q294_unigram_segment" -> {
      // the Viterbi DP unrolled as 16 chained CTE rounds: d_k holds
      // min-encoded (cost·256 + pieces) per word at position k; the
      // single-char vocab leg guarantees every word survives each
      // round, so the round where k = len(w) carries the answer
      val steps = (1 to 16).map { k =>
        val legs = (1 to 3).filter(_ <= k).map { l =>
          s"""  SELECT p.w, p.enc + v.cost*256 + 1 AS enc
             |  FROM d${k - l} p JOIN vocab v
             |    ON v.piece = substr(p.w, ${k - l + 1}, $l)
             |  WHERE len(p.w) >= $k""".stripMargin
        }.mkString("\n  UNION ALL\n")
        // MATERIALIZED everywhere (the q127 discipline): plain CTEs
        // re-inline — 48 legs each re-scanning documents exhausts
        // file handles and re-runs the vocab build per leg
        s"d$k AS MATERIALIZED (SELECT w, min(enc) AS enc FROM (\n$legs\n) GROUP BY w)"
      }.mkString(",\n")
      val fin = (2 to 16)
        .map(k => s"  SELECT w, enc FROM d$k WHERE len(w) = $k")
        .mkString("\n  UNION ALL\n")
      s"""WITH ${seedCostCtes("tot", "vocab")},
         |words200 AS MATERIALIZED (
         |             SELECT w, freq FROM wf WHERE len(w) BETWEEN 2 AND 16
         |             ORDER BY freq DESC, w LIMIT 200),
         |d0 AS MATERIALIZED (SELECT w, 0::BIGINT AS enc FROM words200),
         |$steps,
         |fin AS (
         |$fin)
         |SELECT w2.w, w2.freq, (fin.enc // 256)::BIGINT AS cost,
         |  (fin.enc % 256)::BIGINT AS n_pieces
         |FROM words200 w2 JOIN fin ON fin.w = w2.w
         |ORDER BY w2.freq DESC, w2.w""".stripMargin
    },

    // Both EM rounds replayed: per round, the forward DP unrolled as
    // 16 chained CTE steps over packed (cost·4 + 3−len) values, then
    // the backtrace unrolled as 16 walk steps (pos ← pos − len,
    // emitting each winning piece), usage → flog2 re-estimation —
    // all-integer, so the replay is exact. MATERIALIZED throughout
    // (the q294/q127 discipline).
    "q304_unigram_em" ->
      s"""WITH $emSeedCtes,
         |${emDpBlock(1, "v0", "v0")},
         |${emDpBlock(2, "v1", "v0")}
         |SELECT step, piece, cnt, new_cost, corpus_cost FROM (
         |  SELECT 1 AS step, u.piece, u.cnt, v.cost AS new_cost,
         |         c.c AS corpus_cost,
         |         row_number() OVER (ORDER BY u.cnt DESC, u.piece) AS rk
         |  FROM usage1 u JOIN v1 v ON v.piece = u.piece CROSS JOIN cost1 c
         |  UNION ALL
         |  SELECT 2, u.piece, u.cnt, v.cost, c.c,
         |         row_number() OVER (ORDER BY u.cnt DESC, u.piece)
         |  FROM usage2 u JOIN v2 v ON v.piece = u.piece CROSS JOIN cost2 c)
         |WHERE rk <= 40 ORDER BY step, cnt DESC, piece""".stripMargin,

    // The pruning trainer replayed: round 1 under the seed vocabulary,
    // prune v1 to chars + top-128 multi-char pieces by usage, round 2
    // under the pruned table re-estimated over ITS OWN domain, prune
    // to chars + top-64, then one DP-only evaluation pass under the
    // final vocabulary. All-integer, MATERIALIZED throughout.
    "q309_unigram_prune" ->
      s"""WITH $emPrunedVocabCtes,
         |${emDpSteps(3, "vp2")}
         |SELECT p.piece, len(p.piece)::BIGINT AS piece_len,
         |  coalesce(u.cnt, 0)::BIGINT AS cnt, p.cost,
         |  c1.c AS cost_round1, c2.c AS cost_round2, c3.c AS cost_final,
         |  (SELECT count(*) FROM vp2)::BIGINT AS vocab_size
         |FROM vp2 p LEFT JOIN usage2 u USING (piece)
         |CROSS JOIN cost1 c1 CROSS JOIN cost2 c2 CROSS JOIN cost3 c3
         |ORDER BY cnt DESC, p.piece""".stripMargin,

    // The encoder replayed: the trained+pruned vocabulary (the q309
    // prefix), one more DP over every ≤16-char word, a TAGGED
    // backtrace walk (step index j — pieces read left-to-right as
    // j DESC), then the per-doc rollup + head-word segmentation.
    "q318_unigram_encode" -> {
      val walk3 = (1 to 16).map { j =>
        s"""s3_$j AS MATERIALIZED (
           |  SELECT b.w, b.pos, (3 - (d.packed % 4)) AS l
           |  FROM b3_${j - 1} b JOIN dp3 d
           |    ON d.w = b.w AND d.pos = b.pos
           |  WHERE b.pos > 0),
           |p3_$j AS (SELECT w, $j AS j, substr(w, pos - l + 1, l) AS piece
           |          FROM s3_$j),
           |b3_$j AS (SELECT w, pos - l AS pos FROM s3_$j)""".stripMargin
      }.mkString(",\n")
      val pU = (1 to 16).map(j => s"  SELECT w, j, piece FROM p3_$j")
        .mkString("\n  UNION ALL\n")
      s"""WITH $emPrunedVocabCtes,
         |${emDpSteps(3, "vp2")},
         |b3_0 AS (SELECT w, len(w) AS pos FROM wf16),
         |$walk3,
         |enc AS MATERIALIZED (
         |  SELECT w, count(*)::BIGINT AS n,
         |    string_agg(piece, '|' ORDER BY j DESC) AS enc
         |  FROM (
         |$pU) GROUP BY w),
         |tok AS (SELECT doc_id, t.w FROM (
         |          SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |          FROM documents) t WHERE len(t.w) > 0),
         |perdoc AS (SELECT doc_id, count(*)::BIGINT AS n_words,
         |             sum(e.n)::BIGINT AS n_pieces
         |           FROM tok JOIN enc e USING (w) GROUP BY 1),
         |hd AS (SELECT doc_id, string_split(text, ' ')[1] AS w
         |       FROM documents)
         |SELECT p.doc_id, p.n_words, p.n_pieces, e.enc AS head_enc
         |FROM perdoc p JOIN hd ON hd.doc_id = p.doc_id
         |LEFT JOIN enc e ON e.w = hd.w
         |ORDER BY p.doc_id""".stripMargin
    },

    // Stupid Backoff replayed: counts from the even half, every held-
    // out position classified into its tier — integer-exact.
    "q315_backoff_lm" -> bigramLmSql(
      """cu AS (SELECT w, count(*)::BIGINT AS cu FROM (
        |         SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
        |n AS (SELECT sum(cu)::BIGINT AS n_tot FROM cu)""".stripMargin,
      """sc AS (SELECT h.doc_id,
        |         CASE WHEN cb.cb IS NOT NULL
        |                THEN len(bin(cp.cu // cb.cb)) - 1
        |              WHEN cc.cu IS NOT NULL
        |                THEN len(bin(n.n_tot // cc.cu))
        |              ELSE len(bin(n.n_tot)) + 1 END AS s,
        |         CASE WHEN cb.cb IS NULL THEN 1 ELSE 0 END AS backoff
        |       FROM hdbg h
        |       LEFT JOIN cb ON cb.prev = h.prev AND cb.cur = h.cur
        |       LEFT JOIN cu cp ON cp.w = h.prev
        |       LEFT JOIN cu cc ON cc.w = h.cur
        |       CROSS JOIN n)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(s)::BIGINT AS surprisal, sum(backoff)::BIGINT AS n_backoff,
        |  ((1000 * sum(s)) // count(*))::BIGINT AS milli_bits_per_bigram
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // interpolated KN with D = 3/4 as the exact integer rational; the
    // same three count tables, tier CASE, and blog2 quantization
    "q330_kneser_ney" -> bigramLmSql(
      """ctx AS (SELECT prev, sum(cb)::BIGINT AS cv,
        |               count(*)::BIGINT AS n1v
        |        FROM cb GROUP BY prev),
        |cont AS (SELECT cur, count(*)::BIGINT AS ncw FROM cb GROUP BY cur),
        |n AS (SELECT count(*)::BIGINT AS nbb FROM cb)""".stripMargin,
      """sc AS (SELECT h.doc_id,
        |         CASE WHEN x.cv IS NOT NULL AND co.ncw IS NOT NULL
        |                THEN len(bin((4 * x.cv * n.nbb) //
        |                  ((CASE WHEN cb.cb IS NULL THEN 0
        |                         ELSE 4 * cb.cb - 3 END) * n.nbb
        |                   + 3 * x.n1v * co.ncw))) - 1
        |              WHEN co.ncw IS NOT NULL
        |                THEN len(bin(n.nbb // co.ncw)) - 1
        |              ELSE len(bin(n.nbb)) + 1 END AS s,
        |         CASE WHEN cb.cb IS NULL AND x.cv IS NOT NULL
        |                   AND co.ncw IS NOT NULL
        |              THEN 1 ELSE 0 END AS discounted,
        |         CASE WHEN co.ncw IS NULL THEN 1 ELSE 0 END AS oov
        |       FROM hdbg h
        |       LEFT JOIN cb ON cb.prev = h.prev AND cb.cur = h.cur
        |       LEFT JOIN ctx x ON x.prev = h.prev
        |       LEFT JOIN cont co ON co.cur = h.cur
        |       CROSS JOIN n)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  sum(s)::BIGINT AS surprisal,
        |  sum(discounted)::BIGINT AS n_cont, sum(oov)::BIGINT AS n_oov,
        |  ((1000 * sum(s)) // count(*))::BIGINT AS milli_bits_per_bigram
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    "q296_containment" ->
      """WITH sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x'||substr(md5(s),1,15))::BIGINT AS sh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(
        |        range(1, greatest(len(string_split(text,' ')) - 2, 2)),
        |        i -> array_to_string(string_split(text,' ')[i:i+3], ' ')))
        |        AS s
        |    FROM documents)),
        |capped AS (
        |  SELECT sh0.sh, sh0.doc_id FROM sh0
        |  JOIN (SELECT sh FROM sh0 GROUP BY sh
        |        HAVING count(*) BETWEEN 2 AND 16) k USING (sh)),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*)::BIGINT AS inter
        |  FROM capped a JOIN capped b
        |    ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 8),
        |n AS (SELECT doc_id, count(*)::BIGINT AS n FROM capped GROUP BY 1)
        |SELECT i.doc_a, i.doc_b, i.inter, na.n AS n_a, nb.n AS n_b,
        |  (i.inter * 1000 // na.n)::BIGINT AS permille_a_in_b,
        |  i.inter * 1000 >= na.n * 800 AS a_contained
        |FROM inter i
        |JOIN n na ON na.doc_id = i.doc_a
        |JOIN n nb ON nb.doc_id = i.doc_b
        |ORDER BY i.doc_a, i.doc_b""".stripMargin,
    "q295_seq_packing" ->
      """WITH sc AS (
        |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok
        |  FROM documents),
        |p AS (SELECT doc_id, n_tok,
        |        coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS prefix
        |      FROM sc)
        |SELECT (prefix // 2048)::BIGINT AS seq_id,
        |  count(*)::BIGINT AS n_docs,
        |  sum(n_tok)::BIGINT AS tok_sum,
        |  sum(CASE WHEN (prefix + n_tok - 1) // 2048 <> prefix // 2048
        |           THEN 1 ELSE 0 END)::BIGINT AS n_straddlers,
        |  max(n_tok)::BIGINT AS max_tok
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q221_balanced_shards" ->
      """WITH sc AS (
        |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tok
        |  FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |        (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8
        |          AS shard
        |      FROM sc)
        |SELECT shard::BIGINT AS shard, count(*) AS n_docs,
        |  sum(n_tok)::BIGINT AS tok_total, max(n_tok) AS tok_max
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin
  )
}
