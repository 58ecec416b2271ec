package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators for LLM training-data pipelines — round-7
  * additions on top of TextQueries/PipelineQueries: term weighting,
  * support mining, leakage-safe splits, language rebalancing, chunk
  * (line-level) dedup with reassembly, and source-weighted mixing.
  *
  * Scale design (100 TB): every operator is a shuffle on a derived key
  * (term / ngram / hash bucket) with map-side partial aggregation, or a
  * pure per-row projection. Nothing collects data to the driver (the
  * only driver scalar is a corpus COUNT, metadata-sized). All scoring
  * is integer arithmetic (ppm / permille / scaled idf) so the DuckDB
  * oracle matches bit-for-bit — the same discipline as TextQueries.
  *
  * Determinism: hashes are md5-derived; ranking tiebreaks are total
  * orders (score desc, term asc) / (md5, doc_id).
  */
object CorpusQueries extends QuerySet {

  private val langQuota = 60 // q204: per-language cap
  private val winW = 64   // q267: tokens per context window
  private val strideW = 48 // q267: window stride (16-token overlap)

  val queries: Map[String, Q] = Map(
    // TF-IDF top term per document, integer-exact: idf is the scaled
    // integer (1e6·N) // df, score = tf · idf. The df table is
    // vocabulary-sized (map-side combine collapses each doc's terms
    // before the term shuffle); at corpus scale it broadcasts back
    // into the tf join. Winner per doc via row_number with a total
    // tiebreak (score desc, term asc).
    "q201_tfidf_topterm" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // corpus cardinality rides the PLAN as a broadcast 1-row
      // aggregate (the q104 scalar pattern) instead of a separate
      // docs.count() driver action — no extra job, no extra scan
      // scheduled outside the query itself
      val nDf = docs.agg(count(lit(1)).as("n_corpus"))
      val tok = docs.select(col("doc_id"),
        explode(toks(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dft = tok.distinct().groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term"))
      tf.join(dft, "term")
        .crossJoin(broadcast(nDf))
        .withColumn("idf", (lit(1000000L) * col("n_corpus") / col("df")).cast("long"))
        .withColumn("score", col("tf") * col("idf"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("idf"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Corpus-level support mining (heavy-hitter n-grams): bigrams
    // occurring in ≥1% of documents. Relative support keeps the
    // result meaningful at every SF; the output is bounded by the
    // bigram vocabulary regardless of corpus size, and the groupBy
    // partial-aggregates map-side, so the shuffle carries one row per
    // distinct bigram per partition — the exact-counting regime. (At
    // 100 TB with an unbounded vocabulary, swap the exact count for a
    // count-min/space-saving sketch; with a bounded token vocabulary
    // the exact path is the right one.)
    "q202_ngram_support" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the support threshold's corpus count rides the plan as a
      // broadcast 1-row aggregate (q104 pattern) — one job, no
      // separate count() action
      val nDf = docs.agg(count(lit(1)).as("n_corpus"))
      docs.select(col("doc_id"), explode(bigrams(col("text"))).as("ngram"))
        .groupBy(col("ngram"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_total"))
        .crossJoin(broadcast(nDf))
        .filter(col("n_docs") * 100 >= col("n_corpus"))
        .select(col("ngram"), col("n_docs"), col("n_total"))
        .orderBy(col("n_total").desc, col("ngram"))
    }),

    // Leakage-safe train/val/test split: the bucket hashes the CONTENT
    // (md5 of text), not the id, so byte-identical duplicates can
    // never straddle train and test — the standard decontamination-
    // aware split. Pure per-row projection, no shuffle.
    "q203_split_assign" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), splitBucket.as("bucket"),
          contentSplit.as("split"))
        .orderBy(col("doc_id"))),

    // Language rebalancing: deterministic per-language downsampling to
    // a fixed quota, ranked by content hash (uniform, reproducible)
    // with doc_id as total tiebreak. One shuffle on lang; at corpus
    // scale the rank is a per-partition top-K under AQE (the window
    // is a running top-quota per language).
    "q204_lang_rebalance" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= langQuota)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // Cross-document chunk dedup (line-level dedup, RefinedWeb-style,
    // adapted to newline-free text): split each doc into consecutive
    // 10-word chunks, keep only the globally FIRST occurrence of each
    // chunk (by doc_id, then chunk index), and reassemble the cleaned
    // text in chunk order. One shuffle on the chunk text (first-
    // occurrence rank), one on doc_id (reassembly); both carry the
    // chunks once. The rebuilt string aggregates via sorted struct
    // collect — deterministic.
    // Sliding-window CONTEXT CHUNKING — the training-context prep
    // step q205/q95 sit on top of: each document splits into
    // 64-token windows at stride 48 (16-token overlap, so no
    // train-time span straddles a boundary unseen). Pure projection
    // + one explode — no shuffle at all until a downstream consumer
    // groups; each window carries its exact token count and an md5
    // fingerprint (the dedup/packing join key). At 100 TB this is
    // scan-speed: the fan-out is ~n_tok/48 rows per doc and the text
    // column never shuffles.
    "q267_sliding_chunks" -> ((s, d) => {
      // NULL text is excluded EXPLICITLY on both sides: Spark's
      // size(null) = -1 would emit a phantom chunk while DuckDB's
      // len(NULL) generates no series rows — the one place the
      // (size-1)/stride idiom diverges cross-engine.
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val w0 = toks(col("text"))
      val last = ((size(w0) - 1) / strideW).cast("int")
      docs.select(col("doc_id"), size(w0).as("n"),
          posexplode(transform(sequence(lit(0), last),
            i => concat_ws(" ", slice(w0, i * strideW + 1, lit(winW))))))
        .toDF("doc_id", "n", "chunk_id", "chunk")
        .select(col("doc_id"), col("chunk_id"),
          least(lit(winW), col("n") - col("chunk_id") * strideW).as("n_tok"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "q205_chunk_dedup" -> ((s, d) =>
      chunkClean(Tables.documents(s, d)) { chunks =>
        val w = Window.partitionBy(col("chunk"))
          .orderBy(col("doc_id"), col("idx"))
        chunks.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
      }),

    // Benchmark span EXCISION — decontamination that REMOVES the
    // contaminated spans instead of flagging whole documents (q96/
    // q210 flag; this cleans): corpus docs split into q205's 10-word
    // chunks, a chunk is excised when ANY of its 4-word shingles
    // occurs in the benchmark source's shingle set, survivors
    // reassemble in chunk order. The benchmark shingle set is
    // dimension-sized and BROADCASTS; the corpus carries each chunk
    // once through one semi-join and one doc_id reassembly shuffle —
    // the same two-shuffle budget as q205 at any scale.
    "q212_span_excise" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src2")
        .select(explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
      chunkClean(docs.filter(col("source") =!= "src2")) { chunks =>
        val contaminated = chunks
          .select(col("doc_id"), col("idx"),
            explode(TextQueries.shingles4(col("chunk"))).as("sh"))
          .join(broadcast(bench), Seq("sh"))
          .select(col("doc_id"), col("idx")).distinct()
        chunks.join(contaminated, Seq("doc_id", "idx"), "left_anti")
      }
    }),

    // Source-weighted corpus mixing: each source gets a deterministic
    // sampling rate (permille, derived from the source name's hash so
    // the operator needs no side table), rows are kept by an
    // INDEPENDENT content-hash bucket, and the audit reports rows and
    // tokens in/out per source. This is the mixture-weights step of a
    // training-data pipeline; per-row projection + one bounded
    // groupBy(source).
    "q206_source_mix" -> ((s, d) => {
      val rate = (pmod(md5i(col("source")), lit(800)) + 100).as("rate_permille")
      val keep = pmod(md5i(col("text")), lit(1000)) < col("rate_permille")
      Tables.documents(s, d)
        .withColumn("rate_permille", rate)
        .withColumn("ntok", size(toks(col("text"))).cast("long"))
        .withColumn("kept", keep)
        .groupBy(col("source"), col("rate_permille"))
        .agg(count(lit(1)).as("n_in"),
          count(when(col("kept"), 1)).as("n_kept"),
          sum(col("ntok")).as("tok_in"),
          sum(when(col("kept"), col("ntok")).otherwise(0L)).as("tok_kept"))
        .orderBy(col("source"))
    }),

    // BM25 top-k retrieval (Robertson/Spärck Jones; the Lucene
    // ln(1 + (N−df+½)/(df+½)) idf form, k1=1.2 b=0.75) — the
    // retrieval primitive behind decontamination-by-retrieval and
    // dedup candidate mining. Probes are the first 5 documents
    // (more-like-this: the probe's distinct terms are the query).
    // Exactness: each per-term contribution rounds to a ×1e6 integer
    // (q43's round-6 ln discipline), so per-pair scores are
    // order-independent exact sums and ranking is integer-total.
    // Scale shape: postings (tf) shuffle once on term; the probe
    // vocabulary broadcasts; only postings matching probe terms flow
    // into the per-(probe, doc) aggregation — a posting-list join,
    // never a doc×doc product; df/dl are vocabulary-/corpus-bounded
    // side tables; avgdl and N ride the plan as a broadcast 1-row
    // aggregate (q104 pattern, no separate count action).
    "q279_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nAvg = docs.agg(count(lit(1)).as("n_corpus"),
        avg(size(toks(col("text")))).as("avgdl"))
      // ONE corpus tokenize pass (r12): tf is materialized and dl /
      // df / the probe vocabulary all DERIVE from it (dl = Σ tf per
      // doc; df = (doc,term) rows per term; qt = probe rows of tf) —
      // previously each was its own explode+aggregate over the corpus.
      val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
      val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // alias BOTH qt columns: qt derives from the same lineage as
      // tf, and an unaliased tf("term") === qt("term") hits Spark's
      // ambiguous-self-join resolution (trivially-true warning)
      val qt = tf.filter(col("doc_id") <= 4)
        .select(col("doc_id").as("pid"), col("term").as("qterm"))
      val idf = log(lit(1.0) +
        (col("n_corpus") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val tfn = (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      val w = Window.partitionBy(col("pid"))
        .orderBy(col("s").desc, col("doc_id"))
      tf.join(broadcast(qt), col("term") === col("qterm") &&
          col("doc_id") =!= col("pid"))
        .drop("qterm")
        .join(dl, "doc_id")
        .join(dft, "term")
        .crossJoin(broadcast(nAvg))
        .withColumn("c", round(idf * tfn * lit(1e6)).cast("long"))
        .groupBy(col("pid"), col("doc_id"))
        .agg(sum(col("c")).as("s"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("pid"), col("rk"), col("doc_id").as("cid"),
          (col("s").cast("double") / lit(1e6)).as("score6"))
        .orderBy(col("pid"), col("rk"))
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003
    // — MOSS's local document fingerprinting): hash every word
    // 3-gram, slide a window of 4 consecutive hashes, keep each
    // window's MINIMUM (ties → rightmost occurrence, the robust-
    // winnowing rule that makes the fingerprint position-stable
    // under edits); near-dup candidates = doc pairs sharing ≥2
    // selected hashes. The (hash, rightmost-pos) pick is ONE integer
    // window-min: key = h·2²⁰ + (2²⁰−1−pos) — min(key) is min-hash
    // first, then largest position (fingerprint positions are
    // sub-2²⁰; corpus docs are KB-scale, and a longer doc would
    // chunk upstream). Scale shape: per-doc window functions (no
    // cross-doc traffic), a vocabulary-bounded fingerprint df table,
    // and df-capped posting lists (≤50 docs/hash) exactly like
    // q66's discipline — pair generation can never go quadratic in
    // the corpus.
    "q280_winnow_dedup" -> ((s, d) => {
      val W = 4; val dfCap = 50
      val docs = Tables.documents(s, d)
      val wtoks = toks(col("text"))
      val grams = docs.select(col("doc_id"),
          posexplode(transform(
            sequence(lit(1), greatest(size(wtoks) - 2, lit(1))),
            i => concat_ws(" ", slice(wtoks, i, lit(3))))))
        .select(col("doc_id"), (col("pos") + lit(1)).as("pos"),
          md5i(col("col")).as("h"))
      val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(0, W - 1)
      val wAll = Window.partitionBy(col("doc_id"))
      // materialize the fingerprint table ONCE (r12): it feeds the df
      // table AND both sides of the posting self-join — without the
      // checkpoint the shingle+window pipeline re-ran per consumer. At
      // scale this IS the fingerprint table a winnowing pipeline
      // persists (linear in the corpus, W-fold smaller than the grams).
      val fps = grams
        .withColumn("k", col("h") * lit(1048576L) + (lit(1048575L) - col("pos")))
        .withColumn("mk", min(col("k")).over(wWin))
        .withColumn("ng", max(col("pos")).over(wAll))
        .filter(col("pos") <= greatest(col("ng") - lit(W - 1), lit(1)))
        .select(col("doc_id"), expr("mk div 1048576").as("fh"))
        .distinct()
        .localCheckpoint()
      val dfh = fps.groupBy(col("fh")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2 && col("nd") <= dfCap)
        .select(col("fh"))
      val posting = fps.join(dfh, "fh")
      posting.select(col("fh"), col("doc_id").as("a"))
        .join(posting.select(col("fh"), col("doc_id").as("b")), "fh")
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy(col("a"), col("b"))
    })
  )

  /** q280's winnowing as DuckDB CTEs (no WITH), shared with q287's
    * oracle: word 3-gram hashes, the packed window minima, the distinct
    * fingerprints `fps`, and `p`, their df-capped postings. */
  private[operators] val winnowPostingCtes =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |           FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(ws) - 1, 2)),
      |      i -> {'pos': i,
      |            'h': ('0x'||substr(md5(
      |                   array_to_string(ws[i:i+2], ' ')),1,8))::BIGINT}))
      |      AS g
      |  FROM w),
      |keyed AS (SELECT doc_id, g.pos AS pos,
      |                 g.h * 1048576 + (1048575 - g.pos) AS k
      |          FROM grams),
      |win AS (SELECT doc_id, pos,
      |          min(k) OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
      |          max(pos) OVER (PARTITION BY doc_id) AS ng
      |        FROM keyed),
      |fps AS (SELECT DISTINCT doc_id, mk // 1048576 AS fh
      |        FROM win WHERE pos <= greatest(ng - 3, 1)),
      |dfh AS (SELECT fh FROM fps GROUP BY fh
      |        HAVING count(*) BETWEEN 2 AND 50),
      |p AS (SELECT f.doc_id, f.fh FROM fps f JOIN dfh USING (fh))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q279_bm25_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |            FROM documents),
        |navg AS (SELECT count(*) AS n_corpus,
        |                avg(len(string_split(text,' '))) AS avgdl
        |         FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        |dft AS (SELECT term, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
        |qt AS (SELECT DISTINCT doc_id AS pid, term FROM tok
        |       WHERE doc_id <= 4),
        |contrib AS (
        |  SELECT q.pid, t.doc_id,
        |    CAST(round(
        |      ln(1.0 + (n.n_corpus - f.df + 0.5) / (f.df + 0.5)) *
        |      ((t.tf * 2.2) /
        |       (t.tf + 1.2 * (0.25 + 0.75 * l.dl / n.avgdl))) * 1e6)
        |      AS BIGINT) AS c
        |  FROM tf t
        |  JOIN qt q ON t.term = q.term AND t.doc_id <> q.pid
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  JOIN dft f ON f.term = t.term
        |  CROSS JOIN navg n),
        |sc AS (SELECT pid, doc_id, sum(c) AS s FROM contrib GROUP BY 1, 2)
        |SELECT pid, rk, doc_id AS cid, CAST(s AS DOUBLE) / 1e6 AS score6
        |FROM (SELECT pid, doc_id, s,
        |        row_number() OVER (PARTITION BY pid
        |                           ORDER BY s DESC, doc_id) AS rk
        |      FROM sc)
        |WHERE rk <= 10 ORDER BY pid, rk""".stripMargin,
    "q280_winnow_dedup" -> ("WITH " + winnowPostingCtes +
      """
        |SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_shared
        |FROM p a JOIN p b ON a.fh = b.fh AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY a, b""".stripMargin),

    "q201_tfidf_topterm" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |            FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, term, tf, df, (1000000 * n.n) // df AS idf,
        |       tf * ((1000000 * n.n) // df) AS score
        |FROM tf JOIN dft USING (term), n
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, term) = 1
        |ORDER BY doc_id""".stripMargin,
    "q202_ngram_support" ->
      s"""WITH g AS (SELECT doc_id, unnest($bigramsSql) AS ngram FROM documents),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
         |FROM g, n GROUP BY ngram, n.n
         |HAVING count(DISTINCT doc_id) * 100 >= n.n
         |ORDER BY n_total DESC, ngram""".stripMargin,
    "q203_split_assign" ->
      s"""SELECT doc_id, source, ${md5iSql("text")} % 100 AS bucket,
         |  CASE WHEN ${md5iSql("text")} % 100 < 80 THEN 'train'
         |       WHEN ${md5iSql("text")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q204_lang_rebalance" ->
      s"""SELECT doc_id, lang,
         |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
         |    AS rk
         |FROM documents
         |QUALIFY rk <= $langQuota
         |ORDER BY lang, rk""".stripMargin,
    // windows recomputed with DuckDB list slicing (1-based inclusive
    // ends, truncating past length — same as Spark's slice semantics)
    "q267_sliding_chunks" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
         |  WHERE text IS NOT NULL),
         |s AS (
         |  SELECT doc_id, len(tk) AS n, tk,
         |    unnest(generate_series(0,
         |      CAST((len(tk) - 1) // $strideW AS BIGINT))) AS chunk_id
         |  FROM d)
         |SELECT doc_id, chunk_id,
         |  least($winW, n - chunk_id * $strideW) AS n_tok,
         |  md5(array_to_string(
         |    list_slice(tk, chunk_id * $strideW + 1,
         |               chunk_id * $strideW + $winW), ' ')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin,

    "q205_chunk_dedup" -> ("WITH " + chunkCleanSql("documents",
      """kept AS (
        |  SELECT doc_id, idx, chunk FROM ch
        |  QUALIFY row_number() OVER (PARTITION BY chunk
        |                             ORDER BY doc_id, idx) = 1)""".stripMargin)),
    "q212_span_excise" -> (
      s"""WITH bench AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents WHERE source = 'src2')),
         |corpus AS (SELECT * FROM documents WHERE source <> 'src2'),
         |""".stripMargin + chunkCleanSql("corpus",
      """contaminated AS (
        |  SELECT DISTINCT doc_id, idx FROM (
        |    SELECT doc_id, idx,
        |      unnest(list_transform(range(1,
        |          greatest(len(string_split(chunk,' ')) - 2, 2)),
        |        i -> array_to_string(string_split(chunk,' ')[i:i+3], ' ')))
        |        AS sh
        |    FROM ch) cs
        |  JOIN bench USING (sh)),
        |kept AS (
        |  SELECT ch.doc_id, ch.idx, ch.chunk
        |  FROM ch ANTI JOIN contaminated c
        |    ON ch.doc_id = c.doc_id AND ch.idx = c.idx)""".stripMargin)),

    "q206_source_mix" ->
      s"""SELECT source, ${md5iSql("source")} % 800 + 100 AS rate_permille,
         |  count(*) AS n_in,
         |  count(CASE WHEN ${md5iSql("text")} % 1000
         |                  < ${md5iSql("source")} % 800 + 100 THEN 1 END)
         |    AS n_kept,
         |  sum(len(string_split(text,' ')))::BIGINT AS tok_in,
         |  sum(CASE WHEN ${md5iSql("text")} % 1000
         |                < ${md5iSql("source")} % 800 + 100
         |           THEN len(string_split(text,' ')) ELSE 0 END)::BIGINT
         |    AS tok_kept
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
  )
}
