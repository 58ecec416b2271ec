package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data pipeline operators over `documents` (builder-prompt
  * north star): deduplication (exact, MinHash/LSH, SimHash, n-gram
  * Jaccard), text quality stats, language ID, fingerprinting.
  *
  * Scale design (100 TB): every operator is a pure per-row projection
  * or a shuffle on a derived key (hash / shingle / band) — no driver
  * state, no collect. MinHash banding turns O(n²) near-dup search into
  * an equi-join on (band, hash) keys; the shingle-join Jaccard
  * restricts to candidate pairs sharing a shingle. Skewed shingles
  * (stopword-only) would hot-spot the shuffle at scale — at production
  * SF add a document-frequency cap on shingles (drop shingles in
  * > dfCap docs), the standard guard in MinHash pipelines.
  *
  * Determinism across engines: all hashes are md5-derived (identical
  * everywhere); ratios are integer ppm (no float rounding boundary);
  * minhash values parse the first 8 md5 hex chars as a BIGINT.
  */
object TextQueries extends QuerySet {

  private[graft] val nSig = 8 // minhash signature length
  private val nBits = 64 // simhash bits (production width: 4×16-bit bands)
  private[operators] val dfCap = 50 // q66: drop shingles in more than dfCap docs

  /** Co-occurring document pairs of `docs` (doc_id, text) with their
    * shared-shingle count and each side's shingle count:
    * (id_b, id_a, co, na, nb), id_a < id_b — q66's pipeline, also
    * q340's near-dup stage.
    *
    * Shingles are computed ONCE, then per-shingle sorted doc lists
    * generate the co-occurring pairs (a naive self-join on shingle
    * recomputed the exploded shingle subplan per branch — 8 scans in
    * the physical plan). Postings also bound skew structurally: a
    * shingle with df docs contributes df·(df-1)/2 pairs from one row —
    * no hot join key. The df-cap drops stopword-like shingles outright:
    * one shingle in df documents emits O(df²) pairs, so at corpus scale
    * an uncapped "the end of the" posting would dominate the whole job;
    * capped postings bound any shingle's contribution to dfCap²/2
    * pairs. ONE pass over postings: each posting row explodes into its
    * co-occurrence pairs AND one singleton marker per member doc
    * (id_b = -1), so pair counts and per-doc shingle counts come out of
    * a single shuffle. The aggregated result (pairs + docs, tiny next
    * to the corpus) is localCheckpoint()ed so both consumers — pairs
    * and sizes — read the materialized output instead of recomputing
    * the shingle pipeline. */
  private[operators] def shinglePairs(docs: DataFrame): DataFrame = {
    val postings = docs
      .select(col("doc_id"), explode(shingles4(col("text"))).as("sh"))
      .distinct()
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) <= dfCap)
    val pairsArr = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), i + 2, size(col("ds"))),
        y => struct(x.as("a"), y.as("b")))))
    val singles = transform(col("ds"),
      x => struct(x.as("a"), lit(-1L).as("b")))
    val counts = postings
      .select(explode(concat(singles, pairsArr)).as("p"))
      .groupBy(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // heavy subtree runs once (eager + lineage cut)
    val sizes = counts.filter(col("id_b") === -1L)
      .select(col("id_a").as("doc_id"), col("cnt").as("n_sh"))
    counts.filter(col("id_b") =!= -1L)
      .withColumnRenamed("cnt", "co")
      .join(sizes.withColumnRenamed("doc_id", "id_a")
                 .withColumnRenamed("n_sh", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b")
                 .withColumnRenamed("n_sh", "nb"), "id_b")
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup: hash-groupBy on md5(text), keep min doc_id.
    "q60_dedup_exact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      docs.select(col("doc_id"), md5(col("text")).as("h"))
        .join(keep, "h")
        .select(col("doc_id"), col("keep_id"), col("n_copies"),
                (col("doc_id") === col("keep_id")).as("is_keeper"))
        .orderBy(col("doc_id"))
    }),

    // Text quality stats — all integer or ppm (exact cross-engine).
    "q61_text_stats" -> ((s, d) => {
      val t = col("text")
      val nchars = length(t)
      val ntok = size(toks(t))
      val ndigit = length(regexp_replace(t, "[^0-9]", ""))
      val npunct = length(regexp_replace(t, "[^.,;:!?]", ""))
      val nspace = length(regexp_replace(t, "[^ ]", ""))
      Tables.documents(s, d)
        .select(col("doc_id"), nchars.as("n_chars"), ntok.as("n_tokens"),
          (nchars * lit(1000L) / ntok).cast("long").as("chars_per_tok_k"),
          (ndigit * lit(1000000L) / nchars).cast("long").as("digit_ppm"),
          (npunct * lit(1000000L) / nchars).cast("long").as("punct_ppm"),
          (nspace * lit(1000000L) / nchars).cast("long").as("space_ppm"),
          length(regexp_replace(t, "[^aeiou]", "")).as("n_vowels"))
        .orderBy(col("doc_id"))
    }),

    // Language ID: n-gram/stopword-marker scoring with deterministic
    // argmax tiebreak (en > de > es > fr > unk).
    "q62_lang_id" -> ((s, d) => {
      val t = col("text")
      val en = regexp_count(t, lit("\\b(the|a|of|and)\\b"))
      val de = regexp_count(t, lit("\\b(der|die|und|das)\\b"))
      val es = regexp_count(t, lit("\\b(el|los|que|y)\\b"))
      val fr = regexp_count(t, lit("\\b(le|les|des|et)\\b"))
      val best = greatest(en, de, es, fr)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          en.as("s_en"), de.as("s_de"), es.as("s_es"), fr.as("s_fr"),
          when(best === 0, "unk")
            .when(en === best, "en").when(de === best, "de")
            .when(es === best, "es").otherwise("fr").as("pred"))
        .orderBy(col("doc_id"))
    }),

    // Document fingerprint: min/max md5 over 8-char shingles (rolling-
    // hash style) + distinct-shingle count.
    "q63_fingerprint" -> ((s, d) => {
      val t = col("text")
      val hashes = transform(
        sequence(lit(1), greatest(length(t) - 7, lit(1))),
        i => md5(substring_expr(t, i)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_min(hashes).as("fp_min"),
          array_max(hashes).as("fp_max"),
          size(array_distinct(hashes)).as("n_shingles"))
        .orderBy(col("doc_id"))
    }),

    // MinHash signatures: 8 hash families over 4-word shingles.
    "q64_minhash_sig" -> ((s, d) =>
      minhashSigs(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // MinHash/LSH near-dup candidates: band join (band = 1 signature),
    // pairs sharing any minhash, with signature-agreement estimate.
    // Signatures are materialized once (localCheckpoint) — this plan
    // consumes them 3× (band explode + both sides of the agreement
    // lookup), and production LSH persists the signature table anyway;
    // recomputing the shingle+md5 pipeline per consumer was the q66
    // pathology (see its note).
    "q65_minhash_pairs" -> ((s, d) =>
      minhashAgreePairs(minhashSigs(Tables.documents(s, d)).localCheckpoint())
        .orderBy(col("id_a"), col("id_b"))),

    // Exact n-gram Jaccard via posting lists ([[shinglePairs]]): pairs
    // come from per-shingle sorted doc lists, never a doc×doc join, and
    // Jaccard is over each document's df-capped shingle set (both sides
    // of the oracle compare use the same capped sets).
    "q66_ngram_jaccard" -> ((s, d) =>
      shinglePairs(Tables.documents(s, d))
        .select(col("id_a"), col("id_b"), col("co"),
          (col("co") * lit(1000000L) / (col("na") + col("nb") - col("co")))
            .cast("long").as("jacc_ppm"))
        .filter(col("jacc_ppm") >= 100000)
        .orderBy(col("id_a"), col("id_b"))),

    // NEAR-DUP CLUSTER ELECTION — the step every production dedup
    // pipeline runs AFTER pair generation (CCNet / RefinedWeb shape):
    // near-dup similarity is not transitive, so pairs alone
    // over-delete (removing b of (a,b) and c of (b,c) loses c even if
    // a≁c) — the correct unit is the CONNECTED COMPONENT of the pair
    // graph, keeping exactly one canonical doc per component. Edges =
    // q66's exact n-gram Jaccard pairs (≥ 0.1, df-capped postings —
    // never doc×doc); components via pointer-jumping min-label
    // propagation (O(log diameter) rounds — a dup CHAIN at corpus
    // scale breaks plain propagation); canonical = min doc_id. Output
    // = every ≥2-doc cluster with its size and removal count; the
    // oracle rebuilds the same pairs and closes them with a recursive
    // transitive-closure CTE. At 100 TB: edges are shingle-join
    // bounded, each CC round is one shuffle of the (still-moving)
    // frontier, cluster membership never materializes doc content.
    "q334_dedup_clusters" -> ((s, d) => {
      val edges = queries("q66_ngram_jaccard")(s, d)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
        .localCheckpoint() // the shingle-join pipeline runs ONCE
      // only edge-touched docs can form a ≥2 cluster — every other
      // doc is a singleton the final filter drops anyway, so the CC
      // label table is pair-touched-sized, not corpus-sized (at
      // 100 TB: dup-graph-sized state, the corpus never enters the
      // iteration)
      val verts = edges.select(col("src").as("id"))
        .unionAll(edges.select(col("dst").as("id"))).distinct()
      val cc = GraphOps.connectedComponentsJump(verts, edges, maxIter = 32)
      cc.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .filter(col("sz") >= 2)
        .select(col("component").as("canonical"), col("sz"),
          (col("sz") - 1).as("n_removed"))
        .orderBy(col("canonical"))
    }),

    // Token counting, whitespace + BPE-ish regex pre-tokenizer
    // (letter runs / digit runs / single punctuation — the GPT-2-style
    // pre-tokenization shape).
    "q68_token_count" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(t, "\\s+")).as("n_ws"),
          regexp_count(t, lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("n_bpe"),
          regexp_count(t, lit("[a-z]+")).as("n_word"),
          regexp_count(t, lit("[0-9]+")).as("n_num"))
        .orderBy(col("doc_id"))
    }),

    // SimHash: 64-bit signature over token md5 hashes (term-frequency
    // weighted majority per bit) — the production corpus width.
    "q67_simhash" -> ((s, d) =>
      simhash64Sigs(Tables.documents(s, d), "simhash")
        .orderBy(col("doc_id"))),

    // SimHash near-dup pairs at production width: band the 64-bit
    // signature into 4×16-bit bands (pigeonhole: hamming ≤ 3 ⇒ at
    // least one identical band), join candidates on (band, value),
    // verify hamming via xor+popcount. Same banded-equi-join shape as
    // q65/q72 — no all-pairs scan. SCALE NOTE: 16-bit bands give
    // 65 536 values per band, so a band-value bucket holds ~n/65536
    // docs — the standard 100 TB configuration.
    "q79_simhash_neardup" -> ((s, d) => {
      val sigs = simhash64Sigs(Tables.documents(s, d), "sh")
        .localCheckpoint() // consumed by both join sides
      val bands = sigs.select(col("doc_id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sh"), 16 * b).bitwiseAND(65535)): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
      val a = bands.select(col("doc_id").as("id_a"), col("sh").as("sha"),
        col("band"), col("bv"))
      val b = bands.select(col("doc_id").as("id_b"), col("sh").as("shb"),
        col("band"), col("bv"))
      a.join(b, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long")
            .as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Shannon-entropy quality gate (char- and word-level) — the
    // low-entropy filter (keyboard mashing, repeated boilerplate,
    // binary junk) every corpus-quality stack runs next to the q61
    // ratio stats. Per-(doc, symbol) contributions are rounded to
    // integer micro-nats BEFORE the per-doc sum (the q279 discipline:
    // integer sums are order-independent, so engines can aggregate in
    // any order). Scale: two explode→groupBy passes, both partial-agg
    // collapsible map-side; entropy is a per-doc key-local aggregate —
    // no cross-doc traffic at any corpus size.
    "q299_entropy_gate" -> ((s, d) => {
      // ONE corpus pass, zero shuffles before the output sort (r13):
      // both Σ round(1e6·(c/n)·ln(n/c)) histograms run as a fused
      // per-doc kernel over the split arrays (functions/
      // SymbolEntropy.scala — micro-nat integers bit-identical to the
      // explode→groupBy→window composition this replaces, which paid
      // TWO corpus-explode shuffle passes, one of them one row per
      // CHARACTER). The n_distinct>0 filter reproduces the old inner
      // join's drop of no-word/null-text docs (none exist in the
      // corpus; the oracle pins that).
      val se = (c: Column) => graft.functions.GraftFunctions.symbol_entropy(c)
      Tables.documents(s, d)
        .select(col("doc_id"),
          se(split(col("text"), "")).as("ch"),
          se(filter(split(col("text"), " "), w => length(w) > 0)).as("wd"))
        .filter(col("ch").isNotNull && col("wd.n_distinct") > 0)
        .select(col("doc_id"),
          col("ch.h_micro").as("char_h_micro"),
          col("ch.n_distinct").as("n_distinct_chars"),
          col("wd.h_micro").as("word_h_micro"),
          col("wd.n_distinct").as("n_distinct_words"))
        .select(col("doc_id"), col("char_h_micro"), col("n_distinct_chars"),
          col("word_h_micro"), col("n_distinct_words"),
          (col("char_h_micro") < 2500000L ||
           col("word_h_micro") < 3000000L).as("low_entropy"))
        .orderBy(col("doc_id"))
    })
  )

  /** doc_id + 64-bit SimHash signature of the space-tokenized text:
    * bit b set iff more than half the token hashes have bit b set
    * (tf-weighted majority). Token hash = 64 bits of md5 taken as two
    * 32-bit hex slices so all arithmetic stays in exact signed-BIGINT
    * range in both engines; bits are combined with OR (bit 63 as a sum
    * would overflow under ANSI semantics).
    *
    * The token-hash arrays are materialized in their OWN projection:
    * the 64 bit-majority terms each reference them, and CollapseProject
    * keeps the boundary (non-cheap, multiply-referenced), so the md5 +
    * transform work runs once per row instead of once per bit. */
  private def simhash64Sigs(docs: org.apache.spark.sql.DataFrame,
                            as: String): org.apache.spark.sql.DataFrame = {
    val t = col("text")
    val arred = docs.select(col("doc_id"),
      transform(toks(t), w => md5i(w)).as("_lo"),
      transform(toks(t), w =>
        conv(substring(md5(w), 9, 8), 16, 10).cast("long")).as("_hi"))
    val n = size(col("_lo"))
    val sig = (0 until nBits).map { b =>
      val (arr, off) = if (b < 32) (col("_lo"), b) else (col("_hi"), b - 32)
      when(size(filter(arr, h => shiftright(h, off).bitwiseAND(1) === 1)) * 2
             > n, lit(1L << b)).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    arred.select(col("doc_id"), sig.as(as))
  }

  /** substring(t, i, 8) where i is a Column (functions.substring takes
    * Int positions only). */
  private def substring_expr(t: Column, i: Column): Column =
    t.substr(i, lit(8))

  /** 4-word shingles of the space-tokenized text. */
  private[operators] def shingles4(t: Column): Column = {
    val w = split(t, " ")
    transform(sequence(lit(1), greatest(size(w) - 3, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(4))))
  }

  /** Universal-hash family constants: h_j(x) = (a_j·x + b_j) mod p.
    * One md5 per shingle; the families are cheap codegen'd arithmetic
    * (classic minhash — avoids k md5 passes per shingle). */
  private[operators] val P = 4294967311L // prime > 2^32
  // a_j < 2^30 keeps a·h < 2^62 (h < 2^32): no int64 overflow in either engine.
  private[operators] val AB: IndexedSeq[(Long, Long)] =
    (0 until nSig).map { j =>
      (((2654435761L * (j + 1)) % P) % (1L << 30) | 1L,
       ((40503L * (j + 7) * 2654435761L) % P) % (1L << 30))
    }

  /** Per-row minhash signature as an array column — the streaming-
    * friendly form: all-expression (shingle → md5 → k mins inside one
    * row), NO shuffle, so it runs on an unbounded stream. Same values
    * as minhashSigs (duplicate shingles cannot change a min). */
  private[graft] def minhashSigArray(t: Column): Column = {
    val hs = transform(shingles4(t), sh => md5i(sh))
    array(AB.map { case (a, b) =>
      array_min(transform(hs, h => (h * a + b) % P))
    }: _*)
  }

  /** LSH candidate pairs (band = 1 signature position) over a
    * materialized signature table, with per-pair signature agreement.
    * Input must be localCheckpoint()ed/persisted: the plan consumes it
    * 3× (band explode + both sides of the agreement lookup). Shared by
    * q65 (pair listing) and q74 (near-dup clustering). */
  private[operators] def minhashAgreePairs(
      sig: org.apache.spark.sql.DataFrame) = {
    val bands = sig.select(col("doc_id"),
      posexplode(array((0 until nSig).map(j => col(s"m$j")): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "h")
    val a = bands.select(col("doc_id").as("id_a"), col("band"), col("h"))
    val b = bands.select(col("doc_id").as("id_b"), col("band"), col("h"))
    val cand = a.join(b, Seq("band", "h")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val sa = sig.select(col("doc_id").as("id_a"),
      array((0 until nSig).map(j => col(s"m$j")): _*).as("sig_a"))
    val sb = sig.select(col("doc_id").as("id_b"),
      array((0 until nSig).map(j => col(s"m$j")): _*).as("sig_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          bv => bv)).as("n_agree"))
  }

  /** doc_id + m0..m{nSig-1} minhash signature columns.
    * Shape: explode shingles → one md5 per shingle → groupBy(doc) with
    * k min-aggregates. The single shuffle keys on doc_id; partial
    * aggregation collapses each doc's shingles map-side, so at 100 TB
    * the shuffle carries k longs per doc, not the shingles. */
  private[operators] def minhashSigs(docs: org.apache.spark.sql.DataFrame) = {
    val hashed = docs
      .select(col("doc_id"), explode(shingles4(col("text"))).as("sh"))
      .select(col("doc_id"), md5i(col("sh")).as("h"))
    val sigs = AB.zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * a + b) % P).as(s"m$j")
    }
    hashed.groupBy(col("doc_id")).agg(sigs.head, sigs.tail: _*)
  }

  // ---- oracle SQL ----

  private[operators] def shinglesSql =
    """list_transform(range(1, greatest(len(string_split(text,' ')) - 2, 2)),
      |      i -> array_to_string(string_split(text,' ')[i:i+3], ' '))""".stripMargin

  /** q334's near-dup closure as DuckDB CTEs (no WITH), shared with
    * q340's dedup stage: the df-capped distinct shingles of the
    * (doc_id, sh) rows `shRows` selects, the pair co-counts, the
    * ≥ 0.1-Jaccard edges and their transitive closure `reach`. */
  private[operators] def dedupReachCtes(shRows: String): String =
    s"""sh0 AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |$shRows)),
       |sh AS (
       |  SELECT doc_id, sh FROM sh0
       |  QUALIFY count(*) OVER (PARTITION BY sh) <= $dfCap),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |co AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |e AS (
       |  SELECT id_a AS a, id_b AS b FROM co
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b
       |  WHERE co * 1000000 // (na.n_sh + nb.n_sh - co) >= 100000),
       |und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |reach(a, b) AS (
       |  SELECT a, b FROM und
       |  UNION
       |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)""".stripMargin

  private[operators] def sigSelectSql = {
    val cols = AB.zipWithIndex.map { case ((a, b), j) =>
      s"min((h * $a + $b) % $P) AS m$j"
    }.mkString(", ")
    s"""SELECT doc_id, $cols
       |  FROM (SELECT doc_id, ${md5iSql("sh")} AS h
       |        FROM (SELECT doc_id, unnest($shinglesSql) AS sh FROM documents))
       |  GROUP BY doc_id""".stripMargin
  }

  /** CTE chain sig → bands → cand → agree(id_a, id_b, n_agree): the
    * DuckDB mirror of minhashSigs + minhashAgreePairs. Shared by the
    * q65 and q74 oracles. */
  private[operators] def agreeCtesSql: String = {
    val sigArr = "[" + (0 until nSig).map(j => s"m$j").mkString(",") + "]"
    s"""sig AS ($sigSelectSql),
       |bands AS (
       |  SELECT doc_id, g.g AS band, ($sigArr)[g.g + 1] AS h
       |  FROM sig, generate_series(0, ${nSig - 1}) g(g)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.h = b.h
       |  WHERE a.doc_id < b.doc_id),
       |agree AS (
       |  SELECT id_a, id_b,
       |    len(list_filter(list_transform(range(1, ${nSig + 1}),
       |        i -> sa.s[i] = sb.s[i]), x -> x)) AS n_agree
       |  FROM cand
       |  JOIN (SELECT doc_id, $sigArr AS s FROM sig) sa ON sa.doc_id = id_a
       |  JOIN (SELECT doc_id, $sigArr AS s FROM sig) sb ON sb.doc_id = id_b)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q299_entropy_gate" ->
      """WITH chc AS (
        |  SELECT doc_id, sym, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS sym
        |        FROM documents) GROUP BY 1, 2),
        |che AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(1e6 * (c / n) * ln(n / c)) AS BIGINT))
        |         AS BIGINT) AS char_h_micro,
        |    count(*) AS n_distinct_chars
        |  FROM (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |        FROM chc) GROUP BY 1),
        |wdc AS (
        |  SELECT doc_id, sym, count(*) AS c
        |  FROM (SELECT doc_id, t.sym FROM
        |          (SELECT doc_id, unnest(string_split(text, ' ')) AS sym
        |           FROM documents) t
        |        WHERE len(t.sym) > 0) GROUP BY 1, 2),
        |wde AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(round(1e6 * (c / n) * ln(n / c)) AS BIGINT))
        |         AS BIGINT) AS word_h_micro,
        |    count(*) AS n_distinct_words
        |  FROM (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |        FROM wdc) GROUP BY 1)
        |SELECT doc_id, char_h_micro, n_distinct_chars,
        |       word_h_micro, n_distinct_words,
        |       char_h_micro < 2500000 OR word_h_micro < 3000000
        |         AS low_entropy
        |FROM che JOIN wde USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q60_dedup_exact" ->
      """SELECT doc_id, keep_id, n_copies, doc_id = keep_id AS is_keeper
        |FROM (SELECT doc_id, md5(text) AS h FROM documents) d
        |JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
        |      FROM documents GROUP BY 1) k USING (h)
        |ORDER BY doc_id""".stripMargin,
    "q61_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text,' ')) AS n_tokens,
        |  length(text) * 1000 // len(string_split(text,' ')) AS chars_per_tok_k,
        |  length(regexp_replace(text,'[^0-9]','','g')) * 1000000 // length(text) AS digit_ppm,
        |  length(regexp_replace(text,'[^.,;:!?]','','g')) * 1000000 // length(text) AS punct_ppm,
        |  length(regexp_replace(text,'[^ ]','','g')) * 1000000 // length(text) AS space_ppm,
        |  length(regexp_replace(text,'[^aeiou]','','g')) AS n_vowels
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q62_lang_id" ->
      """SELECT doc_id, lang,
        |  len(regexp_extract_all(text,'\b(the|a|of|and)\b')) AS s_en,
        |  len(regexp_extract_all(text,'\b(der|die|und|das)\b')) AS s_de,
        |  len(regexp_extract_all(text,'\b(el|los|que|y)\b')) AS s_es,
        |  len(regexp_extract_all(text,'\b(le|les|des|et)\b')) AS s_fr,
        |  CASE WHEN greatest(s_en,s_de,s_es,s_fr) = 0 THEN 'unk'
        |       WHEN s_en = greatest(s_en,s_de,s_es,s_fr) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_es,s_fr) THEN 'de'
        |       WHEN s_es = greatest(s_en,s_de,s_es,s_fr) THEN 'es'
        |       ELSE 'fr' END AS pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q63_fingerprint" ->
      """SELECT doc_id,
        |  list_min(hashes) AS fp_min, list_max(hashes) AS fp_max,
        |  len(list_distinct(hashes)) AS n_shingles
        |FROM (SELECT doc_id,
        |        list_transform(range(1, greatest(length(text)-6, 2)),
        |                       i -> md5(substr(text, i::INT, 8))) AS hashes
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q64_minhash_sig" -> (sigSelectSql + "\n  ORDER BY doc_id"),
    "q65_minhash_pairs" ->
      s"""WITH $agreeCtesSql
         |SELECT id_a, id_b, n_agree FROM agree
         |ORDER BY id_a, id_b""".stripMargin,
    "q66_ngram_jaccard" ->
      s"""WITH sh0 AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest($shinglesSql) AS sh FROM documents)),
         |sh AS (
         |  SELECT doc_id, sh FROM sh0
         |  QUALIFY count(*) OVER (PARTITION BY sh) <= $dfCap),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
         |co AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, co,
         |  co * 1000000 // (na.n_sh + nb.n_sh - co) AS jacc_ppm
         |FROM co
         |JOIN sizes na ON na.doc_id = id_a
         |JOIN sizes nb ON nb.doc_id = id_b
         |WHERE co * 1000000 // (na.n_sh + nb.n_sh - co) >= 100000
         |ORDER BY id_a, id_b""".stripMargin,
    // the q66 pairs closed transitively (recursive CTE — the oracle
    // may be slow; clusters are small so the closure stays bounded),
    // then component label = min reachable id
    "q334_dedup_clusters" -> ("WITH RECURSIVE " + dedupReachCtes(
      s"    SELECT doc_id, unnest($shinglesSql) AS sh FROM documents") +
      """,
        |lab AS (
        |  SELECT a AS id, least(a, min(b)) AS comp
        |  FROM reach GROUP BY a)
        |SELECT comp AS canonical, count(*)::BIGINT AS sz,
        |  (count(*) - 1)::BIGINT AS n_removed
        |FROM lab GROUP BY comp HAVING count(*) >= 2
        |ORDER BY canonical""".stripMargin),
    "q68_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS n_ws,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_word,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_num
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q67_simhash" ->
      s"""SELECT doc_id, sh AS simhash FROM ($simhashSigSql)
         |ORDER BY doc_id""".stripMargin,
    "q79_simhash_neardup" ->
      s"""WITH sig AS ($simhashSigSql),
         |bands AS (
         |  SELECT doc_id, sh, g.g AS band, (sh >> (16 * g.g)) & 65535 AS bv
         |  FROM sig, generate_series(0, 3) g(g))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |  bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
  )

  /** DuckDB mirror of simhash64: SELECT doc_id, sh FROM documents.
    * DuckDB's `>>` on BIGINT is arithmetic like Spark/Java's; bits are
    * ORed (`|`) so bit 63 needs no unsigned arithmetic. */
  private def simhashSigSql: String = {
    val terms = (0 until nBits).map { b =>
      val (arr, off) = if (b < 32) ("lo", b) else ("hi", b - 32)
      s"""CASE WHEN 2 * len(list_filter($arr, h -> ((h >> $off) & 1) = 1))
         |         > len(lo) THEN (${1L << b})::BIGINT ELSE 0::BIGINT END""".stripMargin
    }.mkString(" |\n        ")
    s"""SELECT doc_id, ($terms) AS sh
       |FROM (SELECT doc_id,
       |        list_transform(string_split(text,' '), t -> ${md5iSql("t")}) AS lo,
       |        list_transform(string_split(text,' '),
       |                       t -> ('0x'||substr(md5(t),9,8))::BIGINT) AS hi
       |      FROM documents)""".stripMargin
  }
}
