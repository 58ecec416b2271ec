package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.streaming.Replay

/** Frequency-sketch operators: Count-Min heavy hitters over the corpus
  * token stream (Cormode & Muthukrishnan 2005 — the streaming-frequency
  * primitive every large-scale n-gram/vocabulary pipeline runs).
  *
  * The sketch is built RELATIONALLY: `depth` salted md5 hash rows ×
  * `width` buckets, one groupBy — the sketch table is depth×width rows
  * (2 K cells here) NO MATTER THE CORPUS SIZE, with map-side partial
  * aggregation doing the heavy lifting, so at 100 TB the shuffle moves
  * at most `depth·width` rows per task. Point queries are `depth`
  * lookups joined against the broadcast cell table and take the MIN
  * across rows. Salted md5 keeps every cell assignment deterministic
  * and exactly replicable in the DuckDB oracle (the q275 approx-agg
  * family discipline, but here the whole data structure is exact-match
  * verifiable, not just invariant-bound).
  *
  * Reference anchor: the reference's approx-agg story is the same
  * sketch-partial-aggregation pattern (flink-table-runtime-blink
  * aggregate partials); Count-Min is its frequency-domain sibling.
  */
object SketchQueries extends QuerySet {

  /** 32-bit integer hash of a string column: first 8 hex chars of md5. */
  private def md5i(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  private def md5iSql(e: String): String =
    s"('0x'||substr(md5($e),1,8))::BIGINT"

  private val depth = 4   // independent hash rows (error prob 2^-4)
  private val width = 512 // buckets per row (overcount ≤ 2N/512 w.h.p.)

  /** A token's `depth` (row, bucket) sketch cells — shared by the
    * batch build, the streaming build, and the probe side, so the
    * three can never drift. */
  private def cellArr(term: Column): Column =
    array((0 until depth).map { r =>
      struct(lit(r).as("r"),
        pmod(md5i(concat(lit(s"$r|"), term)), lit(width)).as("b"))
    }: _*)

  /** q298's probe + audit tail over a finished (r, b, cnt) cell table:
    * estimate every distinct term (min over its depth cells against
    * the broadcast sketch), rank, audit the top 20 against exact
    * counts with the never-under and 2N/width-bound invariants. */
  private def heavyHitters(cells: DataFrame, tok: DataFrame): DataFrame = {
    val nTotal = tok.agg(count(lit(1)).as("n_total"))
    val vocab = tok.distinct()
    val probes = vocab.select(col("term"), explode(cellArr(col("term"))).as("rb"))
      .select(col("term"), col("rb.r").as("r"), col("rb.b").as("b"))
    val est = probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("term")).agg(min(col("cnt")).as("est"))
    val exact = tok.groupBy(col("term")).agg(count(lit(1)).as("exact"))
    // top-20 via orderBy+limit (TakeOrderedAndProject — partial
    // top-k per partition, no single-partition window)
    est.join(exact, "term")
      .crossJoin(broadcast(nTotal))
      .orderBy(col("est").desc, col("term"))
      .limit(20)
      .select(col("term"), col("est"), col("exact"),
        (col("est") - col("exact")).as("overcount"),
        (col("est") >= col("exact")).as("never_under"),
        (col("est") - col("exact") <=
          ceil(lit(2.0) * col("n_total") / lit(width)).cast("long"))
          .as("bound_ok"))
      .orderBy(col("est").desc, col("term"))
  }

  val queries: Map[String, Q] = Map(
    // Count-Min heavy hitters: build the depth×width sketch over every
    // corpus token, estimate EVERY distinct term from the sketch
    // (vocabulary-bounded probe join — natural-language vocabularies
    // saturate, so the probe side stays small at any corpus size; the
    // sketch itself is 2 K cells and broadcasts), rank by estimate and
    // audit the top 20 against exact counts. Count-Min guarantees
    // est ≥ exact always and est ≤ exact + ⌈2N/width⌉ with prob
    // 1−2^−depth; both are emitted as columns so the oracle pins the
    // estimates AND the bound held on this corpus.
    "q298_cms_heavy_hitters" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      // one pass, depth cells per token; partial agg collapses each
      // map task to ≤ depth×width rows before the shuffle
      val cells = tok
        .select(explode(cellArr(col("term"))).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      heavyHitters(cells, tok)
    }),

    // STREAMING Count-Min maintenance — q298's sketch as update-mode
    // STREAMING AGGREGATION STATE (the q308 HLL pattern verbatim,
    // closing the batch/stream symmetry for both sketch families):
    // each micro-batch folds its tokens' (r, b) cell increments into
    // the per-cell running count — a plain order-independent SUM over
    // ≤ depth×width keys, so state is 2 K cells at ANY corpus size
    // and batch boundaries cannot change the final sketch. The final
    // cell table (newest emission per cell) then answers the q298
    // heavy-hitter audit bit-for-bit — same oracle.
    "q313_cms_stream" -> ((s, d) => {
      val base = Scratch.dir("cmsstream")
      // epochs come from the unspread scan: each is one coalesce(1)
      // write, so Tables.load's repartition would only add a shuffle
      // (and a job) per epoch; q308, q323 and q332 do the same
      val docs = Tables.scan(s, d, "documents").select(col("doc_id"), col("text"))
      val chunks = (0 until 4).map(i => pmod(col("doc_id"), lit(4)) === i)
      val (inDir, schema) = Replay.fileEpochs(docs, chunks, base.toString)
      val liveCells = Replay.streamDf(s, inDir, schema)
        // the replay contract is ONE file per epoch, so each
        // micro-batch's scan gets at most a handful of byte-range
        // splits (~3 here, conc 2.4 even at the 10x soak) while the
        // tokenize+explode map side below is the query's CPU bulk
        // (task_sec 21 s vs q298's same work at conc 22). Re-spread
        // the raw (doc_id, text) rows — a few MB per epoch — to the
        // session parallelism BEFORE the explode (guide §2.5:
        // unsplittable input, repartition right after the read); the
        // stateful agg's own exchange still uses the derived bounded
        // state partition count.
        .repartition(s.sparkContext.defaultParallelism)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
        .select(explode(cellArr(col("term"))).as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val cells = Replay.latestPerKey(
        Replay.runUpdate(liveCells, base.toString, s,
          Replay.boundedStatePartitions(depth * width)),
        col("r"), col("b"))
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      heavyHitters(cells, tok)
    }),

    // KLL QUANTILE SKETCH-CUBE — the q307 pattern for the rank domain,
    // completing the sketch family (CMS counts, HLL distincts, KLL
    // quantiles): ONE corpus pass builds per-(source, lang) doc-length
    // sketches (functions/Kll.scala — deterministic KLL/MRL compactor
    // ladder as a mergeable Aggregator), every coarser grain is a
    // MERGE of cell sketches, never a rescan. n/min/max ride the
    // sketch EXACTLY (oracle-pinned); each estimated quantile is
    // audited against the grain's true rank from a BOUNDED value
    // histogram (distinct doc lengths × cells — never a re-sort of
    // the corpus): |rank(est) − q·n| must sit inside the 5%+8
    // deterministic-KLL envelope, emitted as oracle-pinned booleans.
    // At 100 TB: bounded histogram, KB-scale sketches, zero rescans.
    "q322_kll_cube" -> ((s, d) => {
      import graft.functions.Kll
      val kllAgg = udaf(new Kll.Agg)
      val kllMerge = udaf(new Kll.MergeAgg)
      val statsUdf = udf((b: Array[Byte]) => Kll.stats(b))
      val docs = Tables.documents(s, d).select(col("source"), col("lang"),
        col("n_chars").cast("double").as("v"))
      val cells = docs.groupBy(col("source"), col("lang"))
        .agg(kllAgg(col("v")).as("sk"))
        .localCheckpoint() // the KB-scale cell table feeds 4 rollups
      val nullS = lit(null).cast("string")
      val ests = cells.select(col("source"), col("lang"), col("sk"))
        .unionAll(cells.groupBy(col("source"))
          .agg(kllMerge(col("sk")).as("sk"))
          .select(col("source"), nullS.as("lang"), col("sk")))
        .unionAll(cells.groupBy(col("lang"))
          .agg(kllMerge(col("sk")).as("sk"))
          .select(nullS.as("source"), col("lang"), col("sk")))
        .unionAll(cells.agg(kllMerge(col("sk")).as("sk"))
          .select(nullS.as("source"), nullS.as("lang"), col("sk")))
        .withColumn("st", statsUdf(col("sk")))
        .select(col("source").as("gsrc"), col("lang").as("glng"),
          col("st.n").as("n"), col("st.min_v").as("min_d"),
          col("st.max_v").as("max_d"),
          col("st.q25").as("q25"), col("st.q50").as("q50"),
          col("st.q75").as("q75"))
      // bounded (source, lang, length) histogram → exact ranks of the
      // estimated quantiles at every grain, plus exact min/max
      val hist = docs.groupBy(col("source"), col("lang"), col("v"))
        .agg(count(lit(1)).as("c"))
      val grainHist = hist
        .select(col("source"), col("lang"), col("v"), col("c"))
        .unionAll(hist.select(col("source"), nullS, col("v"), col("c")))
        .unionAll(hist.select(nullS, col("lang"), col("v"), col("c")))
        .unionAll(hist.select(nullS, nullS, col("v"), col("c")))
        .select(col("source").as("hsrc"), col("lang").as("hlng"),
          col("v"), col("c"))
      def rankOk(r: Column, q: Double, n: Column): Column =
        abs(r - lit(q) * n) <= lit(0.05) * n + lit(8.0)
      // NULL-SAFE grain join: the rollup grains key on null
      grainHist.join(broadcast(ests),
          grainHist("hsrc") <=> ests("gsrc") &&
            grainHist("hlng") <=> ests("glng"))
        .groupBy(col("gsrc"), col("glng"), col("n"), col("min_d"),
          col("max_d"), col("q25"), col("q50"), col("q75"))
        .agg(sum(when(col("v") <= col("q25"), col("c"))).as("r25"),
          sum(when(col("v") <= col("q50"), col("c"))).as("r50"),
          sum(when(col("v") <= col("q75"), col("c"))).as("r75"),
          min(col("v")).as("true_min"), max(col("v")).as("true_max"))
        .select(col("gsrc").as("source"), col("glng").as("lang"),
          col("n"),
          col("min_d").cast("long").as("min_v"),
          col("max_d").cast("long").as("max_v"),
          rankOk(col("r25"), 0.25, col("n")).as("q25_ok"),
          rankOk(col("r50"), 0.50, col("n")).as("q50_ok"),
          rankOk(col("r75"), 0.75, col("n")).as("q75_ok"),
          (col("min_d") === col("true_min") &&
            col("max_d") === col("true_max")).as("minmax_ok"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    }),

    // STREAMING quantile maintenance — the q308/q313 pattern for the
    // KLL sketch: the per-source doc-length sketch as update-mode
    // STREAMING AGGREGATION STATE (the Aggregator's buffer lives in
    // the state store exactly like the built-in HLL's), each
    // micro-batch folding its lengths in; state per key is one
    // ≤ k·H-item ladder at ANY corpus size. The final emission per
    // source passes the same exact-n/min/max + rank-envelope audit as
    // the batch cube — live quantile dashboards without rescans.
    "q323_kll_stream" -> ((s, d) => {
      import graft.functions.Kll
      val base = Scratch.dir("kllstream")
      val kllAgg = udaf(new Kll.Agg)
      val statsUdf = udf((b: Array[Byte]) => Kll.stats(b))
      val docs = Tables.scan(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val chunks = (0 until 4).map(i => pmod(col("doc_id"), lit(4)) === i)
      val (inDir, schema) = Replay.fileEpochs(docs, chunks, base.toString)
      val live = Replay.streamDf(s, inDir, schema)
        .groupBy(col("source"))
        .agg(kllAgg(col("n_chars").cast("double")).as("sk"))
        .withColumn("st", statsUdf(col("sk")))
        .select(col("source"), col("st.n").as("n"),
          col("st.min_v").as("min_d"), col("st.max_v").as("max_d"),
          col("st.q25").as("q25"), col("st.q50").as("q50"),
          col("st.q75").as("q75"))
      val fin = Replay.latestPerKey(
        Replay.runUpdate(live, base.toString, s,
          Replay.boundedStatePartitions(64)), col("source"))
      val hist = docs
        .select(col("source"), col("n_chars").cast("double").as("v"))
        .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
      def rankOk(r: Column, q: Double, n: Column): Column =
        abs(r - lit(q) * n) <= lit(0.05) * n + lit(8.0)
      hist.join(broadcast(fin), Seq("source"))
        .groupBy(col("source"), col("n"), col("min_d"), col("max_d"),
          col("q25"), col("q50"), col("q75"))
        .agg(sum(when(col("v") <= col("q25"), col("c"))).as("r25"),
          sum(when(col("v") <= col("q50"), col("c"))).as("r50"),
          sum(when(col("v") <= col("q75"), col("c"))).as("r75"),
          min(col("v")).as("true_min"), max(col("v")).as("true_max"))
        .select(col("source"), col("n"),
          col("min_d").cast("long").as("min_v"),
          col("max_d").cast("long").as("max_v"),
          rankOk(col("r25"), 0.25, col("n")).as("q25_ok"),
          rankOk(col("r50"), 0.50, col("n")).as("q50_ok"),
          rankOk(col("r75"), 0.75, col("n")).as("q75_ok"),
          (col("min_d") === col("true_min") &&
            col("max_d") === col("true_max")).as("minmax_ok"))
        .orderBy(col("source"))
    }),

    // THETA/KMV SET ALGEBRA — the sketch family's last gap: HLL
    // (q307/q308) answers |A| and |A∪B|; a theta sketch (Beyer 2007,
    // Dasgupta 2016; functions/Theta.scala) retains the k smallest
    // key hashes and so ALSO answers |A∩B| and |A\B| from the
    // sketches alone. A = customers ordering in odd months, B = even
    // months; one sketch per set, every set-op estimate derived from
    // the two KB-scale sketches — no join, no second pass. Exact
    // counts ride the row (oracle-pinned); the estimate booleans sit
    // in envelopes sized to the k=1024 theory (±3.1% RSE on the
    // union domain, wider for the shrinking intersect/difference
    // results) — deterministic splitmix64 hashing makes them stable.
    // At 100 TB: overlap dashboards between any two corpus slices
    // from sketches the size of a page.
    "q329_theta_setops" -> ((s, d) => {
      import graft.functions.Theta
      val thetaAgg = udaf(new Theta.Agg)
      val f = Tables.orders(s, d).select(col("o_custkey").as("k"),
        (month(col("o_orderdate")) % 2 === 1).as("odd"))
      val ska = f.filter(col("odd")).agg(thetaAgg(col("k")).as("ska"))
      val skb = f.filter(!col("odd")).agg(thetaAgg(col("k")).as("skb"))
      val estsUdf = udf((a: Array[Byte], b: Array[Byte]) => {
        val sa = Theta.deserialize(a); val sb = Theta.deserialize(b)
        (Theta.estimate(sa), Theta.estimate(sb),
          Theta.estimate(Theta.unionOf(sa, sb)),
          Theta.intersectEst(sa, sb), Theta.aNotBEst(sa, sb))
      })
      val perKey = f.groupBy(col("k")).agg(
        max(when(col("odd"), 1).otherwise(0)).as("ha"),
        max(when(!col("odd"), 1).otherwise(0)).as("hb"))
      val exact = perKey.agg(
        sum(col("ha")).as("xa"), sum(col("hb")).as("xb"),
        count(lit(1)).as("xu"),
        sum(col("ha") * col("hb")).as("xi"),
        sum(col("ha") * (lit(1) - col("hb"))).as("xd"))
      def ok(est: Column, x: Column, rel: Double, add: Double): Column =
        abs(est - x) <= lit(rel) * x + lit(add)
      ska.crossJoin(skb)
        .select(estsUdf(col("ska"), col("skb")).as("e"))
        .crossJoin(exact)
        .select(explode(array(
          struct(lit("1_a").as("op"), col("xa").cast("long").as("n_exact"),
            ok(col("e._1"), col("xa"), 0.05, 32).as("est_ok")),
          struct(lit("2_b").as("op"), col("xb").cast("long").as("n_exact"),
            ok(col("e._2"), col("xb"), 0.05, 32).as("est_ok")),
          struct(lit("3_union").as("op"), col("xu").cast("long").as("n_exact"),
            ok(col("e._3"), col("xu"), 0.05, 32).as("est_ok")),
          struct(lit("4_intersect").as("op"),
            col("xi").cast("long").as("n_exact"),
            ok(col("e._4"), col("xi"), 0.08, 48).as("est_ok")),
          struct(lit("5_a_not_b").as("op"),
            col("xd").cast("long").as("n_exact"),
            ok(col("e._5"), col("xd"), 0.12, 48).as("est_ok")))).as("r"))
        .select(col("r.op").as("op"), col("r.n_exact").as("n_exact"),
          col("r.est_ok").as("est_ok"))
        .orderBy(col("op"))
    }),

    // STREAMING theta maintenance — the q308/q313/q323 pattern for
    // the set-algebra sketch, completing batch+streaming symmetry
    // across the whole sketch family (counts/distincts/quantiles/set
    // ops): the per-source vocabulary sketch as update-mode STREAMING
    // AGGREGATION STATE over a 4-epoch replay (state per key = the k
    // smallest token hashes — KB-scale at any corpus size; the
    // consolidated sketch is order-independent, so batch boundaries
    // cannot change it). The final sketches pass the per-source
    // distinct audit AND answer a cross-source question no HLL state
    // can: the SHARED vocabulary between two sources (and what's
    // unique to one), audited against the exact distinct-join counts.
    "q332_theta_stream" -> ((s, d) => {
      import graft.functions.Theta
      val base = Scratch.dir("thstream")
      val thetaAgg = udaf(new Theta.Agg)
      val docs = Tables.scan(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val chunks = (0 until 4).map(i => pmod(col("doc_id"), lit(4)) === i)
      val (inDir, schema) = Replay.fileEpochs(docs, chunks, base.toString)
      val agg = Replay.streamDf(s, inDir, schema)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(thetaAgg(xxhash64(col("w"))).as("sk"))
      val fin = Replay.latestPerKey(
        Replay.runUpdate(agg, base.toString, s,
          Replay.boundedStatePartitions(64)), col("source"))
      val skRows = fin.collect() // one row per source — dimension-bounded
      require(skRows.length <= 64,
        s"source dimension blew up: ${skRows.length}")
      val sks = skRows.map(r => r.getAs[String]("source") ->
        Theta.deserialize(r.getAs[Array[Byte]]("sk"))).sortBy(_._1)
      val (aName, aSk) = sks.head
      val (bName, bSk) = sks.last
      val spark2 = s; import spark2.implicits._
      val estDf = (sks.toSeq.map { case (src, sk) =>
          ("src_" + src, Theta.estimate(sk)) } :+
        ("x_intersect", Theta.intersectEst(aSk, bSk)) :+
        ("y_a_not_b", Theta.aNotBEst(aSk, bSk)))
        .toDF("op", "est")
      val words = docs
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val perSrc = words.groupBy(col("source"))
        .agg(countDistinct(col("w")).as("x"))
        .select(concat(lit("src_"), col("source")).as("op"), col("x"))
      val aw = words.filter(col("source") === aName)
        .select(col("w")).distinct()
      val bw = words.filter(col("source") === bName)
        .select(col("w")).distinct()
      val xi = aw.join(bw, Seq("w"), "left_semi")
        .agg(count(lit(1)).as("x")).select(lit("x_intersect").as("op"),
          col("x"))
      val xd = aw.join(bw, Seq("w"), "left_anti")
        .agg(count(lit(1)).as("x")).select(lit("y_a_not_b").as("op"),
          col("x"))
      val rel = when(col("op").startsWith("src_"), lit(0.05))
        .when(col("op") === "x_intersect", lit(0.08))
        .otherwise(lit(0.12))
      val add = when(col("op").startsWith("src_"), lit(32.0))
        .otherwise(lit(64.0))
      perSrc.unionAll(xi).unionAll(xd)
        .join(broadcast(estDf), Seq("op"))
        .select(col("op"), col("x").cast("long").as("n_exact"),
          (abs(col("est") - col("x")) <= rel * col("x") + add)
            .as("est_ok"))
        .orderBy(col("op"))
    }),

    // HLL SKETCH-CUBE rollup — the OLAP-at-scale pattern for distinct
    // counts: ONE corpus pass builds a per-(source, lang) cell table
    // of HLL sketches (bounded by the dimension cardinalities), and
    // every coarser grain — per source, per lang, grand total — is a
    // MERGE of cell sketches (hll_union_agg), never a rescan. At
    // 100 TB this is the difference between re-scanning the corpus
    // per grain and rolling up a few-KB sketch table; exactly the
    // datasketches mergeability q275 binds, promoted to the cube
    // shape. HLL merge is a per-bucket max → order-independent, so
    // the estimates are deterministic and the ±5% audit booleans are
    // stable; the exact side rides Spark's cube() grouping sets and
    // is what the oracle recomputes.
    "q307_hll_cube" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val cells = tok.groupBy(col("source"), col("lang"))
        .agg(expr("hll_sketch_agg(w)").as("sk"))
        .localCheckpoint() // the few-KB cell table feeds 4 rollups
      val merged = expr("hll_sketch_estimate(hll_union_agg(sk))")
      val g2 = cells.select(col("source"), col("lang"),
        expr("hll_sketch_estimate(sk)").as("est"))
      val gs = cells.groupBy(col("source"))
        .agg(merged.as("est"))
        .select(col("source"), lit(null).cast("string").as("lang"),
          col("est"))
      val gl = cells.groupBy(col("lang"))
        .agg(merged.as("est"))
        .select(lit(null).cast("string").as("source"), col("lang"),
          col("est"))
      val g0 = cells.agg(merged.as("est"))
        .select(lit(null).cast("string").as("source"),
          lit(null).cast("string").as("lang"), col("est"))
      val ests = g2.unionAll(gs).unionAll(gl).unionAll(g0)
      val exact = tok.cube(col("source"), col("lang"))
        .agg(countDistinct(col("w")).as("exact"))
      exact.join(ests,
          exact("source") <=> ests("source") &&
            exact("lang") <=> ests("lang"))
        .select(exact("source"), exact("lang"), col("exact"),
          (abs(col("est") - col("exact")) <=
            lit(0.05) * col("exact") + lit(8.0)).as("est_ok"))
        .orderBy(exact("source").asc_nulls_first,
          exact("lang").asc_nulls_first)
    }),

    // STREAMING distinct-count maintenance: the per-source HLL sketch
    // as STREAMING AGGREGATION STATE — each micro-batch folds its
    // tokens into the per-key sketch (KB-scale state per key, never a
    // distinct-set), update mode emits the refreshed estimate per
    // batch, and the FINAL estimate must match the whole-corpus
    // audit. HLL state is a per-bucket max, so batch boundaries
    // cannot change the result — the q154/q218 streaming-parity
    // discipline applied to sketch state. This is how a 100 TB
    // ingest pipeline keeps live cardinality dashboards without ever
    // re-scanning: the q307 cube's cells maintained incrementally.
    "q308_hll_stream" -> ((s, d) => {
      val base = Scratch.dir("hllstream")
      val docs = Tables.scan(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val chunks = (0 until 4).map(i => pmod(col("doc_id"), lit(4)) === i)
      val (inDir, schema) = Replay.fileEpochs(docs, chunks, base.toString)
      val agg = Replay.streamDf(s, inDir, schema)
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source"))
        .agg(expr("hll_sketch_agg(w)").as("sk"))
        .select(col("source"), expr("hll_sketch_estimate(sk)").as("est"))
      val fin = Replay.latestPerKey(
        Replay.runUpdate(agg, base.toString, s,
          Replay.boundedStatePartitions(64)), col("source"))
      val exact = docs
        .select(col("source"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("source")).agg(countDistinct(col("w")).as("exact"))
      fin.join(exact, "source")
        .select(col("source"), col("exact"),
          (abs(col("est") - col("exact")) <=
            lit(0.05) * col("exact") + lit(8.0)).as("est_ok"))
        .orderBy(col("source"))
    }))

  /** CMS heavy hitters replicated relationally in DuckDB — shared by
    * the batch (q298) and streaming (q313) legs: the streamed sketch
    * must equal the batch sketch (order-independent cell sums). */
  private val cmsSql: String = {
    val salted = (0 until depth).map { r =>
      s"SELECT term, $r AS r, ${md5iSql(s"'$r|' || term")} % $width AS b FROM tok"
    }.mkString("\n        UNION ALL ")
    s"""WITH tok AS (
      |  SELECT t.term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents) t
      |  WHERE len(t.term) > 0),
      |keyed AS (
      |        $salted),
      |cells AS (SELECT r, b, count(*) AS cnt FROM keyed GROUP BY 1, 2),
      |probes AS (SELECT DISTINCT term, r, b FROM keyed),
      |est AS (SELECT p.term, min(c.cnt) AS est
      |        FROM probes p JOIN cells c USING (r, b) GROUP BY 1),
      |exact AS (SELECT term, count(*) AS exact FROM tok GROUP BY 1),
      |n AS (SELECT count(*) AS n_total FROM tok)
      |SELECT term, est, exact, est - exact AS overcount,
      |       est >= exact AS never_under,
      |       est - exact <= CAST(ceil(2.0 * n_total / $width) AS BIGINT)
      |         AS bound_ok
      |FROM est JOIN exact USING (term) CROSS JOIN n
      |ORDER BY est DESC, term LIMIT 20""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q313_cms_stream" -> cmsSql,
    "q298_cms_heavy_hitters" -> cmsSql,
    // n/min/max are exact by construction; the quantile booleans pin
    // the deterministic-KLL rank envelope on this corpus
    "q322_kll_cube" ->
      """SELECT source, lang, count(*)::BIGINT AS n,
        |  min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
        |  true AS q25_ok, true AS q50_ok, true AS q75_ok,
        |  true AS minmax_ok
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY source, lang""".stripMargin,
    "q323_kll_stream" ->
      """SELECT source, count(*)::BIGINT AS n,
        |  min(n_chars)::BIGINT AS min_v, max(n_chars)::BIGINT AS max_v,
        |  true AS q25_ok, true AS q50_ok, true AS q75_ok,
        |  true AS minmax_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // exact set-op counts pinned; the estimate booleans must hold
    "q329_theta_setops" ->
      """WITH f AS (
        |  SELECT o_custkey AS k,
        |         (month(o_orderdate) % 2 = 1) AS odd
        |  FROM orders),
        |pk AS (
        |  SELECT k,
        |         max(CASE WHEN odd THEN 1 ELSE 0 END) AS ha,
        |         max(CASE WHEN odd THEN 0 ELSE 1 END) AS hb
        |  FROM f GROUP BY k),
        |x AS (
        |  SELECT sum(ha)::BIGINT AS xa, sum(hb)::BIGINT AS xb,
        |         count(*)::BIGINT AS xu,
        |         sum(ha * hb)::BIGINT AS xi,
        |         sum(ha * (1 - hb))::BIGINT AS xd
        |  FROM pk)
        |SELECT '1_a' AS op, xa AS n_exact, true AS est_ok FROM x
        |UNION ALL SELECT '2_b', xb, true FROM x
        |UNION ALL SELECT '3_union', xu, true FROM x
        |UNION ALL SELECT '4_intersect', xi, true FROM x
        |UNION ALL SELECT '5_a_not_b', xd, true FROM x
        |ORDER BY op""".stripMargin,
    // per-source vocabulary sizes + the shared/unique vocabulary of
    // the (alphabetically) first and last sources — exact counts
    // pinned, the streaming-sketch estimates must sit in envelope
    "q332_theta_stream" ->
      """WITH t AS (SELECT source, w FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  WHERE len(w) > 0),
        |per AS (SELECT source, count(DISTINCT w)::BIGINT AS x
        |        FROM t GROUP BY source),
        |ab AS (SELECT min(source) AS a, max(source) AS b FROM t),
        |wa AS (SELECT DISTINCT t.w FROM t, ab WHERE t.source = ab.a),
        |wb AS (SELECT DISTINCT t.w FROM t, ab WHERE t.source = ab.b),
        |xi AS (SELECT count(*)::BIGINT AS x FROM wa
        |       WHERE w IN (SELECT w FROM wb)),
        |xd AS (SELECT count(*)::BIGINT AS x FROM wa
        |       WHERE w NOT IN (SELECT w FROM wb))
        |SELECT 'src_' || source AS op, x AS n_exact, true AS est_ok
        |FROM per
        |UNION ALL SELECT 'x_intersect', x, true FROM xi
        |UNION ALL SELECT 'y_a_not_b', x, true FROM xd
        |ORDER BY op""".stripMargin,
    "q307_hll_cube" ->
      """SELECT source, lang, count(DISTINCT w) AS exact,
        |       true AS est_ok
        |FROM (SELECT source, lang, t.w FROM
        |        (SELECT source, lang,
        |                unnest(string_split(text, ' ')) AS w
        |         FROM documents) t
        |      WHERE len(t.w) > 0)
        |GROUP BY CUBE (source, lang)
        |ORDER BY source, lang""".stripMargin,
    "q308_hll_stream" ->
      """SELECT source, count(DISTINCT t.w) AS exact, true AS est_ok
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |      FROM documents) t
        |WHERE len(t.w) > 0
        |GROUP BY source ORDER BY source""".stripMargin)
}
