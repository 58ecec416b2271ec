package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-curation operators over `documents` — the second tier of the
  * LLM-training-data pipeline (builder-prompt north star), composing
  * the `TextQueries` primitives into the jobs a curation run actually
  * schedules: near-dup CLUSTERING (pairs → components → one canonical
  * doc per cluster), deterministic hash SAMPLING (bernoulli + per-
  * stratum quota), repetition-based QUALITY filters (the Gopher/
  * RefinedWeb rules), normalized (bag-of-words) dedup, and an
  * end-to-end curation pipeline chaining filter → dedup → quota.
  *
  * Reference analog: these are the operator chains a reference user
  * builds from groupReduce/join/distinct (DataSet API, SURVEY §2.3);
  * here each is one declarative plan.
  *
  * Scale design (100 TB):
  * - Clustering runs connected components ONLY over the near-dup pair
  *   graph (LSH-candidates, ~linear in corpus), never all-pairs; the
  *   label-propagation loop shuffles on doc_id with localCheckpoint
  *   lineage cuts per superstep (`GraphOps` scale notes).
  * - Hash sampling is stateless per-row (md5 prefix compare) — no
  *   sort, no sample() nondeterminism, reproducible across reruns and
  *   engines; the quota variant is one window per stratum, the
  *   standard per-language cap.
  * - Repetition stats shuffle (doc_id, token) with map-side partial
  *   aggregation; nothing is per-driver.
  * - All ratios are integer ppm (exact cross-engine, no float
  *   rounding boundary).
  */
object PipelineQueries extends QuerySet {

  private def ws(t: Column) = split(t, " ")

  /** 2-gram shingles of the space-tokenized text (≥1 shingle). */
  private def shingles2(t: Column): Column = {
    val w = ws(t)
    transform(sequence(lit(1), greatest(size(w) - 1, lit(1))),
      i => concat_ws(" ", slice(w, i, lit(2))))
  }

  /** Bag-of-words key: md5 of the sorted token multiset — equal iff
    * two docs are word-order permutations of each other. */
  private def bowKey(t: Column): Column =
    md5(concat_ws(" ", sort_array(ws(t))))

  private val minAgree = 4    // near-dup edge: ≥4 of 8 minhashes agree
  private val packBudget = 512L // q95: token budget per packed sequence
  private val bernHex  = "2000" // bernoulli keep: md5 prefix < 1/8 of space
  private val quotaN   = 20   // per-language quota sample size
  private val curateQuota = 25

  val queries: Map[String, Q] = Map(
    // Near-dup clustering: LSH candidate pairs with signature
    // agreement ≥ minAgree become edges; connected components over
    // that graph; cluster id = min doc_id in component; the canonical
    // doc is the cluster representative a dedup pass would keep.
    "q74_dedup_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sig = TextQueries.minhashSigs(docs).localCheckpoint()
      val edges = TextQueries.minhashAgreePairs(sig)
        .filter(col("n_agree") >= minAgree)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val verts = docs.select(col("doc_id").as("id"))
      GraphOps.connectedComponents(verts, edges)
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified sampling: bernoulli by md5-prefix
    // compare (rate = bernHex/0x10000) + per-language quota by hash
    // rank. Reproducible on any engine/cluster — no RNG state.
    "q75_sample_stratified" -> ((s, d) => {
      val h = md5(col("text"))
      val rk = row_number().over(
        Window.partitionBy(col("lang")).orderBy(h, col("doc_id")))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          substring(h, 1, 4).as("h4"),
          (substring(h, 1, 4) < lit(bernHex)).as("pick_bernoulli"),
          rk.as("lang_rank"))
        .withColumn("pick_quota", col("lang_rank") <= quotaN)
        .orderBy(col("doc_id"))
    }),

    // Repetition stats (Gopher/RefinedWeb quality rules): most-
    // frequent-token fraction, most-frequent-2-gram fraction,
    // distinct-token ratio — all ppm.
    "q76_repetition" -> ((s, d) => {
      // Empty docs are excluded up front on BOTH sides: Spark's ws()
      // yields no tokens (the doc silently drops from the inner join)
      // while DuckDB's string_split('') yields [''] — and the ppm
      // quotients would divide by zero (engine-divergent: null vs
      // error). One bad input row must not change the contract.
      val docs = Tables.documents(s, d).filter(length(col("text")) > 0)
      val wstats = docs
        .select(col("doc_id"), explode(ws(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_words"),
             count(lit(1)).as("n_distinct"),
             max(col("c")).as("top_word_n"))
      val gstats = docs
        .select(col("doc_id"), explode(shingles2(col("text"))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"), max(col("c")).as("top_gram_n"))
      // Integral `div` (not double `/` + cast): exact at any scale and
      // floor-consistent with DuckDB's `//` for non-negative counts.
      wstats.join(gstats, "doc_id")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          col("top_word_n"), col("top_gram_n"),
          expr("n_distinct * 1000000L div n_words").as("distinct_ppm"),
          expr("top_word_n * 1000000L div n_words").as("top_word_ppm"),
          expr("top_gram_n * 1000000L div n_grams").as("top_gram_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Normalized (bag-of-words) dedup: docs that are token-multiset
    // permutations collapse to the min doc_id — exact dedup after
    // order normalization, same keep-min shape as q60.
    "q77_norm_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = docs.groupBy(bowKey(col("text")).as("nk"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      docs.select(col("doc_id"), bowKey(col("text")).as("nk"))
        .join(keep, "nk")
        .select(col("doc_id"), col("keep_id"), col("n_copies"),
          (col("doc_id") === col("keep_id")).as("is_keeper"))
        .orderBy(col("doc_id"))
    }),

    // End-to-end curation: quality filter (token-count band + digit
    // ratio) → normalized dedup (keep min doc_id per bag-of-words
    // key) → per-language quota (longest docs first). One declarative
    // plan: filter pushes to the scan, dedup and quota are each one
    // window over one shuffle.
    "q78_curate" -> ((s, d) => {
      val t = col("text")
      // length(text) > 0 guard on both sides: DuckDB raises on `// 0`
      // while Spark yields null and drops the row — one empty document
      // must not make the engines diverge. Integral `div` keeps the
      // ppm exact (no double rounding) at any document length.
      val base = Tables.documents(s, d)
        .filter(length(t) > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(ws(t)).as("n_tokens"), bowKey(t).as("nk"),
          expr("length(regexp_replace(text, '[^0-9]', '')) * 1000000L div length(text)")
            .as("digit_ppm"))
        .filter(col("n_tokens").between(30, 500) &&
                col("digit_ppm") < 200000)
      val dedup = base
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("nk"))))
        .filter(col("doc_id") === col("keep_id"))
      dedup
        .withColumn("lang_rank", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("lang_rank") <= curateQuota)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
                col("n_chars"), col("lang_rank"))
        .orderBy(col("doc_id"))
    }),

    // Greedy sequence packing (training-batch prep): walk each
    // language stratum in doc_id order, accumulate documents into the
    // current bin while the token budget holds, else open a new bin —
    // the packing pass that turns a curated corpus into fixed-budget
    // training sequences. One shuffle on the stratum key, then a
    // sequential in-memory walk per stratum (the SortedGroups shape).
    // SCALE NOTE: strata pack sequentially, strata run in parallel; at
    // 100 TB the stratum key becomes (lang, shard) with shard =
    // floor(doc_id / chunk) so no single group exceeds a task — the
    // greedy walk is unchanged, bins just get a shard prefix.
    "q95_pack_sequences" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(ws(col("text"))).cast("long").as("n_tokens"))
        .as[(Long, String, Long)]
      docs.groupByKey(_._2)
        .flatMapGroups { (lang: String, rows: Iterator[(Long, String, Long)]) =>
          val sorted = rows.toList.sortBy(_._1)
          var bin = 0L; var fill = 0L; var first = true
          sorted.iterator.map { case (id, _, n) =>
            if (first) { first = false; fill = n }
            else if (fill + n <= packBudget) fill += n
            else { bin += 1; fill = n }
            (lang, id, n, bin)
          }
        }.toDF("lang", "doc_id", "n_tokens", "bin_id")
        .orderBy(col("lang"), col("doc_id"))
    }),

    // Benchmark decontamination: flag corpus documents sharing any
    // 4-token shingle with a benchmark set (source src0 stands in for
    // the eval suite), reporting how many distinct shingles leak.
    // SCALE NOTE: the benchmark shingle set is tiny next to the
    // corpus (eval suites are MBs against 100 TB), so the join
    // broadcasts and the corpus is never shuffled at full width —
    // only flagged (doc_id, shingle) rows reach the count shuffle.
    "q96_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src0")
        .select(explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
      val corpus = docs.filter(col("source") =!= "src0")
        .select(col("doc_id"),
          explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
      corpus.join(broadcast(bench), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // Two-phase Bloom decontamination — the 100 TB shape of q96. The
    // benchmark shingle set folds DISTRIBUTED into one Bloom sketch
    // (functions.bloom_filter_agg = Spark's BloomFilterAggregate over
    // xxhash64 keys, the same machinery InjectRuntimeFilter plants);
    // the sketch rides to every corpus partition as a literal, and
    // the corpus side collapses from ALL shingles to Bloom survivors
    // (true hits + bounded fp) BEFORE the distinct/join shuffles.
    // End-to-end the result is EXACT — Bloom admits no false
    // negatives and the verify join removes false positives — so the
    // oracle is the plain exact-overlap SQL, and any build/probe
    // hashing mismatch (a false-negative source) breaks the row:
    // the sketch path is load-bearing, not decorative.
    "q210_bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("source") === "src1")
        .select(explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
      val sketch = bench
        .agg(graft.functions.GraftFunctions
          .bloom_filter_agg(xxhash64(col("sh")), 200000L).as("bf"))
        .head.getAs[Array[Byte]]("bf") // one sketch: metadata-sized
      val corpusAll = docs.filter(col("source") =!= "src1")
        .select(col("doc_id"),
          explode(TextQueries.shingles4(col("text"))).as("sh"))
      val corpus = (if (sketch == null) corpusAll // empty benchmark
        else corpusAll.filter(graft.functions.GraftFunctions
          .bloom_might_contain(sketch, xxhash64(col("sh"))))).distinct()
      corpus.join(broadcast(bench), Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    }),

    // Duplicated-span coverage (the Lee et al. "Deduplicating
    // Training Data" diagnostic): per document, the fraction of its
    // distinct 4-token shingles that occur in at least one OTHER
    // document — the span-level contamination a document-level dedup
    // misses. SCALE NOTE: unlike pair-generating LSH (q66), the
    // per-shingle df is one aggregate row per shingle — no pair
    // blowup, no df-cap needed; two bounded shuffles (shingle df,
    // doc rollup).
    "q108_dup_span" -> ((s, d) => {
      // one materialized shingle pass feeds the df table AND the join
      // back (r12 — previously the shingle pipeline ran twice)
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
        .localCheckpoint()
      val dfTab = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      sh.join(dfTab, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_shingles"), col("n_dup"),
          expr("n_dup * 1000000L div n_shingles").as("dup_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Cross-source overlap matrix: distinct 4-token shingles shared
    // by each source pair — the corpus-level contamination view
    // (which crawls/dumps duplicate each other). SCALE NOTE: the join
    // key is the shingle and each shingle appears in at most
    // |sources| rows per side, so the self-join fans out at most
    // |sources|²/2 per shingle — bounded by a catalog constant, not
    // the data.
    "q109_source_overlap" -> ((s, d) => {
      val ss = Tables.documents(s, d)
        .select(col("source"),
          explode(TextQueries.shingles4(col("text"))).as("sh"))
        .distinct()
        .localCheckpoint() // both self-join sides read the one pass (r12)
      ss.select(col("source").as("src_a"), col("sh"))
        .join(ss.select(col("source").as("src_b"), col("sh")), Seq("sh"))
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Multimodal plumbing oracle-bound, part 1 — the catalog-facing
    // media-stats projection over the synthetic media table (binary
    // payload + typed metadata struct derived deterministically from
    // documents): UTF-8 byte length of the blob, pixel geometry and
    // frame count all recomputed by the oracle from the same doc
    // fields. Binds the schema + metadata derivation a 100 TB
    // multimodal parquet layout would carry (decode itself stays the
    // labeled env stub; see Multimodal.StubCodec).
    "q183_media_stats" -> ((s, d) => Multimodal.mediaStats(s, d)),

    // Multimodal plumbing oracle-bound, part 2 — decode + frame-
    // sample through the partition-parallel mapPartitions path
    // (stride 2): the oracle recomputes the exact frame explosion
    // (frame_idx = 0,2,.. below n_frames) and the decoded buffer
    // geometry (w*h floats per frame). A wrong batch shape, a
    // dropped/extra frame, or a mis-sized decode buffer each break
    // the hash; pixel VALUES are the labeled stub's and stay
    // spec-level (MultimodalSpec).
    "q184_media_frames" -> ((s, d) => {
      Multimodal.decodeFrames(Multimodal.syntheticMedia(s, d), stride = 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"),
          size(col("pixels")).as("n_px"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // REAL image decode (netpbm P5/PGM — a genuine format, pure-JVM
    // codec in `Multimodal.Pgm`): deterministic pixel patterns are
    // ENCODED into real PGM containers (header + comment + binary
    // payload), then DECODED back partition-parallel, and the parsed
    // dimensions + integer pixel aggregates face the oracle's
    // closed-form recomputation (lateral range over w·h). A header
    // parse bug, payload offset error, or signed-byte slip changes
    // px_sum and breaks the row — the decode step is load-bearing,
    // not stubbed. Every 10th doc keeps the oracle's pixel fan-out
    // bounded; no shuffle anywhere (encode/decode are map work).
    "q247_media_pgm_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), (col("n_chars") % 64 + 16).cast("int").as("w"),
          (col("n_chars") % 48 + 16).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .map { case (id, w, h) =>
          val px = Array.tabulate(w * h)(i => ((id * 31 + i) % 256).toInt)
          (id, Multimodal.Pgm.encode(px, w, h))
        }
      media.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = Multimodal.Pgm.decodeRaw(bytes)
          var sum = 0L; var mn = 255L; var mx = 0L
          px.foreach { p =>
            sum += p
            if (p < mn) mn = p.toLong
            if (p > mx) mx = p.toLong
          }
          (id, w, h, px.length.toLong, sum, mn, mx)
        }
      }.toDF("media_id", "w", "h", "n_px", "px_sum", "px_min", "px_max")
        .orderBy(col("media_id"))
    }),

    // REAL color-image decode (netpbm P6/PPM — the 3-channel sibling
    // of q247, same pure-JVM header grammar, RGB-interleaved payload):
    // deterministic patterns encode into real P6 containers, decode
    // back partition-parallel, and the per-CHANNEL integer aggregates
    // face the oracle's closed-form recomputation. A channel-
    // interleave slip (reading RGBRGB as RRGGBB), payload offset
    // error, or signed-byte slip changes r/g/b sums independently and
    // breaks the row. Every 10th doc (offset 5, disjoint from q247's
    // sample); no shuffle — encode/decode are map work.
    "q293_media_ppm_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 5)
        .select(col("doc_id"), (col("n_chars") % 64 + 16).cast("int").as("w"),
          (col("n_chars") % 48 + 16).cast("int").as("h"))
        .as[(Long, Int, Int)]
        .map { case (id, w, h) =>
          val rgb = Array.tabulate(3 * w * h)(i => ((id * 31 + i) % 256).toInt)
          (id, Multimodal.Ppm.encode(rgb, w, h))
        }
      media.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (w, h, px) = Multimodal.Ppm.decodeRaw(bytes)
          var (rs, gs, bs) = (0L, 0L, 0L)
          var mn = 255L; var mx = 0L
          var i = 0
          while (i < px.length) {
            val p = px(i)
            (i % 3: @annotation.switch) match {
              case 0 => rs += p
              case 1 => gs += p
              case 2 => bs += p
            }
            if (p < mn) mn = p.toLong
            if (p > mx) mx = p.toLong
            i += 1
          }
          (id, w, h, (px.length / 3).toLong, rs, gs, bs, mn, mx)
        }
      }.toDF("media_id", "w", "h", "n_px", "r_sum", "g_sum", "b_sum",
          "px_min", "px_max")
        .orderBy(col("media_id"))
    }),

    // REAL audio decode (WAV/RIFF 16-bit PCM — the audio modality's
    // q247/q293 sibling, completing image+audio with genuine pure-JVM
    // container codecs): deterministic PCM waveforms encode into real
    // RIFF/WAVE containers — including an odd-sized unknown LIST
    // chunk between fmt and data, so the reader MUST walk the chunk
    // grammar with word alignment, not fixed offsets — then decode
    // back partition-parallel; the signed-sample integer aggregates
    // (sum, sum of squares, min/max) face the oracle's closed-form
    // recomputation. A little-endian slip, a signed-16-bit slip, a
    // chunk-skip or pad-byte bug each shifts the sums and breaks the
    // row. Every 10th doc (offset 3, disjoint from q247/q293); no
    // shuffle — encode/decode are map work.
    "q316_media_wav_decode" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"),
          (col("n_chars") % 1024 + 256).cast("int").as("n"))
        .as[(Long, Int)]
        .map { case (id, n) =>
          val samples = Array.tabulate(n)(i =>
            (((id * 37 + i.toLong * 11) % 65536) - 32768).toInt)
          (id, Multimodal.Wav.encode(samples, 16000))
        }
      media.mapPartitions { it =>
        it.map { case (id, bytes) =>
          val (rate, sm) = Multimodal.Wav.decodeRaw(bytes)
          var sum = 0L; var sq = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          sm.foreach { v =>
            sum += v; sq += v.toLong * v
            if (v < mn) mn = v.toLong
            if (v > mx) mx = v.toLong
          }
          (id, rate, sm.length.toLong, sum, sq, mn, mx)
        }
      }.toDF("media_id", "sample_rate", "n_samples", "amp_sum",
          "amp_sq_sum", "amp_min", "amp_max")
        .orderBy(col("media_id"))
    }),

    // AUDIO FEATURES on the decoded WAV leg — q316's codec promoted to
    // a curation OPERATOR (the q78-style gate for the audio modality):
    // each container decodes once and emits per-FRAME (256-sample
    // windows) integer features — energy (Σv², exact), peak |v|, and
    // zero-crossing rate (the classic cheap voicing/noise
    // discriminator) — plus the two curation gates a speech pipeline
    // runs first: CLIPPING (peak at the 16-bit rail) and SILENCE
    // (RMS under a floor, kept integer as Σv² < n·1024²). All integer
    // math, so the oracle recomputes every value closed-form from the
    // same deterministic waveform. Encode→decode→feature is pure
    // partition-parallel map work — no shuffle; at 100 TB this scans
    // the blob column once and never materializes decoded audio.
    "q324_audio_features" -> ((s, d) => {
      import s.implicits._
      val frameLen = 256
      val media = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"),
          (col("n_chars") % 1024 + 256).cast("int").as("n"))
        .as[(Long, Int)]
        .map { case (id, n) =>
          val samples = Array.tabulate(n)(i =>
            (((id * 37 + i.toLong * 11) % 65536) - 32768).toInt)
          (id, Multimodal.Wav.encode(samples, 16000))
        }
      media.mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val (_, sm) = Multimodal.Wav.decodeRaw(bytes)
          sm.grouped(frameLen).zipWithIndex.map { case (fr, fi) =>
            var sq = 0L; var peak = 0L; var zc = 0L
            var i = 0
            while (i < fr.length) {
              val v = fr(i)
              sq += v.toLong * v
              val a = math.abs(v.toLong)
              if (a > peak) peak = a
              if (i > 0 && ((fr(i - 1) < 0) != (v < 0))) zc += 1
              i += 1
            }
            (id, fi.toLong, fr.length.toLong, zc, sq, peak,
              peak >= 32700L, sq < fr.length.toLong * 1024L * 1024L)
          }
        }
      }.toDF("media_id", "frame_idx", "n_s", "zc", "sq_sum", "peak",
          "is_clipped", "is_silence")
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Vocabulary building: corpus-wide token frequency + document
    // frequency, top 100 by tf (ties → lexicographic). One shuffle on
    // token with map-side partial agg; the global rank runs over the
    // already-top-100 rows only (orderBy+limit prunes first), so the
    // single-partition window never sees the full vocabulary.
    "q80_vocab" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(col("doc_id"), explode(ws(col("text"))).as("w"))
        .groupBy(col("w"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      val top = vocab.orderBy(col("tf").desc, col("w")).limit(100)
      top.withColumn("rnk", row_number().over(
          Window.orderBy(col("tf").desc, col("w"))))
        .orderBy(col("rnk"))
    })
  )

  // ---- oracle SQL ----

  private val bowKeySql =
    "md5(array_to_string(list_sort(string_split(text,' ')),' '))"

  val oracle: Map[String, String] = Map(
    // Transitive closure by recursive CTE — fine at oracle SF (the
    // Spark side uses distributed label propagation instead).
    "q74_dedup_cluster" ->
      s"""WITH RECURSIVE ${TextQueries.agreeCtesSql},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM agree WHERE n_agree >= $minAgree
         |  UNION ALL
         |  SELECT id_b, id_a FROM agree WHERE n_agree >= $minAgree),
         |reach(a, b) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lbl AS (
         |  SELECT d.doc_id,
         |         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
         |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
         |  GROUP BY d.doc_id)
         |SELECT doc_id, cluster_id,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |  doc_id = cluster_id AS is_canonical
         |FROM lbl ORDER BY doc_id""".stripMargin,
    "q75_sample_stratified" ->
      s"""SELECT doc_id, lang, substr(md5(text),1,4) AS h4,
         |  substr(md5(text),1,4) < '$bernHex' AS pick_bernoulli,
         |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
         |    AS lang_rank,
         |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id)
         |    <= $quotaN AS pick_quota
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q76_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents
        |  WHERE length(text) > 0),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        |ws AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
        |              count(*) AS n_distinct,
        |              max(c) AS top_word_n FROM wc GROUP BY doc_id),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(string_split(text,' ')), 2)),
        |    i -> array_to_string(string_split(text,' ')[i:i+1], ' '))) AS g
        |  FROM documents WHERE length(text) > 0),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        |gs AS (SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c) AS top_gram_n
        |       FROM gc GROUP BY doc_id)
        |SELECT doc_id, n_words, n_distinct, top_word_n, top_gram_n,
        |  (n_distinct * 1000000 // n_words)::BIGINT AS distinct_ppm,
        |  (top_word_n * 1000000 // n_words)::BIGINT AS top_word_ppm,
        |  (top_gram_n * 1000000 // n_grams)::BIGINT AS top_gram_ppm
        |FROM ws JOIN gs USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q77_norm_dedup" ->
      s"""SELECT doc_id, keep_id, n_copies, doc_id = keep_id AS is_keeper
         |FROM (SELECT doc_id, $bowKeySql AS nk FROM documents) d
         |JOIN (SELECT $bowKeySql AS nk, min(doc_id) AS keep_id,
         |             count(*) AS n_copies
         |      FROM documents GROUP BY 1) k USING (nk)
         |ORDER BY doc_id""".stripMargin,
    "q78_curate" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, n_chars,
         |    len(string_split(text,' ')) AS n_tokens, $bowKeySql AS nk,
         |    length(regexp_replace(text,'[^0-9]','','g')) * 1000000
         |      // length(text) AS digit_ppm
         |  FROM documents WHERE length(text) > 0),
         |filt AS (SELECT * FROM base
         |         WHERE n_tokens BETWEEN 30 AND 500 AND digit_ppm < 200000),
         |dedup AS (SELECT * FROM filt
         |          QUALIFY doc_id = min(doc_id) OVER (PARTITION BY nk))
         |SELECT doc_id, lang, n_tokens, n_chars,
         |  row_number() OVER (PARTITION BY lang
         |                     ORDER BY n_chars DESC, doc_id) AS lang_rank
         |FROM dedup
         |QUALIFY lang_rank <= $curateQuota
         |ORDER BY doc_id""".stripMargin,
    "q80_vocab" ->
      """SELECT w, tf, df, row_number() OVER (ORDER BY tf DESC, w) AS rnk
        |FROM (SELECT w, count(*) AS tf, count(DISTINCT doc_id) AS df
        |      FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
        |            FROM documents)
        |      GROUP BY w)
        |QUALIFY rnk <= 100 ORDER BY rnk""".stripMargin,
    // The greedy walk as a recursive CTE stepping one document per
    // language per iteration — fine at oracle SF (the Spark side is a
    // parallel per-stratum pass).
    "q95_pack_sequences" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT lang, doc_id,
         |    len(string_split(text,' '))::BIGINT AS n_tokens,
         |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT lang, doc_id, n_tokens, rn, 0::BIGINT AS bin_id,
         |    n_tokens AS fill
         |  FROM docs WHERE rn = 1
         |  UNION ALL
         |  SELECT d.lang, d.doc_id, d.n_tokens, d.rn,
         |    CASE WHEN p.fill + d.n_tokens <= $packBudget THEN p.bin_id
         |         ELSE p.bin_id + 1 END,
         |    CASE WHEN p.fill + d.n_tokens <= $packBudget
         |         THEN p.fill + d.n_tokens ELSE d.n_tokens END
         |  FROM docs d JOIN packed p ON d.lang = p.lang AND d.rn = p.rn + 1)
         |SELECT lang, doc_id, n_tokens, bin_id
         |FROM packed ORDER BY lang, doc_id""".stripMargin,
    "q96_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents WHERE source = 'src0')),
         |corpus AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents WHERE source <> 'src0'))
         |SELECT doc_id, count(*)::BIGINT AS n_shared
         |FROM corpus JOIN bench USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Exact-overlap truth for the two-phase Bloom path: the sketch
    // prefilter must be invisible in the result.
    "q210_bloom_decontaminate" ->
      s"""WITH bench AS (
         |  SELECT DISTINCT sh FROM (
         |    SELECT unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents WHERE source = 'src1')),
         |corpus AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents WHERE source <> 'src1'))
         |SELECT doc_id, count(*)::BIGINT AS n_shared
         |FROM corpus JOIN bench USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q108_dup_span" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id, unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents)),
         |df AS (SELECT sh, count(*)::BIGINT AS df FROM sh GROUP BY sh)
         |SELECT doc_id, count(*)::BIGINT AS n_shingles,
         |  sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
         |  (sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) * 1000000
         |     // count(*))::BIGINT AS dup_ppm
         |FROM sh JOIN df USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q109_source_overlap" ->
      s"""WITH ss AS (
         |  SELECT DISTINCT source, sh FROM (
         |    SELECT source, unnest(${TextQueries.shinglesSql}) AS sh
         |    FROM documents))
         |SELECT a.source AS src_a, b.source AS src_b,
         |  count(*)::BIGINT AS n_shared
         |FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same deterministic metadata derivation over documents; blob
    // length = UTF-8 byte length of the text
    "q183_media_stats" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text))::INT AS n_bytes,
        |  ((n_chars % 64 + 16) * (n_chars % 48 + 16))::INT AS n_px,
        |  (n_chars % 10 + 1)::INT AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    // exact frame explosion: stride-2 indices below n_frames, each
    // with a w*h decoded buffer
    "q184_media_frames" ->
      """SELECT doc_id AS media_id, unnest(range(0, n_chars % 10 + 1, 2))::INT AS frame_idx,
        |  ((n_chars % 64 + 16) * (n_chars % 48 + 16))::INT AS n_px
        |FROM documents ORDER BY media_id, frame_idx""".stripMargin,
    "q247_media_pgm_decode" ->
      """WITH m AS (SELECT doc_id, (n_chars % 64 + 16)::INT AS w,
        |             (n_chars % 48 + 16)::INT AS h
        |           FROM documents WHERE doc_id % 10 = 0),
        |px AS (SELECT m.doc_id, m.w, m.h, ((m.doc_id*31 + t.i) % 256) AS p
        |       FROM m, LATERAL (SELECT unnest(range(0, m.w*m.h)) AS i) t)
        |SELECT doc_id AS media_id, w, h, count(*)::BIGINT AS n_px,
        |  sum(p)::BIGINT AS px_sum, min(p)::BIGINT AS px_min,
        |  max(p)::BIGINT AS px_max
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q316_media_wav_decode" ->
      """WITH m AS (SELECT doc_id, (n_chars % 1024 + 256)::INT AS n
        |           FROM documents WHERE doc_id % 10 = 3),
        |sm AS (SELECT m.doc_id,
        |         ((m.doc_id*37 + t.i*11) % 65536) - 32768 AS v
        |       FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t)
        |SELECT doc_id AS media_id, 16000 AS sample_rate,
        |  count(*)::BIGINT AS n_samples, sum(v)::BIGINT AS amp_sum,
        |  sum(v*v)::BIGINT AS amp_sq_sum, min(v)::BIGINT AS amp_min,
        |  max(v)::BIGINT AS amp_max
        |FROM sm GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-frame features recomputed closed-form; zero-crossings via a
    // frame-partitioned lag — sign convention (v < 0) on both sides
    "q324_audio_features" ->
      """WITH m AS (SELECT doc_id, (n_chars % 1024 + 256)::INT AS n
        |           FROM documents WHERE doc_id % 10 = 3),
        |sm AS (SELECT m.doc_id, t.i, t.i // 256 AS frame_idx,
        |         ((m.doc_id*37 + t.i*11) % 65536) - 32768 AS v
        |       FROM m, LATERAL (SELECT unnest(range(0, m.n)) AS i) t),
        |lagged AS (
        |  SELECT doc_id, frame_idx, v,
        |    lag(v) OVER (PARTITION BY doc_id, frame_idx ORDER BY i)
        |      AS prev
        |  FROM sm),
        |fr AS (
        |  SELECT doc_id AS media_id, frame_idx, count(*)::BIGINT AS n_s,
        |    sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (v < 0))
        |             THEN 1 ELSE 0 END)::BIGINT AS zc,
        |    sum(v*v)::BIGINT AS sq_sum,
        |    max(abs(v))::BIGINT AS peak
        |  FROM lagged GROUP BY 1, 2)
        |SELECT media_id, frame_idx, n_s, zc, sq_sum, peak,
        |  peak >= 32700 AS is_clipped,
        |  sq_sum < n_s * 1048576 AS is_silence
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,
    "q293_media_ppm_decode" ->
      """WITH m AS (SELECT doc_id, (n_chars % 64 + 16)::INT AS w,
        |             (n_chars % 48 + 16)::INT AS h
        |           FROM documents WHERE doc_id % 10 = 5),
        |px AS (SELECT m.doc_id, m.w, m.h, t.i % 3 AS ch,
        |         ((m.doc_id*31 + t.i) % 256) AS p
        |       FROM m, LATERAL (SELECT unnest(range(0, 3*m.w*m.h)) AS i) t)
        |SELECT doc_id AS media_id, w, h, (count(*) / 3)::BIGINT AS n_px,
        |  sum(CASE WHEN ch = 0 THEN p ELSE 0 END)::BIGINT AS r_sum,
        |  sum(CASE WHEN ch = 1 THEN p ELSE 0 END)::BIGINT AS g_sum,
        |  sum(CASE WHEN ch = 2 THEN p ELSE 0 END)::BIGINT AS b_sum,
        |  min(p)::BIGINT AS px_min, max(p)::BIGINT AS px_max
        |FROM px GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  )
}
