package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Embedding similarity search over `embeddings` (builder-prompt north
  * star): brute-force cosine top-k as the correctness baseline, and a
  * random-hyperplane LSH bucketing as the scale path (bucket join
  * replaces the O(n·m) cross join; at 100 TB the corpus shuffles once
  * on bucket id and probes broadcast).
  *
  * Cross-engine determinism: dot products fold left over
  * double-cast elements in index order, so Spark and DuckDB produce
  * bit-identical doubles; ranking orders by the raw (unrounded) value
  * with vec_id tiebreak; only displayed similarity is rounded.
  * Hyperplanes are ±1 signs derived from md5 at build time and inlined
  * as literals into both the Spark plan and the oracle SQL.
  */
object VectorQueries extends QuerySet {

  private val dims = 64
  private val nPlanes = 8
  // q73 banding: 4 bands × 2 planes; a pair is a candidate when ANY
  // band's 2-bit signature matches (band-OR boosts recall: one 8-plane
  // bucket keeps a 0.4-cosine pair with p≈0.63^8≈2%, 4×2 banding ≈87%).
  private val nBands = 4
  private val planesPerBand = 2

  /** Deterministic ±1 hyperplane coefficients: sign of md5("p:d"). */
  private[operators] val planes: Array[Array[Double]] =
    Array.tabulate(nPlanes, dims) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p:$d".getBytes("UTF-8"))
      if ((md(0) & 1) == 1) 1.0 else -1.0
    }

  /** Left-fold dot product of two double arrays (deterministic order). */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def dotConst(a: Column, cs: Array[Double]): Column =
    dot(a, array(cs.toIndexedSeq.map(lit(_)): _*))

  /** Fused cosine kernel (graft.functions.CosineSimilarity) — one
    * primitive loop; bit-identical to the HOF composition
    * dot/(sqrt·sqrt) it replaced (same left-fold order). */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_similarity(a, b)

  /** q197's int8 symmetric quantization as a reusable projection:
    * (id, qv: array<long>, nrm: long). Per-vector max-abs scale,
    * codes round(x·127/s); integer codes/norms make every downstream
    * sum order-independent exact (the oracle-parity discipline of the
    * whole quantized family: q197/q209/q211/q213). */
  private[graft] def quantI8(df: org.apache.spark.sql.DataFrame,
                                 id: String): org.apache.spark.sql.DataFrame =
    withI8Codes(df.select(col(id), col("embedding")), "embedding")
      .select(col(id), col("qv"), col("nrm"))

  /** Append q197's (qv, nrm) int8 code columns as a PURE projection
    * (scale materialized once per row, no join-back) — the single
    * definition of the quantizer expressions, shared by [[quantI8]]
    * and the ml pipeline's Int8Quantizer stage. */
  private[graft] def withI8Codes(df: org.apache.spark.sql.DataFrame,
                                 embCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__de", asD(col(embCol)))
      .withColumn("__scale",
        greatest(array_max(transform(col("__de"), x => abs(x))), lit(1e-30)))
      .withColumn("qv", transform(col("__de"),
        x => round(x * lit(127) / col("__scale")).cast("long")))
      .withColumn("nrm", aggregate(transform(col("qv"), x => x * x),
        lit(0L), (acc, x) => acc + x))
      .drop("__de", "__scale")

  /** Literal-argmax cluster assignment against collected int8 seeds:
    * argmax code-cosine, tie → lowest seed id (same total order as
    * q209's max_by). Pure projection — usable on a STREAM side where
    * an aggregate would need a watermark. */
  private[operators] def clusterOfI8(qv: Column, nrm: Column,
      seeds: Array[(Long, Array[Long], Long)]): Column =
    -array_max(array(seeds.toIndexedSeq.map { case (sid, sqv, snrm) =>
      val dotI = aggregate(
        zip_with(qv, array(sqv.toIndexedSeq.map(lit(_)): _*), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      struct(
        (dotI.cast("double") /
          greatest(sqrt((nrm * lit(snrm)).cast("double")), lit(1e-30))).as("sc"),
        lit(-sid).as("negSid"))
    }: _*)).getField("negSid")

  /** The q261 fixed-point grid code of ONE element: 1/1000 grid,
    * clamped ±8, offset +8000 so every code is non-negative (floor =
    * truncate in both engines). The single definition shared by the
    * corpus fit below and the ml pipeline's fitted-model scoring —
    * a drifting copy would silently desynchronize scoring from fit. */
  private[graft] def gridCode(x: Column): Column =
    least(greatest(round(x.cast("double") * 1000), lit(-8000.0)),
      lit(8000.0)).cast("long") + lit(8000L)

  /** Fixed-point grid codes for the Gaussian-statistics family
    * (q261–q264). */
  private[graft] def gridCodes(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    e.select(col("vec_id"), col("label"),
      transform(col("embedding"), gridCode _).as("xs"))

  /** Exact BIGINT sufficient statistics of a grid-coded corpus's `xs`
    * column from ONE `gram_moments` aggregate job: n, Σx_d, Σx_d² and,
    * with `pairs`, Σx_i·x_j for i < j in row-major order. The kernel
    * enforces the width caps (65,536 dims, 512 with pairs), equal
    * widths, no null elements and overflow-checked sums; empty input
    * fails here, by name. */
  private[graft] case class Gram(n: Long, sx: Array[Long], qx: Array[Long],
                                 sxy: Array[Long])

  private[graft] def gram(codes: org.apache.spark.sql.DataFrame,
                          pairs: Boolean): Gram = {
    val r = codes.agg(graft.functions.GraftFunctions
      .gram_moments(col("xs"), pairs)).head().getStruct(0)
    def longs(i: Int) = r.getSeq[Long](i).toArray
    require(r != null && longs(1).nonEmpty,
      "gram_moments fit: empty input, no non-null non-empty xs row")
    Gram(r.getLong(0), longs(1), longs(2), if (pairs) longs(3) else null)
  }

  /** Per-dimension Gaussian moments of a grid-coded corpus, all exact
    * BIGINT: rounded mean μ̂ = (2Σx+n) div 2n, ≥1-guarded variance
    * v̂ = Σx² div n − μ̂², centered sum of squares
    * ssd = Σx² − 2μ̂Σx + nμ̂² (the correlation denominator). */
  private[graft] case class Moments(n: Long, mu: Array[Long],
                                        vr: Array[Long], ssd: Array[Long])

  /** [[Moments]] from one diagonal-mode `gram_moments` job (no width
    * probe, no shuffle of per-dimension keys). */
  private[graft] def gaussianMoments(codes: org.apache.spark.sql.DataFrame)
      : Moments = momentsOf(gram(codes, pairs = false))

  /** The driver half of the fit, overflow-checked like the kernel. */
  private[graft] def momentsOf(g: Gram): Moments = {
    import Math.{addExact, multiplyExact, subtractExact}
    val n = g.n
    val mu = g.sx.map(sx => addExact(multiplyExact(2L, sx), n) / multiplyExact(2L, n))
    val vr = mu.indices.map(i =>
      math.max(subtractExact(g.qx(i) / n, multiplyExact(mu(i), mu(i))), 1L)).toArray
    val ssd = mu.indices.map(i => addExact(
      subtractExact(g.qx(i), multiplyExact(multiplyExact(2L, mu(i)), g.sx(i))),
      multiplyExact(multiplyExact(n, mu(i)), mu(i)))).toArray
    Moments(n, mu, vr, ssd)
  }

  /** q262's centered pair sums (i, j, Σ(x_i−μ̂_i)(x_j−μ̂_j)), i < j in
    * row-major order, from a pair-mode [[Gram]]:
    * Σx_ix_j − μ̂_jΣx_i − μ̂_iΣx_j + nμ̂_iμ̂_j, exact or an
    * ArithmeticException. */
  private[graft] def centeredPairs(g: Gram, mu: Array[Long])
      : IndexedSeq[(Int, Int, Long)] = {
    import Math.{addExact, multiplyExact, subtractExact}
    val ij = for (i <- mu.indices; j <- i + 1 until mu.length) yield (i, j)
    ij.zipWithIndex.map { case ((i, j), k) =>
      (i, j, addExact(
        subtractExact(subtractExact(g.sxy(k), multiplyExact(mu(j), g.sx(i))),
          multiplyExact(mu(i), g.sx(j))),
        multiplyExact(multiplyExact(g.n, mu(i)), mu(j))))
    }
  }

  /** Integer division via pmod: operands are non-negative and the
    * subtraction makes the double division exact (result < 2^53). */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** Mahalanobis²-diag as a scan-speed projection against literal
    * μ̂/v̂ arrays: Σ_d (1000·(x_d−μ̂_d)²) div v̂_d. */
  private[graft] def mahalanobis(xs: Column, m: Moments): Column = {
    val muLit = array(m.mu.toIndexedSeq.map(lit(_)): _*)
    val vrLit = array(m.vr.toIndexedSeq.map(lit(_)): _*)
    aggregate(
      transform(xs, (x, i) => {
        val dlt = x - element_at(muLit, (i + 1).cast("int"))
        idiv(lit(1000L) * dlt * dlt, element_at(vrLit, (i + 1).cast("int")))
      }),
      lit(0L), (acc, t) => acc + t)
  }

  /** q261's fit-then-score: moments → scan-speed scoring projection →
    * top-`topK` tail. Exposed for the planted-outlier property spec. */
  private[operators] def gaussianOutliers(e: org.apache.spark.sql.DataFrame,
                                          topK: Int)
      : org.apache.spark.sql.DataFrame = {
    val codes = gridCodes(e)
    val m = gaussianMoments(codes)
    codes
      .withColumn("score", mahalanobis(col("xs"), m))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(topK)
      .select(col("vec_id"), col("label"), col("score"))
  }

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-5 for 20 probe vectors (baseline).
    "q70_knn_brute" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val corpus = e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
      corpus.crossJoin(broadcast(probes))
        .filter(col("cid") =!= col("pid"))
        .withColumn("sim", cosine(col("pe"), col("ce")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("pid"), col("rk"), col("cid"), round(col("sim"), 6).as("sim6"))
        .orderBy(col("pid"), col("rk"))
    }),

    // BINARY (1-bit) QUANTIZATION ANN — the modern serving-memory
    // extreme of the quantized family (q197 int8 → q211 PQ → this):
    // each 64-dim vector compresses to its 64 sign bits packed into
    // ONE long (64× under int8, 256× under float32), candidate
    // generation is a Hamming scan — bit_count(xor) is one popcount
    // instruction inside whole-stage codegen, no floats touched —
    // and only the top-C Hamming candidates get the exact cosine
    // rerank (the asymmetric refine step every binary-quantization
    // deployment runs). Both stages are fully deterministic, so the
    // oracle replicates candidate generation AND rerank bit-for-bit:
    // this row pins the whole pipeline exactly, not via a recall
    // audit. At 100 TB a billion vectors fit in 8 GB of codes — the
    // Hamming stage is a memory-bandwidth scan, and the float
    // vectors are only fetched for C candidates per probe.
    "q333_binary_quant_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val emb = asD(col("embedding"))
      val bcode = (0 until dims).map { i =>
        when(element_at(emb, i + 1) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _)
      val coded = e.select(col("vec_id"), col("embedding"),
        bcode.as("bc"))
      val probes = coded.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"),
          col("bc").as("pbc"))
      val corpus = coded.select(col("vec_id").as("cid"),
        col("embedding").as("ce"), col("bc").as("cbc"))
      val wH = Window.partitionBy(col("pid"))
        .orderBy(col("ham"), col("cid"))
      val cands = corpus.crossJoin(broadcast(probes))
        .filter(col("cid") =!= col("pid"))
        .withColumn("ham",
          expr("bit_count(cbc ^ pbc)").cast("long"))
        .withColumn("hrk", row_number().over(wH))
        .filter(col("hrk") <= 64) // C: rerank budget per probe
      val wS = Window.partitionBy(col("pid"))
        .orderBy(col("sim").desc, col("cid"))
      cands.withColumn("sim", cosine(col("pe"), col("ce")))
        .withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 5)
        .select(col("pid"), col("rk"), col("cid"), col("ham"),
          round(col("sim"), 6).as("sim6"))
        .orderBy(col("pid"), col("rk"))
    }),

    // Random-hyperplane LSH bucket assignment (the scale path).
    "q71_lsh_bucket" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val emb = asD(col("embedding"))
      val bucket = (0 until nPlanes).map { p =>
        when(dotConst(emb, planes(p)) > 0, lit(1 << p)).otherwise(0)
      }.reduce(_ + _)
      e.select(col("vec_id"), col("label"), bucket.as("bucket"))
        .orderBy(col("vec_id"))
    }),

    // Embedding-cosine near-duplicate pairs via banded LSH: candidates
    // come from a bucket equi-join (any of 4 bands × 2 hyperplanes
    // agreeing — band-OR keeps recall where a single 8-plane bucket
    // would miss most 0.4-cosine pairs), then exact cosine verifies.
    // No cross join and no candidate cap: the corpus shuffles once per
    // band on (band, sig) — the 100 TB shape; skewed buckets re-plan
    // via AQE. Candidate pairs found by several bands are deduplicated
    // by the final distinct.
    "q73_embed_neardup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val emb = asD(col("embedding"))
      val bandCols = (0 until nBands).map { b =>
        val sig = (0 until planesPerBand).map { j =>
          when(dotConst(emb, planes(b * planesPerBand + j)) > 0,
            lit(1 << j)).otherwise(0)
        }.reduce(_ + _)
        struct(lit(b).as("band"), sig.as("sig"))
      }
      val banded = e.select(col("vec_id"),
          col("embedding"), explode(array(bandCols: _*)).as("bs"))
        .select(col("vec_id"), col("embedding"),
          col("bs.band").as("band"), col("bs.sig").as("sig"))
      val a = banded.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        col("band"), col("sig"))
      val b = banded.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        col("band"), col("sig"))
      a.join(b, Seq("band", "sig"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", cosine(col("ea"), col("eb")))
        .filter(col("sim") > 0.4)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim6"))
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // IVF ANN oracle-bound through its exact-equivalence invariant:
    // with nprobe = K (every inverted list probed) the search result
    // is INDEPENDENT of the centroids — each corpus vector lives in
    // exactly one list, so every (probe, corpus) pair is scored
    // exactly once and the output must equal brute-force top-k. That
    // binds the whole fit→assign→probe→rerank pipeline (IvfAnn) to
    // the same DuckDB oracle as q70: any partitioning bug (a vector
    // in no list / two lists, a probe missing a list, rerank ordering
    // drift) breaks the hash. The recall-vs-scan trade at nprobe < K
    // stays property-tested in IvfAnnSpec.
    "q146_ivf_exact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val model = IvfAnn.fit(e, "embedding", k = 8, lloydIters = 2)
      val probes = e.filter(col("vec_id") <= 20)
      IvfAnn.search(e, probes, "embedding", model, k = 5, nprobe = 8)
        .orderBy(col("pid"), col("rk"))
    }),

    // Multivariate-Gaussian outlier scoring (reference: flink-ml's
    // distribution primitive, flink-ml-lib/.../basicstatistic/
    // MultivariateGaussian.java:37 — mean + covariance → per-point
    // density), reduced to the diagonal-covariance case so the score
    // is oracle-exact: Mahalanobis² = Σ_d (x_d−μ_d)²/σ²_d, the
    // quadratic form the reference's logpdf computes with Σ⁻¹. The
    // classic curation use: corrupt/degenerate embedding vectors sit
    // in the distribution tail — score high, gate out.
    //
    // Oracle-parity discipline (the quantized-family rule): embeddings
    // land on a FIXED 1/1000 grid (clamped ±8, then offset +8000 so
    // every term is non-negative and floor=truncate in both engines),
    // per-dim moments (n, Σx, Σx²) are exact BIGINTs, the rounded mean
    // is (2Σx+n) div 2n, the variance Σx²divN − μ̂² (≥1-guarded), and
    // the score a per-dim integer division summed — no IEEE op
    // anywhere, so Spark and DuckDB agree bit-for-bit.
    //
    // Scale: one diagonal-mode `gram_moments` aggregate job (one
    // long[] buffer per partition, merged once) → scoring is a pure
    // scan-speed projection against literal μ̂/v̂ arrays — the corpus
    // never shuffles. Headroom: Σx² per dim ≤ n·(16000)², so BIGINT
    // holds past 3×10¹⁰ vectors; past that the kernel's exact sums
    // throw, and the decomposable moments shard-and-combine.
    "q261_gaussian_outliers" -> ((s, d) =>
      gaussianOutliers(Tables.embeddings(s, d), topK = 20)),

    // The ML Pipeline API end-to-end AGAINST THE ORACLE: fit the
    // Gaussian outlier estimator (reference flink-ml-api
    // Pipeline.fit semantics — estimator replaced by its model),
    // PERSIST the fitted pipeline to JSON, reload it, and emit the
    // reloaded pipeline's flagged outliers. The JSON round trip is
    // inside the oracle binding on purpose: a mis-persisted moment,
    // gate, or stage order breaks the hash. Relational semantics =
    // q261's scorer + q263's P90 gate rule over the full corpus.
    "q264_ml_pipeline" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val fitted = new graft.ml.Pipeline()
        .appendStage(new graft.ml.GaussianOutlierEstimator())
        .fit(e)
      val reloaded = new graft.ml.Pipeline(fitted.toJson)
      reloaded.transform(e)
        .filter(col("outlier"))
        .select(col("vec_id"), col("label"), col("score"))
        .orderBy(col("vec_id"))
    }),

    // PCA dimensionality reduction (q262's "before whitening/PCA"
    // follow-through): fit the full-rank basis once (distributed
    // moments + driver Jacobi — the Opq cost shape), run the top-4
    // REDUCTION through the complete pipeline persistence loop
    // (PcaEstimator → toJson → reload → transform), and verify the
    // linear algebra per vector: an orthonormal change of basis
    // preserves the centered norm (full-rank projection), and any
    // k-dim projection can only shrink it. The SQL-replicable anchor
    // is the exact-integer centered norm on the grid-code domain
    // (rounded mean, the q261 Moments discipline) — the oracle
    // recomputes it and pins the invariants as constants, the learned
    // path (eigenvalue order, trace, brute-force agreement) is
    // property-bound in PcaSpec.
    "q301_pca_reduce" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dims = e.select(size(col("embedding"))).head().getInt(0)
      val mFull = Pca.fit(e, "embedding", dims)
      val fitted = new graft.ml.Pipeline()
        .appendStage(new graft.ml.PcaEstimator("embedding", 4))
        .fit(e)
      val reloaded = new graft.ml.Pipeline(fitted.toJson)
      val probe = reloaded.transform(
        Pca.transform(e.filter(col("vec_id") < 50), mFull,
          "embedding", "pca_full"))
      val xs = transform(col("embedding"), gridCode _)
      val muqLit = array(gaussianMoments(gridCodes(e)).mu
        .toIndexedSeq.map(lit(_)): _*)
      val cnorm2 = aggregate(
        zip_with(xs, muqLit, (x, mu) => (x - mu) * (x - mu)),
        lit(0L), (acc, t) => acc + t)
      val muLit = array(mFull.mu.toIndexedSeq.map(lit(_)): _*)
      val cn2d = aggregate(
        zip_with(transform(xs, x => x.cast("double")), muLit,
          (x, mu) => (x - mu) * (x - mu)),
        lit(0.0), (acc, t) => acc + t)
      def norm2(c: org.apache.spark.sql.Column) =
        aggregate(c, lit(0.0), (acc, y) => acc + y * y)
      probe
        .select(col("vec_id"), col("label"), cnorm2.as("cnorm2"),
          (abs(norm2(col("pca_full")) - cn2d) <=
            lit(1e-6) * (lit(1.0) + cn2d)).as("norm_preserved"),
          (norm2(col("pca")) <= cn2d * lit(1.0 + 1e-9) + lit(1e-6))
            .as("reduction_bounded"))
        .orderBy(col("vec_id"))
    }),

    // The covariance half of the reference's MultivariateGaussian
    // surface (flink-ml-lib/.../basicstatistic/MultivariateGaussian
    // .java:52 holds mean + FULL covariance): the pairwise Pearson
    // correlation matrix of the embedding dimensions, reported as the
    // top-15 most-correlated pairs — the diagnostic that tells you
    // which dimensions are redundant before whitening/PCA.
    //
    // Exactness: q261's grid codes centered on the integer rounded
    // mean μ̂; per-pair Σ(x_i−μ̂_i)(x_j−μ̂_j) and per-dim centered
    // Σ(x−μ̂)² are exact BIGINTs, so the only IEEE ops are the final
    // multiply/sqrt/divide (q197's one-division discipline) —
    // bit-identical both engines.
    //
    // Scale: ONE pair-mode `gram_moments` job folds every partition
    // into a 2d + d(d−1)/2-long buffer (n, Σx_i, Σx_i², raw Σx_i·x_j)
    // and merges the buffers once; the corpus is scanned once and never
    // shuffled. The driver centers each pair exactly,
    // Σx_ix_j − μ̂_jΣx_i − μ̂_iΣx_j + nμ̂_iμ̂_j (overflow-checked), and the
    // d(d−1)/2 = 2016 (di, dj, sxy) rows feed the correlation tail as a
    // local relation. Denominators ride literal arrays. Width is capped
    // at 512 dims, `MultivariateGaussian.fit`'s dense cap.
    "q262_dim_correlation" -> ((s, d) => {
      val g = gram(gridCodes(Tables.embeddings(s, d)), pairs = true)
      val m = momentsOf(g)
      val ssdLit = array(m.ssd.toIndexedSeq.map(lit(_)): _*)
      val rows = centeredPairs(g, m.mu).map { case (i, j, sxy) =>
        org.apache.spark.sql.Row(i, j, sxy)
      }
      val pairs = s.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType.fromDDL(
          "di INT, dj INT, sxy BIGINT"))
      val den = greatest(
        sqrt(element_at(ssdLit, col("di") + 1).cast("double") *
             element_at(ssdLit, col("dj") + 1).cast("double")),
        lit(1e-30))
      pairs
        .withColumn("corr", col("sxy").cast("double") / den)
        .orderBy(abs(col("corr")).desc, col("di"), col("dj"))
        .limit(15)
        .select(col("di"), col("dj"), round(col("corr"), 6).as("corr6"))
    }),

    // INT8 symmetric quantization + quantized ANN: each vector gets a
    // per-vector scale (max |x|) and an int8 code round(x·127/s); the
    // search ranks by the cosine OF THE CODES — integer dot products
    // and integer norms, so both engines see bit-identical doubles at
    // the final division (the usual float-sum drift cannot occur).
    // This is the memory-bound scale path of ANN serving (codes are
    // 4× smaller than f32; at 100 TB the corpus scan is the cost):
    // rank with cheap int dots, rerank survivors in full precision
    // (the rerank primitive is q70's exact path). A mis-rounded code,
    // a dropped clamp, or a scale applied twice each break the hash.
    "q197_quantized_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // scale as its own column: embedded in the quantize lambda it
      // would re-evaluate the array_max per ELEMENT (O(d²)/vector)
      val nrmCol = aggregate(transform(col("qv"), x => x * x),
        lit(0L), (acc, x) => acc + x)
      val q = e.select(col("vec_id"), asD(col("embedding")).as("de"))
        .withColumn("scale",
          greatest(array_max(transform(col("de"), x => abs(x))), lit(1e-30)))
        .select(col("vec_id"),
          transform(col("de"),
            x => round(x * lit(127) / col("scale")).cast("long")).as("qv"))
        .withColumn("nrm", nrmCol)
      val probes = q.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("pid"), col("qv").as("qp"), col("nrm").as("np"))
      val corpus = q
        .select(col("vec_id").as("cid"), col("qv").as("qc"), col("nrm").as("nc"))
      val idot = aggregate(zip_with(col("qp"), col("qc"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      val qcos = col("idot").cast("double") /
        greatest(sqrt((col("np") * col("nc")).cast("double")), lit(1e-30))
      val w = Window.partitionBy(col("pid")).orderBy(col("qcos").desc, col("cid"))
      corpus.crossJoin(broadcast(probes))
        .filter(col("cid") =!= col("pid"))
        .withColumn("idot", idot)
        .withColumn("qcos", qcos)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("pid"), col("rk"), col("cid"),
          round(col("qcos"), 6).as("qcos6"))
        .orderBy(col("pid"), col("rk"))
    }),

    // SemDeDup (semantic dedup over embedding clusters — Abbas et al.
    // 2023): coarse-cluster the corpus, then drop every vector whose
    // cosine to an EARLIER (lower vec_id) member of its OWN cluster
    // reaches the dup threshold (0.4, = q73's near-dup bar). Pairwise
    // work is confined to clusters — never all-pairs. Runs in int8
    // code space (q197's symmetric quantization), so dots and norms
    // are order-independent exact integers on both engines. The
    // coarse quantizer is the deterministic seed assignment (first K
    // vectors by id, argmax code-cosine, tie → lowest seed); the
    // scale path swaps in IvfAnn.fit centroids, which changes only
    // WHICH pairs are compared (recall), not the drop rule. 100 TB
    // shape: one K×dim broadcast, one shuffle on cluster id, AQE
    // splits a hot cluster; K grows with the corpus so cluster sizes
    // (and the quadratic intra-cluster term) stay bounded.
    "q209_semdedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = quantI8(e, "vec_id")
      val seeds = q.orderBy(col("vec_id")).limit(32)
        .select(col("vec_id").as("sid"), col("qv").as("sqv"),
          col("nrm").as("snrm"))
      val idot = (x: Column, y: Column) => aggregate(
        zip_with(x, y, (a, b) => a * b), lit(0L), (acc, v) => acc + v)
      val qcos = (dot: Column, n1: Column, n2: Column) =>
        dot.cast("double") /
          greatest(sqrt((n1 * n2).cast("double")), lit(1e-30))
      val cl = q.crossJoin(broadcast(seeds))
        .withColumn("sc", qcos(idot(col("qv"), col("sqv")), col("nrm"), col("snrm")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("sid"), struct(col("sc"), -col("sid"))).as("cluster"))
      val m = q.join(cl, "vec_id")
      val a = m.select(col("vec_id").as("ida"), col("qv").as("qa"),
        col("nrm").as("na"), col("cluster"))
      val b = m.select(col("vec_id").as("idb"), col("qv").as("qb"),
        col("nrm").as("nb"), col("cluster"))
      val dups = a.join(b, Seq("cluster"))
        .filter(col("ida") < col("idb"))
        .filter(qcos(idot(col("qa"), col("qb")), col("na"), col("nb")) >= 0.4)
        .select(col("idb").as("vec_id")).distinct()
      m.join(dups.withColumn("dup", lit(1)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          when(col("dup").isNull, lit(1)).otherwise(lit(0)).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // Product quantization (PQ) ANN — the memory-bound serving path
    // one step past int8 (q197): M=8 subspaces × 8 dims, K=16
    // codewords per subspace (the subvectors of the first 16 vectors
    // by id — deterministic, like q209's seed quantizer; a trained
    // codebook drops in without changing the operator). Each corpus
    // vector compresses to 8 codes (4 bits each — 4 bytes/vector);
    // search is the classic ADC scan re-expressed RELATIONALLY: the
    // probe's 8×16 dot-product lookup table is a tiny broadcast, the
    // corpus codes join it on (subspace, code), and the per-pair
    // score is a SUM of table entries. LUT dots and codeword norms
    // are scaled integers (×1e6, rounded), so the grouped sums are
    // order-independent exact and the oracle matches bit-for-bit;
    // ranking score = idot / sqrt(recon_norm) (probe norm is
    // constant per probe — cosine up to a per-probe factor, ranking-
    // equivalent to ADC cosine). 100 TB shape: the corpus is scanned
    // once at 4 bytes/vector + one bounded (pid,cid) aggregation; no
    // full-precision vector ever shuffles.
    "q211_pq_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cb = IvfPq.sliceCodebook(IvfAnn.firstVectors(e, "embedding", 16), 8)
      // the corpus-side M·K L2 encode as ONE fused native loop per
      // vector (functions/PqEncode.scala, r12 — the aggregate(zip_with)
      // composition was M·K interpreted HOF calls per row)
      val codes = IvfPq.codeRows(e, Nil,
        graft.functions.GraftFunctions.pq_encode(asD(col("embedding")), cb))
      val probes = e.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("pid"), asD(col("embedding")).as("pe"))
      IvfPq.adc(codes, probes, Nil, cb, k = 5)
        .orderBy(col("pid"), col("rk"))
    }),

    // ANN via bucket join: candidates share the probe's bucket;
    // exact cosine re-rank within bucket, top-3.
    "q72_lsh_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val emb = asD(col("embedding"))
      val bucket = (0 until nPlanes).map { p =>
        when(dotConst(emb, planes(p)) > 0, lit(1 << p)).otherwise(0)
      }.reduce(_ + _)
      val withB = e.select(col("vec_id"), col("embedding").as("emb"), bucket.as("bucket"))
      val probes = withB.filter(col("vec_id") <= 20)
        .select(col("vec_id").as("pid"), col("emb").as("pe"), col("bucket"))
      val corpus = withB
        .select(col("vec_id").as("cid"), col("emb").as("ce"), col("bucket"))
      val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
      corpus.join(broadcast(probes), "bucket")
        .filter(col("cid") =!= col("pid"))
        .withColumn("sim", cosine(col("pe"), col("ce")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("pid"), col("rk"), col("cid"), round(col("sim"), 6).as("sim6"))
        .orderBy(col("pid"), col("rk"))
    }),

    // ANN RECALL AUDIT — the standard quality metric for the
    // approximate path: recall@3 of the LSH ANN (q72) against the
    // brute-force ground truth (q70's exact top-3), per probe, as an
    // integer permille. Both sides are deterministic (fixed planes,
    // total tiebreaks) so the recall itself is an exact, oracle-
    // checkable number — the audit a production ANN deployment runs
    // after every index build. (The lambdas resolve the catalog at
    // call time, after object init.)
    "q240_ann_recall" -> ((s, d) => {
      val truth = VectorQueries.queries("q70_knn_brute")(s, d)
        .filter(col("rk") <= 3).select(col("pid"), col("cid"))
      val ann = VectorQueries.queries("q72_lsh_ann")(s, d)
        .select(col("pid"), col("cid"))
      val hits = ann.join(truth, Seq("pid", "cid"), "left_semi")
        .groupBy(col("pid")).agg(count(lit(1)).as("n_hits"))
      truth.select(col("pid")).distinct()
        .join(hits, Seq("pid"), "left")
        .select(col("pid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_permille", expr("(1000 * n_hits) div 3"))
        .orderBy(col("pid"))
    })
  )

  // ---- oracle SQL ----

  private def dotSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, ${dims + 1}),
       |      i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x+y)""".stripMargin

  private def dotConstSql(a: String, cs: Array[Double]): String = {
    val lst = cs.map(c => if (c > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    s"""list_reduce(list_transform(range(1, ${dims + 1}),
       |      i -> $a[i]::DOUBLE * ($lst)[i]), (x,y) -> x+y)""".stripMargin
  }

  private def bucketSql(a: String): String =
    (0 until nPlanes).map { p =>
      s"CASE WHEN ${dotConstSql(a, planes(p))} > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  private val cosineSql: String =
    s"""${dotSql("pe", "ce")} /
       |  (sqrt(${dotSql("pe", "pe")}) * sqrt(${dotSql("ce", "ce")}))""".stripMargin

  /** DuckDB mirror of the packed sign-bit code: bit 63 spelled as the
    * two's-complement BIGINT expression (a bare -2^63 literal would
    * promote to HUGEINT and drag xor/bit_count with it). */
  private def bcodeSql(e: String): String =
    (0 until dims).map { i =>
      val v = if (i == 63) "(-9223372036854775807 - 1)"
              else (1L << i).toString
      s"(CASE WHEN $e[${i + 1}] > 0 THEN $v::BIGINT ELSE 0::BIGINT END)"
    }.mkString("(", " | ", ")")

  /** Exact top-5 cosine neighbours: q70, and q146 at nprobe = K. */
  private val knnBruteSql =
    s"""WITH pairs AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    p.embedding AS pe, c.embedding AS ce
         |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |sims AS (
         |  SELECT pid, cid, $cosineSql AS sim FROM pairs),
         |ranked AS (
         |  SELECT pid, cid, sim,
         |    row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid) AS rk
         |  FROM sims)
         |SELECT pid, rk, cid, round(sim, 6) AS sim6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin

  val oracle: Map[String, String] = Map(
    "q333_binary_quant_ann" ->
      s"""WITH coded AS (
         |  SELECT vec_id, embedding, ${bcodeSql("embedding")} AS bc
         |  FROM embeddings),
         |pairs AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    p.embedding AS pe, c.embedding AS ce,
         |    bit_count(xor(p.bc, c.bc))::BIGINT AS ham
         |  FROM coded p JOIN coded c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |cands AS (
         |  SELECT pid, cid, pe, ce, ham,
         |    row_number() OVER (PARTITION BY pid ORDER BY ham, cid) AS hrk
         |  FROM pairs),
         |rer AS (
         |  SELECT pid, cid, ham, $cosineSql AS sim
         |  FROM cands WHERE hrk <= 64),
         |ranked AS (
         |  SELECT pid, cid, ham, sim,
         |    row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid)
         |      AS rk
         |  FROM rer)
         |SELECT pid, rk, cid, ham, round(sim, 6) AS sim6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin,
    "q70_knn_brute" -> knnBruteSql,
    "q73_embed_neardup" -> {
      val bandsSql = (0 until nBands).map { b =>
        val sig = (0 until planesPerBand).map { j =>
          val p = b * planesPerBand + j
          s"(CASE WHEN ${dotConstSql("embedding", planes(p))} > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, embedding, $b AS band, ($sig) AS sig FROM embeddings"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH bands AS (
         |  $bandsSql),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    a.embedding AS pe, b.embedding AS ce
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT DISTINCT id_a, id_b, round(sim, 6) AS sim6
         |FROM (SELECT id_a, id_b, $cosineSql AS sim FROM pairs)
         |WHERE sim > 0.4 ORDER BY id_a, id_b""".stripMargin
    },
    "q71_lsh_bucket" ->
      s"""SELECT vec_id, label, ${bucketSql("embedding")} AS bucket
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q72_lsh_ann" ->
      s"""WITH wb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    p.embedding AS pe, c.embedding AS ce
         |  FROM wb p JOIN wb c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |sims AS (
         |  SELECT pid, cid, $cosineSql AS sim FROM pairs),
         |ranked AS (
         |  SELECT pid, cid, sim,
         |    row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid) AS rk
         |  FROM sims)
         |SELECT pid, rk, cid, round(sim, 6) AS sim6
         |FROM ranked WHERE rk <= 3 ORDER BY pid, rk""".stripMargin,
    "q240_ann_recall" ->
      s"""WITH wb AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |tp AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    p.embedding AS pe, c.embedding AS ce
         |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |truth AS (
         |  SELECT pid, cid FROM (
         |    SELECT pid, cid, row_number() OVER (PARTITION BY pid
         |      ORDER BY $cosineSql DESC, cid) AS rk FROM tp)
         |  WHERE rk <= 3),
         |ap AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    p.embedding AS pe, c.embedding AS ce
         |  FROM wb p JOIN wb c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |ann AS (
         |  SELECT pid, cid FROM (
         |    SELECT pid, cid, row_number() OVER (PARTITION BY pid
         |      ORDER BY $cosineSql DESC, cid) AS rk FROM ap)
         |  WHERE rk <= 3),
         |hits AS (
         |  SELECT pid, count(*) AS n_hits
         |  FROM ann SEMI JOIN truth USING (pid, cid) GROUP BY pid)
         |SELECT p.pid, coalesce(h.n_hits, 0) AS n_hits,
         |  (1000 * coalesce(h.n_hits, 0)) // 3 AS recall_permille
         |FROM (SELECT DISTINCT pid FROM truth) p
         |LEFT JOIN hits h USING (pid) ORDER BY p.pid""".stripMargin,
    // the quantization recomputed in SQL: per-vector max-abs scale,
    // int8 code, integer dots/norms — exact integers both engines,
    // then one IEEE division + sqrt
    "q197_quantized_ann" ->
      s"""WITH q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 /
         |      greatest(list_max(list_transform(embedding,
         |        y -> abs(CAST(y AS DOUBLE)))), 1e-30)) AS BIGINT)) AS qv
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, qv,
         |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm
         |  FROM q),
         |pairs AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid,
         |    CAST(list_dot_product(p.qv, c.qv) AS DOUBLE) /
         |      greatest(sqrt(CAST(p.nrm * c.nrm AS DOUBLE)), 1e-30) AS qcos
         |  FROM n p JOIN n c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |ranked AS (
         |  SELECT pid, cid, qcos,
         |    row_number() OVER (PARTITION BY pid ORDER BY qcos DESC, cid) AS rk
         |  FROM pairs)
         |SELECT pid, rk, cid, round(qcos, 6) AS qcos6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin,

    // q197's quantization CTEs, then: assign to the nearest of the
    // first-32 seed vectors (argmax code cosine, tie lowest sid),
    // mark dup any vector with an earlier same-cluster member at
    // cosine >= 0.4.
    "q209_semdedup" ->
      s"""WITH q AS (
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
         |  FROM n ORDER BY vec_id LIMIT 32),
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
         |  FROM cl JOIN n USING (vec_id)),
         |dups AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM m a JOIN m b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE CAST(list_dot_product(a.qv, b.qv) AS DOUBLE) /
         |      greatest(sqrt(CAST(a.nrm * b.nrm AS DOUBLE)), 1e-30) >= 0.4)
         |SELECT m.vec_id, m.cluster,
         |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM m LEFT JOIN dups d ON m.vec_id = d.vec_id
         |ORDER BY m.vec_id""".stripMargin,

    // the flat ADC scan over every vector (see flatAdcSql)
    "q211_pq_ann" -> flatAdcSql(plainDeCte, " WHERE rn = 1"),

    // nprobe=K ≡ brute force: the oracle is exactly q70's.
    "q146_ivf_exact" -> knnBruteSql,

    // The same fixed-point pipeline recomputed relationally: grid
    // codes, per-dim integer moments, rounded mean (2Σx+n)//(2n),
    // ≥1-guarded variance, per-dim integer-divided quadratic terms
    // summed. Every operand is non-negative, so DuckDB's // and
    // Spark's div agree; the final sum casts back to BIGINT (DuckDB
    // sum(BIGINT) is HUGEINT, which would render 151.0 vs 151).
    "q261_gaussian_outliers" ->
      """WITH c AS (
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
        |  FROM e GROUP BY d),
        |mv AS (
        |  SELECT d, (2*sx + n) // (2*n) AS mu,
        |         greatest(qx // n - ((2*sx + n) // (2*n)) *
        |                            ((2*sx + n) // (2*n)), 1) AS v
        |  FROM st),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(sum((1000 * (e.x - mv.mu) * (e.x - mv.mu)) // mv.v)
        |         AS BIGINT) AS score
        |  FROM e JOIN mv USING (d) GROUP BY e.vec_id, e.label)
        |SELECT vec_id, label, score FROM sc
        |ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    // q261's scorer + q263's gate rule over the FULL corpus: the
    // pipeline's fitted state recomputed relationally; emitted rows
    // are the strictly-above-gate tail.
    "q264_ml_pipeline" ->
      """WITH c AS (
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
        |  FROM e GROUP BY d),
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
        |ranked AS (
        |  SELECT score, row_number() OVER (ORDER BY score DESC, vec_id) AS rk
        |  FROM sc),
        |nc AS (SELECT count(*) AS n FROM sc),
        |gate AS (
        |  SELECT r.score AS g FROM ranked r, nc
        |  WHERE r.rk = greatest(n // 10, 1))
        |SELECT sc.vec_id, sc.label, sc.score
        |FROM sc, gate WHERE sc.score > g
        |ORDER BY sc.vec_id""".stripMargin,

    // Exact-integer centered norm on the grid-code domain (rounded
    // mean) + the linear-algebra invariants pinned as constants —
    // Spark computes them from the fitted basis, so a wrong basis,
    // lost centering, or non-orthonormal components flips a boolean.
    "q301_pca_reduce" ->
      """WITH c AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(least(greatest(round(CAST(x AS DOUBLE) * 1000), -8000),
        |                 8000) AS BIGINT) + 8000) AS xs
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, label, generate_subscripts(xs, 1) AS d,
        |         unnest(xs) AS x
        |  FROM c),
        |mv AS (
        |  SELECT d, (2*CAST(sum(x) AS BIGINT) + count(*)) //
        |             (2*count(*)) AS mu
        |  FROM e GROUP BY d),
        |sc AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(sum((e.x - mv.mu) * (e.x - mv.mu)) AS BIGINT) AS cnorm2
        |  FROM e JOIN mv USING (d) GROUP BY 1, 2)
        |SELECT vec_id, label, cnorm2,
        |       true AS norm_preserved, true AS reduction_bounded
        |FROM sc WHERE vec_id < 50 ORDER BY vec_id""".stripMargin,

    // Centered pair products relationally: grid codes, per-dim rounded
    // mean, centered values self-joined on (vec_id, d_i < d_j) — the
    // oracle can afford the O(n·d²) pair join at sf; the engine's
    // bounded per-row pair array + partial agg is the scale path.
    // d is 0-based (generate_subscripts − 1) to match posexplode.
    "q262_dim_correlation" ->
      """WITH c AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(least(greatest(round(CAST(x AS DOUBLE) * 1000), -8000),
        |                 8000) AS BIGINT) + 8000) AS xs
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, generate_subscripts(xs, 1) - 1 AS d,
        |         unnest(xs) AS x
        |  FROM c),
        |st AS (
        |  SELECT d, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x*x) AS BIGINT) AS qx
        |  FROM e GROUP BY d),
        |mv AS (SELECT d, (2*sx + n) // (2*n) AS mu FROM st),
        |sd AS (
        |  SELECT st.d, qx - 2*mu*sx + n*mu*mu AS ssd
        |  FROM st JOIN mv ON mv.d = st.d),
        |ce AS (
        |  SELECT e.vec_id, e.d, e.x - mv.mu AS cx
        |  FROM e JOIN mv ON mv.d = e.d),
        |p AS (
        |  SELECT a.d AS di, b.d AS dj,
        |         CAST(sum(a.cx * b.cx) AS BIGINT) AS sxy
        |  FROM ce a JOIN ce b ON a.vec_id = b.vec_id AND a.d < b.d
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT di, dj, CAST(sxy AS DOUBLE) /
        |    greatest(sqrt(CAST(s1.ssd AS DOUBLE) * CAST(s2.ssd AS DOUBLE)),
        |             1e-30) AS corr
        |  FROM p JOIN sd s1 ON s1.d = p.di JOIN sd s2 ON s2.d = p.dj)
        |SELECT di, dj, round(corr, 6) AS corr6 FROM r
        |ORDER BY abs(corr) DESC, di, dj LIMIT 15""".stripMargin
  )

  /** The DuckDB source CTE `de` (vec_id, dv) of the PQ oracles: each
    * embedding as doubles. */
  private[operators] def plainDeCte: String =
    """de AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings)""".stripMargin

  /** PQ from first principles in SQL, the oracle of every flat ADC
    * scan: codebook = subvectors of the first 16 vectors of `de`;
    * encode = argmin L2² per subspace (tie lowest code), kept where
    * `encWhere` holds; score = Σ scaled-int LUT dots / sqrt(Σ
    * scaled-int codeword norms). Same left-fold arithmetic as the
    * Spark side. `deCte` defines `de` (vec_id, dv), possibly after
    * helper CTEs. */
  private[operators] def flatAdcSql(deCte: String, encWhere: String): String =
      s"""WITH $deCte,
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, dv AS sv
         |  FROM de ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT seeds.k, ms.m,
         |    list_transform(range(1, 9), i -> sv[ms.m*8 + i]) AS cw
         |  FROM seeds, ms),
         |cbn AS (
         |  SELECT k, m, cw,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> cw[i]*cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT) AS cn
         |  FROM cb),
         |subs AS (
         |  SELECT vec_id, ms.m,
         |    list_transform(range(1, 9), i -> dv[ms.m*8 + i]) AS sub
         |  FROM de, ms),
         |enc AS (
         |  SELECT vec_id AS cid, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        list_reduce(list_transform(range(1, 9),
         |          i -> (s.sub[i]-c.cw[i])*(s.sub[i]-c.cw[i])),
         |          (x,y) -> x+y), c.k) AS rn
         |    FROM subs s JOIN cbn c ON s.m = c.m)$encWhere),
         |lut AS (
         |  SELECT s.vec_id AS pid, s.m, c.k,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> s.sub[i]*c.cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pdot,
         |    c.cn
         |  FROM subs s JOIN cbn c ON s.m = c.m WHERE s.vec_id <= 20),
         |sc AS (
         |  SELECT l.pid, e.cid, sum(l.pdot) AS idot, sum(l.cn) AS rn
         |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.k
         |  WHERE e.cid <> l.pid
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT pid, cid,
         |    CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) AS score,
         |    row_number() OVER (PARTITION BY pid
         |                       ORDER BY CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) DESC, cid) AS rk
         |  FROM sc)
         |SELECT pid, rk, cid, round(score, 6) AS score6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin
}
