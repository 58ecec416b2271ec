package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{centroid_dots, cross_norm_at, pq_encode,
  pq_encode_residual, pq_lut}
import graft.functions.Loops

/** IVF+PQ — the production 100 TB ANN serving shape, composing the two
  * halves the engine already ships separately: q146's inverted-file
  * coarse quantizer (IvfAnn) prunes each probe to `nprobe` lists, and
  * q211's product-quantization ADC scan — re-expressed relationally as
  * a broadcast LUT join — scores ONLY those lists' codes. (Reference
  * precedent: flink-ml ships the pipeline/estimator INFRASTRUCTURE,
  * flink-ml-api/.../Pipeline.java:60; the composed index itself is the
  * standard IVFADC design of Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011 — public literature.)
  *
  * Index layout at scale: `index` emits one (cid, cluster, m, code) row
  * per vector per subspace — 4 bits/code, M codes/vector, i.e. ~4
  * bytes of PQ payload per vector. Written `partitionBy("cluster")`,
  * a probe batch touches nprobe/K of the corpus via partition pruning;
  * the LUT (probes × nprobe × M×K entries of scaled-int dots) stays a
  * tiny broadcast. No full-precision vector ever shuffles at search
  * time.
  *
  * Exactness discipline (the quantized-family rule): LUT dots and
  * codeword norms are ×1e6-scaled rounded integers, per-pair scores
  * are order-independent integer sums, ranking ties break on cid — so
  * with nprobe = K the search output is BIT-IDENTICAL to the flat ADC
  * scan (every corpus vector lives in exactly one list), which is what
  * binds the whole fit→index→probe→score pipeline to q211's DuckDB
  * oracle (q268). The recall-vs-scan trade at nprobe < K is itself
  * oracle-bound through q269's fully-relational replication.
  *
  * One search core serves the flat scan (q211, no list key), [[search]]
  * and [[searchResidual]]: the probe lists come from
  * `IvfAnn.probeLists`, the LUT from [[lut]], the code⋈LUT join from
  * [[joinLut]] and the ranking from [[topK]]; only the residual score
  * is written separately.
  */
object IvfPq {

  /** Fitted index state: coarse centroids (K_c × dim) + PQ codebook
    * (M × K × dsub). Both driver-bounded (guarded in fit). */
  case class Model(centroids: Array[Array[Double]],
                   codebook: Array[Array[Array[Double]]]) {
    def kCoarse: Int = centroids.length
    def numSub: Int = codebook.length          // M subspaces
    def codesPerSub: Int = codebook.head.length // K codewords
    def dsub: Int = codebook.head.head.length
  }

  /** What [[fit]] and [[fitResidual]] share: the guards, the coarse
    * centroids (IvfAnn's Lloyd loop; lloydIters=0 keeps the
    * deterministic first-K_c seed centroids — the SQL-expressible
    * setting q269's oracle replicates) and the first `codesPerSub`
    * vectors, which the codebook is cut from. */
  private def fitCoarse(corpus: DataFrame, embCol: String, kCoarse: Int,
                        lloydIters: Int, numSub: Int, codesPerSub: Int)
      : (Array[Array[Double]], Array[Array[Double]]) = {
    require(numSub >= 1, s"IvfPq: numSub=$numSub subspaces (need >= 1)")
    require(codesPerSub >= 1 && codesPerSub <= 256,
      s"IvfPq: codesPerSub=$codesPerSub outside [1, 256] (8-bit PQ cap)")
    val cents = IvfAnn.fit(corpus, embCol, kCoarse, lloydIters).centroids
    // a corpus smaller than kCoarse silently yields fewer lists —
    // which would shift search's nprobe bound and the nprobe=K
    // exactness contract; refuse instead
    require(cents.length == kCoarse,
      s"IvfPq: corpus has only ${cents.length} vectors for " +
        s"kCoarse=$kCoarse coarse centroids")
    val dims = cents.head.length
    require(dims % numSub == 0,
      s"IvfPq: $dims dims not divisible into $numSub subspaces")
    val seeds = IvfAnn.firstVectors(corpus, embCol, codesPerSub)
    require(seeds.length == codesPerSub,
      s"IvfPq: corpus has only ${seeds.length} vectors for " +
        s"$codesPerSub codewords")
    (cents, seeds)
  }

  /** The M × vectors.length × dsub codebook whose codeword k in
    * subspace m is the m-th of `numSub` equal slices of vectors(k). */
  private[operators] def sliceCodebook(vectors: Array[Array[Double]],
                                       numSub: Int): Array[Array[Array[Double]]] = {
    val dsub = vectors.head.length / numSub
    Array.tabulate(numSub, vectors.length)((m, k) =>
      vectors(k).slice(m * dsub, (m + 1) * dsub))
  }

  /** Fit = coarse k-means + PQ codebook from the first K vectors'
    * subvectors (q211's deterministic scheme — a trained codebook
    * drops in without changing the operator). */
  def fit(corpus: DataFrame, embCol: String, kCoarse: Int,
          lloydIters: Int, numSub: Int, codesPerSub: Int): Model = {
    val (cents, seeds) =
      fitCoarse(corpus, embCol, kCoarse, lloydIters, numSub, codesPerSub)
    Model(cents, sliceCodebook(seeds, numSub))
  }

  /** One (cid, keys…, m, code) row per vector and subspace, from
    * `codes`, the vector's M PQ codes (posexplode's pos IS the
    * subspace index). This is the 4-byte/vector scan body. */
  private[operators] def codeRows(vectors: DataFrame, keys: Seq[String],
                                  codes: Column): DataFrame = {
    val kept = col("cid") +: keys.map(col)
    vectors.select((col("vec_id").as("cid") +: keys.map(col)) :+ codes.as("codes"): _*)
      .select(kept :+ posexplode(col("codes")): _*)
      .select(kept ++ Seq(col("pos").as("m"), col("col").as("code")): _*)
  }

  /** Each vector's inverted-list id (IvfAnn.assign), then its code rows
    * under `codes`, which may read the `cluster` column. */
  private def indexWith(corpus: DataFrame, embCol: String,
                        cents: Array[Array[Double]], codes: Column): DataFrame =
    codeRows(IvfAnn.assign(corpus, embCol, IvfAnn.Model(cents)), Seq("cluster"), codes)

  /** The index build: each vector's inverted-list id + its M PQ codes,
    * exploded to (cid, cluster, m, code). Persist it
    * `partitionBy("cluster")` so probes prune. */
  def index(corpus: DataFrame, embCol: String, model: Model): DataFrame =
    // the M·K L2 encode runs as ONE fused native loop per vector
    // (functions/PqEncode.scala — r12: the aggregate(zip_with) form
    // was M·K interpreted HOF calls per row)
    indexWith(corpus, embCol, model.centroids,
      pq_encode(asD(col(embCol)), model.codebook))

  // ---- residual encoding (IVFADC proper — Jégou et al. §IV) --------

  /** Residual-encoding model: the PQ codebook quantizes `x − c(list)`
    * instead of `x`, so codewords spend their resolution on the
    * within-cell displacement — the accuracy refinement that makes
    * IVFADC the production form. Scoring decomposes exactly:
    * `p·x̂ = p·c + Σ_m p_sub·cw` and
    * `‖x̂‖² = ‖c‖² + Σ_m (2·c_sub·cw + ‖cw‖²)` (subspace
    * orthogonality), so the per-(cluster, m, code) cross/norm terms
    * precompute to ×1e6-scaled integer literals and every per-pair
    * score stays an order-independent exact sum. */
  case class ResidualModel(centroids: Array[Array[Double]],
                           codebook: Array[Array[Array[Double]]]) {
    def kCoarse: Int = centroids.length
    def numSub: Int = codebook.length
    def codesPerSub: Int = codebook.head.length
    def dsub: Int = codebook.head.head.length
    // HALF-AWAY-FROM-ZERO, not math.round (floor(x+½)): cross terms
    // can be NEGATIVE and both Spark's round() and DuckDB's round()
    // round halves away from zero — the driver must match
    private def rz(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else math.ceil(x - 0.5).toLong
    /** crossNorm(cluster)(m)(k) = round((2·c_sub·cw + ‖cw‖²)·1e6). */
    lazy val crossNorm: Array[Array[Array[Long]]] =
      centroids.map { c =>
        Array.tabulate(numSub, codesPerSub) { (m, k) =>
          val cs = c.slice(m * dsub, (m + 1) * dsub)
          val cw = codebook(m)(k)
          val cross = cs.zip(cw).foldLeft(0.0)((a, p) => a + p._1 * p._2)
          val nw = cw.foldLeft(0.0)((a, x) => a + x * x)
          rz((2 * cross + nw) * 1e6)
        }
      }
    /** cNorm(cluster) = round(‖c‖²·1e6). */
    lazy val cNorm: Array[Long] =
      centroids.map(c => rz(c.foldLeft(0.0)((a, x) => a + x * x) * 1e6))
  }

  /** Fit the residual model: coarse centroids as [[fit]], then the
    * shared codebook from the RESIDUALS of the first `codesPerSub`
    * vectors w.r.t. their own assigned centroids (deterministic, like
    * q211's scheme; a trained codebook drops in unchanged). */
  def fitResidual(corpus: DataFrame, embCol: String, kCoarse: Int,
                  lloydIters: Int, numSub: Int,
                  codesPerSub: Int): ResidualModel = {
    val (cents, seeds) =
      fitCoarse(corpus, embCol, kCoarse, lloydIters, numSub, codesPerSub)
    // each seed's list is the one IvfAnn.assign gives it: the assign
    // kernel's own loop (argmax cosine, ties → lowest id, an undefined
    // cosine never wins)
    val centData = cents.map(c => UnsafeArrayData.fromPrimitiveArray(c): ArrayData)
    val residuals = seeds.map { x =>
      val c = cents(Loops.nearest(UnsafeArrayData.fromPrimitiveArray(x), false, centData))
      x.zip(c).map { case (a, b) => a - b }
    }
    ResidualModel(cents, sliceCodebook(residuals, numSub))
  }

  /** Residual index build: (cid, cluster, m, code) where code
    * quantizes `x − c(cluster)`. Same 4-byte/vector payload and
    * partitionBy(cluster) persistence contract as [[index]]. */
  def indexResidual(corpus: DataFrame, embCol: String,
                    model: ResidualModel): DataFrame =
    // fully fused residual encode (r13): subtraction + M·K L2 argmin
    // in ONE primitive loop per vector
    indexWith(corpus, embCol, model.centroids,
      pq_encode_residual(asD(col(embCol)), col("cluster"),
        model.centroids, model.codebook))

  // ---- the search core ---------------------------------------------

  /** The probe side's ADC lookup table: per probe row and (m, k), the
    * ×1e6-scaled subvector·codeword dot `pdot` and the norm term
    * `norm` (a column over the pq_lut entry `x`), keeping the probe
    * columns `carry`. The dots run as one fused kernel
    * (functions/PqLut.scala); scaling and HALF_UP rounding stay column
    * ops, so the scaled integers are those of the SQL oracles. */
  private def lut(probes: DataFrame, carry: Seq[String],
                  codebook: Array[Array[Array[Double]]],
                  cbNorm: Array[Array[Long]], norm: Column): DataFrame =
    probes.select(carry.map(col) :+ explode(pq_lut(col("pe"), codebook, cbNorm)).as("x"): _*)
      .select(carry.map(col) ++ Seq(col("x.m").as("m"), col("x.k").as("k"),
        round(col("x.dot") * 1e6).cast("long").as("pdot"), norm): _*)

  /** Code rows ⋈ broadcast LUT on `keys` and (m, code = k): a code row
    * outside the probe's lists matches nothing. */
  private def joinLut(codes: DataFrame, lut: DataFrame, keys: Seq[String]): DataFrame =
    codes.join(broadcast(lut),
      (keys.map(c => codes(c) === lut(c)) ++
        Seq(codes("m") === lut("m"), codes("code") === lut("k"))).reduce(_ && _))

  /** Per probe, the k best `score`s (ties → lowest cid), rounded to 6
    * places — the ranking every ADC search ends with. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("pid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("pid"), col("rk"), col("cid"), round(col("score"), 6).as("score6"))
  }

  /** ×1e6-scaled codeword norms², the flat score's denominator terms. */
  private def codewordNorms(codebook: Array[Array[Array[Double]]]): Array[Array[Long]] =
    codebook.map(_.map(cw => math.round(cw.foldLeft(0.0)((a, x) => a + x * x) * 1e6)))

  /** Flat ADC: the probe rows (pid, pe, keys…) against the code rows
    * (cid, keys…, m, code) that share their keys — none for the
    * exhaustive scan (q211), the list id for [[search]]. Score =
    * Σpdot / √Σnorm over the M matched LUT entries: order-independent
    * integer sums, exact across engines; top k per probe. */
  private[operators] def adc(codes: DataFrame, probes: DataFrame, keys: Seq[String],
                             codebook: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val l = lut(probes, "pid" +: keys, codebook, codewordNorms(codebook),
      col("x.cn").as("cn"))
    topK(joinLut(codes, l, keys)
      .filter(col("cid") =!= col("pid"))
      .groupBy(col("pid"), col("cid"))
      .agg(sum(col("pdot")).as("idot"), sum(col("cn")).as("rn"))
      .withColumn("score", col("idot").cast("double") /
        greatest(sqrt(col("rn").cast("double")), lit(1e-30))), k)
  }

  /** ADC search over the probed lists only. `indexed` is `index`'s
    * output (or a re-read of its partitioned persistence). Each probe:
    * its `nprobe` nearest coarse lists, an M×K LUT, one equi-join on
    * (cluster, m, code) — on a cluster-partitioned index the storage
    * layer prunes unprobed lists before the scan. */
  def search(indexed: DataFrame, probes: DataFrame, embCol: String,
             model: Model, k: Int, nprobe: Int): DataFrame =
    adc(indexed, IvfAnn.probeLists(probes, embCol, model.centroids, nprobe),
      Seq("cluster"), model.codebook, k)

  /** Residual ADC search: probed lists only, scores decomposed as
    * `(p·c + Σ p_sub·cw) / √(‖c‖² + Σ(2·c_sub·cw + ‖cw‖²))` — the
    * per-(cluster, m, code) cross/norm terms come from a referenced
    * table (cross_norm_at), the per-(probe, cluster) `p·c` term is one
    * scaled dot per probed list, and all sums are order-independent
    * exact. */
  def searchResidual(indexed: DataFrame, probes: DataFrame, embCol: String,
                     model: ResidualModel, k: Int, nprobe: Int): DataFrame = {
    val cNormLit = array(model.cNorm.toIndexedSeq.map(lit(_)): _*)
    val lists = IvfAnn.probeLists(probes, embCol, model.centroids, nprobe)
      .withColumn("pcdot",
        round(element_at(centroid_dots(col("pe"), model.centroids),
          col("cluster") + 1) * 1e6).cast("long"))
    val l = lut(lists, Seq("pid", "cluster", "pcdot"), model.codebook, null,
      cross_norm_at(col("cluster"), col("x.m"), col("x.k"), model.crossNorm).as("cn2"))
    topK(joinLut(indexed, l, Seq("cluster"))
      .groupBy(col("pid"), col("cid"), l("cluster").as("cluster"), col("pcdot"))
      .agg(sum(col("pdot")).as("idot"), sum(col("cn2")).as("rn"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("score", (col("pcdot") + col("idot")).cast("double") /
        greatest(sqrt(greatest((element_at(cNormLit, col("cluster") + 1) +
          col("rn")).cast("double"), lit(0.0))), lit(1e-30))), k)
  }
}
