package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosine_similarity

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
    /** ×1e6-scaled codeword norms², precomputed once per model. */
    lazy val cbNorm: Array[Array[Long]] = codebook.map(_.map(cw =>
      math.round(cw.foldLeft(0.0)((a, x) => a + x * x) * 1e6)))
  }

  /** Fit = coarse k-means (IvfAnn's Lloyd loop; lloydIters=0 keeps the
    * deterministic first-K_c seed centroids — the SQL-expressible
    * setting q269's oracle replicates) + PQ codebook from the first K
    * vectors' subvectors (q211's deterministic scheme — a trained
    * codebook drops in without changing the operator). */
  def fit(corpus: DataFrame, embCol: String, kCoarse: Int,
          lloydIters: Int, numSub: Int, codesPerSub: Int): Model = {
    require(numSub >= 1, s"IvfPq: numSub=$numSub subspaces (need >= 1)")
    require(codesPerSub >= 1 && codesPerSub <= 256,
      s"IvfPq: codesPerSub=$codesPerSub outside [1, 256] (8-bit PQ cap)")
    val coarse = IvfAnn.fit(corpus, embCol, kCoarse, lloydIters)
    // a corpus smaller than kCoarse silently yields fewer lists —
    // which would shift search's nprobe bound and the nprobe=K
    // exactness contract; refuse instead
    require(coarse.centroids.length == kCoarse,
      s"IvfPq: corpus has only ${coarse.centroids.length} vectors for " +
        s"kCoarse=$kCoarse coarse centroids")
    val dims = coarse.centroids.head.length
    require(dims % numSub == 0,
      s"IvfPq: $dims dims not divisible into $numSub subspaces")
    val dsub = dims / numSub
    val seeds = corpus.orderBy(col("vec_id")).limit(codesPerSub)
      .select(asD(col(embCol)).as("e")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == codesPerSub,
      s"IvfPq: corpus has only ${seeds.length} vectors for " +
        s"$codesPerSub codewords")
    val cb = Array.tabulate(numSub, codesPerSub)((m, k) =>
      seeds(k).slice(m * dsub, (m + 1) * dsub))
    Model(coarse.centroids, cb)
  }

  /** The index build: each vector's inverted-list id + its M PQ codes,
    * exploded to (cid, cluster, m, code). This is the 4-byte/vector
    * scan body; persist it `partitionBy("cluster")` so probes prune. */
  def index(corpus: DataFrame, embCol: String, model: Model): DataFrame = {
    // the M·K L2 encode runs as ONE fused native loop per vector
    // (functions/PqEncode.scala — r12: the aggregate(zip_with) form
    // was M·K interpreted HOF calls per row); posexplode recovers the
    // (m, code) rows — pos IS the subspace index
    IvfAnn.assign(corpus, embCol, IvfAnn.Model(model.centroids))
      .select(col("vec_id").as("cid"), col("cluster"),
        graft.functions.GraftFunctions.pq_encode(
          asD(col(embCol)), model.codebook).as("codes"))
      .select(col("cid"), col("cluster"), posexplode(col("codes")))
      .select(col("cid"), col("cluster"),
        col("pos").as("m"), col("col").as("code"))
  }

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

  /** CosineSimilarity's exact arithmetic on the driver (left-to-right
    * accumulation, dot/(√na·√nb)) — seed-cluster assignment must match
    * the distributed argmax bit-for-bit. */
  private def cosD(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
      nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Fit the residual model: coarse centroids as [[fit]], then the
    * shared codebook from the RESIDUALS of the first `codesPerSub`
    * vectors w.r.t. their own assigned centroids (deterministic, like
    * q211's scheme; a trained codebook drops in unchanged). */
  def fitResidual(corpus: DataFrame, embCol: String, kCoarse: Int,
                  lloydIters: Int, numSub: Int,
                  codesPerSub: Int): ResidualModel = {
    require(numSub >= 1, s"IvfPq: numSub=$numSub subspaces (need >= 1)")
    require(codesPerSub >= 1 && codesPerSub <= 256,
      s"IvfPq: codesPerSub=$codesPerSub outside [1, 256] (8-bit PQ cap)")
    val coarse = IvfAnn.fit(corpus, embCol, kCoarse, lloydIters)
    require(coarse.centroids.length == kCoarse,
      s"IvfPq: corpus has only ${coarse.centroids.length} vectors for " +
        s"kCoarse=$kCoarse coarse centroids")
    val dims = coarse.centroids.head.length
    require(dims % numSub == 0,
      s"IvfPq: $dims dims not divisible into $numSub subspaces")
    val dsub = dims / numSub
    val seeds = corpus.orderBy(col("vec_id")).limit(codesPerSub)
      .select(asD(col(embCol)).as("e")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == codesPerSub,
      s"IvfPq: corpus has only ${seeds.length} vectors for " +
        s"$codesPerSub codewords")
    val residuals = seeds.map { x =>
      // argmax cosine, tie → lowest cluster id (nearestCentroid's rule)
      val cl = coarse.centroids.zipWithIndex
        .map { case (c, j) => (cosD(x, c), j) }
        .maxBy { case (s, j) => (s, -j) }._2
      x.zip(coarse.centroids(cl)).map { case (a, b) => a - b }
    }
    val cb = Array.tabulate(numSub, codesPerSub)((m, k) =>
      residuals(k).slice(m * dsub, (m + 1) * dsub))
    ResidualModel(coarse.centroids, cb)
  }

  /** Residual index build: (cid, cluster, m, code) where code
    * quantizes `x − c(cluster)`. Same 4-byte/vector payload and
    * partitionBy(cluster) persistence contract as [[index]]. */
  def indexResidual(corpus: DataFrame, embCol: String,
                    model: ResidualModel): DataFrame = {
    // fully fused residual encode (r13): subtraction + M·K L2 argmin
    // in ONE primitive loop per vector — the zip_with(…, element_at(
    // <K×dim literal>, cluster+1)) composition was an interpreted HOF
    // per corpus row plus a literal tree re-folded per driver action
    IvfAnn.assign(corpus, embCol, IvfAnn.Model(model.centroids))
      .select(col("vec_id").as("cid"), col("cluster"),
        graft.functions.GraftFunctions.pq_encode_residual(
          asD(col(embCol)), col("cluster"),
          model.centroids, model.codebook).as("codes"))
      .select(col("cid"), col("cluster"), posexplode(col("codes")))
      .select(col("cid"), col("cluster"),
        col("pos").as("m"), col("col").as("code"))
  }

  /** Residual ADC search: probed lists only, scores decomposed as
    * `(p·c + Σ p_sub·cw) / √(‖c‖² + Σ(2·c_sub·cw + ‖cw‖²))` — the
    * per-(cluster, m, code) cross/norm terms ride as integer literals,
    * the per-(probe, cluster) `p·c` term is one scaled dot per probed
    * list, and all sums are order-independent exact. */
  def searchResidual(indexed: DataFrame, probes: DataFrame, embCol: String,
                     model: ResidualModel, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.kCoarse,
      s"IvfPq: nprobe=$nprobe outside [1, ${model.kCoarse}]")
    // r13: LUT dots, the p·c term and the cross/norm lookup run as
    // fused referenced-object kernels (functions/PqLut.scala) — the
    // M×K literal struct rows with interpreted aggregate(zip_with)
    // dots bloated every plan and re-folded per driver action. The
    // ×1e6 scaling + HALF_UP round stay COLUMN ops on the raw dots,
    // so the scaled integers are bit-identical to the old composition.
    val cNormLit = array(model.cNorm.toIndexedSeq.map(lit(_)): _*)
    val probeLut = probes
      .select(col("vec_id").as("pid"), asD(col(embCol)).as("pe"))
      .select(col("pid"), col("pe"),
        slice(graft.functions.GraftFunctions.ranked_centroids(
          col("pe"), model.centroids), 1, nprobe).as("near"))
      .select(col("pid"), col("pe"), explode(col("near")).as("cluster"))
      .withColumn("pcdot",
        round(element_at(graft.functions.GraftFunctions.centroid_dots(
          col("pe"), model.centroids), col("cluster") + 1) * 1e6)
          .cast("long"))
      .select(col("pid"), col("cluster"), col("pcdot"),
        explode(graft.functions.GraftFunctions.pq_lut(
          col("pe"), model.codebook, null)).as("x"))
      .select(col("pid"), col("cluster"), col("pcdot"),
        col("x.m").as("m"), col("x.k").as("k"),
        round(col("x.dot") * 1e6).cast("long").as("pdot"),
        graft.functions.GraftFunctions.cross_norm_at(col("cluster"),
          col("x.m"), col("x.k"), model.crossNorm).as("cn2"))
    val score = (col("pcdot") + col("idot")).cast("double") /
      greatest(sqrt(greatest((element_at(cNormLit, col("cluster") + 1) +
        col("rn")).cast("double"), lit(0.0))), lit(1e-30))
    val w = Window.partitionBy(col("pid")).orderBy(col("score").desc, col("cid"))
    indexed.join(broadcast(probeLut),
        indexed("cluster") === probeLut("cluster") &&
          indexed("m") === probeLut("m") && indexed("code") === probeLut("k"))
      .groupBy(col("pid"), col("cid"), probeLut("cluster").as("cluster"),
        col("pcdot"))
      .agg(sum(col("pdot")).as("idot"), sum(col("cn2")).as("rn"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("pid"), col("rk"), col("cid"),
        round(col("score"), 6).as("score6"))
  }

  /** ADC search over the probed lists only. `indexed` is `index`'s
    * output (or a re-read of its partitioned persistence). Each probe:
    * its `nprobe` nearest coarse lists (cosine argmax, ties → lowest
    * cluster id), an M×K LUT of ×1e6-scaled subvector dots, one
    * equi-join on (cluster, m, code) — a corpus vector outside the
    * probed lists matches nothing (on a cluster-partitioned index the
    * storage layer prunes it before the scan). Score = Σpdot /
    * √Σnorm: order-independent integer sums, exact across engines. */
  def search(indexed: DataFrame, probes: DataFrame, embCol: String,
             model: Model, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.kCoarse,
      s"IvfPq: nprobe=$nprobe outside [1, ${model.kCoarse}]")
    // nprobe nearest lists, ties → lowest cluster id (r12: fused
    // ranked_centroids — same ordering as the old negIdx sort trick).
    // r13: the M×K LUT dots run as one fused kernel (see
    // searchResidual) — scaling/rounding stay column ops, so the
    // scaled integers are unchanged.
    val probeLut = probes
      .select(col("vec_id").as("pid"), asD(col(embCol)).as("pe"))
      .select(col("pid"), col("pe"),
        slice(graft.functions.GraftFunctions.ranked_centroids(
          col("pe"), model.centroids), 1, nprobe).as("near"))
      .select(col("pid"), col("pe"), explode(col("near")).as("cluster"))
      .select(col("pid"), col("cluster"),
        explode(graft.functions.GraftFunctions.pq_lut(
          col("pe"), model.codebook, model.cbNorm)).as("x"))
      .select(col("pid"), col("cluster"), col("x.m").as("m"),
        col("x.k").as("k"),
        round(col("x.dot") * 1e6).cast("long").as("pdot"),
        col("x.cn").as("cn"))
    val score = col("idot").cast("double") /
      greatest(sqrt(col("rn").cast("double")), lit(1e-30))
    val w = Window.partitionBy(col("pid")).orderBy(col("score").desc, col("cid"))
    indexed.join(broadcast(probeLut),
        indexed("cluster") === probeLut("cluster") &&
          indexed("m") === probeLut("m") && indexed("code") === probeLut("k"))
      .filter(col("cid") =!= col("pid"))
      .groupBy(col("pid"), col("cid"))
      .agg(sum(col("pdot")).as("idot"), sum(col("cn")).as("rn"))
      .withColumn("score", score)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("pid"), col("rk"), col("cid"),
        round(col("score"), 6).as("score6"))
  }
}
