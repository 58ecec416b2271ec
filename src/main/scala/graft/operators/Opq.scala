package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Loops

/** OPQ — Optimized Product Quantization: learn an orthogonal rotation
  * R so that product-quantizing `R·x` loses less than quantizing `x`
  * (Ge et al., "Optimized Product Quantization", CVPR 2013 — public
  * literature; the non-parametric OPQ-NP alternation). This is the
  * production refinement that sits IN FRONT of the engine's PQ family
  * (q211 flat ADC, q268 IVF+PQ, q277 residual IVFADC): rotation is
  * orthogonal, so dots and norms are preserved exactly and the whole
  * downstream ADC machinery — LUT join, integer-scaled scores, ranking
  * — runs unchanged on the rotated vectors.
  *
  * Scale shape: the rotation fit streams the corpus (2 passes per
  * iteration, treeAggregate) and only d×d + M×K×dsub doubles ever
  * reach the driver; at 100 TB you fit on a bounded sample (like any
  * PQ codebook training) and the learned R rides query plans as ONE
  * d×d literal — `rotate` is a pure projection, no shuffle, no UDF.
  *
  * Alternation (each step a non-increasing move on
  * E = Σᵢ ‖R·xᵢ − q(R·xᵢ)‖²):
  *   pass A  assign codes under (R, cb), update cb to per-cell means;
  *   pass B  re-assign under (R, cb′), accumulate B = Σ x·qᵀ and E;
  *   solve   R′ = argmax_{R orthogonal} tr(R·B) — exact Procrustes via
  *           SVD of B (Jacobi eigen of BᵀB, d×d, driver-side like
  *           MultivariateGaussian's eigensolver).
  * The recorded E history is therefore monotone non-increasing up to
  * float noise — OpqSpec pins that invariant.
  */
object Opq {

  /** d×d rotation literals ride ONE codegen'd projection; past ~128
    * dims the literal matrix (d² doubles) stops being plan-friendly —
    * loud valve, like IvfAnn's centroid cap. */
  private val MaxRotationDims = 128

  private def requireDims(d: Int): Unit =
    require(d >= 1 && d <= MaxRotationDims,
      s"Opq: $d dims exceeds the rotation-literal cap of " +
        s"$MaxRotationDims (the d×d matrix rides query plans as one " +
        "literal); fit OPQ per block or use plain PQ beyond it")

  /** Deterministic orthogonal init: a signed permutation —
    * y_j = s(j)·x[p(j)] with p(j) = 29·j mod d (a bijection whenever
    * gcd(29, d) = 1) and s(j) = −1 iff j ≡ 0 (mod 3). Exactly
    * SQL-expressible (each output is ± one input component), which is
    * what lets q278 bind the GENERAL matrix-rotation machinery to a
    * bit-exact relational oracle. */
  def signedPerm(dims: Int): Array[Array[Double]] = {
    requireDims(dims)
    require(BigInt(29).gcd(BigInt(dims)) == 1,
      s"Opq: signedPerm needs gcd(29, dims)=1; dims=$dims shares a factor")
    val r = Array.ofDim[Double](dims, dims)
    for (j <- 0 until dims)
      r(j)((29 * j) % dims) = if (j % 3 == 0) -1.0 else 1.0
    r
  }

  /** y = R·x as one Catalyst projection: each output dim expands to an
    * EXPLICIT left-assoc chain of lit·element_at products — plain
    * scalar expressions, so whole-stage codegen compiles them to
    * straight-line arithmetic (a higher-order-function fold would run
    * interpreted per element: measured 6× slower end-to-end on the
    * sf10 replica). Exact-zero matrix cells are skipped: adding a
    * ±0.0 term never changes a finite IEEE sum (only the sign of an
    * all-zero result, which no downstream comparison observes), so a
    * signed-permutation row costs ONE product while staying
    * bit-identical to the dense fold — and to the SQL oracle's direct
    * ±x[p] extraction. Row-major: y_j = Σᵢ R(j)(i)·xᵢ, ascending i. */
  def rotate(df: DataFrame, embCol: String, r: Array[Array[Double]],
             outCol: String): DataFrame = {
    requireDims(r.length)
    // array-level Cast (codegen'd), not transform(_.cast) (interpreted
    // HOF) — value-identical float→double widening (r12 guide §4 pass)
    val xd = col(embCol).cast("array<double>")
    val tmp = s"__${outCol}_xd"
    val rows = r.toIndexedSeq.map { row =>
      val terms = row.indices.collect {
        case i if row(i) != 0.0 => lit(row(i)) * element_at(col(tmp), i + 1)
      }
      if (terms.isEmpty) lit(0.0) else terms.reduceLeft(_ + _)
    }
    df.withColumn(tmp, xd)
      .withColumn(outCol, array(rows: _*))
      .drop(tmp)
  }

  // ---- driver-local mirrors (left-fold order = the Column forms) ----

  private def rotateLocal(r: Array[Array[Double]],
                          x: Array[Double]): Array[Double] = {
    val d = r.length
    val y = new Array[Double](d)
    var j = 0
    while (j < d) {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += r(j)(i) * x(i); i += 1 }
      y(j) = acc; j += 1
    }
    y
  }

  /** The PQ codes of `y` under `cb`: the encode kernels' own loop
    * (argmin L2 per subspace, ties → lowest k). */
  private def codesOf(y: Array[Double], cb: Array[Array[Array[Double]]]): ArrayData =
    Loops.pqCodes(UnsafeArrayData.fromPrimitiveArray(y), false, cb, null)

  /** Exact orthogonal Procrustes: argmax_{R orthogonal} tr(R·B) =
    * V·Uᵀ for B = U·Σ·Vᵀ. SVD via Jacobi eigen of BᵀB (V, Σ²), then
    * uⱼ = B·vⱼ/σⱼ; near-null singular directions complete via
    * Gram-Schmidt (any orthonormal completion is optimal there). */
  private[operators] def procrustes(
      b: Array[Array[Double]]): Array[Array[Double]] = {
    val d = b.length
    val btb = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += b(k)(i) * b(k)(j); k += 1 }
      s
    }
    val (ev, v) = MultivariateGaussian.jacobiEigen(btb)
    val sigma = ev.map(e => math.sqrt(math.max(e, 0.0)))
    val tol = math.max(sigma.max, 0.0) * 1e-12
    val u = Array.ofDim[Double](d, d) // columns
    val haveU = Array.fill(d)(false)
    for (j <- 0 until d if sigma(j) > tol) {
      var i = 0
      while (i < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += b(i)(k) * v(k)(j); k += 1 }
        u(i)(j) = s / sigma(j); i += 1
      }
      haveU(j) = true
    }
    // complete null columns: standard-basis candidates, orthogonalized
    // against every accepted column, first with surviving norm wins
    for (j <- 0 until d if !haveU(j)) {
      var cand = 0
      var done = false
      while (!done && cand < d) {
        val w = new Array[Double](d); w(cand) = 1.0
        for (c <- 0 until d if haveU(c)) {
          var dot = 0.0; var i = 0
          while (i < d) { dot += w(i) * u(i)(c); i += 1 }
          i = 0
          while (i < d) { w(i) -= dot * u(i)(c); i += 1 }
        }
        var nrm = 0.0; var i = 0
        while (i < d) { nrm += w(i) * w(i); i += 1 }
        if (nrm > 1e-8) {
          val inv = 1.0 / math.sqrt(nrm)
          i = 0
          while (i < d) { u(i)(j) = w(i) * inv; i += 1 }
          haveU(j) = true; done = true
        }
        cand += 1
      }
      require(done, "Opq: orthonormal completion failed (degenerate B)")
    }
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < d) { s += v(i)(k) * u(j)(k); k += 1 }
      s
    }
  }

  /** The OPQ-NP alternation. Returns the learned rotation plus the
    * per-iteration quantization-error history (monotone non-increasing
    * up to float noise). `iters = 0` returns `init` untouched — the
    * deterministic SQL-expressible setting q278's oracle replicates.
    * Only d² + M·K·dsub doubles ever reach the driver. */
  def fitRotation(corpus: DataFrame, embCol: String, numSub: Int,
                  codesPerSub: Int, iters: Int,
                  init: Array[Array[Double]])
      : (Array[Array[Double]], Seq[Double]) = {
    val d = init.length
    requireDims(d)
    require(d % numSub == 0,
      s"Opq: $d dims not divisible into $numSub subspaces")
    require(codesPerSub >= 1 && codesPerSub <= 256,
      s"Opq: codesPerSub=$codesPerSub outside [1, 256] (8-bit PQ cap)")
    require(iters >= 0 && iters <= 64, s"Opq: iters=$iters outside [0, 64]")
    if (iters == 0) return (init, Nil)
    val dsub = d / numSub
    val seeds = IvfAnn.firstVectors(corpus, embCol, codesPerSub)
    require(seeds.length == codesPerSub,
      s"Opq: corpus has only ${seeds.length} vectors for " +
        s"$codesPerSub codewords")
    val xs = corpus
      .select(col(embCol).cast("array<double>").as("e"))
      .rdd.map(_.getSeq[Double](0).toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var r = init
      var cb = IvfPq.sliceCodebook(seeds.map(rotateLocal(r, _)), numSub)
      val history = Vector.newBuilder[Double]
      for (_ <- 1 to iters) {
        val (rr, ccb) = (r, cb) // stable closure captures
        // pass A — codebook update: per-cell sums/counts under (R, cb)
        val (cbSum, cbCnt) = xs.treeAggregate(
          (Array.ofDim[Double](numSub, codesPerSub, dsub),
            Array.ofDim[Long](numSub, codesPerSub)))(
          seqOp = { case ((s, c), x) =>
            val y = rotateLocal(rr, x)
            val codes = codesOf(y, ccb)
            var m = 0
            while (m < numSub) {
              val k = codes.getInt(m); var i = 0
              while (i < dsub) { s(m)(k)(i) += y(m * dsub + i); i += 1 }
              c(m)(k) += 1; m += 1
            }
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            for (m <- 0 until numSub; k <- 0 until codesPerSub) {
              c1(m)(k) += c2(m)(k)
              var i = 0
              while (i < dsub) { s1(m)(k)(i) += s2(m)(k)(i); i += 1 }
            }
            (s1, c1)
          })
        val cbNew = Array.tabulate(numSub, codesPerSub)((m, k) =>
          if (cbCnt(m)(k) > 0) cbSum(m)(k).map(_ / cbCnt(m)(k))
          else ccb(m)(k)) // empty cell keeps its codeword
        // pass B — rotation update: B = Σ x·qᵀ and E under (R, cb′)
        val (bMat, err) = xs.treeAggregate(
          (Array.ofDim[Double](d, d), 0.0))(
          seqOp = { case ((bm, e), x) =>
            val y = rotateLocal(rr, x)
            val codes = codesOf(y, cbNew)
            var e2 = e
            var m = 0
            while (m < numSub) {
              val cw = cbNew(m)(codes.getInt(m)); var i = 0
              while (i < dsub) {
                val q = cw(i)
                val diff = y(m * dsub + i) - q
                e2 += diff * diff
                var row = 0
                while (row < d) { bm(row)(m * dsub + i) += x(row) * q; row += 1 }
                i += 1
              }
              m += 1
            }
            (bm, e2)
          },
          combOp = { case ((b1, e1), (b2, e2)) =>
            for (i <- 0 until d) {
              var j = 0
              while (j < d) { b1(i)(j) += b2(i)(j); j += 1 }
            }
            (b1, e1 + e2)
          })
        history += err
        r = procrustes(bMat)
        cb = cbNew
      }
      (r, history.result())
    } finally xs.unpersist()
  }

  /** Quantization error E = Σᵢ ‖R·xᵢ − q(R·xᵢ)‖² of a (rotation,
    * codebook) pair over the corpus — the OPQ objective, one
    * distributed pass (spec-side evaluation hook). */
  def quantError(corpus: DataFrame, embCol: String,
                 r: Array[Array[Double]],
                 cb: Array[Array[Array[Double]]]): Double = {
    val dsub = cb.head.head.length
    corpus.select(col(embCol).cast("array<double>").as("e"))
      .rdd.map(_.getSeq[Double](0).toArray)
      .treeAggregate(0.0)(
        seqOp = { (e, x) =>
          val y = rotateLocal(r, x)
          val codes = codesOf(y, cb)
          var e2 = e; var m = 0
          while (m < cb.length) {
            val cw = cb(m)(codes.getInt(m)); var i = 0
            while (i < dsub) {
              val diff = y(m * dsub + i) - cw(i); e2 += diff * diff; i += 1
            }
            m += 1
          }
          e2
        },
        combOp = _ + _)
  }
}
