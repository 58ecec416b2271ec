package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Fused coarse-quantizer kernels (r12 optimization round).
  *
  * The IVF assign/probe paths were built as `array_max` / `array_sort`
  * over K struct literals of `cosine_similarity(vec, <64-double array
  * literal>)` — correct and codegen'd, but every plan carrying them
  * holds a ~K×dim literal tree that the optimizer constant-folds on
  * EVERY action (the IVF maintenance queries run 30-40 driver actions
  * each; JobProfile attributed ~half their wall time to driver gaps).
  * These expressions keep the centroid matrix as a referenced
  * double[][] instead, so the plan node is one leaf.
  *
  * Numeric contract — bit-identical to the composition each replaces:
  * per-centroid similarity is [[Loops.cosine]] (CosineSimilarity's
  * exact arithmetic); a zero-norm/length-mismatch similarity is "null"
  * and loses to every real one (struct-ordering null-first semantics);
  * ties break to the LOWEST centroid index (the negIdx trick's order).
  */
private[functions] trait CentroidKernel extends UnaryKernel {
  def cents: Array[Array[Double]]

  @transient protected lazy val centData: Array[ArrayData] =
    cents.map(c => UnsafeArrayData.fromPrimitiveArray(c): ArrayData)

  override def inputTypes = Seq(Kernel.Vec)

  /** The cosine of `a` and each centroid, −∞ where undefined. */
  protected def sims(a: ArrayData): Array[Double] = {
    val af = floatAt(0)
    val out = new Array[Double](centData.length)
    var j = 0
    while (j < out.length) {
      out(j) = Loops.cosine(a, af, centData(j), false)
      j += 1
    }
    out
  }
}

/** nearest_centroid(vec) → the argmax-cosine centroid index (ties →
  * lowest index) — replaces `-array_max(array(struct(cos, -i)…)).negIdx`. */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends CentroidKernel {

  // Pure function, marked non-deterministic ON PURPOSE (optimization
  // guide §4.4): downstream joins on the cluster column made
  // InferFiltersFromConstraints push `isnotnull(nearest_centroid(..))`
  // to the corpus scan — a full extra K×dim argmax pass below the
  // spread repartition. Values are identical either way.
  override lazy val deterministic: Boolean = false

  override def dataType: DataType = IntegerType

  def compute(v: ArrayData): Any = Loops.nearest(v, floatAt(0), centData)

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid"
}

/** ranked_centroids(vec) → ALL centroid indices ordered by
  * (similarity desc, index asc) — replaces
  * `transform(reverse(array_sort(array(struct(cos, -i)…))), -negIdx)`;
  * callers slice the first nprobe. */
case class RankedCentroids(child: Expression, cents: Array[Array[Double]])
    extends CentroidKernel {

  // Pure function, marked non-deterministic ON PURPOSE (optimization
  // guide §4.4) — same rationale as NearestCentroid/PqEncode: the
  // explode over the sliced ranking inferred a duplicating scan filter.
  // Values are identical either way.
  override lazy val deterministic: Boolean = false

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData): Any = {
    val s = sims(v)
    val idx = Array.range(0, s.length)
    // insertion sort by (sim desc, idx asc) — K is a coarse-quantizer
    // constant (≤256, guarded upstream)
    var i = 1
    while (i < idx.length) {
      val cur = idx(i)
      var j = i - 1
      while (j >= 0 && (java.lang.Double.compare(s(idx(j)), s(cur)) < 0 ||
          (s(idx(j)) == s(cur) && idx(j) > cur))) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = cur
      i += 1
    }
    new GenericArrayData(idx)
  }

  override protected def withNewChildInternal(newChild: Expression): RankedCentroids =
    copy(child = newChild)
  override def prettyName: String = "ranked_centroids"
}
