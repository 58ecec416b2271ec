package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** pq_encode(vec) — product-quantization encoding of one vector against
  * a fixed codebook (M subspaces × K codewords × dsub dims), as ONE
  * fused kernel returning the M codes as array<int>.
  *
  * Why an Expression and not column combinators (r12 optimization
  * round): the encode is the IVF+PQ hot path — M·K L2 distances per
  * corpus vector. Composed from `aggregate(zip_with(...))` it is M·K
  * interpreted higher-order-function calls per row (CodegenFallback,
  * an allocated intermediate array per call); unrolled into flat
  * element_at/× /+ chains it becomes a several-thousand-node expression
  * whose generated method blows past the JVM's JIT limits and runs as
  * interpreted BYTECODE (measured 15-40× slower than the HOF form).
  * A primitive loop ([[Loops.pqCodes]]) with the codebook as a
  * referenced double[][][] is the shape the JIT compiles well.
  *
  * Numeric contract (bit-identical to the composition it replaces, so
  * the q211/q268-family oracle binds hold):
  *  - per (m, k): d = ((0.0 + (x₁−w₁)²) + (x₂−w₂)²) + … — the same
  *    left-fold order as aggregate(zip_with(slice), 0.0, +);
  *  - code(m) = argmin_k d, ties → lowest k (array_min over
  *    struct(d, k) semantics; Double.compare matches Spark's NaN-last
  *    ordering, though PQ distances are always finite);
  *  - null input → null; a vector shorter than M·dsub → null. NOTE
  *    (ADVICE r12): the short-vector case is the one DIVERGENCE from
  *    the old composition, which emitted code 0 per subspace there
  *    (array_min over all-null distances); it is unreachable on the
  *    fixed-width embedding tables, and null fails loudly downstream
  *    where a silent code 0 would not.
  */
case class PqEncode(child: Expression, codebook: Array[Array[Array[Double]]])
    extends UnaryKernel {

  // Pure function, marked non-deterministic ON PURPOSE (optimization
  // guide §4.4): the posexplode over this array makes the optimizer
  // infer `size(pq_encode(..)) > 0 AND isnotnull(pq_encode(..))` and
  // push it to the corpus scan — a full extra encode pass, serial below
  // the spread repartition. Non-deterministic keeps the inferred filter
  // on the materialized column instead; values are identical either way.
  override lazy val deterministic: Boolean = false

  override def inputTypes = Seq(Kernel.Vec)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(a: ArrayData): Any = Loops.pqCodes(a, floatAt(0), codebook, null)

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
  override def prettyName: String = "pq_encode"
}
