package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** pq_encode_residual(vec, cluster) — PQ encoding of the RESIDUAL
  * `vec − centroid(cluster)` against a fixed codebook, fused into one
  * primitive loop (r13 — the IVFADC corpus hot path of q277/q285).
  *
  * Replaces `pq_encode(zip_with(vec, element_at(<K×dim literal>,
  * cluster+1), (a,b) → a−b))`: the zip_with subtraction was an
  * interpreted higher-order function per corpus row AND the centroid
  * matrix rode every plan as a K×dim literal tree re-folded per driver
  * action.
  *
  * Numeric contract (bit-identical to that composition): the residual
  * element is the double subtraction `x_i − c_i` (zip_with order), and
  * the encode accumulates `((0.0 + (r₁−w₁)²) + (r₂−w₂)²) + …` with
  * argmin ties → lowest k — PqEncode's exact rules ([[Loops.pqCodes]]).
  * Null vec or null cluster → null; a cluster outside [0, K) → null; a
  * vec shorter than M·dsub or mismatching the centroid width → null
  * (unreachable on fixed-width tables). */
case class PqEncodeResidual(left: Expression, right: Expression,
                            cents: Array[Array[Double]],
                            codebook: Array[Array[Array[Double]]])
    extends BinaryKernel {

  // Pure function, marked non-deterministic ON PURPOSE (optimization
  // guide §4.4) — same rationale as PqEncode: stops the posexplode's
  // inferred `size(..) > 0` filter re-running the residual encode at
  // the scan. Values are identical either way.
  override lazy val deterministic: Boolean = false

  override def inputTypes = Seq(Kernel.Vec, Kernel.Int)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  def compute(v: ArrayData, cluster: Int): Any =
    if (cluster < 0 || cluster >= cents.length ||
        cents(cluster).length != v.numElements()) null
    else Loops.pqCodes(v, floatAt(0), codebook, cents(cluster))

  override def nullSafeEval(v: Any, cl: Any): Any =
    compute(v.asInstanceOf[ArrayData], cl.asInstanceOf[Int])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResidual =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "pq_encode_residual"
}
