package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** cosine_similarity(a, b) over two float/double arrays as one fused
  * kernel ([[Loops.cosine]]).
  *
  * The interpreted composition `aggregate(zip_with(a,b,_*_),0d,_+_)`
  * allocates an intermediate array and evaluates three lambdas per
  * element per pair; this expression is a single primitive loop — the
  * hot path for kNN / ANN / near-dup over millions of candidate pairs.
  *
  * Numeric contract: accumulates dot and both norms as doubles in
  * index order (left fold), identical to the composition it replaces
  * and to the DuckDB oracle's list_reduce — results are bit-identical.
  * Returns null if either side is null, if the arrays are empty or of
  * different lengths (malformed vectors), or if either norm is zero —
  * never NaN, which would sort ABOVE every real similarity under
  * `desc` and silently corrupt top-k results.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernel {

  override def inputTypes = Seq(Kernel.Vec, Kernel.Vec)
  override def dataType: DataType = DoubleType

  def compute(a: ArrayData, b: ArrayData): Any = {
    val s = Loops.cosine(a, floatAt(0), b, floatAt(1))
    if (s == Double.NegativeInfinity) null else s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_similarity"
}
