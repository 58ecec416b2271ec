package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Probe-side ADC kernels (r13 optimization round — the PqEncode
  * treatment applied to the SEARCH half of the IVF+PQ family).
  *
  * `IvfPq.search`/`searchResidual`/q211 built the per-probe LUT as M×K
  * literal struct rows, each holding `aggregate(zip_with(slice(pe,…),
  * <dsub-double literal>))` — two costs: the dot is an interpreted
  * higher-order function evaluated M×K times per probe row
  * (CodegenFallback), and every plan carrying the tree holds ~M×K×dsub
  * literals that the optimizer re-folds on each of the 30-40 driver
  * actions an index-maintenance query runs. These expressions hold the
  * codebook/centroids as referenced objects and run the dots as one
  * primitive loop ([[Loops.dot]]).
  *
  * Numeric contract: each dot accumulates `acc = (0.0 + x₁·y₁) + x₂·y₂
  * + …` in index order — exactly `aggregate(zip_with(a, b, ×), 0.0, +)`.
  * The ×1e6 scaling and HALF_UP rounding stay COLUMN ops on the raw
  * dot (`round(dot × 1e6).cast("long")`), so no rounding semantics are
  * re-implemented here and the q211-family oracle binds carry over
  * unchanged.
  */

/** pq_lut(pe) → array<struct<m:int, k:int, dot:double, cn:long>> — one
  * entry per (subspace, codeword): the raw subvector·codeword dot
  * ([[Loops.dot]]) plus the precomputed codeword norm term (0 when the
  * caller supplies none). Null when the probe vector is shorter than
  * M·dsub (the literal composition would produce nulls mid-expression;
  * unreachable on the fixed-width embedding tables); a longer vector
  * gives the LUT of its first M·dsub elements. */
case class PqLut(child: Expression, codebook: Array[Array[Array[Double]]],
                 cbNorm: Array[Array[Long]])
    extends UnaryKernel {

  private val structType = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("dot", DoubleType, nullable = false),
    StructField("cn", LongType, nullable = false)))

  override def inputTypes = Seq(Kernel.Vec)
  override def dataType: DataType = ArrayType(structType, containsNull = false)

  @transient private lazy val dsub = codebook(0)(0).length

  def compute(a: ArrayData): Any = {
    val m = codebook.length
    val kk = codebook(0).length
    if (a.numElements() < m * dsub) return null
    val af = floatAt(0)
    val rows = new Array[Any](m * kk)
    var mi = 0
    while (mi < m) {
      var k = 0
      while (k < kk) {
        val cn = if (cbNorm == null) 0L else cbNorm(mi)(k)
        rows(mi * kk + k) =
          InternalRow(mi, k, Loops.dot(a, af, mi * dsub, codebook(mi)(k)), cn)
        k += 1
      }
      mi += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)
  override def prettyName: String = "pq_lut"
}

/** centroid_dots(pe) → array<double> of the raw pe·centroid dots
  * ([[Loops.dot]]), one per coarse centroid (index order) — replaces
  * the per-row `aggregate(zip_with(pe, element_at(<K×dim literal>,
  * cluster+1), ×))` of the residual search's p·c term; callers
  * element_at by cluster. A centroid whose length differs from pe
  * yields NaN (the HOF composition would yield null — both unreachable
  * on fixed-width tables, and NaN survives the round/cast pipeline
  * loudly). */
case class CentroidDots(child: Expression, cents: Array[Array[Double]])
    extends UnaryKernel {

  override def inputTypes = Seq(Kernel.Vec)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  def compute(a: ArrayData): Any = {
    val n = a.numElements()
    val af = floatAt(0)
    val out = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      out(j) = if (cents(j).length != n) Double.NaN else Loops.dot(a, af, 0, cents(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDots =
    copy(child = newChild)
  override def prettyName: String = "centroid_dots"
}

/** cross_norm_at(cluster, m, k) → the residual model's precomputed
  * ×1e6-scaled (2·c_sub·cw + ‖cw‖²) integer term — replaces the
  * K×M×K-literal nested-array element_at chain (plan bloat on every
  * driver action). The table is driver-computed once per model, so the
  * values are identical to the literals they replace. */
case class CrossNormAt(first: Expression, second: Expression,
                       third: Expression,
                       table: Array[Array[Array[Long]]])
    extends TernaryExpression with ArrayArgs {

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == IntegerType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "cross_norm_at needs three int columns (cluster, m, k)")

  override def nullSafeEval(c: Any, m: Any, k: Any): Any =
    table(c.asInstanceOf[Int])(m.asInstanceOf[Int])(k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("crossNorm", table, "long[][][]")
    nullSafeCodeGen(ctx, ev, (c, m, k) =>
      s"${ev.value} = $tbl[$c][$m][$k];")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): CrossNormAt =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "cross_norm_at"
}
