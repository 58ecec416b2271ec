package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StringType}

/** The primitive loops of the fused vector kernels. Each kernel's
  * numeric contract is the contract of the loop it calls, so the
  * accumulation order and the tie rule are written once:
  *  - every sum is a left fold from 0.0 in index order — the order of
  *    `aggregate(zip_with(a, b, f), 0.0, +)` and of DuckDB's
  *    list_reduce, so the kernels are bit-identical to the
  *    compositions they replace;
  *  - a float vector is read widened to double (exact).
  */
private[graft] object Loops {

  /** Element `i` of vector `a`, float (`f`) or double, as a double. */
  @inline def at(a: ArrayData, f: Boolean, i: Int): Double =
    if (f) a.getFloat(i).toDouble else a.getDouble(i)

  /** cos(a, b) = dot / (√na·√nb), dot and both norms folded together.
    * −∞ where it is undefined: an empty vector, different lengths or a
    * zero norm (never NaN, which sorts above every real similarity).
    * A real cosine is ≥ −1, so −∞ also loses every argmax. */
  def cosine(a: ArrayData, af: Boolean, b: ArrayData, bf: Boolean): Double = {
    val n = a.numElements()
    if (n == 0 || b.numElements() != n) return Double.NegativeInfinity
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = at(a, af, i); val y = at(b, bf, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The index of the centroid with the largest [[cosine]] to `a`.
    * Ties go to the lowest index, and an undefined cosine (−∞) loses to
    * every real one; index 0 when none is defined. */
  def nearest(a: ArrayData, af: Boolean, cents: Array[ArrayData]): Int = {
    var best = Double.NegativeInfinity; var bestJ = 0
    var j = 0
    while (j < cents.length) {
      val s = cosine(a, af, cents(j), false)
      if (java.lang.Double.compare(s, best) > 0) { best = s; bestJ = j }
      j += 1
    }
    bestJ
  }

  /** Σ a(off + i)·w(i) over the indices of `w`. */
  def dot(a: ArrayData, af: Boolean, off: Int, w: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < w.length) {
      acc += at(a, af, off + i) * w(i)
      i += 1
    }
    acc
  }

  /** The k minimising Σ (x_i − cws(k)(i))² over the indices of the
    * codewords, x_i = a(off + i), or the residual a(off + i) − c(off + i)
    * when `c` is given. Ties go to the lowest k (array_min over
    * struct(d, k); Double.compare orders NaN last, as Spark does). */
  def l2Argmin(a: ArrayData, af: Boolean, off: Int,
               cws: Array[Array[Double]], c: Array[Double]): Int = {
    var bestD = 0.0; var bestK = 0
    var k = 0
    while (k < cws.length) {
      val cw = cws(k)
      var acc = 0.0
      var i = 0
      while (i < cw.length) {
        val x = at(a, af, off + i)
        val d = (if (c == null) x else x - c(off + i)) - cw(i)
        acc += d * d
        i += 1
      }
      if (k == 0 || java.lang.Double.compare(acc, bestD) < 0) {
        bestD = acc; bestK = k
      }
      k += 1
    }
    bestK
  }

  /** The PQ codes of `a` (minus `c`, when given): per subspace m of the
    * M × K × dsub codebook, the [[l2Argmin]] of a's m-th subvector.
    * null when `a` is shorter than M·dsub; a longer `a` is encoded by
    * its first M·dsub elements. */
  def pqCodes(a: ArrayData, af: Boolean, codebook: Array[Array[Array[Double]]],
              c: Array[Double]): ArrayData = {
    val m = codebook.length
    val dsub = codebook(0)(0).length
    if (a.numElements() < m * dsub) return null
    val codes = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      codes(mi) = l2Argmin(a, af, mi * dsub, codebook(mi), c)
      mi += 1
    }
    new GenericArrayData(codes)
  }
}

/** Value semantics for an expression whose constructor holds arrays (a
  * codebook, centroids, a merge table): two instances are equal when
  * their arguments are equal element by element, each argument's
  * content hash is computed once per instance, and a plan string shows
  * an array by its element type, shape and content hash
  * (`double[8][256][4]{1f0c2a9e}`) rather than its JVM identity. */
private[functions] trait ArrayArgs extends Expression {
  @transient private lazy val argHashes: Array[Int] = productIterator.map {
    case a: Array[_] => java.util.Arrays.deepHashCode(Array[AnyRef](a.asInstanceOf[AnyRef]))
    case x => x.##
  }.toArray

  override def hashCode(): Int = java.util.Arrays.hashCode(argHashes)

  override def equals(o: Any): Boolean = o match {
    case that: ArrayArgs =>
      (this eq that) || (that.getClass == getClass && that.hashCode == hashCode &&
        productIterator.zip(that.productIterator).forall { case (a, b) =>
          java.util.Objects.deepEquals(a.asInstanceOf[AnyRef], b.asInstanceOf[AnyRef])
        })
    case _ => false
  }

  override protected def stringArgs: Iterator[Any] =
    productIterator.zip(argHashes.iterator).map {
      case (a: Array[_], h) =>
        def dims(x: Any): String = x match {
          case xs: Array[_] => s"[${xs.length}]" + (if (xs.isEmpty) "" else dims(xs(0)))
          case _ => ""
        }
        var elem: Class[_] = a.getClass
        while (elem.isArray) elem = elem.getComponentType
        f"${elem.getSimpleName}${dims(a)}{$h%08x}"
      case (x, _) => x
    }
}

/** The Catalyst wiring every fused kernel in this package shares. A
  * kernel is a `compute` over its evaluated, non-null children that
  * returns its value or null; interpreted evaluation calls it directly,
  * and the generated code calls it on the kernel instance (a referenced
  * object), so there is one implementation to keep true. */
private[functions] sealed trait Kernel extends ArrayArgs {
  /** What each child must be, in child order. */
  def inputTypes: Seq[Kernel.Input]

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.zip(inputTypes).forall { case (c, in) => in.accepts(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (${inputTypes.map(_.name).mkString(", ")}), got " +
        children.map(_.dataType.simpleString).mkString(", "))

  /** Whether child `i`, an array, holds floats rather than doubles. */
  protected def floatAt(i: Int): Boolean =
    children(i).dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Java statements that set `ev` to `compute(args)` of this instance,
    * null when compute returns null. */
  protected def callCompute(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val r = ctx.freshName("r")
    s"""Object $r = $self.compute(${args.mkString(", ")});
       |if ($r == null) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $r;
       |}""".stripMargin
  }
}

private[functions] object Kernel {
  /** An argument type a kernel accepts. */
  final case class Input(name: String, accepts: DataType => Boolean)

  /** A float or double array: a vector. */
  val Vec = Input("float/double array", {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  })
  val Int = Input("int", _ == IntegerType)
  val Strings = Input("array<string>", {
    case ArrayType(StringType, _) => true
    case _ => false
  })
}

/** A kernel of one array argument. */
private[functions] trait UnaryKernel extends UnaryExpression with Kernel {
  def compute(a: ArrayData): Any

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => callCompute(ctx, ev, a))
}

/** A kernel of two arguments; each defines `compute(left, right)` and
  * the `nullSafeEval` that casts its arguments to it. */
private[functions] trait BinaryKernel extends BinaryExpression with Kernel {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => callCompute(ctx, ev, a, b))
}
