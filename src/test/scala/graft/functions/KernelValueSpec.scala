package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The kernels that hold arrays compare, hash and print those arrays by
  * value: a plan built twice from equal matrices is the same plan, and
  * its string does not depend on the JVM. */
class KernelValueSpec extends AnyFunSuite {

  private val v = Literal(null, ArrayType(DoubleType))
  private val i = Literal(0)
  private def cents = Array(Array(1.0, 0.0, 2.0), Array(0.5, 0.5, 0.0))
  private def cb = Array(Array(Array(1.0), Array(2.0)), Array(Array(3.0), Array(4.0)))
  private def norms = Array(Array(1L, 2L), Array(3L, 4L))

  /** Every array-holding kernel, built from freshly allocated arrays. */
  private def kernels(): Seq[Expression] = Seq(
    PqLut(v, cb, norms), CentroidDots(v, cents), NearestCentroid(v, cents),
    RankedCentroids(v, cents), PqEncode(v, cb),
    PqEncodeResidual(v, i, cents, cb), CrossNormAt(i, i, i, Array(norms)),
    BpeApplyMerges(Literal(null, ArrayType(StringType)), Array(("a", "b"))))

  test("kernels built from equal but distinct arrays are equal, hash and print alike") {
    kernels().zip(kernels()).foreach { case (a, b) =>
      assert(a == b, a)
      assert(a.hashCode == b.hashCode, a)
      assert(a.toString == b.toString)
      assert(!a.toString.contains("@"), a.toString)
    }
  }

  test("a matrix prints as its element type, shape and content hash") {
    val s = CentroidDots(v, cents).toString
    assert(s.matches("""centroid_dots\(null, double\[2\]\[3\]\{[0-9a-f]{8}\}\)"""), s)
    assert(PqLut(v, cb, null).toString.contains("double[2][2][1]{"))
  }

  test("a different matrix is a different kernel") {
    val other = cents
    other(1)(2) = 1.0
    assert(CentroidDots(v, cents) != CentroidDots(v, other))
    assert(CentroidDots(v, cents).toString != CentroidDots(v, other).toString)
  }
}
