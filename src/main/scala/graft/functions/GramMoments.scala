package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** gram_moments(xs, pairs) → struct<n, sx, qx, sxy> — the exact BIGINT
  * sufficient statistics of a corpus of equal-width integer vectors,
  * folded by ONE aggregate: n = rows, sx(i) = Σx_i, qx(i) = Σx_i² and,
  * with `pairs`, sxy = Σx_i·x_j for every i < j in row-major order
  * ((0,1), (0,2), …, (1,2), …). `sxy` is null without `pairs`.
  *
  * Replaces the relational forms `posexplode → groupBy(d)` (diagonal)
  * and the nested `transform` pair-product array exploded into
  * d(d−1)/2 rows per vector → `groupBy(di, dj)` (pairs). Those run the
  * per-element lambdas interpreted and shuffle d or d(d−1)/2 keys per
  * partition; here each partition folds into one long[] buffer in a
  * primitive loop, and the buffers merge once. The sums are exact
  * integers, so any fold or merge order gives the same result, and the
  * same result as the composed sums.
  *
  * Contract (unsupported input fails loudly):
  *  - every add and multiply is `Math.addExact`/`multiplyExact`, so an
  *    overflow throws `ArithmeticException`, as the ANSI `sum` does;
  *  - a null array row is skipped (posexplode skips it too); a null
  *    element throws;
  *  - the first row fixes the width; a row of another width throws;
  *  - width is capped at [[GramMoments.DiagCap]] without `pairs` and at
  *    [[GramMoments.PairCap]] with them (the buffer holds d(d−1)/2
  *    longs, and the caller centers each pair on the driver);
  *  - no non-null row gives a null result, as `sum` over no rows does;
  *    callers name the failure.
  */
case class GramMoments(child: Expression, pairs: Boolean,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GramMoments.Buf] with UnaryLike[Expression] {
  import GramMoments._

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sx", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("qx", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sxy", ArrayType(LongType, containsNull = false), nullable = true)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_moments needs an array<bigint>, got ${other.simpleString}")
  }

  private def cap: Int = if (pairs) PairCap else DiagCap

  override def createAggregationBuffer(): Buf = new Buf(-1, 0L, null)

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) return b
    val a = v.asInstanceOf[ArrayData]
    val d = a.numElements()
    if (b.d < 0) {
      if (d > cap) throw new IllegalArgumentException(
        s"gram_moments: $d dimensions exceeds the $cap-dimension cap" +
          (if (pairs) " of the pair mode (d(d-1)/2 pair sums per buffer)"
           else "; shard the moment pass per dimension range"))
      b.d = d
      b.acc = new Array[Long](accLength(d, pairs))
    } else if (d != b.d) {
      throw new IllegalArgumentException(
        s"gram_moments: a row of width $d after rows of width ${b.d}")
    }
    if (b.x == null) b.x = new Array[Long](d)
    val x = b.x
    var i = 0
    while (i < d) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"gram_moments: null element at index $i of a width-$d row")
      x(i) = a.getLong(i)
      i += 1
    }
    val acc = b.acc
    var k = 2 * d
    i = 0
    while (i < d) {
      val xi = x(i)
      acc(i) = Math.addExact(acc(i), xi)
      acc(d + i) = Math.addExact(acc(d + i), Math.multiplyExact(xi, xi))
      if (pairs) {
        var j = i + 1
        while (j < d) {
          acc(k) = Math.addExact(acc(k), Math.multiplyExact(xi, x(j)))
          k += 1
          j += 1
        }
      }
      i += 1
    }
    b.n = Math.addExact(b.n, 1L)
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    if (o.d < 0) return b
    if (b.d < 0) return o
    if (o.d != b.d) throw new IllegalArgumentException(
      s"gram_moments: partitions of widths ${b.d} and ${o.d}")
    var i = 0
    while (i < b.acc.length) {
      b.acc(i) = Math.addExact(b.acc(i), o.acc(i))
      i += 1
    }
    b.n = Math.addExact(b.n, o.n)
    b
  }

  override def eval(b: Buf): Any = {
    if (b.d < 0) return null
    val d = b.d
    def part(from: Int, until: Int) =
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(b.acc, from, until))
    InternalRow(b.n, part(0, d), part(d, 2 * d),
      if (pairs) part(2 * d, b.acc.length) else null)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val len = if (b.d < 0) 0 else b.acc.length
    val bb = ByteBuffer.allocate(4 + 8 + 8 * len)
    bb.putInt(b.d).putLong(b.n)
    var i = 0
    while (i < len) { bb.putLong(b.acc(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt()
    val n = bb.getLong()
    if (d < 0) return new Buf(-1, n, null)
    val acc = new Array[Long](accLength(d, pairs))
    bb.asLongBuffer().get(acc)
    new Buf(d, n, acc)
  }

  override def withNewMutableAggBufferOffset(o: Int): GramMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): GramMoments =
    copy(child = newChild)
  override def prettyName: String = "gram_moments"
}

object GramMoments {

  /** Width cap without pairs: the caller collects d-element arrays. */
  val DiagCap = 65536

  /** Width cap with pairs, the dense-covariance cap of
    * `MultivariateGaussian.fit`: the buffer holds 2d + d(d−1)/2 longs
    * (1 MB at 512 dims). */
  val PairCap = 512

  /** Aggregation buffer: `d` = −1 until the first non-null row; `acc`
    * = sx ++ qx ++ (pairs) sxy; `x` is per-row scratch, allocated by
    * the first update. */
  final class Buf(var d: Int, var n: Long, var acc: Array[Long]) {
    var x: Array[Long] = _
  }

  private def accLength(d: Int, pairs: Boolean): Int =
    2 * d + (if (pairs) d * (d - 1) / 2 else 0)
}
