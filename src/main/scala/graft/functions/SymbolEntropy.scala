package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** symbol_entropy(symbols) → struct<h_micro: long, n_distinct: long> —
  * the per-document Shannon-entropy gate (q299) as ONE fused pass over
  * the already-split symbol array.
  *
  * Replaces the relational form `explode(sym) → groupBy(doc, sym) →
  * count → window-sum n → Σ round(1e6·(c/n)·ln(n/c))`: correct, but it
  * explodes the corpus to ONE ROW PER CHARACTER and pays two full
  * explode+shuffle passes (chars + words) for a value that is a
  * per-document key-local aggregate. Fused, the histogram lives in a
  * per-row hash map (bounded by the alphabet / per-doc vocabulary) and
  * the corpus is scanned once with zero shuffles.
  *
  * Numeric contract — replicates the column pipeline op for op, so the
  * micro-nat integers are bit-identical to the composition it replaces
  * (verified against the composed form in TextSpec):
  *  - c/n and n/c are double divisions of the long counts;
  *  - the contribution is `(1e6 · (c/n)) · log(n/c)` in that
  *    multiplication order, log = StrictMath.log (Spark's Log);
  *  - round = Spark's Round(HALF_UP) on double: BigDecimal.valueOf(v)
  *    .setScale(0, HALF_UP).toDouble, then cast double→long;
  *  - the per-doc sum is an integer sum — order-independent, so the
  *    hash-map iteration order cannot matter.
  * h_micro of an EMPTY symbol array is null in the relational form
  * (the doc never reaches the aggregate); q299 feeds non-empty texts
  * only, and the fused form returns (0, 0) for it — the join-key
  * semantics differ only for rows that cannot occur there.
  */
case class SymbolEntropy(child: Expression) extends UnaryKernel {

  // Pure function, marked non-deterministic ON PURPOSE (optimization
  // guide §4.4): q299 filters on fields of this struct, and predicate
  // pushdown inlined the kernel into a scan-level Filter — re-running
  // the histogram pass serially below the spread repartition and again
  // in the post-spread Project. Non-deterministic blocks the duplicating
  // pushdown; evaluation is value-identical either way.
  override lazy val deterministic: Boolean = false

  override def inputTypes = Seq(Kernel.Strings)
  override def dataType: DataType = StructType(Seq(
    StructField("h_micro", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))

  def compute(a: ArrayData): Any = {
    val n = a.numElements()
    val counts = new java.util.HashMap[UTF8String, java.lang.Long](
      math.min(math.max(n * 2, 16), 1 << 16))
    var i = 0
    while (i < n) {
      // a null element is one more group, like groupBy would make it
      val s = if (a.isNullAt(i)) null else a.getUTF8String(i)
      val prev = counts.get(s)
      counts.put(s, if (prev == null) 1L else prev.longValue() + 1L)
      i += 1
    }
    val nd = n.toDouble
    var h = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      val v = (1e6 * (c.toDouble / nd)) * StrictMath.log(nd / c.toDouble)
      val r =
        if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
        else java.math.BigDecimal.valueOf(v)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      h += r.toLong
      ()
    }
    InternalRow(h, counts.size().toLong)
  }

  override protected def withNewChildInternal(newChild: Expression): SymbolEntropy =
    copy(child = newChild)
  override def prettyName: String = "symbol_entropy"
}
