package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** bpe_apply_merges(toks) — apply a RANKED list of BPE merges to a
  * token array with the exact index-scan greedy fusion, fused into one
  * loop (r13).
  *
  * Replaces `merges.foldLeft(df)((d, m) => d.withColumn("toks",
  * bpeFuse(...)))` — R nested `aggregate(...)` higher-order functions,
  * each interpreted (CodegenFallback) and each allocating a struct +
  * array per processed index, evaluated once per distinct corpus word
  * (q290's encoder) or per round over the vocabulary (q286/q290's
  * trainer).
  *
  * Semantics per merge (a, b), identical to the fold it replaces:
  * process index i only when the scan reaches it; on
  * `toks(i)==a && toks(i+1)==b` emit the merged token and consume
  * BOTH; never rescan the merged output within the same merge; merges
  * apply strictly in rank order, each over the previous round's full
  * output. Null elements never match and pass through; a null array
  * is null. Values are strings — no numeric contract to replicate. */
case class BpeApplyMerges(child: Expression, merges: Array[(String, String)])
    extends UnaryKernel {

  override def inputTypes = Seq(Kernel.Strings)
  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  @transient private lazy val table: Array[(UTF8String, UTF8String, UTF8String)] =
    merges.map { case (a, b) =>
      (UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + b)) }

  def compute(v: ArrayData): Any = {
    var cur = new Array[UTF8String](v.numElements())
    var i = 0
    while (i < cur.length) {
      cur(i) = if (v.isNullAt(i)) null else v.getUTF8String(i)
      i += 1
    }
    var r = 0
    while (r < table.length) {
      val (a, b, ab) = table(r)
      val out = new Array[UTF8String](cur.length)
      var n = 0
      var j = 0
      while (j < cur.length) {
        if (j + 1 < cur.length && cur(j) != null && cur(j + 1) != null &&
            cur(j).equals(a) && cur(j + 1).equals(b)) {
          out(n) = ab; n += 1; j += 2
        } else {
          out(n) = cur(j); n += 1; j += 1
        }
      }
      cur = java.util.Arrays.copyOf(out, n)
      r += 1
    }
    new GenericArrayData(cur.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerges =
    copy(child = newChild)
  override def prettyName: String = "bpe_apply_merges"
}
