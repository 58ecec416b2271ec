package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar functions the reference ships that Spark lacks as built-ins
  * (SURVEY §2.5). Composed from Catalyst built-ins where possible so
  * they stay codegen'd; `hash_code` is a native Expression, and the
  * vector and text kernels are fused Scala loops on one shared wiring
  * ([[Kernel]]).
  *
  * Reference registry: `flink-table-planner-blink/.../functions/sql/
  * FlinkSqlOperatorTable.java` — SPLIT_INDEX:365, IS_DECIMAL:276,
  * IS_DIGIT:284, IS_ALPHA:292, HASH_CODE:393; runtime semantics in
  * `flink-table-runtime-blink/.../functions/SqlFunctionUtils.java`.
  */
object GraftFunctions {

  /** SPLIT_INDEX(str, sep, idx) — idx is 0-based (Flink semantics);
    * null when out of range. */
  def split_index(s: Column, sep: String, idx: Int): Column =
    try_element_at(split(s, java.util.regex.Pattern.quote(sep)), lit(idx + 1))

  /** IS_DECIMAL(str) — parseable as a number. */
  def is_decimal(s: Column): Column =
    s.isNotNull && s.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$")

  /** IS_DIGIT(str) — all characters decimal digits, non-empty. */
  def is_digit(s: Column): Column = s.isNotNull && s.rlike("^[0-9]+$")

  /** IS_ALPHA(str) — all characters letters, non-empty. */
  def is_alpha(s: Column): Column = s.isNotNull && s.rlike("^[A-Za-z]+$")

  /** cosine_similarity(a, b) — fused kernel, one primitive loop (hot
    * path for kNN/ANN/near-dup; bit-identical to the HOF composition). */
  def cosine_similarity(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(CosineSimilarity(
      org.apache.spark.sql.GraftSqlBridge.expression(a),
      org.apache.spark.sql.GraftSqlBridge.expression(b)))

  /** nearest_centroid(vec) — fused argmax-cosine against a fixed
    * centroid matrix (ties → lowest index); the IVF assign kernel. */
  def nearest_centroid(v: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(NearestCentroid(
      org.apache.spark.sql.GraftSqlBridge.expression(v), cents))

  /** ranked_centroids(vec) — all centroid indices by (cosine desc,
    * index asc); callers slice the first nprobe. */
  def ranked_centroids(v: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(RankedCentroids(
      org.apache.spark.sql.GraftSqlBridge.expression(v), cents))

  /** pq_encode(vec) — fused PQ encoding against a fixed codebook
    * (M×K×dsub), the IVF+PQ hot path as one fused primitive loop
    * (bit-identical to the aggregate(zip_with) composition). */
  def pq_encode(v: Column, codebook: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(PqEncode(
      org.apache.spark.sql.GraftSqlBridge.expression(v), codebook))

  /** pq_lut(pe) — per-(subspace, codeword) raw dots + codeword norm
    * terms as one fused loop (the probe-side ADC LUT; pass
    * cbNorm = null when the caller has no norm term). */
  def pq_lut(v: Column, codebook: Array[Array[Array[Double]]],
             cbNorm: Array[Array[Long]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(PqLut(
      org.apache.spark.sql.GraftSqlBridge.expression(v), codebook, cbNorm))

  /** centroid_dots(pe) — raw pe·centroid dot per coarse centroid. */
  def centroid_dots(v: Column, cents: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(CentroidDots(
      org.apache.spark.sql.GraftSqlBridge.expression(v), cents))

  /** cross_norm_at(cluster, m, k) — residual-model integer norm term
    * lookup against a referenced table (replaces K×M×K literals). */
  def cross_norm_at(cluster: Column, m: Column, k: Column,
                    table: Array[Array[Array[Long]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(CrossNormAt(
      org.apache.spark.sql.GraftSqlBridge.expression(cluster),
      org.apache.spark.sql.GraftSqlBridge.expression(m),
      org.apache.spark.sql.GraftSqlBridge.expression(k), table))

  /** pq_encode_residual(vec, cluster) — fused PQ encode of
    * vec − centroid(cluster) (the IVFADC corpus hot path). */
  def pq_encode_residual(v: Column, cluster: Column,
                         cents: Array[Array[Double]],
                         codebook: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(PqEncodeResidual(
      org.apache.spark.sql.GraftSqlBridge.expression(v),
      org.apache.spark.sql.GraftSqlBridge.expression(cluster),
      cents, codebook))

  /** symbol_entropy(arr) — per-row Shannon-entropy micro-nat sum +
    * distinct count over a symbol array, one fused pass (q299's gate
    * without the per-character corpus explode). */
  def symbol_entropy(a: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(SymbolEntropy(
      org.apache.spark.sql.GraftSqlBridge.expression(a)))

  /** bpe_apply_merges(toks) — ranked BPE merge list applied with the
    * exact index-scan greedy fusion, one fused loop (replaces nested
    * interpreted aggregate() folds in the q286/q290 tokenizer family). */
  def bpe_apply_merges(toks: Column, merges: Array[(String, String)]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(BpeApplyMerges(
      org.apache.spark.sql.GraftSqlBridge.expression(toks), merges))

  /** gram_moments(xs, pairs) — aggregate: exact BIGINT n, Σx_i, Σx_i²
    * and, with `pairs`, Σx_i·x_j (i < j) of equal-width array<bigint>
    * rows, one long[] buffer per partition (see [[GramMoments]]). */
  def gram_moments(xs: Column, pairs: Boolean): Column =
    org.apache.spark.sql.GraftSqlBridge.column(GramMoments(
      org.apache.spark.sql.GraftSqlBridge.expression(xs), pairs)
      .toAggregateExpression())

  /** HASH_CODE(str) — Java String.hashCode (native codegen expression). */
  def hash_code(s: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      HashCode(org.apache.spark.sql.GraftSqlBridge.expression(s)))

  /** Distributed Bloom-filter build: folds a LongType key column
    * (use xxhash64 of the value) into one serialized sketch — the
    * aggregate Spark's own InjectRuntimeFilter plants
    * (`BloomFilterAggregate`), so the build is map-side partial +
    * merge, never a driver-side item loop. */
  def bloom_filter_agg(key: Column, estItems: Long): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.GraftSqlBridge.expression(key), estItems)
        .toAggregateExpression())

  /** Codegen'd membership probe against a built sketch (no-FN,
    * bounded-FP): `BloomFilterMightContain(literal sketch, key)`.
    * Key hashing must match the build side (xxhash64). */
  def bloom_might_contain(sketch: Array[Byte], key: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          sketch, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftSqlBridge.expression(key)))

  /** Numeric TRUNCATE(x, d) toward zero (Flink TRUNCATE). */
  def truncate(x: Column, d: Int): Column = {
    val p = math.pow(10, d)
    when(x >= 0, floor(x * p) / p).otherwise(-floor(-x * p) / p)
  }

  /** Flink DATE_FORMAT(ts, javaFormat) — Spark date_format is already
    * Java SimpleDateFormat-style; direct alias. */
  def date_format_j(ts: Column, fmt: String): Column = date_format(ts, fmt)

  /** Register SQL names for the custom functions on a session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "hash_code", exprs => HashCode(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => CosineSimilarity(exprs.head, exprs(1)), "built-in")
    spark.udf.register("split_index",
      (s: String, sep: String, i: Int) =>
        if (s == null) null else {
          val parts = s.split(java.util.regex.Pattern.quote(sep), -1)
          if (i >= 0 && i < parts.length) parts(i) else null
        })
    spark.udf.register("is_decimal",
      (s: String) => s != null && s.matches("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$"))
    spark.udf.register("is_digit", (s: String) => s != null && s.matches("^[0-9]+$"))
    spark.udf.register("is_alpha", (s: String) => s != null && s.matches("^[A-Za-z]+$"))
  }
}
