package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared input contract of the fused vector kernels: what each
  * returns for a null, short, mismatched-width or out-of-range input.
  * Malformed cosine input is null — never NaN, which sorts above every
  * real value under desc and would corrupt top-k results. The per-kernel
  * table runs every case once under whole-stage codegen and once
  * interpreted, so a kernel whose generated code drops a null result
  * fails here. */
class CosineNullSpec extends SparkSpec {

  private def sim(a: Seq[Double], b: Seq[Double]): Option[Double] = {
    val spark2 = spark; import spark2.implicits._
    val df = Seq((a, b)).toDF("a", "b")
      .select(GraftFunctions.cosine_similarity(col("a"), col("b")).as("s"))
    val r = df.collect()(0)
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("normal vectors produce a similarity") {
    assert(sim(Seq(1.0, 0.0), Seq(1.0, 0.0)).contains(1.0))
  }

  test("zero-norm input yields null, not NaN") {
    assert(sim(Seq(0.0, 0.0), Seq(1.0, 2.0)).isEmpty)
  }

  test("empty arrays yield null") {
    assert(sim(Seq.empty, Seq.empty).isEmpty)
  }

  test("mismatched dimensions yield null instead of prefix truncation") {
    assert(sim(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)).isEmpty)
  }

  test("null never outranks real similarities in a top-k sort") {
    val spark2 = spark; import spark2.implicits._
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)), (3L, Seq(0.5, 0.5)))
      .toDF("id", "v")
      .select(col("id"),
        GraftFunctions.cosine_similarity(col("v"), array(lit(1.0), lit(0.0))).as("s"))
      .orderBy(col("s").desc)
    assert(df.collect().head.getLong(0) == 1L) // the zero vector sorts last
  }

  // ---- the per-kernel contract table

  // PQ: M = 2 subspaces of dsub = 2 dims, K = 2 codewords each
  private val cb = Array(
    Array(Array(0.0, 0.0), Array(1.0, 1.0)),
    Array(Array(0.0, 0.0), Array(2.0, 2.0)))
  private val cbNorm = Array(Array(0L, 2L), Array(0L, 8L))
  // IVF residual centroids, width M·dsub = 4
  private val resCents = Array(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0))
  // coarse centroids, width 2; centroid 2 repeats centroid 0 (a tie)
  private val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
  private val dotCents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(2.0, 2.0))
  private val NaN = Double.NaN

  /** One documented case: `kernel` over the input columns v, w
    * (array<double>) and c (int) of one row must give `expected`
    * (null for SQL NULL; LUT entries as (m, k, dot, cn) tuples). */
  private case class Case(kernel: String, input: String,
                          f: (Column, Column, Column) => Column,
                          v: Seq[Double], w: Seq[Double], c: Integer,
                          expected: Any)

  private def encode(v: Column, w: Column, c: Column) = GraftFunctions.pq_encode(v, cb)
  private def lut(v: Column, w: Column, c: Column) = GraftFunctions.pq_lut(v, cb, cbNorm)
  private def lutNoNorm(v: Column, w: Column, c: Column) = GraftFunctions.pq_lut(v, cb, null)
  private def residual(v: Column, w: Column, c: Column) =
    GraftFunctions.pq_encode_residual(v, c, resCents, cb)
  private def nearest(v: Column, w: Column, c: Column) =
    GraftFunctions.nearest_centroid(v, cents)
  private def ranked(v: Column, w: Column, c: Column) =
    GraftFunctions.ranked_centroids(v, cents)
  private def dots(v: Column, w: Column, c: Column) =
    GraftFunctions.centroid_dots(v, dotCents)
  private def cosine(v: Column, w: Column, c: Column) =
    GraftFunctions.cosine_similarity(v, w)

  private val cases = Seq(
    Case("pq_encode", "normal", encode, Seq(1, 1, 2, 2), null, null, Seq(1, 1)),
    Case("pq_encode", "tie", encode, Seq(0.5, 0.5, 1, 1), null, null, Seq(0, 0)),
    Case("pq_encode", "null", encode, null, null, null, null),
    Case("pq_encode", "short", encode, Seq(1, 1, 2), null, null, null),
    Case("pq_encode", "wider", encode, Seq(1, 1, 2, 2, 9), null, null, Seq(1, 1)),
    Case("pq_lut", "normal", lut, Seq(1, 1, 2, 2), null, null,
      Seq((0, 0, 0.0, 0L), (0, 1, 2.0, 2L), (1, 0, 0.0, 0L), (1, 1, 8.0, 8L))),
    Case("pq_lut", "no norms", lutNoNorm, Seq(1, 1, 2, 2), null, null,
      Seq((0, 0, 0.0, 0L), (0, 1, 2.0, 0L), (1, 0, 0.0, 0L), (1, 1, 8.0, 0L))),
    Case("pq_lut", "null", lut, null, null, null, null),
    Case("pq_lut", "short", lut, Seq(1, 1, 2), null, null, null),
    Case("pq_lut", "wider", lut, Seq(1, 1, 2, 2, 9), null, null,
      Seq((0, 0, 0.0, 0L), (0, 1, 2.0, 2L), (1, 0, 0.0, 0L), (1, 1, 8.0, 8L))),
    Case("pq_encode_residual", "normal", residual, Seq(2, 2, 3, 3), null, 1, Seq(1, 1)),
    Case("pq_encode_residual", "tie", residual, Seq(1.5, 1.5, 2, 2), null, 1, Seq(0, 0)),
    Case("pq_encode_residual", "null vec", residual, null, null, 1, null),
    Case("pq_encode_residual", "null cluster", residual, Seq(2, 2, 3, 3), null, null, null),
    Case("pq_encode_residual", "short", residual, Seq(2, 2, 3), null, 1, null),
    Case("pq_encode_residual", "wider", residual, Seq(2, 2, 3, 3, 9), null, 1, null),
    Case("pq_encode_residual", "cluster -1", residual, Seq(2, 2, 3, 3), null, -1, null),
    Case("pq_encode_residual", "cluster K", residual, Seq(2, 2, 3, 3), null, 2, null),
    Case("nearest_centroid", "normal", nearest, Seq(0.1, 1), null, null, 1),
    Case("nearest_centroid", "tie", nearest, Seq(1, 0.1), null, null, 0),
    Case("nearest_centroid", "null", nearest, null, null, null, null),
    Case("nearest_centroid", "zero norm", nearest, Seq(0, 0), null, null, 0),
    Case("nearest_centroid", "empty", nearest, Seq(), null, null, 0),
    Case("nearest_centroid", "wider", nearest, Seq(0.1, 1, 0), null, null, 0),
    Case("ranked_centroids", "normal", ranked, Seq(0.1, 1), null, null, Seq(1, 0, 2)),
    Case("ranked_centroids", "tie", ranked, Seq(1, 0.1), null, null, Seq(0, 2, 1)),
    Case("ranked_centroids", "null", ranked, null, null, null, null),
    Case("ranked_centroids", "zero norm", ranked, Seq(0, 0), null, null, Seq(0, 1, 2)),
    Case("ranked_centroids", "wider", ranked, Seq(0.1, 1, 0), null, null, Seq(0, 1, 2)),
    Case("centroid_dots", "normal", dots, Seq(1, 2), null, null, Seq(1.0, 2.0, 6.0)),
    Case("centroid_dots", "null", dots, null, null, null, null),
    Case("centroid_dots", "empty", dots, Seq(), null, null, Seq(NaN, NaN, NaN)),
    Case("centroid_dots", "wider", dots, Seq(1, 2, 3), null, null, Seq(NaN, NaN, NaN)),
    Case("cosine_similarity", "normal", cosine, Seq(3, 4), Seq(4, 3), null, 0.96),
    Case("cosine_similarity", "null left", cosine, null, Seq(1, 0), null, null),
    Case("cosine_similarity", "null right", cosine, Seq(1, 0), null, null, null),
    Case("cosine_similarity", "zero norm", cosine, Seq(0, 0), Seq(1, 2), null, null),
    Case("cosine_similarity", "empty", cosine, Seq(), Seq(), null, null),
    Case("cosine_similarity", "mismatched", cosine, Seq(1, 2, 3), Seq(1, 2), null, null))

  /** A result as a string: arrays and structs element by element, so
    * NaN compares equal to NaN. */
  private def render(x: Any): String = x match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(render).mkString("(", ",", ")")
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  private val schema = StructType(Seq(
    StructField("v", ArrayType(DoubleType)), StructField("w", ArrayType(DoubleType)),
    StructField("c", IntegerType)))

  /** Runs `body` with the session confs `kv` set, then restores them. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // the optimizer would otherwise evaluate a projection over a local
  // relation itself, interpreted, whatever the codegen settings
  private val keepProject = "spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  for ((mode, codegen) <- Seq("whole-stage codegen" -> true, "interpreted" -> false))
    test(s"kernel contract table holds under $mode") {
      withConf(keepProject, "spark.sql.codegen.wholeStage" -> codegen.toString,
          "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) {
        val failures = cases.flatMap { k =>
          val df = spark.createDataFrame(
              java.util.List.of(Row(k.v, k.w, k.c)), schema)
            .select(k.f(col("v"), col("w"), col("c")))
          val got = render(df.head().get(0))
          val fused = df.queryExecution.executedPlan
            .find(_.isInstanceOf[WholeStageCodegenExec]).isDefined
          if (fused != codegen) Some(s"${k.kernel} ${k.input}: whole-stage codegen $fused")
          else if (got != render(k.expected))
            Some(s"${k.kernel} ${k.input}: got $got, want ${render(k.expected)}")
          else None
        }
        assert(failures.isEmpty, failures.mkString("\n"))
      }
    }
}
