package graft.ml

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.VectorQueries

/** The reference's ML pipeline API re-expressed over DataFrames
  * (flink-ml-api/.../api/core/: `PipelineStage.java`,
  * `Transformer.java:33`, `Estimator.java:37`, `Model.java:38`,
  * `Pipeline.java:60`) — 1.10's flink-ml ships the pipeline
  * INFRASTRUCTURE (no algorithm zoo), so this surface plus the
  * Gaussian/quantizer stages below is the complete user-facing
  * capability.
  *
  * Semantics mirrored exactly from `Pipeline.java`:
  *  - `appendStage` tracks the LAST estimator index; `needFit` is
  *    true iff one exists (`:122`);
  *  - `fit` walks the stages, fitting estimators and REPLACING them
  *    with their models, transforming the training input through each
  *    fitted/given stage up to the last estimator (`:169–189`), and
  *    returns a NEW all-transformer pipeline;
  *  - `transform` refuses when unfitted estimators remain (`:202`);
  *  - `toJson`/`loadJson` persist stages as (class name, params)
  *    pairs (`:212–240`) — stages restore via a no-arg constructor +
  *    `withParams`, so a fitted pipeline survives a round trip.
  *
  * Spark-first: a stage is a DataFrame→DataFrame function, so every
  * stage composes into ONE lazy Catalyst plan — a fitted pipeline adds
  * projections/filters to the logical plan and the optimizer fuses
  * them; nothing materializes between stages.
  */
object Pipeline {

  /** Reference `PipelineStage`: persistable via (class, params). */
  trait PipelineStage extends Serializable {
    /** Flat string params — the persisted state. */
    def params: Map[String, String]
    /** Rebuild this stage's state from persisted params. */
    def withParams(p: Map[String, String]): PipelineStage
  }

  /** Reference `Transformer`: a DataFrame→DataFrame stage. */
  trait Transformer extends PipelineStage {
    def transform(df: DataFrame): DataFrame
  }

  /** Reference `Model`: a Transformer produced by an Estimator. */
  trait Model extends Transformer

  /** Reference `Estimator`: fits a Model on data. */
  trait Estimator extends PipelineStage {
    def fit(df: DataFrame): Model
  }

  // ---- minimal JSON (strings only; no external mapper) -------------

  private def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    }

  private def unesc(s: String): String = {
    val sb = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case x => sb.append(x)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def mapToJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      .mkString("{", ",", "}")

  // POSSESSIVE runs ([^…]++ not [^…]+ or [^…]) — the per-character
  // form recurses one Java-regex frame per char and StackOverflows on
  // long values (an IvfPq codebook param is ~20 KB of digits), and a
  // merely-greedy run inside (x+|y)* backtracks exponentially on
  // malformed input (an unterminated value would HANG, not error)
  private val PairRe = """"((?:[^"\\]++|\\.)*+)":"((?:[^"\\]++|\\.)*+)"""".r

  private def jsonToMap(s: String): Map[String, String] =
    PairRe.findAllMatchIn(s)
      .map(m => unesc(m.group(1)) -> unesc(m.group(2))).toMap

  /** Explicit registry of restorable stage classes (the
    * FlinkDdl.functionClasses pattern): pipeline JSON can only name
    * stages shipped here. No `Class.forName` on the untrusted name —
    * reflection on an attacker-chosen string runs that class's static
    * initializer even with `initialize = false` deferred, so the name
    * never reaches the classloader at all; it is a plain map lookup. */
  private[ml] val stageRegistry: Map[String, () => PipelineStage] = Map(
    classOf[Int8Quantizer].getName            -> (() => new Int8Quantizer()),
    classOf[GaussianOutlierEstimator].getName -> (() => new GaussianOutlierEstimator()),
    classOf[GaussianOutlierModel].getName     -> (() => new GaussianOutlierModel()),
    classOf[OutlierFilter].getName            -> (() => new OutlierFilter()),
    classOf[IvfClusterEstimator].getName      -> (() => new IvfClusterEstimator()),
    classOf[IvfClusterModel].getName          -> (() => new IvfClusterModel()),
    classOf[IvfPqEstimator].getName           -> (() => new IvfPqEstimator()),
    classOf[IvfPqModel].getName               -> (() => new IvfPqModel()),
    classOf[OpqIvfPqEstimator].getName        -> (() => new OpqIvfPqEstimator()),
    classOf[OpqIvfPqModel].getName            -> (() => new OpqIvfPqModel()),
    classOf[PcaEstimator].getName             -> (() => new PcaEstimator()),
    classOf[PcaModel].getName                 -> (() => new PcaModel()))
}

/** The string form of a numeric param; `decode` inverts `encode`
  * (Double.toString round-trips exactly). */
private[ml] final case class ParamCodec[A](encode: A => String, decode: String => A) {
  /** Arrays of A, joined by `sep`: one more level of nesting. */
  def nest(sep: Char)(implicit ct: ClassTag[A]): ParamCodec[Array[A]] =
    ParamCodec(_.map(encode).mkString(sep.toString), _.split(sep).map(decode))
}

private[ml] object ParamCodec {
  /** A vector's values joined by ","; matrix rows by ";"; codebook
    * subspaces by "|". */
  val vector = ParamCodec[Array[Double]](_.mkString(","), _.split(',').map(_.toDouble))
  val matrix: ParamCodec[Array[Array[Double]]] = vector.nest(';')
  val codebook: ParamCodec[Array[Array[Array[Double]]]] = matrix.nest('|')
}

/** Reference `Pipeline`: Estimator + Transformer + Model in one. */
final class Pipeline(initial: Seq[Pipeline.PipelineStage] = Nil)
    extends Pipeline.Estimator with Pipeline.Model {
  import Pipeline._

  private var stages = Vector.empty[PipelineStage]
  private var lastEstimatorIndex = -1
  initial.foreach(appendStage)

  def this(pipelineJson: String) = { this(Nil); loadJson(pipelineJson) }

  def appendStage(stage: PipelineStage): Pipeline = {
    val stageNeedsFit = stage match {
      case p: Pipeline     => p.needFit
      case _: Estimator    => true
      case _: Transformer  => false
      case _ => throw new IllegalArgumentException(
        s"stage must be an Estimator or Transformer: ${stage.getClass}")
    }
    if (stageNeedsFit) lastEstimatorIndex = stages.size
    stages = stages :+ stage
    this
  }

  def getStages: Seq[PipelineStage] = stages

  /** True iff an unfitted Estimator remains (Pipeline.java:122). */
  def needFit: Boolean = lastEstimatorIndex >= 0

  /** Fit every estimator in order, threading the training input
    * through each stage up to the last estimator; returns a new
    * all-transformer pipeline (Pipeline.java:169). */
  def fit(df: DataFrame): Pipeline = {
    var input = df
    val fitted = stages.zipWithIndex.map { case (s, i) =>
      if (i <= lastEstimatorIndex) {
        val t: Transformer = s match {
          case p: Pipeline if p.needFit => p.fit(input)
          case e: Estimator             => e.fit(input)
          case tr: Transformer          => tr
        }
        input = t.transform(input)
        t
      } else s
    }
    new Pipeline(fitted)
  }

  /** Apply all stages in order (Pipeline.java:201); refuses when the
    * pipeline still contains an unfitted Estimator. */
  def transform(df: DataFrame): DataFrame = {
    if (needFit)
      throw new IllegalStateException(
        "Pipeline contains Estimator, need to fit first.")
    stages.foldLeft(df)((d, s) => s.asInstanceOf[Transformer].transform(d))
  }

  /** Persist as a JSON array of {class, params} (Pipeline.java:212). */
  def toJson: String =
    stages.map {
      case p: Pipeline =>
        s"""{"class":"${classOf[Pipeline].getName}","pipeline":${p.toJson}}"""
      case s =>
        s"""{"class":"${s.getClass.getName}","params":${mapToJson(s.params)}}"""
    }.mkString("[", ",", "]")

  /** Restore stages via no-arg constructor + withParams
    * (Pipeline.java:232). Nested pipelines are not supported here —
    * fail loudly rather than half-restore. */
  def loadJson(json: String): Unit = {
    stages = Vector.empty; lastEstimatorIndex = -1
    if (json.contains(""""pipeline":"""))
      throw new IllegalArgumentException(
        "nested Pipeline persistence is not supported; flatten the stages")
    // possessive runs — see PairRe: per-char recursion StackOverflows
    // on multi-KB params blobs, plain-greedy runs ReDoS on malformed
    val StageRe = """\{"class":"([^"]+)","params":(\{(?:[^{}]++|\\.)*+\})\}""".r
    StageRe.findAllMatchIn(json).foreach { m =>
      // whitelist lookup, not reflection: a class name taken from the
      // (possibly untrusted) JSON never reaches Class.forName — even a
      // non-initializing forName would let the JSON pick which static
      // initializers eventually run, and `isAssignableFrom` would still
      // admit ANY PipelineStage subclass on the classpath. Only the
      // stages shipped in `stageRegistry` restore.
      val make = stageRegistry.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"pipeline JSON stage class ${m.group(1)} is not a " +
            "registered PipelineStage — refusing to restore"))
      appendStage(make().withParams(jsonToMap(m.group(2))))
    }
    // fail loudly rather than half-restore: every "class" entry in the
    // input must have parsed into a stage (a malformed params blob —
    // e.g. an unescaped brace — would otherwise VANISH silently)
    val declared = """"class":""".r.findAllMatchIn(json).size
    if (stages.size != declared)
      throw new IllegalArgumentException(
        s"pipeline JSON declares $declared stage(s) but only " +
          s"${stages.size} parsed — malformed stage entry")
  }

  // a Pipeline's own persisted state is its stages, not flat params
  def params: Map[String, String] = Map.empty
  def withParams(p: Map[String, String]): PipelineStage = this
}

// ---- concrete stages over the existing engine machinery -------------

/** Transformer: q197's int8 symmetric quantization — appends `qv`
  * (int8 codes as longs) and `nrm` (integer norm). A PURE projection
  * (no join-back), delegating to the engine's single quantizer
  * definition so stage and oracle-bound queries can never drift. */
final class Int8Quantizer(embCol: String) extends Pipeline.Transformer {
  def this() = this("embedding")
  def transform(df: DataFrame): DataFrame =
    VectorQueries.withI8Codes(df, embCol)
  def params: Map[String, String] = Map("embCol" -> embCol)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new Int8Quantizer(p("embCol"))
}

/** Estimator: fits q261's diagonal-covariance Gaussian on the
  * `embedding` column; the model appends the fixed-point Mahalanobis²
  * `score` and boolean `outlier` (score > gate, the training corpus's
  * own P90 self-score — q263's gate rule). */
final class GaussianOutlierEstimator extends Pipeline.Estimator {
  def fit(df: DataFrame): Pipeline.Model = {
    val codes = VectorQueries.gridCodes(df)
    val m = VectorQueries.gaussianMoments(codes)
    // clamp before toInt: at n > ~2.1e10 (inside the fixed-point
    // headroom) n/10 exceeds Int.MaxValue and would wrap negative
    val k = math.min(math.max(m.n / 10, 1L), Int.MaxValue.toLong).toInt
    val gate = codes
      .select(col("vec_id"), VectorQueries.mahalanobis(col("xs"), m).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(k)
      .agg(min(col("s"))).head().getLong(0)
    new GaussianOutlierModel(m.mu, m.vr, gate)
  }
  def params: Map[String, String] = Map.empty
  def withParams(p: Map[String, String]): Pipeline.PipelineStage = this
}

/** Fitted Gaussian gate: a scan-speed projection (the moments ride the
  * closure as literals — q263's streaming-safe shape). Persists its
  * fitted state, so a saved pipeline scores identically after reload. */
final class GaussianOutlierModel(mu: Array[Long], vr: Array[Long],
                                 gate: Long) extends Pipeline.Model {
  def this() = this(Array(0L), Array(1L), 0L)
  def transform(df: DataFrame): DataFrame = {
    val m = VectorQueries.Moments(0L, mu, vr, Array.empty)
    val xs = org.apache.spark.sql.functions.transform(
      col("embedding"), VectorQueries.gridCode _)
    df.withColumn("score", VectorQueries.mahalanobis(xs, m))
      .withColumn("outlier", col("score") > lit(gate))
  }
  def params: Map[String, String] = Map(
    "mu" -> mu.mkString(","), "vr" -> vr.mkString(","),
    "gate" -> gate.toString)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new GaussianOutlierModel(
      p("mu").split(',').map(_.toLong), p("vr").split(',').map(_.toLong),
      p("gate").toLong)
}

/** Transformer: keeps only non-outliers — the curation gate's tail
  * end; composes with the model into one fused Catalyst plan. */
final class OutlierFilter extends Pipeline.Transformer {
  def transform(df: DataFrame): DataFrame =
    df.filter(!col("outlier")).drop("score", "outlier")
  def params: Map[String, String] = Map.empty
  def withParams(p: Map[String, String]): Pipeline.PipelineStage = this
}

/** Estimator: k-means coarse quantizer over `embCol` (q146's IvfAnn
  * fit — Lloyd iterations with only centroids through the driver);
  * the model appends the `cluster` column via the zero-shuffle
  * `nearest_centroid` projection. Fitted centroids persist, so a
  * reloaded pipeline assigns identically. */
final class IvfClusterEstimator(embCol: String, k: Int, lloydIters: Int)
    extends Pipeline.Estimator {
  def this() = this("embedding", 8, 2)
  def fit(df: DataFrame): Pipeline.Model =
    new IvfClusterModel(embCol,
      graft.operators.IvfAnn.fit(df, embCol, k, lloydIters).centroids)
  def params: Map[String, String] = Map(
    "embCol" -> embCol, "k" -> k.toString, "lloydIters" -> lloydIters.toString)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new IvfClusterEstimator(p("embCol"), p("k").toInt, p("lloydIters").toInt)
}

/** Estimator: the composed IVF+PQ ANN index (IvfPq.fit — q146's
  * coarse k-means + q211's deterministic PQ codebook). The model's
  * transform IS the index build: (cid, cluster, m, code) rows at ~4
  * bytes of PQ payload per vector, ready to persist
  * partitionBy("cluster") so probes prune to nprobe lists. */
final class IvfPqEstimator(embCol: String, kCoarse: Int, lloydIters: Int,
                           numSub: Int, codesPerSub: Int)
    extends Pipeline.Estimator {
  def this() = this("embedding", 8, 2, 8, 16)
  def fit(df: DataFrame): Pipeline.Model =
    new IvfPqModel(embCol,
      graft.operators.IvfPq.fit(df, embCol, kCoarse, lloydIters,
        numSub, codesPerSub))
  def params: Map[String, String] = Map(
    "embCol" -> embCol, "kCoarse" -> kCoarse.toString,
    "lloydIters" -> lloydIters.toString, "numSub" -> numSub.toString,
    "codesPerSub" -> codesPerSub.toString)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new IvfPqEstimator(p("embCol"), p("kCoarse").toInt,
      p("lloydIters").toInt, p("numSub").toInt, p("codesPerSub").toInt)
}

/** Fitted IVF+PQ index: transform = index build; `search` runs the
  * pruned ADC scan against an indexed corpus. Centroids and codebook
  * persist as params (Double.toString round-trips exactly), so a
  * reloaded pipeline indexes and scores bit-identically. */
final class IvfPqModel(embCol: String, val model: graft.operators.IvfPq.Model)
    extends Pipeline.Model {
  def this() = this("embedding",
    graft.operators.IvfPq.Model(Array(Array(0.0)), Array(Array(Array(0.0)))))
  def transform(df: DataFrame): DataFrame =
    graft.operators.IvfPq.index(df, embCol, model)
  def search(indexed: DataFrame, probes: DataFrame, k: Int,
             nprobe: Int): DataFrame =
    graft.operators.IvfPq.search(indexed, probes, embCol, model, k, nprobe)
  def params: Map[String, String] = Map(
    "embCol" -> embCol,
    "centroids" -> ParamCodec.matrix.encode(model.centroids),
    "codebook" -> ParamCodec.codebook.encode(model.codebook))
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new IvfPqModel(p("embCol"), graft.operators.IvfPq.Model(
      ParamCodec.matrix.decode(p("centroids")),
      ParamCodec.codebook.decode(p("codebook"))))
}

/** Estimator: OPQ-rotated IVF+PQ — learns an orthogonal rotation
  * (Opq.fitRotation's OPQ-NP alternation; rotationIters=0 keeps the
  * deterministic signed-permutation init, the SQL-expressible setting
  * q278's oracle replicates), then fits the composed IVF+PQ index on
  * the ROTATED corpus. Rotation preserves dots and norms exactly, so
  * the whole downstream ADC machinery runs unchanged. */
final class OpqIvfPqEstimator(embCol: String, rotationIters: Int,
                              kCoarse: Int, lloydIters: Int,
                              numSub: Int, codesPerSub: Int)
    extends Pipeline.Estimator {
  def this() = this("embedding", 0, 8, 0, 8, 16)
  def fit(df: DataFrame): Pipeline.Model = {
    val d = df.select(size(col(embCol))).head().getInt(0)
    val init = graft.operators.Opq.signedPerm(d)
    val (r, _) = graft.operators.Opq.fitRotation(
      df, embCol, numSub, codesPerSub, rotationIters, init)
    val rotated = graft.operators.Opq.rotate(df, embCol, r, "__rot")
    val ivf = graft.operators.IvfPq.fit(rotated, "__rot", kCoarse,
      lloydIters, numSub, codesPerSub)
    new OpqIvfPqModel(embCol, r, ivf)
  }
  def params: Map[String, String] = Map(
    "embCol" -> embCol, "rotationIters" -> rotationIters.toString,
    "kCoarse" -> kCoarse.toString, "lloydIters" -> lloydIters.toString,
    "numSub" -> numSub.toString, "codesPerSub" -> codesPerSub.toString)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new OpqIvfPqEstimator(p("embCol"), p("rotationIters").toInt,
      p("kCoarse").toInt, p("lloydIters").toInt, p("numSub").toInt,
      p("codesPerSub").toInt)
}

/** Fitted OPQ index: transform = rotate + index build; `search`
  * rotates the probes with the SAME learned R, then runs the pruned
  * ADC scan. The rotation matrix persists as params (Double.toString
  * round-trips exactly), so a reloaded pipeline rotates, indexes, and
  * scores bit-identically. */
final class OpqIvfPqModel(embCol: String, val rotation: Array[Array[Double]],
                          val model: graft.operators.IvfPq.Model)
    extends Pipeline.Model {
  def this() = this("embedding", Array(Array(1.0)),
    graft.operators.IvfPq.Model(Array(Array(0.0)), Array(Array(Array(0.0)))))
  private def rotated(df: DataFrame): DataFrame =
    graft.operators.Opq.rotate(df, embCol, rotation, "__rot")
  def transform(df: DataFrame): DataFrame =
    graft.operators.IvfPq.index(rotated(df), "__rot", model)
  def search(indexed: DataFrame, probes: DataFrame, k: Int,
             nprobe: Int): DataFrame =
    graft.operators.IvfPq.search(indexed, rotated(probes), "__rot",
      model, k, nprobe)
  def params: Map[String, String] = Map(
    "embCol" -> embCol,
    "rotation" -> ParamCodec.matrix.encode(rotation),
    "centroids" -> ParamCodec.matrix.encode(model.centroids),
    "codebook" -> ParamCodec.codebook.encode(model.codebook))
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new OpqIvfPqModel(p("embCol"),
      ParamCodec.matrix.decode(p("rotation")),
      graft.operators.IvfPq.Model(
        ParamCodec.matrix.decode(p("centroids")),
        ParamCodec.codebook.decode(p("codebook"))))
}

/** Fitted coarse quantizer: argmax-cosine cluster assignment through
  * the fused `nearest_centroid` kernel (a pure projection; the kernel
  * holds the centroid matrix). */
final class IvfClusterModel(embCol: String,
                            centroids: Array[Array[Double]])
    extends Pipeline.Model {
  def this() = this("embedding", Array(Array(0.0)))
  def transform(df: DataFrame): DataFrame =
    graft.operators.IvfAnn.assign(df, embCol,
      graft.operators.IvfAnn.Model(centroids))
  def params: Map[String, String] = Map(
    "embCol" -> embCol,
    "centroids" -> ParamCodec.matrix.encode(centroids))
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new IvfClusterModel(p("embCol"), ParamCodec.matrix.decode(p("centroids")))
}

/** Estimator: PCA basis over `embCol` (Pca.fit — distributed moments,
  * driver d×d Jacobi); `k` principal axes. */
final class PcaEstimator(embCol: String, k: Int) extends Pipeline.Estimator {
  def this() = this("embedding", 4)
  def fit(df: DataFrame): Pipeline.Model = {
    val m = graft.operators.Pca.fit(df, embCol, k)
    new PcaModel(embCol, m.mu, m.comps, m.eigs)
  }
  def params: Map[String, String] = Map("embCol" -> embCol, "k" -> k.toString)
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new PcaEstimator(p("embCol"), p("k").toInt)
}

/** Fitted PCA basis: appends the k-dim `pca` projection as literal-
  * coefficient codegen chains (zero shuffle — streaming-safe). The
  * basis persists, so a reloaded pipeline projects identically. */
final class PcaModel(embCol: String, mu: Array[Double],
                     comps: Array[Array[Double]], eigs: Array[Double])
    extends Pipeline.Model {
  def this() = this("embedding", Array(0.0), Array(Array(1.0)), Array(1.0))
  def model: graft.operators.Pca.Model =
    graft.operators.Pca.Model(mu, comps, eigs)
  def transform(df: DataFrame): DataFrame =
    graft.operators.Pca.transform(df, model, embCol, "pca")
  def params: Map[String, String] = Map(
    "embCol" -> embCol,
    "mu" -> ParamCodec.vector.encode(mu),
    "comps" -> ParamCodec.matrix.encode(comps),
    "eigs" -> ParamCodec.vector.encode(eigs))
  def withParams(p: Map[String, String]): Pipeline.PipelineStage =
    new PcaModel(p("embCol"),
      ParamCodec.vector.decode(p("mu")),
      ParamCodec.matrix.decode(p("comps")),
      ParamCodec.vector.decode(p("eigs")))
}
