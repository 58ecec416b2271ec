package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.cosine_similarity

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to the LSH bucketing in VectorQueries.
  *
  * Build: K centroids initialized from deterministic seed vectors and
  * refined with `lloydIters` distributed Lloyd steps (assign via argmax
  * cosine against broadcast centroid literals; update via
  * posexplode + per-dimension mean). Only the K×dim centroid matrix
  * ever reaches the driver — the corpus stays distributed.
  *
  * Search: probes scan the `nprobe` nearest centroid lists only; exact
  * cosine rerank inside the candidate lists. At 100 TB the corpus is
  * written partitioned by cluster id, so a probe touches nprobe/K of
  * the data — the standard IVF trade of recall vs scan fraction.
  */
object IvfAnn {

  case class Model(centroids: Array[Array[Double]])

  /** argmax cosine against the centroid matrix (ties → lowest index).
    * r12: a fused expression holding the matrix as a referenced object
    * (functions/Centroids.scala) — the previous array_max over K
    * struct literals of cosine(emb, <dim-literal array>) put a K×dim
    * literal tree in every plan, which the optimizer re-folded on
    * every driver action; arithmetic and tie rule are bit-identical. */
  private def nearestCentroid(emb: Column, cents: Array[Array[Double]]): Column =
    graft.functions.GraftFunctions.nearest_centroid(emb, cents)

  /** Fit K centroids with a few Lloyd iterations. Seeding is the
    * first K vectors by id (deterministic TakeOrdered, K×dim to the
    * driver) — NOT kmeans++: quantization cells only need to be
    * balanced-ish for IVF recall, and a deterministic seed keeps the
    * oracle bind (q146) reproducible; swap in a sampled seed if cell
    * skew ever shows on real embeddings. */
  /** Loud valve on the two driver-bounded structures: the K×dim seed
    * collect and the literal-argmax assignment (K struct literals in
    * one codegen'd expression — fine for coarse quantizers, broken
    * well before K=10⁶). A caller needing more centroids gets an
    * actionable error instead of a codegen blowup / driver OOM. */
  private val MaxLiteralCentroids = 256

  private def requireCoarseK(k: Int): Unit =
    require(k >= 1 && k <= MaxLiteralCentroids,
      s"IvfAnn: K=$k centroids exceeds the literal-argmax cap of " +
        s"$MaxLiteralCentroids (K struct literals ride one codegen'd " +
        "expression and K×dim doubles ride the driver); use " +
        "assignViaJoin for large-K assignment")

  def fit(vectors: DataFrame, embCol: String, k: Int, lloydIters: Int = 2): Model = {
    requireCoarseK(k)
    val first = vectors.orderBy(col("vec_id")).limit(k)
      .select(asD(col(embCol)).as("e")).collect()
      .map(_.getSeq[Double](0).toArray)
    var cents = first
    val dims = first.headOption.map(_.length).getOrElse(0)
    // empty corpus / zero-width vectors: nothing to refine — return
    // the seed model instead of aggs.head throwing (ADVICE r12)
    for (_ <- 1 to lloydIters if dims > 0) {
      val assigned = vectors.select(asD(col(embCol)).as("e"))
        .withColumn("c", nearestCentroid(col("e"), cents))
      // per-dimension means as `dims` plain avg aggregates over the
      // cluster key: ONE shuffle of K×dims partial sums (r12 — the old
      // posexplode path exploded every vector 64× and paid a second
      // groupBy + collect_list/array_sort re-assembly shuffle)
      val aggs = (0 until dims).map(i =>
        avg(element_at(col("e"), i + 1)).as(s"m$i"))
      val prev = cents
      val newCents = assigned
        .groupBy(col("c")).agg(aggs.head, aggs.drop(1): _*)
        .collect()
        .map { r =>
          val c = r.getInt(0)
          // a null per-dimension mean (ragged/short vectors) keeps the
          // previous coordinate, like the posexplode path degraded
          c -> Array.tabulate(dims)(i =>
            if (r.isNullAt(i + 1)) prev(c)(i) else r.getDouble(i + 1))
        }.toMap
      cents = Array.tabulate(cents.length)(i => newCents.getOrElse(i, cents(i)))
    }
    Model(cents)
  }

  /** Assign every vector its inverted-list id (literal-argmax path:
    * zero shuffle, but codegen size caps K at a few dozen — right for
    * coarse quantizers). */
  def assign(vectors: DataFrame, embCol: String, model: Model): DataFrame = {
    requireCoarseK(model.centroids.length)
    vectors.withColumn("cluster", nearestCentroid(asD(col(embCol)), model.centroids))
  }

  /** Large-K assignment: centroids as a broadcast DataFrame, argmax by
    * aggregation. One broadcast join + one shuffle, no codegen cap —
    * scales to thousands of centroids (still only K×dim through the
    * driver). Same tie rule as the literal path (lowest cluster id). */
  def assignViaJoin(vectors: DataFrame, embCol: String, model: Model): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val cdf = model.centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "cent")
    val best = vectors.select(col("vec_id"), asD(col(embCol)).as("__e"))
      .crossJoin(broadcast(cdf))
      .withColumn("__sim", cosine_similarity(col("__e"), col("cent")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cluster"), struct(col("__sim"), -col("cluster"))).as("cluster"))
    vectors.join(best, "vec_id")
  }

  /** Top-k within the nprobe nearest inverted lists of each probe. */
  def search(corpus: DataFrame, probes: DataFrame, embCol: String,
             model: Model, k: Int, nprobe: Int): DataFrame = {
    val corpusA = assign(corpus, embCol, model)
      .select(col("vec_id").as("cid"), col(embCol).as("ce"), col("cluster"))
    val probeClusters = array(model.centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(cosine_similarity(col(embCol), array(c.toIndexedSeq.map(lit(_)): _*)).as("sim"),
             lit(i).as("idx"))
    }: _*)
    val probesA = probes
      .select(col("vec_id").as("pid"), col(embCol).as("pe"),
        slice(reverse(array_sort(probeClusters)), 1, nprobe).as("near"))
      .select(col("pid"), col("pe"),
        explode(transform(col("near"), s => s.getField("idx"))).as("cluster"))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    corpusA.join(broadcast(probesA), "cluster")
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", cosine_similarity(col("pe"), col("ce")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("pid"), col("rk"), col("cid"), round(col("sim"), 6).as("sim6"))
  }
}
