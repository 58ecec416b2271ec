package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{cosine_similarity, nearest_centroid, ranked_centroids}

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to the LSH bucketing in VectorQueries.
  *
  * Build: K centroids initialized from deterministic seed vectors and
  * refined with `lloydIters` distributed Lloyd steps (assign with the
  * fused argmax-cosine kernel `nearest_centroid`; update as per-dimension
  * `avg` aggregates over the cluster key). Only the K×dim centroid
  * matrix ever reaches the driver — the corpus stays distributed.
  *
  * Search: probes scan the `nprobe` nearest centroid lists only; exact
  * cosine rerank inside the candidate lists. At 100 TB the corpus is
  * written partitioned by cluster id, so a probe touches nprobe/K of
  * the data — the standard IVF trade of recall vs scan fraction.
  */
object IvfAnn {

  case class Model(centroids: Array[Array[Double]])

  /** Loud valve on K: the K×dim centroid matrix ships inside every
    * task's expression (the fused kernels hold it as a referenced
    * object) and the K×dim seed collect reaches the driver — fine for
    * coarse quantizers, wrong for K=10⁶. A caller needing more
    * centroids gets an actionable error instead of bloated tasks or a
    * driver OOM. */
  private val MaxCentroids = 256

  private def requireCoarseK(k: Int): Unit =
    require(k >= 1 && k <= MaxCentroids,
      s"IvfAnn: K=$k centroids is outside the cap of [1, $MaxCentroids]: " +
        "the K×dim centroid matrix ships inside every task's expression " +
        "and reaches the driver as K×dim doubles")

  /** The first `n` vectors by vec_id as doubles — a deterministic
    * TakeOrdered; only n×dim values reach the driver. */
  private[operators] def firstVectors(vectors: DataFrame, embCol: String,
                                      n: Int): Array[Array[Double]] =
    vectors.orderBy(col("vec_id")).limit(n)
      .select(asD(col(embCol)).as("e")).collect()
      .map(_.getSeq[Double](0).toArray)

  /** Fit K centroids with a few Lloyd iterations. Seeding is the
    * first K vectors by id ([[firstVectors]]) — NOT kmeans++:
    * quantization cells only need to be balanced-ish for IVF recall,
    * and a deterministic seed keeps the oracle bind (q146)
    * reproducible; swap in a sampled seed if cell skew ever shows on
    * real embeddings. */
  def fit(vectors: DataFrame, embCol: String, k: Int, lloydIters: Int = 2): Model = {
    requireCoarseK(k)
    val first = firstVectors(vectors, embCol, k)
    var cents = first
    val dims = first.headOption.map(_.length).getOrElse(0)
    // empty corpus / zero-width vectors: nothing to refine — return
    // the seed model instead of aggs.head throwing (ADVICE r12)
    for (_ <- 1 to lloydIters if dims > 0) {
      val assigned = vectors.select(asD(col(embCol)).as("e"))
        .withColumn("c", nearest_centroid(col("e"), cents))
      // per-dimension means as `dims` plain avg aggregates over the
      // cluster key: ONE shuffle of K×dims partial sums (r12 — the old
      // posexplode path exploded every vector 64× and paid a second
      // groupBy + collect_list re-assembly shuffle)
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

  /** Assign every vector its inverted-list id: argmax cosine against
    * the centroid matrix, ties → lowest index (the fused
    * `nearest_centroid` kernel — a projection, zero shuffle). */
  def assign(vectors: DataFrame, embCol: String, model: Model): DataFrame = {
    requireCoarseK(model.centroids.length)
    vectors.withColumn("cluster", nearest_centroid(asD(col(embCol)), model.centroids))
  }

  /** Each probe's `nprobe` nearest lists by cosine, ties → lowest list
    * id (the fused `ranked_centroids` kernel, [[assign]]'s order): one
    * (pid, pe, cluster) row per probed list, pe the probe as doubles. */
  private[operators] def probeLists(probes: DataFrame, embCol: String,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= cents.length,
      s"IvfAnn: nprobe=$nprobe outside [1, ${cents.length}]")
    probes.select(col("vec_id").as("pid"), asD(col(embCol)).as("pe"))
      .select(col("pid"), col("pe"),
        slice(ranked_centroids(col("pe"), cents), 1, nprobe).as("near"))
      .select(col("pid"), col("pe"), explode(col("near")).as("cluster"))
  }

  /** Top-k within the nprobe nearest inverted lists of each probe. */
  def search(corpus: DataFrame, probes: DataFrame, embCol: String,
             model: Model, k: Int, nprobe: Int): DataFrame = {
    val corpusA = assign(corpus, embCol, model)
      .select(col("vec_id").as("cid"), col(embCol).as("ce"), col("cluster"))
    val probesA = probeLists(probes, embCol, model.centroids, nprobe)
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cid"))
    corpusA.join(broadcast(probesA), "cluster")
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", cosine_similarity(col("pe"), col("ce")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("pid"), col("rk"), col("cid"), round(col("sim"), 6).as("sim6"))
  }
}
