package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, Tables}

/** Oracle bindings for the composed IVF+PQ ANN index (IvfPq.scala —
  * q146's coarse quantizer pruning q211's ADC scan to nprobe lists).
  *
  * Two complementary bindings:
  *  - q268 rides the EXACTNESS invariant: with nprobe = K every
  *    inverted list is probed, each corpus vector lives in exactly one
  *    list, so every (probe, corpus) pair is ADC-scored exactly once —
  *    the output must equal the flat ADC scan bit-for-bit, i.e. q211's
  *    DuckDB oracle verbatim (the q146↔q70 trick). The row ALSO runs
  *    the whole ML-pipeline persistence loop (fit → toJson → reload →
  *    index → search), so a mis-persisted centroid/codeword breaks the
  *    hash.
  *  - q269 binds the APPROXIMATE setting (nprobe=2 of 8) — the actual
  *    recall-vs-scan trade — by replicating the full composed index
  *    relationally in DuckDB: lloydIters=0 keeps the coarse centroids
  *    SQL-expressible (the first-K_c seed vectors), and the audited
  *    metric is recall@5 against the brute-force ground truth (q70's
  *    exact top-5) as an exact integer permille — q240's audit shape.
  */
object IvfPqQueries extends QuerySet {

  private val dims = 64

  val queries: Map[String, Q] = Map(

    // fit → persist → reload → index → search at nprobe=K: must equal
    // the flat ADC scan (q211's oracle). Lloyd-refined centroids are
    // fine here — the nprobe=K result is centroid-independent, which
    // is exactly what makes the full pipeline oracle-checkable.
    "q268_ivfpq_exact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val fitted = new graft.ml.Pipeline()
        .appendStage(new graft.ml.IvfPqEstimator("embedding", 8, 2, 8, 16))
        .fit(e)
      val reloaded = new graft.ml.Pipeline(fitted.toJson)
      val indexed = reloaded.transform(e) // the index build
      val model = reloaded.getStages.head.asInstanceOf[graft.ml.IvfPqModel]
      val probes = e.filter(col("vec_id") <= 20)
      model.search(indexed, probes, k = 5, nprobe = 8)
        .orderBy(col("pid"), col("rk"))
    }),

    // IVFADC PROPER — residual encoding (Jégou et al. §IV): the PQ
    // codebook quantizes x − c(list), scores decompose exactly into
    // (p·c + Σ p_sub·cw) / √(‖c‖² + Σ(2·c_sub·cw + ‖cw‖²)) with every
    // term a ×1e6-scaled integer. Oracle-bound at the APPROXIMATE
    // nprobe=2 setting by full relational replication (lloydIters=0
    // keeps centroids SQL-expressible; the codebook is the residuals
    // of the first 16 vectors w.r.t. their own lists) — the output is
    // the ranked search result itself, so a wrong residual, a dropped
    // cross term, or a mis-rounded literal breaks the hash directly.
    "q277_ivfadc_residual" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val model = IvfPq.fitResidual(e, "embedding", kCoarse = 8,
        lloydIters = 0, numSub = 8, codesPerSub = 16)
      val indexed = IvfPq.indexResidual(e, "embedding", model)
      val probes = e.filter(col("vec_id") <= 20)
      IvfPq.searchResidual(indexed, probes, "embedding", model,
        k = 5, nprobe = 2)
        .orderBy(col("pid"), col("rk"))
    }),

    // OPQ in front of the composed index (Ge et al., CVPR 2013): an
    // orthogonal rotation is learned so PQ loses less, and because
    // rotation preserves dots and norms EXACTLY the whole ADC stack
    // runs unchanged on rotated vectors. Oracle-bound through the
    // deterministic setting: rotationIters=0 keeps the signed-
    // permutation init (y_j = ±x[29j mod 64] — exactly SQL-
    // expressible), lloydIters=0 + nprobe=K makes the search the flat
    // ADC scan on rotated vectors — q211's oracle body over a rotated
    // `de`. The row ALSO runs the full pipeline persistence loop
    // (fit → toJson → reload → index → search), so a mis-persisted
    // rotation cell (64×64 doubles through JSON) breaks the hash. The
    // LEARNED rotation (iters>0, exact Procrustes per step) is pinned
    // by OpqSpec's monotone-objective and orthogonality invariants.
    "q278_opq_ann" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val fitted = new graft.ml.Pipeline()
        .appendStage(new graft.ml.OpqIvfPqEstimator("embedding", 0, 8, 0, 8, 16))
        .fit(e)
      val reloaded = new graft.ml.Pipeline(fitted.toJson)
      val indexed = reloaded.transform(e)
      val model = reloaded.getStages.head.asInstanceOf[graft.ml.OpqIvfPqModel]
      val probes = e.filter(col("vec_id") <= 20)
      model.search(indexed, probes, k = 5, nprobe = 8)
        .orderBy(col("pid"), col("rk"))
    }),

    // The FULL production composition — FAISS's "OPQ8,IVF8,PQ8" index
    // string: signed-permutation rotation (q278's deterministic OPQ
    // setting) in front of the residual-encoding IVFADC (q277).
    // Rotation preserves dots and norms exactly, so the residual
    // decomposition and every ×1e6-scaled integer term carry over
    // unchanged; the oracle is q277's full relational replication
    // over SQL-rotated vectors at the approximate nprobe=2 setting.
    "q285_opq_ivfadc" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val rot = Opq.signedPerm(64)
      val er = Opq.rotate(e, "embedding", rot, "__rot")
      val model = IvfPq.fitResidual(er, "__rot", kCoarse = 8,
        lloydIters = 0, numSub = 8, codesPerSub = 16)
      val indexed = IvfPq.indexResidual(er, "__rot", model)
      val probes = er.filter(col("vec_id") <= 20)
      IvfPq.searchResidual(indexed, probes, "__rot", model,
        k = 5, nprobe = 2)
        .orderBy(col("pid"), col("rk"))
    }),

    // STREAMING vector ingestion into the cluster-partitioned index —
    // the production serving update path: the model trains ONCE on
    // the existing corpus half (models don't refit per batch), new
    // vectors arrive in three micro-batches, and each batch runs the
    // index projection (coarse argmax + PQ codes — pure per-row work,
    // streaming-legal) and appends partitionBy(cluster), so fresh
    // vectors land in exactly the lists probes prune to. Afterwards a
    // search over the read-back index at nprobe=K must equal the flat
    // ADC scan over the WHOLE corpus — q211's oracle verbatim (the
    // codebook seeds are the first 16 vectors by vec_id, all inside
    // the trained half, so the half-fit model IS the full-fit model;
    // nprobe=K makes the result centroid-independent). A dropped
    // batch, a mis-partitioned append, or a schema drift in the
    // read-back breaks the hash.
    "q297_ivfpq_stream_ingest" -> ((s, d) => {
      import graft.streaming.Replay
      val base = Scratch.dir("ivfingest")
      val idx = s"$base/index"
      val e = Tables.embeddings(s, d)
      val (trained, ep) = Replay.snapshotSplit(e, "vec_id", base.toString)
      val model = IvfPq.fit(trained, "embedding", kCoarse = 8,
        lloydIters = 2, numSub = 8, codesPerSub = 16)
      // cluster-clustered write: without it every encode task writes a
      // sliver of every cluster directory (tasks × K tiny files — the
      // guide §6 small-files antipattern); the shuffle moves only the
      // 4-byte/vector code rows, never an embedding
      IvfPq.index(trained, "embedding", model)
        .repartition(col("cluster"))
        .write.partitionBy("cluster").parquet(idx)
      Replay.runBatches(ep.streamDf(s), s"$base/ck") { (b, _) =>
        IvfPq.index(b, "embedding", model)
          .write.mode("append").partitionBy("cluster").parquet(idx)
      }
      val indexed = Tables.read(s, idx)
      IvfPq.search(indexed, e.filter(col("vec_id") <= 20), "embedding",
        model, k = 5, nprobe = 8)
        .orderBy(col("pid"), col("rk"))
    }),

    // IVF+PQ DELETES — the serving index's other mutation (q297
    // covers inserts): deletes arrive as TOMBSTONED vec_ids in a side
    // table (the Cdc tombstone discipline — never rewrite the index
    // per delete); searches anti-join the tombstone set so a deleted
    // vector can never surface; and when a list's tombstone ratio
    // crosses 10% that cluster PARTITION is compacted — a
    // partition-local dynamic-overwrite of just the hot cluster
    // directories (never a global rebuild; at 100 TB each compaction
    // touches one inverted list). Model and codebook stay trained on
    // the full corpus (production never refits on delete — the seeds
    // are the first 16 vectors, deleted or not), so the post-delete
    // search at nprobe=K must equal the flat ADC scan over exactly
    // the SURVIVING vectors — q211's oracle with the tombstoned ids
    // filtered from the corpus side. A tombstone leaking through the
    // anti-join, a compaction dropping a live row, or an overwrite
    // clobbering a cold partition all break the hash.
    "q312_ivfpq_delete" -> ((s, d) => {
      val base = Scratch.dir("ivfdel")
      val idx = s"$base/index"
      val e = Tables.embeddings(s, d)
      val model = IvfPq.fit(e, "embedding", kCoarse = 8, lloydIters = 2,
        numSub = 8, codesPerSub = 16)
      // cluster-clustered write (guide §6): one file per inverted list
      // instead of tasks × K slivers; only 4-byte code rows shuffle.
      // The index build and the (independent) tombstone side-table
      // write overlap (guide §2.6) — r13
      graft.Par.run2(
        () => IvfPq.index(e, "embedding", model)
          .repartition(col("cluster"))
          .write.partitionBy("cluster").parquet(idx),
        // deterministic delete set: every 7th vector, as a side table
        () => e.filter(pmod(col("vec_id"), lit(7)) === 3)
          .select(col("vec_id"))
          .write.mode("overwrite").parquet(s"$base/tombstones"))
      val tomb = Tables.read(s, s"$base/tombstones")
      // tombstone ratio per inverted list (vector-level, so the M
      // code rows per vector cancel out of the ratio)
      val idxDf = Tables.read(s, idx)
      val perList = idxDf.join(tomb, idxDf("cid") === tomb("vec_id"),
          "left_outer")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          count(col("vec_id")).as("n_dead"))
      val hot = perList.filter(col("n_dead") * 10 >= col("n"))
        .select(col("cluster")).collect().map(_.get(0))
      if (hot.nonEmpty) {
        // partition-local compaction: rewrite ONLY the hot clusters'
        // directories with their dead rows dropped. STAGED, not a
        // read+dynamic-overwrite of the same path in one job (ADVICE
        // r10: that was safe only because dynamic overwrite defers
        // deletion to commit): survivors land in a side directory
        // first, then each hot partition swaps — staged files move in
        // (part names carry a job UUID, no collision), the dead
        // originals are deleted after. Cold partitions are never
        // touched by construction.
        val staging = s"$base/compact"
        idxDf.filter(col("cluster").isin(hot.toIndexedSeq: _*))
          .join(tomb, idxDf("cid") === tomb("vec_id"), "left_anti")
          .repartition(col("cluster"))
          .write.partitionBy("cluster").parquet(staging)
        hot.foreach { c =>
          val dst = java.nio.file.Paths.get(idx, s"cluster=$c")
          val src = java.nio.file.Paths.get(staging, s"cluster=$c")
          def parts(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
            val l = java.nio.file.Files.list(p)
            try l.filter(_.getFileName.toString.endsWith(".parquet"))
              .collect(java.util.stream.Collectors.toList[java.nio.file.Path])
              .toArray(Array.empty[java.nio.file.Path]).toSeq
            finally l.close()
          }
          val dead = parts(dst)
          parts(src).foreach(f =>
            java.nio.file.Files.move(f, dst.resolve(f.getFileName)))
          dead.foreach(java.nio.file.Files.delete)
        }
      }
      // search = anti-join the (remaining) tombstones, then the
      // standard cluster-pruned ADC scan
      val reRead = Tables.read(s, idx)
      val live = reRead.join(tomb, reRead("cid") === tomb("vec_id"),
        "left_anti")
      IvfPq.search(live, e.filter(col("vec_id") <= 20), "embedding",
        model, k = 5, nprobe = 8)
        .orderBy(col("pid"), col("rk"))
    }),

    // IVF LIST-SKEW REBALANCE — the third serving-index mutation
    // (q297 inserts, q312 deletes): heavily skewed ingest grows one
    // hot inverted list until probe pruning degrades (a probe hitting
    // that list scans a disproportionate share of the corpus). The
    // maintenance step: detect lists above mean + σ of the per-list
    // vector counts (falling back to the single largest — the demo
    // corpus is near-balanced), run a LOCAL 2-means on THAT LIST ONLY
    // (its member vectors — never a global refit), split it into two
    // sub-lists (the original id + a fresh one), and rewrite only the
    // hot cluster's partition via the q312 staged-swap discipline.
    // The coarse centroid table grows by one (the hot centroid is
    // replaced by its two sub-centroids); PQ codes are UNTOUCHED, so
    // at nprobe = ALL lists the post-split search must equal the flat
    // ADC scan bit-for-bit — q211's oracle verbatim (the q268/q297
    // exactness trick). IvfPqSpec asserts the hot list's count
    // actually halves and cold partitions stay byte-identical. At
    // 100 TB a rebalance touches one inverted list's directory.
    "q325_ivf_rebalance" -> ((s, d) => {
      val base = Scratch.dir("ivfreb")
      val idx = s"$base/index"
      val e = Tables.embeddings(s, d)
      val model = IvfPq.fit(e, "embedding", kCoarse = 8, lloydIters = 2,
        numSub = 8, codesPerSub = 16)
      // cluster-clustered write (guide §6): one file per inverted list
      IvfPq.index(e, "embedding", model)
        .repartition(col("cluster"))
        .write.partitionBy("cluster").parquet(idx)
      val model2 = splitHotList(s, idx, e, "embedding", model,
        s"$base/stage")
      IvfPq.search(Tables.read(s, idx), e.filter(col("vec_id") <= 20),
        "embedding", model2, k = 5, nprobe = model2.kCoarse)
        .orderBy(col("pid"), col("rk"))
    }),

    // the approximate setting itself, oracle-bound: nprobe=2 of 8,
    // deterministic seed centroids (lloydIters=0), recall@5 vs the
    // exact brute-force top-5 as an integer permille per probe.
    "q269_ivfpq_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val model = IvfPq.fit(e, "embedding", kCoarse = 8, lloydIters = 0,
        numSub = 8, codesPerSub = 16)
      val indexed = IvfPq.index(e, "embedding", model)
      val probes = e.filter(col("vec_id") <= 20)
      val approx = IvfPq.search(indexed, probes, "embedding", model,
        k = 5, nprobe = 2).select(col("pid"), col("cid"))
      val truth = VectorQueries.queries("q70_knn_brute")(s, d)
        .select(col("pid"), col("cid"))
      val hits = approx.join(truth, Seq("pid", "cid"), "left_semi")
        .groupBy(col("pid")).agg(count(lit(1)).as("n_hits"))
      truth.select(col("pid")).distinct()
        .join(hits, Seq("pid"), "left")
        .select(col("pid"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_permille", expr("(1000 * n_hits) div 5"))
        .orderBy(col("pid"))
    })
  )

  /** The q325 maintenance step, reusable: find the hot list (count >
    * mean + σ, else the largest), 2-means it locally, split its
    * partition in place (staged write + file swap — cold partitions
    * untouched), return the model with the hot centroid replaced by
    * its two sub-centroids (new list id = old kCoarse). */
  private[operators] def splitHotList(s: SparkSession, idx: String,
      corpus: DataFrame, embCol: String, model: IvfPq.Model,
      staging: String): IvfPq.Model = {
    val idxDf = Tables.read(s, idx)
    val sizes = idxDf.groupBy(col("cluster"))
      .agg(countDistinct(col("cid")).as("n")).collect()
      .map(r => r.getAs[Number]("cluster").intValue() ->
        r.getAs[Long]("n")).toMap
    val mean = sizes.values.sum.toDouble / sizes.size
    val sd = math.sqrt(
      sizes.values.map(n => (n - mean) * (n - mean)).sum / sizes.size)
    val overgrown = sizes.filter(_._2 > mean + sd).keys
    // deterministic pick: the largest (ties → lowest id)
    val hot =
      (if (overgrown.nonEmpty) overgrown else sizes.keys)
        .maxBy(c => (sizes(c), -c))
    // local 2-means over ONLY the hot list's member vectors
    val hotIds = idxDf.filter(col("cluster") === hot)
      .select(col("cid").as("vec_id")).distinct()
    // materialize the hot list's vectors ONCE (one-list-sized, bounded
    // by construction): the 2-means fit walks them three times (seed
    // collect + 2 Lloyd passes) and assign a fourth — without the
    // checkpoint each walk re-scans the corpus and re-runs the join
    val hotVecs = corpus.join(hotIds, "vec_id").localCheckpoint()
    val sub = IvfAnn.fit(hotVecs, embCol, k = 2, lloydIters = 2)
    val assigned = IvfAnn.assign(hotVecs, embCol, sub)
      .select(col("vec_id").as("a_cid"), col("cluster").as("subc"))
    // stage the split rows (PQ codes untouched), then swap the hot
    // partition's files — cold partitions are never read or written
    idxDf.filter(col("cluster") === hot)
      .join(assigned, idxDf("cid") === col("a_cid"))
      .select(col("cid"),
        when(col("subc") === 0, lit(hot))
          .otherwise(lit(model.kCoarse)).as("cluster"),
        col("m"), col("code"))
      .repartition(col("cluster"))
      .write.partitionBy("cluster").parquet(staging)
    def parts(p: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty
      else {
        val l = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          l.iterator().asScala.toSeq
            .filter(_.getFileName.toString.endsWith(".parquet"))
        } finally l.close()
      }
    Seq(hot, model.kCoarse).foreach { c =>
      val dst = java.nio.file.Paths.get(idx, s"cluster=$c")
      val src = java.nio.file.Paths.get(staging, s"cluster=$c")
      java.nio.file.Files.createDirectories(dst)
      val dead = parts(dst)
      parts(src).foreach(f =>
        java.nio.file.Files.move(f, dst.resolve(f.getFileName)))
      dead.foreach(java.nio.file.Files.delete)
    }
    IvfPq.Model(
      model.centroids.updated(hot, sub.centroids(0)) :+ sub.centroids(1),
      model.codebook)
  }

  // cosine with CosineSimilarity's exact accumulation: three
  // independent left-fold accumulators, dot/(√na·√nb)
  private def cosSql(a: String, b: String): String = {
    def fold(ex: String): String =
      s"""list_reduce(list_transform(range(1, ${dims + 1}),
         |        i -> $ex), (x,y) -> x+y)""".stripMargin
    s"""${fold(s"$a[i]*$b[i]")} /
       |      (sqrt(${fold(s"$a[i]*$a[i]")}) * sqrt(${fold(s"$b[i]*$b[i]")}))""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    // nprobe=K ≡ the flat ADC scan: q211's oracle, verbatim.
    "q268_ivfpq_exact" -> VectorQueries.oracle("q211_pq_ann"),

    // streamed-in vectors at nprobe=K ≡ the same flat ADC scan over
    // the whole corpus (ingestion must be lossless and list-correct).
    "q297_ivfpq_stream_ingest" -> VectorQueries.oracle("q211_pq_ann"),

    // post-rebalance search at nprobe=ALL ≡ the same flat ADC scan:
    // the split moves vectors between lists but never touches a PQ
    // code, and probing every list makes the result list-independent.
    "q325_ivf_rebalance" -> VectorQueries.oracle("q211_pq_ann"),

    // post-delete search at nprobe=K ≡ the flat ADC scan over the
    // SURVIVORS only (codebook seeds stay the first 16 vectors of the
    // full corpus — the model does not refit on delete): q211's
    // oracle with the tombstoned ids (vec_id % 7 = 3) filtered from
    // the encoded corpus side; probes keep all ids ≤ 20.
    "q312_ivfpq_delete" ->
      s"""WITH de AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, dv AS sv
         |  FROM de ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT seeds.k, ms.m,
         |    list_transform(range(1, 9), i -> sv[ms.m*8 + i]) AS cw
         |  FROM seeds, ms),
         |cbn AS (
         |  SELECT k, m, cw,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> cw[i]*cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT) AS cn
         |  FROM cb),
         |subs AS (
         |  SELECT vec_id, ms.m,
         |    list_transform(range(1, 9), i -> dv[ms.m*8 + i]) AS sub
         |  FROM de, ms),
         |enc AS (
         |  SELECT vec_id AS cid, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        list_reduce(list_transform(range(1, 9),
         |          i -> (s.sub[i]-c.cw[i])*(s.sub[i]-c.cw[i])),
         |          (x,y) -> x+y), c.k) AS rn
         |    FROM subs s JOIN cbn c ON s.m = c.m)
         |  WHERE rn = 1 AND vec_id % 7 <> 3),
         |lut AS (
         |  SELECT s.vec_id AS pid, s.m, c.k,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> s.sub[i]*c.cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pdot,
         |    c.cn
         |  FROM subs s JOIN cbn c ON s.m = c.m WHERE s.vec_id <= 20),
         |sc AS (
         |  SELECT l.pid, e.cid, sum(l.pdot) AS idot, sum(l.cn) AS rn
         |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.k
         |  WHERE e.cid <> l.pid
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT pid, cid,
         |    CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) AS score,
         |    row_number() OVER (PARTITION BY pid
         |                       ORDER BY CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) DESC, cid) AS rk
         |  FROM sc)
         |SELECT pid, rk, cid, round(score, 6) AS score6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin,

    // OPQ at the deterministic setting: q211's flat-ADC oracle body
    // over the signed-permutation-rotated vectors (rotation preserves
    // dots/norms exactly; nprobe=K collapses IVF pruning).
    "q278_opq_ann" ->
      s"""WITH raw AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rv
         |  FROM embeddings),
         |de AS (
         |  SELECT vec_id, list_transform(range(0, 64), j ->
         |    (CASE WHEN j % 3 = 0 THEN -1 ELSE 1 END) *
         |      rv[((29*j) % 64) + 1]) AS dv
         |  FROM raw),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, dv AS sv
         |  FROM de ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT seeds.k, ms.m,
         |    list_transform(range(1, 9), i -> sv[ms.m*8 + i]) AS cw
         |  FROM seeds, ms),
         |cbn AS (
         |  SELECT k, m, cw,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> cw[i]*cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT) AS cn
         |  FROM cb),
         |subs AS (
         |  SELECT vec_id, ms.m,
         |    list_transform(range(1, 9), i -> dv[ms.m*8 + i]) AS sub
         |  FROM de, ms),
         |enc AS (
         |  SELECT vec_id AS cid, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        list_reduce(list_transform(range(1, 9),
         |          i -> (s.sub[i]-c.cw[i])*(s.sub[i]-c.cw[i])),
         |          (x,y) -> x+y), c.k) AS rn
         |    FROM subs s JOIN cbn c ON s.m = c.m) WHERE rn = 1),
         |lut AS (
         |  SELECT s.vec_id AS pid, s.m, c.k,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> s.sub[i]*c.cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pdot,
         |    c.cn
         |  FROM subs s JOIN cbn c ON s.m = c.m WHERE s.vec_id <= 20),
         |sc AS (
         |  SELECT l.pid, e.cid, sum(l.pdot) AS idot, sum(l.cn) AS rn
         |  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.k
         |  WHERE e.cid <> l.pid
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT pid, cid,
         |    CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) AS score,
         |    row_number() OVER (PARTITION BY pid
         |                       ORDER BY CAST(idot AS DOUBLE) /
         |      greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) DESC, cid) AS rk
         |  FROM sc)
         |SELECT pid, rk, cid, round(score, 6) AS score6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin,

    // residual IVFADC replicated relationally: q269's coarse fragments
    // plus residual vectors, residual-seed codebook, per-(cluster,m,k)
    // cross/norm integer terms, per-(probe,cluster) p·c terms, and the
    // decomposed score.
    "q277_ivfadc_residual" -> ivfadcSql(
      """de AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
        |  FROM embeddings)""".stripMargin),

    // q277's full relational replication over the signed-permutation-
    // rotated vectors — the OPQ∘IVFADC composition (rotation preserves
    // every dot/norm the residual decomposition uses).
    "q285_opq_ivfadc" -> ivfadcSql(
      """raw AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS rv
        |  FROM embeddings),
        |de AS (
        |  SELECT vec_id, list_transform(range(0, 64), j ->
        |    (CASE WHEN j % 3 = 0 THEN -1 ELSE 1 END) *
        |      rv[((29*j) % 64) + 1]) AS dv
        |  FROM raw)""".stripMargin),

    "q269_ivfpq_recall" -> q269RecallSql
  )

  /** The residual-IVFADC relational oracle, parameterized by the
    * source CTE producing (vec_id, dv) — q277 feeds raw doubles, q285
    * the rotated vectors. */
  private def ivfadcSql(deCte: String): String =
      s"""WITH $deCte,
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, dv AS cv
         |  FROM de ORDER BY vec_id LIMIT 8),
         |asg AS (
         |  SELECT d.vec_id, c.j,
         |    ${cosSql("d.dv", "c.cv")} AS sim
         |  FROM de d, cents c),
         |cl AS (
         |  SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, j) AS rn
         |    FROM asg) WHERE rn = 1),
         |pcl AS (
         |  SELECT vec_id AS pid, j AS cluster FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, j) AS rn
         |    FROM asg WHERE vec_id <= 20) WHERE rn <= 2),
         |rv AS (
         |  SELECT d.vec_id, cl.cluster,
         |    list_transform(range(1, 65), i -> d.dv[i] - c.cv[i]) AS re
         |  FROM de d JOIN cl ON cl.vec_id = d.vec_id
         |  JOIN cents c ON c.j = cl.cluster),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, re AS sv
         |  FROM rv ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT seeds.k, ms.m,
         |    list_transform(range(1, 9), i -> sv[ms.m*8 + i]) AS cw
         |  FROM seeds, ms),
         |cn2 AS (
         |  SELECT c.j AS cluster, cb.m, cb.k,
         |    CAST(round((2*list_reduce(list_transform(range(1, 9),
         |        i -> c.cv[cb.m*8 + i]*cb.cw[i]), (x,y) -> x+y)
         |      + list_reduce(list_transform(range(1, 9),
         |        i -> cb.cw[i]*cb.cw[i]), (x,y) -> x+y)) * 1e6) AS BIGINT)
         |      AS cn2
         |  FROM cents c, cb),
         |cnorm AS (
         |  SELECT j AS cluster,
         |    CAST(round(list_reduce(list_transform(range(1, 65),
         |      i -> cv[i]*cv[i]), (x,y) -> x+y) * 1e6) AS BIGINT) AS cnorm
         |  FROM cents),
         |subs AS (
         |  SELECT vec_id, cluster, ms.m,
         |    list_transform(range(1, 9), i -> re[ms.m*8 + i]) AS sub
         |  FROM rv, ms),
         |enc AS (
         |  SELECT vec_id AS cid, cluster, m, k AS code FROM (
         |    SELECT s.vec_id, s.cluster, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        list_reduce(list_transform(range(1, 9),
         |          i -> (s.sub[i]-c.cw[i])*(s.sub[i]-c.cw[i])),
         |          (x,y) -> x+y), c.k) AS rn
         |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
         |psub AS (
         |  SELECT vec_id, ms.m,
         |    list_transform(range(1, 9), i -> dv[ms.m*8 + i]) AS sub
         |  FROM de, ms WHERE vec_id <= 20),
         |lut AS (
         |  SELECT s.vec_id AS pid, s.m, c.k,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> s.sub[i]*c.cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pdot
         |  FROM psub s JOIN cb c ON s.m = c.m),
         |pcd AS (
         |  SELECT d.vec_id AS pid, p.cluster,
         |    CAST(round(list_reduce(list_transform(range(1, 65),
         |      i -> d.dv[i]*c.cv[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pcdot
         |  FROM de d JOIN pcl p ON p.pid = d.vec_id
         |  JOIN cents c ON c.j = p.cluster),
         |sc AS (
         |  SELECT l.pid, e.cid, e.cluster,
         |    sum(l.pdot) AS idot, sum(n2.cn2) AS rn
         |  FROM enc e
         |  JOIN pcl ON pcl.cluster = e.cluster
         |  JOIN lut l ON l.pid = pcl.pid AND e.m = l.m AND e.code = l.k
         |  JOIN cn2 n2 ON n2.cluster = e.cluster AND n2.m = e.m
         |            AND n2.k = e.code
         |  WHERE e.cid <> l.pid
         |  GROUP BY 1, 2, 3),
         |ranked AS (
         |  SELECT s.pid, s.cid,
         |    CAST(p.pcdot + s.idot AS DOUBLE) /
         |      greatest(sqrt(greatest(CAST(cn.cnorm + s.rn AS DOUBLE), 0)),
         |        1e-30) AS score,
         |    row_number() OVER (PARTITION BY s.pid ORDER BY
         |      CAST(p.pcdot + s.idot AS DOUBLE) /
         |        greatest(sqrt(greatest(CAST(cn.cnorm + s.rn AS DOUBLE), 0)),
         |          1e-30) DESC, s.cid) AS rk
         |  FROM sc s
         |  JOIN pcd p ON p.pid = s.pid AND p.cluster = s.cluster
         |  JOIN cnorm cn ON cn.cluster = s.cluster)
         |SELECT pid, rk, cid, round(score, 6) AS score6
         |FROM ranked WHERE rk <= 5 ORDER BY pid, rk""".stripMargin

  // the composed index replicated relationally: seed centroids →
  // cluster argmax (tie lowest id) → probe top-2 lists → PQ encode
  // (q211's fragments) → ADC over probed lists only → top-5 →
  // recall@5 vs brute-force top-5.
  // def, not val: `oracle` above initializes first and would capture
  // null from a later val (the round-8 init-order gotcha)
  private def q269RecallSql: String =
      s"""WITH de AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
         |  FROM embeddings),
         |cents AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, dv AS cv
         |  FROM de ORDER BY vec_id LIMIT 8),
         |asg AS (
         |  SELECT d.vec_id, c.j,
         |    ${cosSql("d.dv", "c.cv")} AS sim
         |  FROM de d, cents c),
         |cl AS (
         |  SELECT vec_id, j AS cluster FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, j) AS rn
         |    FROM asg) WHERE rn = 1),
         |pcl AS (
         |  SELECT vec_id AS pid, j AS cluster FROM (
         |    SELECT vec_id, j,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY sim DESC, j) AS rn
         |    FROM asg WHERE vec_id <= 20) WHERE rn <= 2),
         |ms AS (SELECT unnest(range(0, 8)) AS m),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, dv AS sv
         |  FROM de ORDER BY vec_id LIMIT 16),
         |cb AS (
         |  SELECT seeds.k, ms.m,
         |    list_transform(range(1, 9), i -> sv[ms.m*8 + i]) AS cw
         |  FROM seeds, ms),
         |cbn AS (
         |  SELECT k, m, cw,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> cw[i]*cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT) AS cn
         |  FROM cb),
         |subs AS (
         |  SELECT vec_id, ms.m,
         |    list_transform(range(1, 9), i -> dv[ms.m*8 + i]) AS sub
         |  FROM de, ms),
         |enc AS (
         |  SELECT vec_id AS cid, m, k AS code FROM (
         |    SELECT s.vec_id, s.m, c.k,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        list_reduce(list_transform(range(1, 9),
         |          i -> (s.sub[i]-c.cw[i])*(s.sub[i]-c.cw[i])),
         |          (x,y) -> x+y), c.k) AS rn
         |    FROM subs s JOIN cbn c ON s.m = c.m) WHERE rn = 1),
         |lut AS (
         |  SELECT s.vec_id AS pid, s.m, c.k,
         |    CAST(round(list_reduce(list_transform(range(1, 9),
         |      i -> s.sub[i]*c.cw[i]), (x,y) -> x+y) * 1e6) AS BIGINT)
         |      AS pdot,
         |    c.cn
         |  FROM subs s JOIN cbn c ON s.m = c.m WHERE s.vec_id <= 20),
         |sc AS (
         |  SELECT l.pid, e.cid, sum(l.pdot) AS idot, sum(l.cn) AS rn
         |  FROM enc e
         |  JOIN cl ON e.cid = cl.vec_id
         |  JOIN pcl ON pcl.cluster = cl.cluster
         |  JOIN lut l ON l.pid = pcl.pid AND e.m = l.m AND e.code = l.k
         |  WHERE e.cid <> l.pid
         |  GROUP BY 1, 2),
         |approx AS (
         |  SELECT pid, cid FROM (
         |    SELECT pid, cid,
         |      row_number() OVER (PARTITION BY pid ORDER BY
         |        CAST(idot AS DOUBLE) /
         |          greatest(sqrt(CAST(rn AS DOUBLE)), 1e-30) DESC,
         |        cid) AS rk
         |    FROM sc) WHERE rk <= 5),
         |pairs AS (
         |  SELECT p.vec_id AS pid, c.vec_id AS cid, p.dv AS pe, c.dv AS ce
         |  FROM de p JOIN de c ON c.vec_id <> p.vec_id
         |  WHERE p.vec_id <= 20),
         |tr AS (
         |  SELECT pid, cid FROM (
         |    SELECT pid, cid,
         |      row_number() OVER (PARTITION BY pid ORDER BY
         |        ${cosSql("pe", "ce")} DESC, cid) AS rk
         |    FROM pairs) WHERE rk <= 5),
         |hits AS (
         |  SELECT a.pid, count(*) AS n_hits
         |  FROM approx a JOIN tr t ON a.pid = t.pid AND a.cid = t.cid
         |  GROUP BY 1)
         |SELECT t.pid, coalesce(h.n_hits, 0) AS n_hits,
         |  (1000 * coalesce(h.n_hits, 0)) // 5 AS recall_permille
         |FROM (SELECT DISTINCT pid FROM tr) t
         |LEFT JOIN hits h ON t.pid = h.pid
         |ORDER BY t.pid""".stripMargin
}
