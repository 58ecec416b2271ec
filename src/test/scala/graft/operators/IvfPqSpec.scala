package graft.operators

import graft.{Scratch, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Composed IVF+PQ index invariants (IvfPq.scala): the structural
  * properties under the q268/q269 oracle rows. */
class IvfPqSpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sf)
  lazy val model = IvfPq.fit(emb, "embedding", kCoarse = 8,
    lloydIters = 2, numSub = 8, codesPerSub = 16)

  test("index emits exactly M code rows per vector, codes in [0, K)") {
    val idx = IvfPq.index(emb, "embedding", model)
    val n = emb.count()
    assert(idx.count() == n * 8)
    val perVec = idx.groupBy(col("cid"))
      .agg(countDistinct(col("m")).as("nm"), count(lit(1)).as("nr"))
      .filter(col("nm") =!= 8 || col("nr") =!= 8)
    assert(perVec.isEmpty, "every vector carries one code per subspace")
    val bad = idx.filter(col("code") < 0 || col("code") >= 16 ||
      col("cluster") < 0 || col("cluster") >= 8)
    assert(bad.isEmpty)
  }

  test("nprobe=K search equals the flat ADC scan (q211) bit-for-bit") {
    val indexed = IvfPq.index(emb, "embedding", model)
    val probes = emb.filter(col("vec_id") <= 20)
    val composed = IvfPq.search(indexed, probes, "embedding", model,
      k = 5, nprobe = 8)
      .orderBy(col("pid"), col("rk")).collect().toSeq
    val flat = VectorQueries.queries("q211_pq_ann")(spark, sf)
      .collect().toSeq
    assert(composed == flat,
      "probing every list must reproduce the exhaustive ADC result")
  }

  test("pruning prunes: nprobe=2 candidates come only from probed lists") {
    val indexed = IvfPq.index(emb, "embedding", model)
    val probes = emb.filter(col("vec_id") <= 5)
    val res = IvfPq.search(indexed, probes, "embedding", model,
      k = 5, nprobe = 2)
    // every returned cid must live in one of its probe's 2 lists
    val clusters = indexed.select(col("cid"), col("cluster")).distinct()
    val joined = res.join(clusters, "cid")
      .groupBy(col("pid")).agg(countDistinct(col("cluster")).as("nc"))
      .collect()
    assert(joined.nonEmpty && joined.forall(_.getLong(1) <= 2),
      "candidates leaked in from unprobed lists")
  }

  test("pipeline persistence round-trips the fitted index state exactly") {
    val fitted = new graft.ml.Pipeline()
      .appendStage(new graft.ml.IvfPqEstimator("embedding", 8, 2, 8, 16))
      .fit(emb)
    val reloaded = new graft.ml.Pipeline(fitted.toJson)
    val m0 = fitted.getStages.head.asInstanceOf[graft.ml.IvfPqModel].model
    val m1 = reloaded.getStages.head.asInstanceOf[graft.ml.IvfPqModel].model
    assert(m0.centroids.map(_.toSeq).toSeq == m1.centroids.map(_.toSeq).toSeq)
    assert(m0.codebook.map(_.map(_.toSeq).toSeq).toSeq ==
           m1.codebook.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("fitted centroids at nprobe=4 keep recall@5 above the seed floor") {
    // the production setting: Lloyd-refined lists, half the lists
    // probed — recall must beat random-candidate chance by a wide
    // margin (brute-force truth via q70)
    val indexed = IvfPq.index(emb, "embedding", model)
    val probes = emb.filter(col("vec_id") <= 20)
    val approx = IvfPq.search(indexed, probes, "embedding", model,
      k = 5, nprobe = 4).select(col("pid"), col("cid"))
    val truth = VectorQueries.queries("q70_knn_brute")(spark, sf)
      .select(col("pid"), col("cid"))
    val hits = approx.join(truth, Seq("pid", "cid"), "left_semi").count()
    val total = truth.count()
    assert(total > 0 && hits * 100 >= total * 20,
      s"recall@5 collapsed: $hits/$total")
  }

  test("residual IVFADC: deterministic fit, M codes/vector, probed lists only") {
    val rm = IvfPq.fitResidual(emb, "embedding", kCoarse = 8,
      lloydIters = 0, numSub = 8, codesPerSub = 16)
    val rm2 = IvfPq.fitResidual(emb, "embedding", kCoarse = 8,
      lloydIters = 0, numSub = 8, codesPerSub = 16)
    assert(rm.codebook.map(_.map(_.toSeq).toSeq).toSeq ==
           rm2.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    val idx = IvfPq.indexResidual(emb, "embedding", rm)
    assert(idx.count() == emb.count() * 8)
    assert(idx.filter(col("code") < 0 || col("code") >= 16).isEmpty)
    val probes = emb.filter(col("vec_id") <= 5)
    val res = IvfPq.searchResidual(idx, probes, "embedding", rm,
      k = 5, nprobe = 2)
    val clusters = idx.select(col("cid"), col("cluster")).distinct()
    val perProbe = res.join(clusters, "cid")
      .groupBy(col("pid")).agg(countDistinct(col("cluster")).as("nc"))
      .collect()
    assert(perProbe.nonEmpty && perProbe.forall(_.getLong(1) <= 2),
      "residual candidates leaked in from unprobed lists")
  }

  test("fitResidual puts each seed in the list IvfAnn.assign gives it, beside a zero-norm centroid") {
    // vector 0 is all-zero, so with lloydIters = 0 list 0's centroid
    // has no direction: its cosine is undefined and must lose every
    // argmax, in the residual seeds as in assign
    val spark2 = spark; import spark2.implicits._
    val vecs = (0 until 12).map { i =>
      i.toLong -> (if (i == 0) Array.fill(4)(0.0)
                   else Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toDouble))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val rm = IvfPq.fitResidual(corpus, "embedding", kCoarse = 3,
      lloydIters = 0, numSub = 2, codesPerSub = 6)
    val lists = IvfAnn.assign(corpus, "embedding", IvfAnn.Model(rm.centroids))
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (k <- 0 until 6) {
      val x = vecs(k)._2
      val c = rm.centroids(lists(k.toLong))
      val residual = x.zip(c).map { case (a, b) => a - b }
      assert(rm.codebook.flatMap(_(k)).toSeq == residual.toSeq,
        s"seed $k is not the residual to its list ${lists(k.toLong)}")
    }
  }

  test("cluster-partitioned index persistence prunes unprobed lists at the scan") {
    // the 100 TB claim made concrete: the index written
    // partitionBy(cluster) must let a probe batch's list filter reach
    // the scan as PARTITION pruning (directories skipped, not rows
    // filtered) — that is what makes a probe touch nprobe/K of the
    // corpus
    val dir = Scratch.dir("ivfpq-idx").toString
    IvfPq.index(emb, "embedding", model)
      .write.partitionBy("cluster").mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val pruned = back.filter(col("cluster").isin(0, 3))
    val plan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cluster"), s"list filter not pushed to partitions:\n$plan")
    assert(!plan.contains("PushedFilters: [In(cluster"),
      "cluster must prune as a partition column, not a data filter")
    // and the pruned read is exactly those lists' codes
    val expect = IvfPq.index(emb, "embedding", model)
      .filter(col("cluster").isin(0, 3)).count()
    assert(pruned.count() == expect && expect > 0)
  }

  test("deletes: tombstones never surface, compaction is partition-local and lossless") {
    val base = Scratch.dir("ivfdelspec")
    val idx = s"$base/index"
    IvfPq.index(emb, "embedding", model)
      .write.partitionBy("cluster").parquet(idx)
    val tomb = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"))
    val idxDf = spark.read.parquet(idx)
    val probes = emb.filter(col("vec_id") <= 20)
    def results(index: org.apache.spark.sql.DataFrame) = IvfPq.search(
      index.join(tomb, index("cid") === tomb("vec_id"), "left_anti"),
      probes, "embedding", model, k = 5, nprobe = 8)
      .orderBy(col("pid"), col("rk"))
    val before = results(idxDf).collect()
    assert(before.nonEmpty &&
      before.forall(r => r.getAs[Long]("cid") % 7 != 3),
      "a tombstoned vector surfaced in search results")
    // compact ONE list (threshold chosen to hit exactly its ratio)
    val victim = idxDf.select(col("cluster")).head().get(0)
    idxDf.filter(col("cluster") === victim)
      .join(tomb, idxDf("cid") === tomb("vec_id"), "left_anti")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cluster").parquet(idx)
    val after = spark.read.parquet(idx)
    // the compacted list physically dropped its dead rows; a cold
    // list still carries them (tombstone-filtered at search time)
    assert(after.filter(col("cluster") === victim)
      .join(tomb, after("cid") === tomb("vec_id"), "left_semi").isEmpty,
      "compaction must drop the dead rows of its list")
    assert(after.filter(col("cluster") =!= victim).count() ==
      idxDf.filter(col("cluster") =!= victim).count(),
      "dynamic overwrite must not touch cold partitions")
    // and the search result is byte-identical before/after compaction
    assert(results(after).collect().sameElements(before),
      "compaction changed search results")
  }

  test("guards: bad nprobe / indivisible dims / oversized K fail loudly") {
    intercept[IllegalArgumentException] {
      IvfPq.search(IvfPq.index(emb, "embedding", model),
        emb.limit(1), "embedding", model, k = 5, nprobe = 0)
    }
    intercept[IllegalArgumentException] {
      IvfPq.fit(emb, "embedding", kCoarse = 8, lloydIters = 0,
        numSub = 7, codesPerSub = 16) // 64 % 7 != 0
    }
    intercept[IllegalArgumentException] {
      IvfPq.fit(emb, "embedding", kCoarse = 8, lloydIters = 0,
        numSub = 8, codesPerSub = 1000)
    }
  }

  test("rebalance: hot list splits locally, cold partitions stay byte-identical") {
    val base = Scratch.dir("ivfrebspec")
    val idx = s"$base/index"
    IvfPq.index(emb, "embedding", model)
      .write.partitionBy("cluster").parquet(idx)
    def sizes(): Map[Int, Long] = spark.read.parquet(idx)
      .groupBy(col("cluster")).agg(countDistinct(col("cid")).as("n"))
      .collect()
      .map(r => r.getAs[Number]("cluster").intValue() -> r.getAs[Long]("n"))
      .toMap
    val before = sizes()
    val hot = before.keys.maxBy(c => (before(c), -c))
    def partFiles(c: Int): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(idx, s"cluster=$c")
      val l = java.nio.file.Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString -> java.nio.file.Files.size(p))
          .toMap
      } finally l.close()
    }
    val coldBefore = before.keys.filter(_ != hot)
      .map(c => c -> partFiles(c)).toMap
    val preSearch = IvfPq.search(spark.read.parquet(idx),
      emb.filter(col("vec_id") <= 20), "embedding", model, k = 5, nprobe = 8)
      .collect().map(_.toString).sorted
    val model2 = IvfPqQueries.splitHotList(spark, idx, emb, "embedding",
      model, s"$base/stage")
    assert(model2.kCoarse == 9, "one new sub-centroid")
    val after = sizes()
    // the split is local and lossless: the two sub-lists partition the
    // hot list, and the dominant one genuinely shrank
    assert(after(hot) + after(8) == before(hot),
      "sub-lists must partition the hot list exactly")
    assert(after(hot) > 0 && after(8) > 0, "2-means must actually split")
    assert(math.max(after(hot), after(8)) <= before(hot) * 3 / 4,
      s"hot list must shrink materially: ${before(hot)} -> " +
        s"${after(hot)}/${after(8)}")
    // cold partitions: same files, same bytes
    coldBefore.foreach { case (c, files) =>
      assert(partFiles(c) == files, s"cold partition $c must be untouched")
    }
    // at nprobe = ALL the search result is list-independent
    val postSearch = IvfPq.search(spark.read.parquet(idx),
      emb.filter(col("vec_id") <= 20), "embedding", model2, k = 5,
      nprobe = 9).collect().map(_.toString).sorted
    assert(postSearch.sameElements(preSearch),
      "rebalance must not change any search result")
  }
}
