package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints one JSON metrics line.
  *
  * Methodology: one un-timed warm-up pass (JIT, codegen cache, file
  * listing), then min-of-N interleaved timed passes. At sf0.01 the
  * warm-up pass compiles 1,480 generated classes, which only fit because
  * `GraftSession` sizes the codegen cache above that (Spark's default
  * holds 100); the sidecar's `codegen_compiles` counts what each timed
  * query still compiled. Results are materialized through the
  * noop datasource — count() would let Catalyst prune the projections
  * and under-report; noop executes the full plan including result
  * serialization.
  */
object Bench {

  /** Headliners: one per operator family, heaviest variant. */
  val headline: Seq[String] = Seq(
    "q01_agg_basic",      // scan→filter→hash agg (TPC-H Q1)
    "q04_grouping_sets",  // expand + agg
    "q10_join_star",      // 5-way star join
    "q11_join_left",      // outer join + agg
    "q21_setop_all",      // intersect-all rewrite
    "q30_over_rank",      // window functions
    "q35_topn_per_key",   // rank + filter top-n
    "q46_unnest_words",   // explode + agg
    "q27_tpch_q5",        // 6-way join pipeline (TPC-H Q5 shape)
    "q29_tpch_q18",       // agg → HAVING → semi-join composition (Q18)
    "q85_tpch_q7",        // disjunctive nation-pair flows (Q7)
    "q52_window_session", // sessionization (2 window passes)
    "q54_asof_join",      // as-of via union+window
    "q59_asof_exec",      // as-of via the custom merge exec (same result)
    "q64_minhash_sig",    // minhash signatures
    "q66_ngram_jaccard",  // shingle self-join
    "q70_knn_brute",      // cosine top-k
    "q72_lsh_ann",        // LSH bucket ANN
    "q73_embed_neardup",  // cosine near-dup pairs
    "q76_repetition",     // token/2-gram repetition stats (2 shuffles)
    "q78_curate",         // filter → norm-dedup → quota, one plan
    "q79_simhash_neardup", // 64-bit simhash banded near-dup (production width)
    "q88_cep_nofollow",   // CEP NFA with negation over keyed event groups
    "q89_tpch_q4",        // EXISTS semi join with residual date condition
    "q91_tpch_q19",       // disjunctive multi-column predicate join
    "q100_tpch_q2",       // per-(part,supp) min-cost correlation (Q2)
    "q103_tpch_q9",       // profit decomposition, 4-way join (Q9)
    "q107_tpch_q21",      // decorrelated double-EXISTS (Q21)
    "q108_dup_span",      // duplicated-span coverage (shingle df rollup)
    "q111_ds_union_rollup", // multi-channel union → rollup (TPC-DS q5/q77)
    "q112_ds_yoy_selfjoin", // multi-alias YoY self-join (TPC-DS q64/q74)
    "q116_ds_rollup_rank",  // rank over rollup output (TPC-DS q67)
    // round-5/6 operator families (added r7 so BENCH_rN sees them;
    // the 32 rows above stay untouched for round-over-round compare)
    "q210_bloom_decontaminate", // distributed bloom build + codegen prefilter
    "q211_pq_ann",          // product-quantized ANN (ADC as a LUT join)
    "q214_surprisal_score", // LM surprisal (corpus LM + per-doc rollup)
    "q220_token_budget_select", // histogram-bounded budget selection
    "q231_dup_spans_maximal", // Lee-et-al maximal dup spans (anchor merge)
    "q242_avro_roundtrip",  // avro DSv2 write + read back (container codec)
    // round-7 Gaussian statistics family
    "q261_gaussian_outliers", // moments fit + scan-speed Mahalanobis tail
    "q262_dim_correlation",   // fused Gram-moment pair rollup (gram_moments)
    // round-8 additions
    "q268_ivfpq_exact",       // composed IVF+PQ ANN through the ML pipeline
    "q270_fluent_pipeline",   // fluent Table-API string-expression path
    "q279_bm25_topk",         // BM25 posting-list retrieval
    "q280_winnow_dedup",      // winnowing fingerprints + df-capped pairs
    // round-9 additions
    "q288_fluent_over",       // chained fluent OVER windows, one exchange
    "q290_bpe_encode",        // BPE corpus tokenization (train + encode + join back)
    "q291_dup_span_witness",  // maximal dup spans with df-capped witnesses
    "q298_cms_heavy_hitters", // relational count-min sketch + probe join
    "q299_entropy_gate",      // char+word Shannon-entropy quality gates
    "q300_zorder_layout",     // Morton-key clustering + bbox pruning
    "q304_unigram_em",        // unigram-LM hard-EM trainer (2 rounds)
    // round-10 additions
    "q309_unigram_prune",     // EM + vocab pruning to target size
    "q310_zorder_prune",      // z-order written layout, real scan pruning
    "q311_scd2_asof",         // CDC changelog → SCD2 dim → as-of probes
    "q312_ivfpq_delete",      // tombstoned deletes + list compaction
    "q313_cms_stream",        // count-min sketch as streaming state
    "q314_zorder_optimize",   // incremental OPTIMIZE of appended deltas
    "q315_backoff_lm",        // stupid-backoff bigram LM, held-out scored
    // round-11 additions
    "q319_manifest_timetravel", // snapshot-pinned reads through the manifest
    "q322_kll_cube",          // mergeable KLL quantile sketch cube
    "q325_ivf_rebalance",     // hot-list 2-means split, partition-local
    "q328_manifest_merge",    // copy-on-write MERGE, touched files only
    "q329_theta_setops",      // theta/KMV sketch set algebra
    "q330_kneser_ney",        // interpolated KN bigram LM, held-out scored
    // round-12 additions (built at the end of r11, first benched r12;
    // existing entries above stay untouched for round-over-round compare)
    "q336_manifest_stream",   // exactly-once streaming table ingestion
    "q337_manifest_cdc",      // +/- row-image changelog across merge/delete
    "q338_manifest_delete",   // merge-on-read delete vectors + OPTIMIZE
    "q339_adaptive_salt_join", // histogram-driven per-key salt fan-out
    "q340_curation_pipeline", // 5-stage curation capstone over manifests
    // round-13 addition (VERDICT r12 item 4: the residual-IVFADC rows
    // were oracle-covered but unbenched; existing entries above stay
    // untouched for round-over-round compare)
    "q277_ivfadc_residual")   // residual-encoding IVFADC search

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.builder(cpus, "graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Parallel-efficiency capture (r13, VERDICT r12 item 6): at sf0.1
    // every query sits at the per-job overhead floor, so wall-clock
    // scaling across core counts cannot show whether the operators
    // parallelize — but Σ executor task run time / wall CAN. A listener
    // collects (finishTime, executorRunTime) per task; afterwards each
    // task is bucketed into the timed interval it finished in, and the
    // SIDECAR json (never the driver-parsed stdout line, which stays
    // format-identical) gains "task_sec" per query for the pass that
    // produced the reported min. Cost in the timed path: one queue
    // append per task.
    val taskEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          if (e.taskMetrics != null && e.taskInfo != null)
            taskEvents.add((e.taskInfo.finishTime, e.taskMetrics.executorRunTime))
          ()
        }
      })
    val intervals = new scala.collection.mutable.ArrayBuffer[(String, Long, Long, Double, Long)]()

    // SPARK_GRAFT_BENCH_SKIP: comma-separated names to exclude (used
    // by the soak run, whose generated dir has no embeddings table).
    val skipped = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_QUERIES=all → the COMPLETE catalog (full-catalog
    // soak sweeps); default = the headline set (driver contract).
    val base =
      if (sys.env.get("SPARK_GRAFT_QUERIES").contains("all"))
        SparkEntry.queries.keys.toSeq.sorted
      else headline
    val names = base.filter(SparkEntry.queries.contains).filterNot(skipped)
    names.foreach(run) // warm-up pass (untimed)
    // Codegen compilations so far in this JVM (the driver and the local
    // executors share one codegen cache).
    def compiles: Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timed(name: String): Double = {
      val w0 = System.currentTimeMillis(); val c0 = compiles
      val t0 = System.nanoTime(); run(name)
      val sec = (System.nanoTime() - t0) / 1e9
      intervals += ((name, w0, System.currentTimeMillis(), sec, compiles - c0))
      sec
    }
    // Timed passes (SPARK_GRAFT_RUNS, default 3), min per query.
    // Passes are interleaved (all queries, then all again) so a
    // multi-second host stall window cannot cover every measurement of
    // the same query — the host shows bursty multi-minute load windows
    // (see env notes).
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val passes = (1 to nRuns).map(_ => names.map(timed))
    val results = names.zipWithIndex
      .map { case (n, i) => n -> passes.map(_(i)).min }
    // ms precision everywhere the line is concerned: r9's full-double
    // 51-query line outgrew the driver's tail-capture window and the
    // official artifact parsed null — the emitted line must stay SHORT
    // as the catalog grows (full precision lives in the sidecar file).
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and
    // a comma-decimal locale (de_DE, …) would emit invalid JSON — the
    // exact artifact-parse failure class this line was rewritten for.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qJson(f: Double => String): String = results
      .map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // regression self-report: quiet-baseline budgets scaled by the
    // measured median catalog drift (host load), so BENCH_rN carries
    // its own regression verdict without false-breaching under load
    val breaches = BenchBudgets.breaches(sfDir, results)
    val drift = BenchBudgets.driftScale(results)
    val driftRaw = BenchBudgets.driftRaw(results)
    // a raw drift past the cap is itself a reportable event: either a
    // pathologically loaded host or a catalog-wide regression — the
    // capped scale keeps budgets honest, the warn flag keeps it loud
    val driftWarn = driftRaw > BenchBudgets.driftCap
    if (driftWarn)
      System.err.println(f"[bench] DRIFT WARN: raw catalog drift $driftRaw%.2f exceeds cap ${BenchBudgets.driftCap}%.2f — loaded host or catalog-wide slowdown")
    breaches.foreach { case (n, t, b) =>
      System.err.println(f"[bench] BUDGET BREACH: $n took $t%.2f s (budget $b%.2f s at drift $drift%.2f)")
    }
    def breachJson(f: Double => String): String = breaches.map { case (n, t, b) =>
      s"""{"query":"$n","sec":${f(t)},"budget":${f(b)}}""" }.mkString("[", ",", "]")
    def lineOf(f: Double => String): String =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":${qJson(f)},"budget_breaches":${breachJson(f)},"drift_scale":${f(drift)},"drift_raw":${f(driftRaw)},"drift_warn":$driftWarn,"sf":"$sfDir"}"""
    val line = lineOf(ms)
    // Σ executor task seconds within the interval of each query's
    // min-wall pass (listener bus drained first); task_sec / wall is
    // the query's average executor concurrency.
    Thread.sleep(800)
    val events = {
      import scala.jdk.CollectionConverters._
      taskEvents.iterator().asScala.toArray.sortBy(_._1)
    }
    val best = results.flatMap { case (n, _) =>
      intervals.filter(_._1 == n).minByOption(_._4).map(n -> _) }.toMap
    val taskSec: Map[String, Double] = best.map { case (n, (_, w0, w1, _, _)) =>
      n -> events.iterator.filter(e => e._1 >= w0 && e._1 <= w1)
        .map(_._2).sum / 1000.0
    }
    def perQuery(v: String => String): String = results
      .map { case (k, _) => "\"" + k + "\":" + v(k) }.mkString("{", ",", "}")
    // Full-precision sidecar for local tooling / round-over-round diffs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      val sidecar = lineOf(_.toString).stripSuffix("}") +
        s""","task_sec":${perQuery(k => taskSec.getOrElse(k, 0.0).toString)}""" +
        s""","codegen_compiles":${perQuery(k => best.get(k).fold(0L)(_._5).toString)}}"""
      java.nio.file.Files.writeString(p, sidecar + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // Stop Spark BEFORE printing so no executor/log line can land after
    // the metrics line: the driver parses the process tail for a bare
    // JSON line. Emit on BOTH streams (run/outputStrategy in build.sbt
    // passes them through unprefixed) as the final output.
    spark.stop()
    System.out.flush(); System.err.flush()
    System.err.println(line)
    println(line)
    System.out.flush()
  }
}
