package graft

/** The bench regression gate as a red test (opt-in): runs the headline
  * set at sf0.1 through the same warm-up + min-of-passes methodology as
  * [[Bench]] and fails on any [[BenchBudgets]] breach.
  *
  * Opt-in via GRAFT_BENCH_GATE=1 — wall-time assertions on a loaded
  * shared host would flake the correctness suite, so the default run
  * only exercises the budget BOOKKEEPING (breach detection logic),
  * which is deterministic.
  */
class BenchGateSpec extends SparkSpec {

  test("breach detection flags over-budget queries and only at sf0.1") {
    // rest of the catalog at baseline (drift scale 1), one outlier,
    // one unknown name: only the outlier breaches
    val fake = BenchBudgets.sf01QuietMin.toSeq.map { case (n, q) =>
      n -> (if (n == "q01_agg_basic") 100.0 else q) } :+ ("q_unknown" -> 999.0)
    val b = BenchBudgets.breaches("/root/testdata/sf0.1", fake)
    assert(b.map(_._1) == Seq("q01_agg_basic")) // unknown names exempt
    assert(BenchBudgets.breaches("/root/testdata/sf0.01", fake).isEmpty)
  }

  test("uniform host-load drift is normalized out; a lone regression is not") {
    // every query 2x its quiet min = pure load: the raw drift is the
    // full 2x but the SCALE is capped (a catalog-wide slowdown must
    // stay visible — ADVICE r10); zero breaches still holds because
    // headroom 1.4 x cap 1.5 = 2.1 > 2.0
    val uniform = BenchBudgets.sf01QuietMin.toSeq.map {
      case (n, q) => n -> q * 2.0 }
    assert(math.abs(BenchBudgets.driftRaw(uniform) - 2.0) < 1e-9)
    assert(math.abs(BenchBudgets.driftScale(uniform)
      - BenchBudgets.driftCap) < 1e-9)
    assert(BenchBudgets.breaches("/root/testdata/sf0.1", uniform).isEmpty)
    // …and a 3x catalog-wide slowdown DOES breach through the cap
    val broad = BenchBudgets.sf01QuietMin.toSeq.map {
      case (n, q) => n -> q * 3.0 }
    assert(BenchBudgets.breaches("/root/testdata/sf0.1", broad).nonEmpty,
      "the drift cap must keep catalog-wide regressions visible")
    // one query 4x while the rest sit at baseline: only it breaches
    val lone = BenchBudgets.sf01QuietMin.toSeq.map { case (n, q) =>
      n -> (if (n == "q10_join_star") q * 4.0 else q) }
    assert(BenchBudgets.breaches("/root/testdata/sf0.1", lone)
      .map(_._1) == Seq("q10_join_star"))
    // a faster-than-baseline host must not mask a regression
    assert(BenchBudgets.driftScale(
      BenchBudgets.sf01QuietMin.toSeq.map { case (n, q) => n -> q * 0.5 }) == 1.0)
  }

  test("budgets cover the whole headline set") {
    val missing = Bench.headline.filterNot(BenchBudgets.sf01QuietMin.contains)
    // ONLY post-baseline additions may lack budgets — a silently
    // dropped or misspelled budget would exempt that query from the gate
    val exemptUntilRebaseline = Set("q277_ivfadc_residual") // added r13; first baseline at the end-of-round quiet session
    assert(missing.toSet.subsetOf(exemptUntilRebaseline),
      s"headliners without budgets: ${missing.filterNot(exemptUntilRebaseline)}")
    assert(BenchBudgets.sf01QuietMin.size >= 50, "budget table truncated")
  }

  test("wall-time gate: headline set stays inside budget (GRAFT_BENCH_GATE=1)") {
    assume(sys.env.get("GRAFT_BENCH_GATE").contains("1"),
      "opt-in: set GRAFT_BENCH_GATE=1 on a quiet host")
    // budgets were taken at local[32]: run THIS suite alone
    // (`sbt "testOnly graft.BenchGateSpec"`) so no earlier suite has
    // pinned a 4-core session into the JVM
    val benchSpark = GraftSession.builder(cores = 32, appName = "graft-bench-gate")
      .getOrCreate()
    assume(benchSpark.sparkContext.defaultParallelism >= 16,
      "another suite's small session is active; run BenchGateSpec alone")
    val sfDir = "/root/testdata/sf0.1"
    val names = Bench.headline.filter(BenchBudgets.sf01QuietMin.contains)
    // the sbt-test JVM runs ~1.3-1.4x slower than the bare runner the
    // budgets were measured in (tools/run.sh: tuned -Xmx, /dev/shm
    // spark.local.dir, no sbt layer) — discount before comparing, so
    // the SPEC threshold is budget*1.4 while Bench's own self-report
    // (which runs in the measured environment) stays at the tight
    // budget
    val results = Harness.minOfPasses(names, 2)(Harness.noop(benchSpark, _, sfDir))
      .map(t => t.name -> t.sec / 1.4)
    val breaches = BenchBudgets.breaches(sfDir, results)
    assert(breaches.isEmpty, breaches.map { case (n, t, b) =>
      f"$n: $t%.2f s > budget $b%.2f s" }.mkString("; "))
  }
}
