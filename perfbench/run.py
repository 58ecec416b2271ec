#!/usr/bin/env python3
"""graft end-to-end benchmark.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. One run:

1. builds the engine and the benchmark's JVM harness from source with sbt
   (`perfbench/build.sbt`), unless a build of the same sources exists;
2. checks the input tables, a copy of the shared sf 0.01 testdata in
   `perfbench/testdata/sf0.01`, against their checksum list and, for
   `corpus_4x`, makes a 4x `graft.SoakData` replica of them, cached under
   `perfbench/data/` and checked against its own checksum list before reuse;
3. starts a fresh JVM with `GraftSession.builder(nproc)`, which runs a cold
   pass that also writes every output as parquet, an uncounted warm-up
   pass, then warm passes for `--seconds` (see `PerfBench.scala`); `--seed` permutes the query order
   of every pass;
4. compares the cold pass's outputs with their DuckDB oracle through
   `tools/check_oracle.py`;
5. writes a sidecar to `perfbench/out/` (host noise, replica generation
   time, samples and, with `--trace 1`, per-layer metrics and spans) and
   prints the result as the last stdout line.

Every JVM gets a private `java.io.tmpdir` under `perfbench/work/`; what the
queries leave there is measured (`scratch.*`) and then deleted. The exit
code is non-zero if any query threw or disagreed with its oracle.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_HOME = os.environ.get("SPARK_HOME") or "/opt/spark"  # the Spark install to run on
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
CORES = os.cpu_count() or 4

# The tables are fixed (data seed 42); --seed only orders the queries.
BASE = os.path.join(HERE, "testdata", "sf0.01")
REPLICA_REPS = 4
MIN_PASSES = 2   # warm passes even when --seconds runs out first

# Name -> (data dir, queries). BENCHMARK.json gates corpus_4x and ingest;
# relational runs the same way on demand. NOTES.md says why each query is
# in, and which ones the run-time budget left out.
WORKLOADS = {
    # Planner- and scheduler-bound: Catalyst planning, AQE, broadcast
    # choice, job scheduling.
    "relational": ("base", [
        "q01_agg_basic", "q04_grouping_sets", "q10_join_star",
        "q11_join_left", "q21_setop_all", "q27_tpch_q5", "q29_tpch_q18",
        "q30_over_rank", "q35_topn_per_key", "q52_window_session",
        "q54_asof_join", "q59_asof_exec", "q85_tpch_q7", "q89_tpch_q4",
        "q91_tpch_q19", "q100_tpch_q2", "q103_tpch_q9", "q107_tpch_q21",
        "q111_ds_union_rollup", "q112_ds_yoy_selfjoin",
        "q116_ds_rollup_rank", "q270_fluent_pipeline", "q288_fluent_over"]),
    # Executor-bound, on the 4x replica: shingle/explode shuffle and
    # self-join, the fused PQ kernel, a pair-product (dot product) rollup.
    "corpus_4x": ("corpus_4x", [
        "q66_ngram_jaccard", "q211_pq_ann", "q262_dim_correlation"]),
    # Write path: a manifest-table create and merge commit, whose four
    # staging writes overlap through graft.Par, and a Structured
    # Streaming replay (maxFilesPerTrigger=1, four epochs) with state.
    "ingest": ("base", ["q328_manifest_merge", "q313_cms_stream"]),
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def checksums(*tops, rel=ROOT):
    """{path relative to `rel`: sha256} of each file under the tops
    (directories or single files)."""
    sums = {}
    for top in tops:
        files = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
        for p in files:
            with open(p, "rb") as fh:
                sums[os.path.relpath(p, rel)] = hashlib.sha256(fh.read()).hexdigest()
    return sums


def data_sums(d):
    """Checksums of the data files in `d`, by path relative to `d`."""
    return {k: v for k, v in checksums(d, rel=d).items()
            if k not in ("SHA256SUMS", "GEN.json")}


def sums_ok(d):
    """Whether `d` matches its `SHA256SUMS` list (`sha256sum` format)."""
    try:
        with open(os.path.join(d, "SHA256SUMS")) as f:
            listed = dict(reversed(line.rstrip("\n").split("  ", 1)) for line in f)
    except FileNotFoundError:
        return False
    return listed == data_sums(d)


def run_proc(cmd, timeout, **kw):
    """Run to completion in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        kill(p)
        raise


def kill(p):
    try:
        os.killpg(p.pid, 9)
    except ProcessLookupError:
        pass
    p.wait()


# ---------------------------------------------------------------- build

def build():
    digest = json.dumps(checksums(
        os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties")), sort_keys=True)
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=SPARK_HOME)
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as lf:
        rc = run_proc(["sbt", "-batch", "-Dsbt.log.noformat=true",
                       "Compile / products"],
                      840, cwd=HERE, env=env, stdout=lf, stderr=lf,
                      stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"sbt compile failed (rc={rc}); see perfbench/out/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)


# ----------------------------------------------------------------- data

def cached(name, make):
    """Data dir `name`, regenerated by `make(dir)` unless its checksum
    list matches. Returns (dir, generation record)."""
    d = os.path.join(DATA, name)
    if sums_ok(d):
        with open(os.path.join(d, "GEN.json")) as g:
            return d, dict(json.load(g), reused=True)
    if os.path.exists(d):
        log(f"data/{name}: checksum mismatch, regenerating")
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    make(d)
    gen = {"gen_s": time.time() - t0}
    with open(os.path.join(d, "SHA256SUMS"), "w") as f:
        f.writelines(f"{h}  {p}\n" for p, h in sorted(data_sums(d).items()))
    with open(os.path.join(d, "GEN.json"), "w") as f:
        json.dump(gen, f)
    return d, dict(gen, reused=False)


def make_replica(base):
    def make(d):
        with Scratch("replica") as s:
            rc = run_proc(java("graft.SoakData", s.tmp) + [base, d, str(REPLICA_REPS)],
                          600, cwd=s.path, stdout=s.log, stderr=s.log,
                          env=dict(os.environ, SPARK_GRAFT_CPUS=str(CORES)))
            if rc != 0:
                fail(f"graft.SoakData failed (rc={rc}); see {s.log.name}")
    return make


# ------------------------------------------------------------------ JVM

def java(main, tmp):
    return (["java"] + ADD_OPENS +
            ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*", main])


class Scratch:
    """A private working dir (JVM cwd, java.io.tmpdir, log) under work/."""

    def __init__(self, tag):
        os.makedirs(WORK, exist_ok=True)
        self.path = os.path.join(WORK, f"{tag}-{os.getpid()}")
        self.tmp = os.path.join(self.path, "tmp")

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.tmp)
        self.log = open(os.path.join(OUT, f"{os.path.basename(self.path)}.log"), "w")
        return self

    def leftovers(self):
        """(graft-* dirs, MB) the queries left in the private tmpdir."""
        dirs = [e for e in os.listdir(self.tmp) if e.startswith("graft-")]
        size = 0
        for sub, _, files in os.walk(self.tmp):
            for f in files:
                try:
                    size += os.lstat(os.path.join(sub, f)).st_size
                except OSError:
                    pass
        return len(dirs), size / 1e6

    def __exit__(self, *exc):
        self.log.close()
        shutil.rmtree(self.path, ignore_errors=True)
        if exc[0] is None:
            os.remove(self.log.name)
        return False


def jvm(args, s, timeout):
    """Run graftbench.PerfBench; return (seconds from start to its READY
    line, the READY fields, the RESULT json)."""
    t0 = time.perf_counter()
    p = subprocess.Popen(java("graftbench.PerfBench", s.tmp) + args, cwd=s.path,
                         stdout=subprocess.PIPE, stderr=s.log, text=True,
                         start_new_session=True)
    lines = {}

    def read():
        for line in p.stdout:
            key, _, rest = line.partition(" ")
            if key in ("READY", "RESULT"):
                lines[key] = (time.perf_counter() - t0, rest)

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill(p)
        fail(f"JVM still running after {timeout} s; see {s.log.name}")
    except BaseException:
        kill(p)
        raise
    reader.join()
    if rc != 0 or "READY" not in lines or "RESULT" not in lines:
        fail(f"JVM exited with {rc}; see {s.log.name}")
    ready_s, fields = lines["READY"]
    return (ready_s, [float(x) for x in fields.split()],
            json.loads(lines["RESULT"][1]))


# --------------------------------------------------------------- checks

def host_noise():
    """Load average and cumulative steal time, for telling a disturbed run
    from a regression."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    hz = os.sysconf("SC_CLK_TCK")
    return {"time": time.time(), "loadavg": load,
            "steal_s": int(cpu[7]) / hz if len(cpu) > 7 else 0.0,
            "cpu_total_s": sum(int(x) for x in cpu[:8]) / hz}


def oracle_check(data_dir, out_dir, queries):
    """Per-query (verdict, line) from tools/check_oracle.py: PASS, FAIL or
    SKIP (no oracle SQL)."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data_dir, out_dir], capture_output=True, text=True,
                       timeout=60)
    verdicts = {}
    for line in r.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):?( |$)", line)
        if m:
            verdicts[m.group(2)] = (m.group(1), line)
    return {q: verdicts.get(q, ("FAIL", f"FAIL {q}: no oracle verdict"))
            for q in queries}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("java") is None or not os.path.isdir(SPARK_JARS):
        fail("needs java on PATH and SPARK_HOME pointing at a Spark install")
    if not sums_ok(BASE):
        fail("perfbench/testdata/sf0.01 does not match its SHA256SUMS")
    os.makedirs(OUT, exist_ok=True)
    build()

    data_name, queries = WORKLOADS[a.workload]
    data, gen = (BASE, None) if data_name == "base" else \
        cached(data_name, make_replica(BASE))

    noise0 = host_noise()
    tag = f"{a.workload}-seed{a.seed}" + ("-trace" if a.trace else "")
    spans_out = os.path.join(OUT, f"{tag}-spans.json")
    with Scratch("run") as s:
        verify = os.path.join(s.path, "verify")
        os.makedirs(verify)
        setup_s, (session_ms, tables_ms), res = jvm(
            ["--cores", str(CORES), "--data", data, "--queries", ",".join(queries),
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--min-passes", str(MIN_PASSES), "--trace", str(a.trace),
             "--verify-out", verify, "--spans-out", spans_out], s, 170)
        log(f"measuring JVM done at {time.time() - noise0['time']:.1f} s")
        verdicts = oracle_check(data, verify, queries)
        scratch_dirs, scratch_mb = s.leftovers()
    noise1 = host_noise()
    log(f"run done at {noise1['time'] - noise0['time']:.1f} s")

    # A query that threw in the cold pass has no output to check; its
    # failure is already among the errors.
    threw = {e["query"] for e in res["errors"] if e["pass"] == 0}
    bad = [line for q, (v, line) in verdicts.items() if v == "FAIL" and q not in threw]
    errors = [f'{e["query"]} (pass {e["pass"]}): {e["error"]}' for e in res["errors"]]
    failed = len(errors) + len(bad)
    attempted = res["attempted"]
    for e in errors + bad:
        log(e)
    passes = 2 + len(res["pass_s"]) + len(res["traced_pass_s"])
    e2e = {
        "pass_s": median(res["pass_s"]),
        "cold_pass_s": res["cold_pass_s"],
        "setup_s": setup_s,
        "cpu_s": median(res["cpu_s"]),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = {}
    if a.trace:
        layers = dict(res["layers"])
        layers["session.start_ms"] = session_ms
        layers["tables.load_ms"] = tables_ms
        layers["scratch.dirs"] = scratch_dirs / passes
        layers["scratch.mb"] = scratch_mb / passes
        layers["trace.overhead_frac"] = (
            median(res["traced_pass_s"]) / median(res["pass_s"]) - 1)
    # The result line carries the metrics BENCHMARK.json lists, with its
    # units; the sidecar keeps every layer metric.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}

    sidecar = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "queries": queries, "cores": CORES,
        "data": {"dir": os.path.relpath(data, ROOT), "generation": gen},
        "host": {"start": noise0, "end": noise1},
        "samples": {"setup_s": setup_s, "pass_s": res["pass_s"],
                    "cpu_s": res["cpu_s"], "traced_pass_s": res["traced_pass_s"],
                    "jit_ms": res["jit_ms"], "gc_ms": res["gc_ms"],
                    "cold_pass_s": res["cold_pass_s"]},
        "end_to_end": e2e,
        "scratch": {"dirs": scratch_dirs, "mb": scratch_mb, "passes": passes},
        "failed_frac": failed / attempted,
        "oracle": {q: v[0] for q, v in verdicts.items()},
        "errors": errors + bad,
        "layers": layers,
    }
    if a.trace:
        with open(spans_out) as f:
            sidecar["spans"] = json.load(f)
        os.remove(spans_out)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
