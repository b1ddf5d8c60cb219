#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (into `.bench_build/`); later runs reuse
the build while the sources are unchanged. The run generates its corpus
from the seed, starts one JVM that sets up, measures and checks, and
prints end-to-end metrics (`--trace 0`) or per-layer metrics
(`--trace 1`) as the last line of standard output. See README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import corpus  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# Workload sizes. A run must finish well inside its time budget on a
# 4-core box, so the corpora are smaller than a production crawl; the
# sizes are recorded in every result's environment stamp.
SEARCH_DOCS = 10000
INGEST_DOCS = 1500
REQUESTS = 1000
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("search", "ingest")
INGEST_STEPS = ("cleanse", "extract", "quality", "near_dup", "semantic_dup", "index", "store")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the repository root."""
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def build():
    """Compile engine plus benchmark once per source state; return the
    runtime classpath."""
    srcs = source_files()
    if not any(f.endswith(".scala") and "/perfbench/" not in f for f in srcs) \
            or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: engine sources not found; run from the repository root")
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "sbt.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, env=env,
            timeout=BUILD_TIMEOUT_S)
    out_lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not out_lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed (see .bench_build/sbt.log)")
    classpath = out_lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classpath, work, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", "-XX:MetaspaceSize=512m",
           "-XX:SoftRefLRUPolicyMSPerMB=0", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", "--work", work] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: JVM timed out (see jvm.log)")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(result) as f:
        return json.load(f)


def latencies(ops):
    return [o["ms"] if o["ok"] else math.inf for o in ops]


def end_to_end(workload, res, man):
    ops = res["ops"]
    lat = latencies(ops)
    busy_s = sum(o["ms"] for o in ops) / 1000
    ok = sum(1 for o in ops if o["ok"])
    setup = res["session_start_s"] + statistics.median(res["setup_reps_s"])
    if workload == "search":
        units = ok
        stored = res["detail"]["index_bytes"]
    else:
        units = ok * man["docs"]
        stored = statistics.median(p["bytes_written"] for p in res["detail"]["passes"])
    return {
        "setup_s": (setup, "s"),
        "latency_p50_ms": (stats.percentile(lat, 0.5), "ms"),
        "latency_p90_ms": (stats.percentile(lat, 0.9), "ms"),
        "throughput_per_s": (units / busy_s, "1/s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
        "store_bytes_per_src_byte": (stored / man["text_bytes"], "ratio"),
    }


def per_layer(workload, res, mismatches):
    """Per-layer metrics from the traced operations of a traced run; the
    untraced ones count only toward `failed_ratio` and the overhead."""
    ops = [o for o in res["ops"] if o["traced"]]
    n = len(ops)
    spans = res["spans"]
    self_ms = stats.self_times(spans)

    def total(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name)

    sched = res["scheduler"]
    # codegen and file-listing deltas, summed over the top-level spans (a
    # request or an ingest step), which enclose every call into the engine
    counters = {}
    for s in spans:
        if s["parent"] == 0:
            for k, v in s["counts"].items():
                counters[k] = counters.get(k, 0) + v
    jvm = res["jvm"]
    mb = 1024 * 1024
    m = {
        "operators.build_ms": (total("operators.build") / n, "ms/op"),
        "catalyst.analysis_ms": (total("catalyst.analysis") / n, "ms/op"),
        "catalyst.optimization_ms": (total("catalyst.optimization") / n, "ms/op"),
        "catalyst.planning_ms": (total("catalyst.planning") / n, "ms/op"),
        "catalyst.graft_rules_ms": (res["graft_rules_ns"] / 1e6 / n, "ms/op"),
        "codegen.compiles": (counters.get("codegen.compiles", 0) / n, "count/op"),
        "codegen.compile_ms": (counters.get("codegen.compiles", 0) *
                               res["codegen_compile_mean_ms"] / n, "ms/op"),
        "tables.files_discovered": (counters.get("tables.files_discovered", 0) / n, "count/op"),
        "tables.file_cache_hits": (counters.get("tables.file_cache_hits", 0) / n, "count/op"),
        "exec.jobs": (sched.get("exec.jobs", 0) / n, "count/op"),
        "exec.stages": (sched.get("exec.stages", 0) / n, "count/op"),
        "exec.tasks": (sched.get("exec.tasks", 0) / n, "count/op"),
        "exec.job_ms": (total("exec.job") / n, "ms/op"),
        "driver.gap_ms": (sum(self_ms[s["id"]] for s in spans if s["name"] == "action") / n,
                          "ms/op"),
        "exec.task_run_s": (sched.get("exec.task_run_ms", 0) / 1e3 / n, "s/op"),
        "exec.task_cpu_s": (sched.get("exec.task_cpu_ns", 0) / 1e9 / n, "s/op"),
        "exec.gc_s": (sched.get("exec.gc_ms", 0) / 1e3 / n, "s/op"),
        "exec.input_mb": (sched.get("exec.input_bytes", 0) / mb / n, "MB/op"),
        "exec.shuffle_read_mb": (sched.get("exec.shuffle_read_bytes", 0) / mb / n, "MB/op"),
        "exec.shuffle_write_mb": (sched.get("exec.shuffle_write_bytes", 0) / mb / n, "MB/op"),
        "exec.spill_mb": (sched.get("exec.spill_bytes", 0) / mb / n, "MB/op"),
        "jvm.gc_s": (jvm["gc_ms"] / 1e3 / n, "s/op"),
        "jvm.jit_ms": (jvm["jit_ms"] / n, "ms/op"),
        "jvm.heap_peak_mb": (jvm["heap_peak_mb"], "MB"),
        "failed_ratio": (stats.failed_ratio(len(res["ops"]),
                                            sum(not o["ok"] for o in res["ops"]), mismatches),
                         "ratio"),
        "trace.overhead_pct": (stats.paired_overhead_pct(res["ops"]), "%"),
        "setup.first_s": (res["session_start_s"] + res["setup_reps_s"][0], "s"),
    }

    detail = res["detail"]
    kinds = {k: [] for k, _ in corpus.REQUEST_TERMS}
    for o in ops:
        if o["kind"] in kinds:
            kinds[o["kind"]].append(o["ms"] if o["ok"] else math.inf)
    for k, v in kinds.items():
        m[f"search.{k}_p50_ms"] = (stats.percentile(v, 0.5) if v else 0.0, "ms")
    passes = [p for p in detail.get("passes", []) if p["cold"] and p["traced"]]
    for step in INGEST_STEPS:
        m[f"ingest.{step}_s"] = (
            statistics.median(p["steps_s"][step] for p in passes) if passes else 0.0, "s")
    m["text_index.bytes"] = (detail["index_bytes"], "B")
    m["text_index.ensure_ms"] = (detail["ensure_ms"], "ms")
    if workload == "search":
        m["text_index.build_s"] = (detail["index_build_s"], "s")
        m["text_index.rewrite_ratio"] = (detail["index_reads"] / n, "ratio")
        built, served, written = len(detail["stores_built"]), len(detail["stores_served"]), 0
    else:
        m["text_index.build_s"] = m["ingest.index_s"]
        m["text_index.rewrite_ratio"] = (0.0, "ratio")
        built, served, written = (
            statistics.median(f(p) for p in passes) if passes else 0
            for f in (lambda p: len(p["stores_built"]), lambda p: len(p["stores_served"]),
                      lambda p: p["bytes_written"]))
    m["stores.built"] = (built, "count")
    m["stores.served"] = (served, "count")
    m["stores.bytes_written"] = (written, "B")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    docs = SEARCH_DOCS if a.workload == "search" else INGEST_DOCS
    corpus_dir, man = corpus.materialize(os.path.join(BUILD, "corpus"), docs, a.seed)
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--corpus", corpus_dir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--seed", str(a.seed)]
    if a.workload == "search":
        req_file = os.path.join(work, "requests.tsv")
        with open(req_file, "w") as f:
            for r in corpus.requests(man["vocab"], REQUESTS):
                f.write(f"{r['type']}\t{' '.join(r['terms'])}\n")
        args += ["--requests", req_file]

    t = time.time()
    res = run_jvm(classpath, work, args)
    log(f"jvm finished in {time.time() - t:.1f} s: session {res['session_start_s']:.1f} s, "
        f"set-ups {[round(x, 1) for x in res['setup_reps_s']]} s, {len(res['ops'])} operations")

    t = time.time()
    con = oracle.connect(corpus_dir)
    chk = res["check"]
    if a.workload == "search":
        bad = oracle.check_search(con, chk["search"])
        n_checks = len(chk["search"])
    else:
        bad = oracle.check_oracle(con, ROOT, os.path.join(work, "check"), chk["oracle"])
        n_checks = len(chk["oracle"])
    log(f"checked {n_checks} outputs in {time.time() - t:.1f} s")
    for b in bad:
        log(f"check failed: {b}")

    ops = res["ops"]
    failed_ops = sum(1 for o in ops if not o["ok"])
    metrics = end_to_end(a.workload, res, man) if a.trace == 0 \
        else per_layer(a.workload, res, len(bad))
    tail = stats.tail_percentile(len(ops))
    stamp = dict(res["env"], seed=a.seed, workload=a.workload, commit=git_commit(),
                 corpus_docs=man["docs"], corpus_text_bytes=man["text_bytes"],
                 corpus_parquet_bytes=man["parquet_bytes"], corpus_digest=man["digest"],
                 samples=len(ops), tail_percentile=tail, checks=n_checks,
                 seconds=a.seconds)
    with open(os.path.join(work, "stamp.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    log("environment: " + json.dumps(stamp))
    print(json.dumps({
        "correct": not bad and failed_ops == 0,
        "attempted": len(ops),
        "failed": failed_ops + len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
