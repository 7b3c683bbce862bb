#!/usr/bin/env python3
"""Benchmark runner for the graft library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark harness from source with sbt (the library through its own
build) and caches the classpath under .bench_build/; later runs reuse it
while the sources are unchanged. The corpus for a seed is generated once
and cached there too.

One JVM runs the workload: it starts a local Spark session and runs a
warm pass several times (set-up), then runs passes back to back for
--seconds (the measured window). After it exits, every measured pass's
output is checked for correctness here. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the run also writes a span file (see README.md).
"""
import argparse
import hashlib
import json
import os
import random
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_corpus  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ("etl_wordstats", "dedup_corpus", "catalog_sf001", "ingest_tranches")
CORES = min(4, os.cpu_count() or 1)
# A fixed heap (initial = max), so every run collects garbage at the
# same heap size.
JVM_HEAP = "2g"
# a run must end within 180 s, and the first one, which builds, within 900 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from the checkout."""
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def run_bounded(cmd, cwd, log_path, timeout):
    """Run cmd to completion, output to a log; kill its whole process
    group if it overruns, and always wait for it to end."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def classpath():
    """Build (when the sources changed) and return the run classpath."""
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(f):
            fail("no library sources at %s; run from the repository root" % f)
    stamp = hashlib.sha256()
    for f in source_files():
        with open(f, "rb") as fh:
            stamp.update(f.encode() + b"\0" + fh.read())
    stamp = stamp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "export perfbench/Runtime/fullClasspath"],
                     HERE, log, BUILD_TIMEOUT_S)
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if l.startswith("/")]
    if rc != 0 or not lines:
        fail("build failed (rc=%d); see %s" % (rc, log))
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def cpu_steal(since=None):
    """Host CPU ticks and steal ticks (time this VM's CPUs were taken by
    the hypervisor); given an earlier reading, the steal share in %
    since it. High steal means the timings of that run are inflated."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    now = (sum(ticks), ticks[7] if len(ticks) > 7 else 0)
    if since is None:
        return now
    return round(100.0 * (now[1] - since[1]) / max(1, now[0] - since[0]), 2)


def catalog_order(seed):
    with open(os.path.join(HERE, "catalog_certified.json")) as f:
        certified = json.load(f)["queries"]
    order = sorted(certified)
    random.Random(seed).shuffle(order)
    return order, certified


def tail(samples):
    """The highest whole percentile with at least ten samples beyond it
    (nearest-rank), as (percentile, value). With too few samples for a
    tail at or above the median, the maximum stands in (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    pct = (100 * (n - 10)) // n if n > 10 else 0
    if pct < 50:
        return 100, xs[-1]
    rank = -(-pct * n // 100)  # ceil(pct * n / 100)
    return pct, xs[rank - 1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(BUILD, "runs", args.workload)
    gen_corpus.rmtree(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"))

    jvm_args = ["--workload", args.workload, "--out", run_dir, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cores", str(CORES)]
    truth = None
    if args.workload == "catalog_sf001":
        order, certified = catalog_order(args.seed)
        jvm_args += ["--data", FIXTURES, "--queries", ",".join(order)]
        input_mb = sum(os.path.getsize(os.path.join(FIXTURES, f))
                       for f in os.listdir(FIXTURES)) / 1e6
    else:
        corpus = os.path.join(BUILD, "corpus", "seed_%d" % args.seed)
        truth = gen_corpus.ensure(corpus, args.seed)
        jvm_args += ["--data", corpus]
        part = {"etl_wordstats": "etl", "dedup_corpus": "dedup",
                "ingest_tranches": "ingest"}[args.workload]
        input_mb = truth["input_bytes"][part] / 1e6

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # the JIT compiler threads stay alive, so cpu_s can leave out their CPU
    cmd = [java, "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP, "-XX:-UseDynamicNumberOfCompilerThreads",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"), "-cp", cp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["perfbench.Main"] + jvm_args
    steal0 = cpu_steal()
    rc = run_bounded(cmd, ROOT, os.path.join(run_dir, "jvm.log"), RUN_TIMEOUT_S)
    steal = cpu_steal(steal0) if steal0 else None
    if rc != 0:
        fail("benchmark JVM exited with %d; see %s" % (rc, os.path.join(run_dir, "jvm.log")))
    with open(os.path.join(run_dir, "run.json")) as f:
        rec = json.load(f)

    # correctness: every measured pass's output, untimed
    passes = rec["passes"]
    results = []
    for p in passes:
        if not p["ok"]:
            continue
        if args.workload == "etl_wordstats":
            results.append(checks.check_wordstats(p["dir"], truth["etl"]))
        elif args.workload == "dedup_corpus":
            results.append(checks.check_dedup(p["dir"], truth["dedup"]))
        elif args.workload == "ingest_tranches":
            results.append(checks.check_ingest(p["dir"], truth["ingest"]))
        else:
            results += checks.check_catalog(p["ops"], certified)
    pass_results = list(results)
    if args.trace and args.workload == "etl_wordstats" and passes[-1]["ok"]:
        # the traced run's companion dedup and ingest passes
        probe_dir = passes[-1]["dir"]
        results.append(checks.check_dedup(os.path.join(probe_dir, "dedup"), truth["dedup"]))
        results.append(checks.check_ingest(os.path.join(probe_dir, "ingest"), truth["ingest"]))
    bad = [r for r in results if not r["ok"]]
    # rec["errors"] holds the exception of each pass that is not ok
    failed = sum(1 for p in passes if not p["ok"]) + len(bad)
    attempted = len(passes) + len(results)
    for r in bad[:10]:
        print("check failed: " + json.dumps(r), file=sys.stderr)
    for e in rec["errors"][:10]:
        print("error: " + e, file=sys.stderr)

    ok = [p for p in passes if p["ok"]]
    if not ok:
        fail("no pass completed; see %s" % os.path.join(run_dir, "jvm.log"))
    run_s = statistics.median(p["seconds"] for p in ok)
    op_s = [o["seconds"] for p in ok for o in p["ops"]]
    tail_pct, tail_s = tail(op_s)
    recalls = [r["pair_recall"] for r in results if "pair_recall" in r]
    e2e = {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "run_s": (run_s, "s"),
        "input_mb_s": (input_mb / run_s, "MB/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in ok), "s"),
        "heap_after_gc_mb": (statistics.median(
            mb for p in ok for mb in p["heap_after_gc_mb"]), "MB"),
    }
    # The full record, before the result line: includes the numbers that
    # are not end-to-end metrics of the contract (they can be 0, or only
    # exist on some workloads).
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "ops": len(op_s),
        "error_rate": failed / attempted,
        "op_s_p50": statistics.median(op_s),
        "op_s_tail": {"value": tail_s, "percentile": tail_pct, "samples": len(op_s)},
        "pair_recall": min(recalls) if recalls else None,
        "setup_runs_s": rec["setup_s"],
        "host_steal_pct": steal,
    }
    print("record " + json.dumps(record))
    if args.trace:
        metrics = layer_metrics(args, rec, pass_results, truth, input_mb, run_s)
        print("spans " + os.path.join(run_dir, "spans.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print("metric %s %s %s" % (k, m["value"], m["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def layer_metrics(args, rec, results, truth, input_mb, run_s):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    layers = dict(rec.get("layers", {}))
    stats = [r for r in results if "rows" in r]
    if args.workload == "etl_wordstats" and stats:
        rows = statistics.median(r["rows"] for r in stats)
        layers["operators.wordstats.tokens"] = truth["etl"]["tokens"]
        layers["operators.wordstats.rows_out"] = rows
        layers["operators.wordstats.out_per_token"] = rows / truth["etl"]["tokens"]
    if args.workload in ("etl_wordstats", "dedup_corpus", "ingest_tranches"):
        layers["sources.input_mb"] = input_mb
    sunk = [r for r in results if "files_out" in r]
    if sunk:
        layers["sinks.files_out"] = statistics.median(r["files_out"] for r in sunk)
        layers["sinks.bytes_out_per_in"] = \
            statistics.median(r["bytes_out"] for r in sunk) / (input_mb * 1e6)
    cand = layers.get("operators.neardup.candidates", 0)
    if cand:
        layers["operators.neardup.confirm_yield"] = \
            layers.get("operators.neardup.confirmed", 0) / cand
    layers["trace.run_s"] = run_s
    return {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec}


if __name__ == "__main__":
    main()
