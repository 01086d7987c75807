#!/usr/bin/env python3
"""Benchmark of the Athena-CLI engine: one workload per invocation.

    python3 perfbench/run.py --workload vimdiff --seed 1 --seconds 4 --trace 0

Builds the engine and the benchmark harness from source (cached in
.bench_build/ by a hash of the sources), runs one JVM that registers the
test corpus in perfbench/data, sets up, warms up and measures the
workload, checks every output against DuckDB, and prints the metrics.
The last line of standard output is one JSON object: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 160

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        fail("program sources (src/main/scala) not found; run from a full checkout")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                   recursive=True))


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars next to a
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("Spark jars not found: set SPARK_HOME")


def build(jars):
    """Compile the program and the harness with the Scala compiler that
    ships with Spark; reuse the classes while no source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    rc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]).returncode
    if rc != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("compilation failed")
    open(os.path.join(classes, ".complete"), "w").close()
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, base, work, args):
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", base, "--work", work])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    report = os.path.join(work, "report.json")
    if rc != 0 or not os.path.exists(report):
        with open(log, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"benchmark JVM failed ({rc})")
    with open(report) as f:
        return json.load(f)


def beyond(n, p):
    """Samples above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p * n))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["vimdiff", "cdc_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # turn SIGTERM into an exception so the JVM is reaped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    jars = spark_jars()
    if not os.path.exists(os.path.join(DATA, "orders.parquet")):
        fail(f"test corpus not found in {os.path.relpath(DATA, ROOT)}")
    classes = build(jars)
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import check

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rep = run_jvm(classes, jars, DATA, work, args)
        out = os.path.join(work, "out")
        bad = check.run(DATA, out, rep["checks"])
        if args.trace:
            shutil.copy(os.path.join(out, "trace.jsonl"),
                        os.path.join(BUILD, f"trace-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    reqs = rep["requests"]
    for r in reqs:
        if r["error"] is None and r["rid"] in bad:
            r["error"] = bad[r["rid"]]
    errors = [r for r in reqs if r["error"] is not None]
    for r in errors[:10]:
        print(f"FAILED request {r['rid']}: {r['error']}")
    ok = [r for r in reqs if r["error"] is None]
    n = len(reqs)
    window = rep["window_s"]
    # round 0 starts a cold JVM; set-up time is the median CPU time (main
    # thread plus its Spark tasks) of the warm rounds
    warm_setup = rep["setup_rounds_cpu_s"][1:]
    e2e = {
        "setup_s": statistics.median(warm_setup),
        # mean CPU time (client thread plus its Spark tasks) of the correct
        # requests; a failed or wrong request does not count as work done
        "cpu_per_request_s": sum(r["cpu_s"] for r in ok) / len(ok) if ok else math.inf,
    }

    cfg = rep["config"]
    print(f"workload {rep['workload']}: {rep['clients']} client(s), closed loop, "
          f"seed {rep['seed']}, window {window:.2f} s")
    print("config " + json.dumps(cfg, sort_keys=True))
    print(f"setup rounds {['%.3f' % x for x in rep['setup_rounds_s']]} s wall, "
          f"{['%.3f' % x for x in rep['setup_rounds_cpu_s']]} s cpu (first is cold), "
          f"register {['%.3f' % x for x in rep['register_s']]} s, "
          f"warm-up {rep['warmup_s']:.2f} s")
    print("request walls " + " ".join(f"{r['wall_s']:.3f}" for r in reqs) + " s")
    print("request cpu " + " ".join(f"{r['cpu_s']:.3f}" for r in reqs) + " s")

    def line(name, value, unit, k):
        print(f"metric {name} = {value:.6g} {unit} (n={k})")

    def median_line(name, xs):
        """A median, only when at least ten samples lie above it."""
        above = beyond(len(xs), 0.5)
        if above >= 10:
            line(name, statistics.median(xs), "s", len(xs))
        else:
            print(f"metric {name} not reported: n={len(xs)} leaves {above} "
                  f"samples above the median, fewer than ten")

    # a failed request counts as missing every latency limit
    lat = [r["wall_s"] if r["error"] is None else math.inf for r in reqs]
    line("setup_s", e2e["setup_s"], "s", len(warm_setup))
    line("setup_wall_s", statistics.median(rep["setup_rounds_s"][1:]), "s", len(warm_setup))
    line("cpu_per_request_s", e2e["cpu_per_request_s"], "s", len(ok))
    # the whole JVM's CPU (JIT, GC and Spark's own threads included)
    line("jvm_cpu_per_request_s", rep["window_cpu_s"] / max(len(ok), 1), "s", len(ok))
    line("throughput_per_s", len(ok) / window, "1/s", len(ok))
    line("fail_ratio", len(errors) / max(n, 1), "ratio", n)
    line("cache_peak_mb", rep["cache_peak_mb"], "MB", 1)
    median_line("latency_p50_s", lat)
    if rep["workload"] == "vimdiff":
        median_line("vimdiff_p50_s", lat)
        rows = rep["checks"]["rows"]  # orders plus its drifted copy
        # a mean rate over the window's correct requests, not a percentile
        line("vimdiff_rows_per_s", rows * len(ok) / max(sum(r["wall_s"] for r in ok), 1e-9),
             "rows/s", len(ok))
    else:
        median_line("merge_p50_s", [r["parts"]["merge_s"] for r in ok])
        median_line("read_after_merge_p50_s", [r["parts"]["read_s"] for r in ok])

    if args.trace:
        layers = rep["layers"] or {}
        metrics = {}
        for m in spec["per_layer"]:
            metrics[m["name"]] = {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
        for name, v in sorted(layers.items()):
            unit = metrics.get(name, {}).get("unit") or (
                "ms" if name.endswith("_ms") else "MB" if name.endswith("_mb") else "count")
            print(f"layer {name} = {v:.6g} {unit}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not bad and not errors, "attempted": n,
                      "failed": len(errors), "metrics": metrics}))


if __name__ == "__main__":
    main()
