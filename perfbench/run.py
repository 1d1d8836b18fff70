#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness (build.py), runs one workload in one
JVM, checks every output, and prints the metrics. The last line of standard
output is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. The full record of the run, spans included, goes to
.bench_build/perfbench/results/<label>/ (see README.md there for the diff
tool). Workloads, metrics and layers are described in perfbench/README.md.
"""
import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
BENCH = os.path.join(ROOT, "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "sf0.01.json")
WORKLOADS = ("serve_write", "suite_sf001")

WARM_SETUPS = 5
JVM_TIMEOUT_S = 170

JDK17_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def nproc():
    return len(os.sched_getaffinity(0))


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classes, tmp, deadline):
    """Run the harness; return its raw record. Raise on failure."""
    out = os.path.join(tmp, "raw.json")
    for d in ("java", "local", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    cpus = nproc()
    # -XX:-UsePerfData: no /tmp/hsperfdata file, so nothing is written outside the checkout
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(tmp, "java"),
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "harness", "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", out, "--tmp", tmp, "--data", DATA, "--cpus", str(cpus),
              "--setups", str(WARM_SETUPS), "--queries", ",".join(metrics.SUITE_IDS)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    log_path = os.path.join(tmp, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=tmp)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError("harness exited with %s:\n%s" % (proc.returncode, tail))
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--label", default="current",
                    help="results subdirectory, so diff.py can compare two sets")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.isdir(DATA):
        print("perfbench: no program sources or inputs in %s" % ROOT, file=sys.stderr)
        return 2
    try:
        classes = build.build()
    except RuntimeError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    deadline = time.time() + JVM_TIMEOUT_S
    tmp = os.path.join(build.OUT, "tmp", "%s-%d-%d-%d" % (args.workload, args.seed, args.trace,
                                                         os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        raw = run_jvm(args, classes, tmp, deadline)
    except RuntimeError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(EXPECTED) as fh:
        expected = json.load(fh)
    res = metrics.compute(raw, expected)
    res["env"] = {
        "nproc": nproc(), "max_heap_mb": raw["max_heap_mb"], "spark": raw["spark_version"],
        "java": raw["java_version"], "python": platform.python_version(), "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "workload": args.workload,
        "data": os.path.relpath(DATA, ROOT), "git_commit": git_commit(),
        "source_sha256": build.source_hash(build.sources(build.SOURCE_DIRS)),
        "suite_queries": metrics.SUITE_IDS if args.workload == "suite_sf001" else None}

    results = os.path.join(build.OUT, "results", args.label, args.workload)
    os.makedirs(results, exist_ok=True)
    name = "seed%d%s" % (args.seed, "-trace" if args.trace else "")
    if args.trace:
        with open(os.path.join(results, name + ".spans.jsonl"), "w") as fh:
            for s in raw["spans"]:
                fh.write(json.dumps(s) + "\n")
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    metrics.print_report(res, args.trace, os.path.join(results, "seed%d.json" % args.seed))
    chosen = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        # a percentile over failed ops is infinite, which JSON cannot carry
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": metrics.UNITS[k]}
                    for k, v in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
