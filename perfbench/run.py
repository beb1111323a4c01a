#!/usr/bin/env python3
"""Layered benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark program from source on first use
(perfbench/build.py), runs one workload in a fresh JVM at local[nproc], and
prints one JSON result as the last line of stdout: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Exits non-zero without
a result when the build, the run or the result's shape fails. Everything it
writes stays under .bench_build/perfbench in the checkout: the per-run
report (results/), the spans of traced runs (traces/) and the JVM log
(logs/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = build.OUT
RUN_LIMIT_S = 170
WORKLOADS = ("serve", "attack")

# Spark on JDK 17 needs these opens when a session starts outside
# spark-submit (the set build.sbt passes to forked runs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def check_result(line, trace):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(res)}")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    want = expected_metrics(trace)
    if sorted(res["metrics"]) != sorted(want):
        missing = set(want) - set(res["metrics"])
        extra = set(res["metrics"]) - set(want)
        raise ValueError(f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, extra {sorted(extra)}")
    for name, m in res["metrics"].items():
        if not isinstance(m.get("value"), (int, float)) or isinstance(m.get("value"), bool):
            raise ValueError(f"metric {name} has no numeric value")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    logs = os.path.join(OUT, "logs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", *ADD_OPENS,
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", OUT, "--work", work])
    started = time.time()
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                 cwd=work, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s; log in {log_path}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as log:
        for line in log:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if p.returncode != 0:
        sys.exit(f"perfbench: JVM exited with {p.returncode}; log in {log_path}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        sys.exit("perfbench: no result line")
    try:
        check_result(lines[-1], a.trace)
    except (ValueError, KeyError) as e:
        sys.exit(f"perfbench: malformed result: {e}")
    sys.stderr.write(f"[perfbench] {a.workload} seed {a.seed}: {time.time() - started:.1f} s\n")
    print(lines[-1])


if __name__ == "__main__":
    main()
