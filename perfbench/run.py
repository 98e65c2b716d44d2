#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: rag_serve, analytics_batch, lakehouse_write
(see perfbench/WORKLOADS.md). Run from the repository root. The first run
compiles the engine and the benchmark into .bench_build/. Every run
generates its input tables, points the engine's table cache, catalog and
Spark scratch space at a fresh directory of its own, and deletes that
directory at the end. --trace 1 writes the run's spans to
.bench_build/trace/<workload>-<seed>.json and prints per-layer metrics
instead of end-to-end ones.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("rag_serve", "analytics_batch", "lakehouse_write")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    cp = build.build()
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        data = os.path.join(run_dir, "data")
        gen_data.generate(data)
        for d in ("tmp", "spark-local", "cache"):
            os.makedirs(os.path.join(run_dir, d))
        env = dict(os.environ)
        env.pop("GRAFT_CATALOG_DIR", None)
        env["GRAFT_CACHE_DIR"] = os.path.join(run_dir, "cache")
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        out = os.path.join(run_dir, "result.json")
        cmd = ["java", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for o in ADD_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", "run", "--workload", a.workload,
                "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--digests", os.path.join(here, "digests.json"),
                "--run-dir", run_dir, "--out", out]
        if a.trace:
            trace_dir = os.path.join(build.OUT, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            cmd += ["--spans", os.path.join(trace_dir, f"{a.workload}-{a.seed}.json")]
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: workload {a.workload} did not finish within {JVM_TIMEOUT_S} s")
        if proc.returncode != 0 or not os.path.exists(out):
            sys.exit(f"run: benchmark JVM exited with code {proc.returncode}")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for prob in res["problems"]:
        print(f"problem: {prob}", file=sys.stderr)
    print(f"setup repetitions (s): {res['setup_reps_s']}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
