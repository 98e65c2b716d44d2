#!/usr/bin/env python3
"""Re-derives perfbench/digests.json, the expected result digests of the
named queries the benchmark times.

Runs every query of analytics_batch twice, each time in
a fresh JVM and table cache, on the benchmark's generated tables; compares
each query's result with the DuckDB oracle exactly as scripts/check.py
does; and keeps a digest only if the oracle accepts the result and both
runs agree. Queries that fail either check are printed as defects and get
no digest, so the benchmark reports them as failed ops.

Usage (from the repository root): python3 perfbench/confirm.py
"""
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen_data  # noqa: E402
import run as bench_run  # noqa: E402



def spark_pass(cp, data, out):
    cmd = ["java", "-Xmx4g", "-Xss8m", f"-Djava.io.tmpdir={out}"]
    for o in bench_run.ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "confirm", "--data", data, "--out", out]
    env = dict(os.environ)
    env.pop("GRAFT_CATALOG_DIR", None)
    env["SPARK_LOCAL_DIRS"] = out
    subprocess.run(cmd, check=True, stdout=sys.stderr, env=env)
    with open(os.path.join(out, "spark_digests.json")) as fh:
        return json.load(fh)


def oracle_verdicts(data, results):
    spec = importlib.util.spec_from_file_location("check", os.path.join("scripts", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
              "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    verdicts = {}
    for name in sorted(os.listdir(results)):
        if name == "oracle_sql.json":
            continue
        if name not in oracle:
            verdicts[name] = "no oracle SQL"
            continue
        try:
            got = check.canon(con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").df())
            want = check.canon(con.sql(oracle[name]).df())
            if list(got.columns) != list(want.columns) or len(got) != len(want):
                verdicts[name] = f"shape {list(got.columns)}x{len(got)} vs {list(want.columns)}x{len(want)}"
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            verdicts[name] = None
        except Exception as e:  # a failed oracle run or a value mismatch
            verdicts[name] = str(e).splitlines()[0][:200]
    return verdicts


def main():
    cp = build.build()
    work = tempfile.mkdtemp(prefix="confirm-", dir=os.path.join(build.OUT))
    try:
        data = os.path.join(work, "data")
        gen_data.generate(data)
        first = spark_pass(cp, data, os.path.join(work, "a"))
        second = spark_pass(cp, data, os.path.join(work, "b"))
        verdicts = oracle_verdicts(data, os.path.join(work, "a", "results"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digests = {}
    for name in sorted(first):
        if verdicts.get(name):
            print(f"DEFECT {name}: oracle rejects the result: {verdicts[name]}")
        elif first[name] != second.get(name):
            print(f"DEFECT {name}: result differs between two fresh runs")
        else:
            digests[name] = first[name]
            print(f"OK     {name}")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json"), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
