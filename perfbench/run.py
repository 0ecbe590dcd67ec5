#!/usr/bin/env python3
"""Closed-loop dedup benchmark of the Spark engine in this repository.

Usage (from the repository root):
    python3 perfbench/run.py --workload crawl_batch|dup_chains --seed N \
        --seconds S --trace 0|1 [--docs N]

Builds the engine and the harness from source on first use (see build.py),
runs one JVM for the workload, checks the leaves' outputs against DuckDB in
traced runs, prints one `name value unit` line per metric and, as the last
line of standard output, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = {"crawl_batch": 2000, "dup_chains": 1500}
HEAP = "1500m"
MIN_FREE_BYTES = 2 << 30
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def oracle_check(leaf_dir):
    """Compares each leaf output under leaf_dir/out with its DuckDB oracle
    over the same documents table; returns (leaves checked, names that
    differ)."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    docs = os.path.join(leaf_dir, "data", "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}/*.parquet')")
    with open(os.path.join(leaf_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name, sql in sorted(oracles.items()):
        got = canon(pd.read_parquet(os.path.join(leaf_dir, "out", name)))
        want = canon(con.sql(sql).df())
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
            if len(got) == 0:
                raise AssertionError("empty output")
        except AssertionError as e:
            print(f"leaf {name} differs from its oracle: {str(e).splitlines()[0]}",
                  file=sys.stderr)
            bad.append(name)
    return len(oracles), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--docs", type=int, help="corpus size (default: the workload's)")
    args = ap.parse_args()

    cp = build.build()
    work_root = os.path.abspath(os.path.join(build.OUT, "work"))
    os.makedirs(work_root, exist_ok=True)
    free = shutil.disk_usage(work_root).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"perfbench: {free >> 20} MiB free under {work_root}, "
                         f"need {MIN_FREE_BYTES >> 20} MiB for Spark scratch")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(work, "result.json")
    docs = args.docs or WORKLOADS[args.workload]

    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--docs", str(docs), "--work", work, "--out", result_file])
    log_path = os.path.join(work_root, f"{args.workload}.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=log, timeout=TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc}); log: {log_path}")
    with open(result_file) as fh:
        result = json.load(fh)

    leaf_dir = os.path.join(work, "leaves")
    if args.trace and os.path.isdir(leaf_dir):
        checked, bad = oracle_check(leaf_dir)
        result["attempted"] += checked
        result["failed"] += len(bad)
        result["correct"] = result["failed"] == 0
        result["metrics"]["ops_failed_ratio"]["value"] = result["failed"] / result["attempted"]
    for name, m in result["metrics"].items():
        print(f"{args.workload:12s} {name:40s} {m['value']!s:>24s} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
