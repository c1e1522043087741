#!/usr/bin/env python3
"""Cross-checks the benchmark's queries against the DuckDB oracle on the
benchmark's own input tables, then (with --record) rewrites expected.json.

    python3 perfbench/crosscheck.py [--record]

Steps:
 1. build and generate the inputs exactly as run.py does;
 2. `graft.Verify <data> <out> <names>` dumps every serve query of the
    benchmark, plus the pipeline queries that build the same marts as the
    DAG (q53-q58), with their `SparkEntry.oracleSql`;
 3. `tools/check_oracle.py <data> <out>` runs each oracle SQL in DuckDB and
    compares it with the Spark output, cell for cell;
 4. with --record, one run per workload rewrites the committed fingerprints
    (only after step 3 passed).

Queries without an oracle SQL are listed; the fingerprint still pins their
output, but only the oracle proves it right.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import run as bench

SCALA_LISTS = os.path.join(bench.HERE, "src", "main", "scala", "perfbench", "Workloads.scala")
DAG_ORACLES = ["q53_dim_country", "q54_fct_indicators", "q55_rpt_annual_summary",
               "q56_anomaly_detection", "q57_quality_scores", "q58_forecast"]


def workload_queries() -> list:
    """The query names listed in Workloads.scala (serve workloads)."""
    with open(SCALA_LISTS) as fh:
        return sorted(set(re.findall(r'"(q\d+_[a-z0-9_]+)"', fh.read())))


def main() -> int:
    ap = argparse.ArgumentParser(description="oracle cross-check of the benchmark's queries")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    rec = bench.build(bench.source_digest())
    data = bench.data_dir()
    out = os.path.join(bench.BUILD, "crosscheck")
    shutil.rmtree(out, ignore_errors=True)
    names = sorted(set(workload_queries() + DAG_ORACLES))
    work = os.path.join(bench.BUILD, "work", "crosscheck")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = bench.java(rec, work, "graft.Verify", [data, out, ",".join(names)])
    with open(os.path.join(bench.BUILD, "crosscheck.log"), "w") as lf:
        if bench.run_proc(cmd, 900, cwd=bench.ROOT, stdout=lf, stderr=subprocess.STDOUT) != 0:
            bench.log("graft.Verify failed; see .bench_build/crosscheck.log")
            return 1
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        with_oracle = set(json.load(fh))
    missing = [n for n in names if not os.path.isdir(os.path.join(out, n))]
    if missing:
        bench.log(f"no Spark output for {missing}")
        return 1
    bench.log(f"no oracle SQL for: {sorted(set(names) - with_oracle)}")
    check = os.path.join(bench.ROOT, "tools", "check_oracle.py")
    code = subprocess.run([sys.executable, check, data, out], cwd=bench.ROOT).returncode
    if code != 0:
        bench.log("oracle mismatch: expected.json not rewritten")
        return 1
    if a.record:
        expected = os.path.join(bench.HERE, "expected.json")
        if os.path.exists(expected):
            os.remove(expected)
        for w in bench.WORKLOADS:
            r = subprocess.run([sys.executable, os.path.join(bench.HERE, "run.py"),
                                "--workload", w, "--seed", "1", "--seconds", "1",
                                "--trace", "0", "--record"], cwd=bench.ROOT)
            if r.returncode != 0:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
