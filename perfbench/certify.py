#!/usr/bin/env python3
"""Certify the batch workloads' query outputs against DuckDB, once.

    python3 perfbench/certify.py

Builds like run.py, runs every query of the `catalog` workload
(perfbench/spec.json) twice on the benchmark's input tables,
dumps each result as parquet next to `SparkEntry.oracleSql`, and runs the
repository's `tools/oracle_check.py` on the dump. Writes
perfbench/certified.json: per query the row count and order-independent
fingerprint that every benchmark run compares against, whether both runs
agreed, and the DuckDB verdict. A query that disagrees with DuckDB keeps
its fingerprint (the benchmark then pins this commit's output) and is
listed under "oracle_mismatch".
"""
import json
import os
import re
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    run.build()
    spec = run.spec()
    names = [q for qs in spec["workloads"]["catalog"]["families"].values()
             for q in qs]
    os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
    qpath = os.path.join(run.WORK, "certify-queries.tsv")
    with open(qpath, "w") as f:
        f.write("".join(f"{q}\n" for q in names))
    out = os.path.join(run.WORK, "certify.tsv")
    code = run.java(["--mode", "certify", "--queries", qpath, "--data",
                     run.DATA, "--work", run.WORK, "--out", out],
                    run.nproc(), os.path.join(run.WORK, "logs", "certify.log"))
    if code != 0:
        run.fail(f"certify run exited with {code}")
    r = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "oracle_check.py"),
         os.path.join(run.WORK, "certify"), run.DATA],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"\s+(\S+)\s+(.*)$", line)
        if m:
            verdict[m.group(1)] = m.group(2).strip()
    queries = {}
    for line in open(out):
        q, rows, fp, stable, cold, warm, build, err = line.rstrip("\n").split("\t")
        queries[q] = {"rows": int(rows), "fingerprint": int(fp),
                      "stable": stable == "true",
                      "oracle": verdict.get(q, "not compared"),
                      "cold_s": round(float(cold), 3),
                      "warm_s": round(float(warm), 3)}
        if err:
            queries[q]["error"] = err
    bad = sorted(q for q, c in queries.items()
                 if c["oracle"] != "OK" and not c["oracle"].startswith("rows-only"))
    doc = {"data": "perfbench/gen_data.py --seed 42",
           "compared_with": "tools/oracle_check.py (DuckDB, exact match)",
           "oracle_mismatch": bad,
           "unstable": sorted(q for q, c in queries.items() if not c["stable"]),
           "queries": queries}
    with open(os.path.join(run.HERE, "certified.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(queries)} queries certified; oracle mismatches: {bad}")


if __name__ == "__main__":
    main()
