#!/usr/bin/env python3
"""Rebuilds graftbench/golden.json: the canonical digest of every
query_suite query's DuckDB twin (``SparkEntry.oracleSql``) over the
shipped sf0.01 tables in graftbench/data. Spark output is never used.
Run from the repository root after changing SUITE_QUERIES:

    python3 graftbench/make_golden.py
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    build.build()
    with tempfile.TemporaryDirectory(dir=os.path.join(
            os.path.dirname(HERE), ".bench_build")) as work:
        path = os.path.join(work, "oracle.json")
        subprocess.run(["java", "-cp", build.classpath(), "graftbench.Oracles",
                        path, ",".join(run.SUITE_QUERIES)], check=True)
        with open(path) as f:
            oracles = json.load(f)
        views = {t: os.path.join(run.SUITE_DATA, f"{t}.parquet")
                 for t in TABLES}
        golden = {q: run.canon_digest(run.duck(oracles[q], views, work))
                  for q in run.SUITE_QUERIES}
    with open(os.path.join(HERE, "golden.json"), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
