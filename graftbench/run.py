#!/usr/bin/env python3
"""graft's benchmark. From the repository root:

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine (graftbench/build.py), generates the workload's
inputs from the seed, runs the JVM side (graftbench/scala) on them,
checks the outputs, and prints the metrics. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` --
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Workloads, metrics and the numbers behind the sizes
below are described in graftbench/NOTES.md.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("query_suite", "cdc_stream")

# query_suite: a fixed cross-section of the registry, at least one query
# per operator family and one consumer of every staged relation
SUITE_QUERIES = sorted("""
cdc_merge config_matrix delta_detect dedup_minhash image_dedup
initial_sync ivf_assign market_basket catalog_stats olap_pricing_summary
ordered_apply scd2_history sessionize sync_state text_stats token_topk
training_pipeline
""".split())
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")
SUITE_PASS_S = 4  # nominal time of one pass of SUITE_QUERIES on a 4-core box
SUITE_WARM_PASSES = 4

STREAM_FILES_PER_S = 2.5  # nominal closed-loop rate on a 4-core box
STREAM_CHANGES_PER_FILE = 1_000
STREAM_WARM_FILES = 8

JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def canon_digest(df):
    """sha256 of a result after the parity canon: columns sorted by
    name, rows sorted, every value compared as its string form."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        na_position="first")
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    h.update(json.dumps(df.astype(str).values.tolist()).encode())
    return h.hexdigest()


def read_result(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def duck(sql, views, work):
    """Run a DuckDB twin over ``views`` (name -> parquet file). The
    twin's own session settings (spill path, memory cap) are dropped:
    the benchmark keeps DuckDB's scratch inside its work directory."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    con.sql("SET threads=2")
    for name, path in views.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    sql = "\n".join(l for l in sql.splitlines()
                    if not l.startswith(("SET temp_directory",
                                         "SET memory_limit", "SET threads")))
    try:
        return con.sql(sql).df()
    finally:
        con.close()


def generate(workload, seed, seconds, work):
    """Write the workload's inputs under ``work``; returns the JVM args."""
    # a fixed number of samples per --seconds, at least 40, so every run
    # reports its tail at the same percentile (p75)
    if workload == "query_suite":
        passes = max(3, math.ceil(seconds / SUITE_PASS_S))
        return {"in": SUITE_DATA, "queries": ",".join(SUITE_QUERIES),
                "warm-passes": str(SUITE_WARM_PASSES), "passes": str(passes)}
    measured = max(40, math.ceil(seconds * STREAM_FILES_PER_S))
    # one sequence of files: the first ones warm the query up
    gen.write_changes(os.path.join(work, "in"), seed,
                      STREAM_WARM_FILES + measured, STREAM_CHANGES_PER_FILE)
    return {"in": os.path.join(work, "in"),
            "warm-files": str(STREAM_WARM_FILES),
            "measured-files": str(measured),
            "changes-per-file": str(STREAM_CHANGES_PER_FILE)}


def check(workload, out):
    """Untimed output checks; returns the number of wrong outputs."""
    wrong = 0
    if workload == "query_suite":
        with open(os.path.join(HERE, "golden.json")) as f:
            golden = json.load(f)
        for q in SUITE_QUERIES:
            df = read_result(os.path.join(out, "q", q))
            if df is None or canon_digest(df) != golden[q]:
                print(f"[graftbench] {q}: output differs from its golden "
                      "digest", file=sys.stderr)
                wrong += 1
    else:
        import pyarrow.parquet as pq
        consumed = [pq.read_table(p) for p in sorted(glob.glob(
            os.path.join(out, "src", "*.parquet")))]
        ref = gen.lww_reference(consumed) if consumed else {}
        sink = read_result(os.path.join(out, "sink"))
        got = {}
        if sink is not None:
            sink = sink.sort_values("batch_id")
            for row in sink.itertuples(index=False):
                got[int(row.user_id)] = (int(row.last_event_id),
                                         int(row.last_ems), row.last_op,
                                         int(row.last_value_cents))
        if not consumed or got != ref:
            print(f"[graftbench] cdc_stream: final state differs from the "
                  f"LWW reference ({len(got)} vs {len(ref)} keys)",
                  file=sys.stderr)
            wrong += 1
    return wrong


def run_jvm(args, out, work, jvm_args):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "graftbench.GraftBench",
              "--workload", args.workload, "--out", out,
              "--trace", str(args.trace),
              "--seed", str(args.seed)])
    for k, v in jvm_args.items():
        cmd += ["--" + k, v]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                               cwd=work)
        try:
            code = jvm.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if jvm.poll() is None:  # timed out, or this process was stopped
                jvm.kill()
                jvm.wait()
    if code != 0:
        raise SystemExit(f"graftbench: the JVM exited with {code}; "
                         "see jvm.log in the kept work directory")
    with open(os.path.join(work, "jvm.log")) as f:
        return f.read()


def end_to_end(workload, res, setup_s):
    s = report.summarize(res["samples_ms"])
    if workload == "query_suite":
        # queries per second of the median pass: a pass that met a full
        # collection or a slow moment of the host does not move it
        work_per_s = len(SUITE_QUERIES) / statistics.median(
            res["extra"]["suite_s"])
    else:
        work_per_s = res["work"] / res["measured_s"]
    return {
        "setup_s": (setup_s, "s"),
        "live_heap_mb": (res["live_heap_mb"], "MB"),
        "op_p50_ms": (s["p50"], "ms"),
        "op_tail_ms": (s["tail"], "ms"),
        "work_per_s": (work_per_s, "1/s"),
    }, s


def named(workload, res, e2e, s, fail_ratio):
    """The workload's metrics under their own names, for the human line."""
    tail = f"p{s['tail_p']:g}"
    out = {"setup_s": e2e["setup_s"], "fail_ratio": (fail_ratio, "ratio"),
           "live_heap_mb": e2e["live_heap_mb"]}
    if workload == "query_suite":
        out["suite_s"] = (statistics.median(res["extra"]["suite_s"]), "s")
        out["query_p50_s"] = (s["p50"] / 1e3, "s")
        out[f"query_{tail}_s"] = (s["tail"] / 1e3, "s")
    else:
        out["stream_latency_p50_ms"] = (s["p50"], "ms")
        out[f"stream_latency_{tail}_ms"] = (s["tail"], "ms")
        out["stream_changes_per_s"] = (e2e["work_per_s"][0], "1/s")
    return out


def per_layer(bench, res, out, log, e2e):
    names = [m["name"] for m in bench["per_layer"]]
    with open(os.path.join(out, "spans.jsonl")) as f:
        records = [json.loads(l) for l in f if l.strip()]
    m = report.layer_metrics(records)
    m.update({k: v for k, v in res["extra"].items() if k in names})
    m["log.error_lines"] = sum(1 for l in log.splitlines() if " ERROR " in l)
    for k in ("op_p50_ms", "work_per_s"):
        m["traced." + k] = e2e[k][0]
    units = {x["name"]: x["unit"] for x in bench["per_layer"]}
    return {n: {"value": float(m.get(n, 0.0)), "unit": units[n]}
            for n in names}


def main():
    # a stop request unwinds through the finally blocks, which stop the
    # JVM and keep the work directory as the last failed run's
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build.build()

    t0_ms = time.time() * 1000
    runs = os.path.join(root, ".bench_build", "graftbench")
    work = os.path.join(runs, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ok = False
    try:
        jvm_args = generate(args.workload, args.seed, args.seconds, work)
        out = os.path.join(work, "out")
        log = run_jvm(args, out, work, jvm_args)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        if not res["samples_ms"] or not res["measured_s"]:
            raise SystemExit("graftbench: no operation completed")
        wrong = check(args.workload, out)
        attempted = int(res["attempted"])
        failed = min(attempted, int(res["failed"]) + wrong)
        setup_s = (res["first_op_ms"] - t0_ms) / 1e3
        e2e, s = end_to_end(args.workload, res, setup_s)
        human = named(args.workload, res, e2e, s, failed / attempted)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "samples": s["n"], "tail_percentile": s["tail_p"],
                          "beyond_tail": sum(1 for x in res["samples_ms"]
                                             if x > s["tail"]),
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in human.items()}}))
        if args.trace:
            metrics = per_layer(bench, res, out, log, e2e)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        ok = wrong == 0 and failed == 0
        print(json.dumps({"correct": ok, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        if ok:
            shutil.rmtree(work, ignore_errors=True)
        else:
            # inputs, outputs, jvm.log and spans of the last failed run
            kept = os.path.join(runs, "last-failed")
            shutil.rmtree(kept, ignore_errors=True)
            os.replace(work, kept)
            print(f"graftbench: run failed or wrong; its work directory is "
                  f"kept in {kept}", file=sys.stderr)


if __name__ == "__main__":
    main()
