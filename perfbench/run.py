#!/usr/bin/env python3
"""graft's benchmark: one workload per run, outputs checked, metrics printed.

Usage (from the repository root):
  python3 perfbench/run.py --workload dlq_clean --seed 1 --seconds 10 --trace 0

Workloads: dlq_clean, dlq_storm, curation, stream_dlq (see README.md).
Builds the program and the benchmark from source (perfbench/build.py),
runs perfbench.Main in one JVM at local[4], checks every output, prints
each metric as "metric <name> <value> <unit>", and ends with one compact
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones,
and the span file is kept under .bench_build/traces/. Exits 1 when an
output check fails, 2 when the run could not be made.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("dlq_clean", "dlq_storm", "curation", "stream_dlq")
# the registry's sf0.01 `documents` and `embeddings` tables, which the
# curation queries read; the other registry tables get empty stand-ins so
# that dev/check.py can declare its views
DATA = os.path.join(HERE, "data")
INPUTS = ("documents", "embeddings")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
CURATION = ("p28_ppl_buckets", "t21_rake", "s13_graph_ann", "d8_dedup_clusters")
JVM_TIMEOUT_S = 150  # leaves room for the oracle checks within three minutes

DLQ = {"dlq_clean", "dlq_storm"}
ENGINE = ["engine.jobs", "engine.stages", "engine.tasks", "engine.driver_gap_s",
          "engine.executor_run_s", "engine.executor_cpu_s", "engine.gc_s",
          "engine.shuffle_read_bytes", "engine.shuffle_write_bytes", "engine.spill_bytes"]


def per_layer_spec():
    """Every per-layer metric a traced run prints: (name, unit, workloads
    that measure it). Workloads that do not exercise a layer report 0."""
    everywhere = set(WORKLOADS)
    spec = [("sources.scan_s", "s", DLQ), ("sources.input_bytes", "bytes", DLQ),
            ("sources.input_rows", "count", DLQ),
            ("core.capture_s", "s", DLQ), ("core.capture_overhead_ratio", "ratio", DLQ),
            ("core.errors", "count", DLQ), ("core.deadletter_s", "s", DLQ)]
    spec += [(f"core.serde_{f}_s", "s", DLQ) for f in ("json", "avro", "proto")]
    spec += [(f"core.dlq_bytes_per_letter.{f}", "bytes", DLQ) for f in ("json", "avro", "proto")]
    spec += [("sinks.values_write_s", "s", DLQ), ("sinks.dlq_write_s", "s", DLQ),
             ("sinks.bytes_written", "bytes", DLQ), ("sinks.files_written", "count", DLQ)]
    spec += [(m, "s" if m.endswith("_s") else "bytes" if m.endswith("bytes") else "count", everywhere)
             for m in ENGINE]
    for q in CURATION:
        spec += [(f"operators.{q}.{m}", u, {"curation"}) for m, u in
                 (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                  ("shuffle_bytes", "bytes"), ("gc_s", "s"))]
    spec += [("plans.topk.sort_fallbacks", "count", {"curation"}),
             ("plans.topk.heap_bytes", "bytes", {"curation"})]
    stream = {"stream_dlq"}
    spec += [(f"streaming.{n}_p50_ms", "ms", stream) for n in
             ("trigger", "add_batch", "query_planning", "wal_commit", "latest_offset", "agg_trigger")]
    spec += [("streaming.triggers", "count", stream), ("streaming.rows_per_trigger", "count", stream),
             ("streaming.state_epochs", "count", stream), ("streaming.state_bytes", "bytes", stream),
             ("streaming.backlog_files_max", "count", stream), ("generator.lag_ms", "ms", stream)]
    spec += [("trace.overhead_ratio", "ratio", everywhere), ("trace.accounted_ratio", "ratio", DLQ),
             ("jvm.gc_s", "s", DLQ | {"curation"}), ("jvm.jit_s", "s", DLQ | {"curation"})]
    return spec


def permuted_copy(seed, dest):
    """The input tables with rows permuted and row groups re-split by seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        path = os.path.join(dest, f"{t}.parquet")
        if t not in INPUTS:
            pq.write_table(pa.table({"unused": pa.array([], pa.int64())}), path)
            continue
        table = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        groups = int(rng.integers(2, 6))
        pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // groups)))


def oracle_check(input_dir, query_dirs):
    """Failed query names of one curation pass, by dev/check.py's compare:
    one check.py per query dir, all at once, as the oracles take very
    different times."""
    procs = [subprocess.Popen([sys.executable, os.path.join("dev", "check.py"), input_dir, d],
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
             for d in query_dirs]
    failed = set()
    for d, proc in zip(query_dirs, procs):
        stdout, stderr = proc.communicate()
        bad = {line.split()[1].rstrip(":") for line in stdout.splitlines() if line.startswith("FAIL ")}
        if proc.returncode != 0 and not bad:
            bad = {f"{os.path.basename(d)} (check.py exit {proc.returncode}: {stderr.strip()[-200:]})"}
        failed |= bad
    return failed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", default="none", choices=("none", "drop_letter", "alter_row", "double_batch"),
                    help="plant a fault in the outputs (the benchmark's own tests)")
    args = ap.parse_args(argv)
    if not os.path.exists("BENCHMARK.json"):
        print("perfbench: run from the repository root (BENCHMARK.json not found)", file=sys.stderr)
        return 2
    try:
        java = build.build()
    except (subprocess.CalledProcessError, SystemExit, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.abspath(os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(args, java, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, java, run_dir):
    start = time.time()
    prep = 0.0
    if args.workload == "curation":
        t0 = time.time()
        permuted_copy(args.seed, os.path.join(run_dir, "input"))
        prep = time.time() - t0

    cmd = java + [args.workload, str(args.seed), str(args.seconds), str(args.trace), run_dir,
                  repr(prep), args.fault]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10, JVM_TIMEOUT_S - (time.time() - start)))
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    report_path = os.path.join(run_dir, "report.json")
    if code != 0 or not os.path.exists(report_path):
        tail = open(log_path, errors="replace").read()[-3000:]
        print(f"perfbench: the JVM run failed ({code}):\n{tail}", file=sys.stderr)
        return 2
    report = json.load(open(report_path))
    failures = list(report["failures"])
    attempted, failed = report["attempted"], report["failed"]

    if args.workload == "curation":
        t0 = time.time()
        for pass_dir in sorted(glob.glob(os.path.join(run_dir, "pass-*"))):
            queries = sorted(glob.glob(os.path.join(pass_dir, "*", "oracle_sql.json")))
            bad = oracle_check(os.path.join(run_dir, "input"), [os.path.dirname(q) for q in queries])
            failed += len(bad)
            failures += [f"{os.path.basename(pass_dir)}: {q} differs from its DuckDB oracle" for q in sorted(bad)]
        report["info"].append(f"DuckDB oracle checks took {time.time() - t0:.1f} s")

    # the end-to-end and per-layer metrics the final line carries
    bench = json.load(open("BENCHMARK.json"))
    if args.trace:
        measured = report["per_layer"]
        for name, unit, where in per_layer_spec():
            if name not in measured:
                if args.workload in where:
                    failures.append(f"per-layer metric {name} was not measured")
                else:
                    measured[name] = {"value": 0, "unit": unit}
        wanted = bench["per_layer"]
    else:
        measured = report["end_to_end"]
        wanted = bench["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] in measured:
            out[m["name"]] = {"value": measured[m["name"]]["value"], "unit": m["unit"]}
        else:
            failures.append(f"metric {m['name']} was not measured")

    for line in report["info"]:
        print(f"info {line}")
    for name, m in list(report["end_to_end"].items()) + list(report["per_layer"].items()):
        print(f"metric {name} {m['value']} {m['unit']}")
    print(f"metric failed_ratio {failed / max(attempted, 1)} ratio")
    if args.trace:
        trace_src = os.path.join(run_dir, "trace.jsonl")
        dest = os.path.join(build.OUT, "traces", f"{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(trace_src, dest)
        print(f"info spans written to {dest}")
    for f in failures:
        print(f"check FAILED {f}")
    correct = not failures and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": out}, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
