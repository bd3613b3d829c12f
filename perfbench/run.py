#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints one JSON detail line, then the result
line ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` when untraced, its per-layer metrics when
``--trace 1``. A traced run also writes its spans under
``.perfbench_work/traces/``. Exits non-zero without a result when the
engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc_catchup", "cdc_snapshot", "query_surface")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def metric_block(spec_metrics: list[dict], values: dict) -> dict:
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }


def local1_events_per_s(workload: str, seed: int, seconds: int) -> float:
    """Re-run the workload untraced at ``local[1]`` in a child process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--cores", "1"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"local[1] baseline failed: {proc.stderr[-2000:]}")
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    return detail["events_per_s"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark cores (default: nproc; 1 for the baseline)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kafka2delta_spark")):
        print("perfbench: engine sources (kafka2delta_spark/) not found "
              f"under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    harness.adopt_orphans()
    try:
        return run(args, harness)
    finally:
        harness.end_children()


def run(args: argparse.Namespace, harness) -> int:
    cores = args.cores or harness.nproc()
    t_start = time.perf_counter()
    ws = harness.Workspace(ROOT, f"{args.workload}-s{args.seed}")
    env = harness.pin_environment(ws, cores)
    spark = harness.start_session(ws, cores)
    trace = bool(args.trace)
    cpu0 = harness.cpu_times()
    try:
        from kafka2delta_spark.cdc.avro_codec import spark_avro_jar_available

        env["pyspark"] = spark.version
        env["decode_path"] = (
            "native_from_avro" if spark_avro_jar_available(spark) else "python_fallback"
        )
        if args.workload == "query_surface":
            from perfbench import queries

            out = queries.run(spark, ws, args.seed, args.seconds, trace, t_start)
        else:
            from perfbench import cdc

            out = cdc.run(spark, ws, cdc.SHAPES[args.workload], args.seed,
                          args.seconds, trace, cores, t_start)
        out["peak_rss_mb"] = harness.peak_rss_mb(spark)
        env["cpu_steal_share"] = harness.steal_share(cpu0, harness.cpu_times())
        if trace:
            out["layers"]["session.calib_s"] = harness.calibrate(spark)
    finally:
        harness.stop_session(spark)
        ws.cleanup()

    spec = load_spec()
    detail = {k: v for k, v in out.items() if k not in ("layers", "tracer")}
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, env=env)
    if trace:
        layers = out["layers"]
        if args.workload != "query_surface":
            layers["baseline.local1_events_per_s"] = local1_events_per_s(
                args.workload, args.seed, 1)
        # the tracer's own bookkeeping as a share of the traced loop
        layers["trace.overhead_ratio"] = out["trace_overhead_s"] / max(out["loop_s"], 1e-9)
        path = os.path.join(ws.traces, f"{args.workload}-seed{args.seed}.json")
        out["tracer"].write(path)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        metrics = metric_block(spec["per_layer"], layers)
    else:
        metrics = metric_block(spec["end_to_end"], out)
    attempted, failed = int(out["attempted"]), int(out["failed"])
    detail["ops_failed_ratio"] = failed / attempted if attempted else 1.0
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
