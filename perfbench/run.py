#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_fresh --seed 1 --seconds 15 --trace 0

Run from the repository root.  Prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  The
full record (per pass, per op, run health) goes to
``.perfbench_out/<workload>-seed<seed>-trace<t>.json``, and a traced
run also writes its spans next to it as ``...spans.jsonl``.

Everything else the run creates (fixture copies, Spark local
and scratch directories, event log) lives under ``.perfbench_work/`` in
the current directory and is removed when the run ends, also on failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import stats

T_START = time.perf_counter()

ROOT = os.getcwd()
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Point every scratch location of Spark, the engine and Python at
    the run's own directory, before pyspark is imported."""
    for sub in ("local", "scratch", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def result_line(record: dict, metrics: dict, units: dict, cap: int) -> str:
    stats.check_metric_names(list(units), cap)
    return json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mini_pandas_spark", "__init__.py")):
        print("run from the repository root: mini_pandas_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)

    import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                      work, T_START)
    try:
        record = run.execute()
        run.stop()
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        os.makedirs(OUT_DIR, exist_ok=True)
        if args.trace:
            metrics = run.per_layer(record)
            record["per_layer"] = metrics
            record["overhead"] = tracing_overhead(record, args)
            run.tracer.write(os.path.join(OUT_DIR, tag + ".spans.jsonl"))
            units, cap = harness.PER_LAYER_UNITS, stats.MAX_PER_LAYER
        else:
            metrics = record["end_to_end"]
            units, cap = harness.END_TO_END_UNITS, stats.MAX_END_TO_END
        with open(os.path.join(OUT_DIR, tag + ".json"), "w") as f:
            json.dump(record, f, indent=1)
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(result_line(record, metrics, units, cap))
    return 0


def tracing_overhead(record: dict, args) -> dict | None:
    """Traced vs untraced pass_s and cpu_s_per_pass, against the untraced
    record of the same workload and seed if one is on disk."""
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    traced = record["per_layer"]
    return {
        "pass_s": {"untraced": base["pass_s"], "traced": traced["trace.pass_s"],
                   "ratio": traced["trace.pass_s"] / base["pass_s"]},
        "cpu_s_per_pass": {
            "untraced": base["cpu_s_per_pass"],
            "traced": traced["trace.cpu_s_per_pass"],
            "ratio": traced["trace.cpu_s_per_pass"] / base["cpu_s_per_pass"],
        },
    }


if __name__ == "__main__":
    sys.exit(main())
