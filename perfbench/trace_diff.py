#!/usr/bin/env python3
"""Per-layer diff of two traced run records.

    python3 perfbench/trace_diff.py A.json B.json

A and B are ``.perfbench_out/<workload>-seed<n>-trace1.json`` records,
usually of the parent commit and of a change, same workload and seed.
Prints every per-layer metric with both values, the delta and the delta
as a share of A.  CPU-time rows are marked ``*``: on a host whose wall
time drifts with hypervisor steal, they are the drift-robust column.
Also prints each record's tracing overhead when it has one.
"""

from __future__ import annotations

import json
import sys

CPU_METRICS = {
    "operators.task_cpu_s", "driver.cpu_s", "pyworker.cpu_s", "jvm.cpu_s",
    "trace.cpu_s_per_pass",
}


def diff_rows(a: dict, b: dict) -> list[tuple]:
    rows = []
    for name in sorted(set(a) | set(b)):
        va, vb = a.get(name), b.get(name)
        if va is None or vb is None:
            rows.append((name, va, vb, None, None))
            continue
        rows.append((name, va, vb, vb - va, (vb - va) / va if va else None))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    recs = []
    for path in argv:
        with open(path) as f:
            recs.append(json.load(f))
    for path, r in zip(argv, recs):
        if "per_layer" not in r:
            print(f"{path} is not a traced record (run with --trace 1)", file=sys.stderr)
            return 2
        flagged = r.get("health", {}).get("flagged", [])
        print(f"{path}: {r['workload']} seed {r['seed']} "
              f"health {flagged or 'clean'} overhead {fmt_overhead(r.get('overhead'))}")

    def cell(v):
        return "-" if v is None else f"{v:.4g}"

    print(f"{'metric':32s} {'A':>12s} {'B':>12s} {'delta':>12s} {'delta/A':>9s}")
    for name, va, vb, d, rel in diff_rows(recs[0]["per_layer"], recs[1]["per_layer"]):
        mark = "*" if name in CPU_METRICS else " "
        share = "-" if rel is None else f"{rel:+.1%}"
        print(f"{mark}{name:31s} {cell(va):>12s} {cell(vb):>12s} {cell(d):>12s} {share:>9s}")
    return 0


def fmt_overhead(o: dict | None) -> str:
    if not o:
        return "n/a (no untraced record of this seed)"
    return ", ".join(f"{k} x{v['ratio']:.2f}" for k, v in o.items())


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
