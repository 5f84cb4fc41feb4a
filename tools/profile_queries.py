#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

Usage:
    python tools/profile_queries.py q1 q2 ...        # time N runs of each
    python tools/profile_queries.py --plans DIR q1   # also dump explain()
    python tools/profile_queries.py --all            # the whole HEADLINE list

Methodology is bench.py's (same session confs, the same unbilled
``bench.warm``, the same noop ``bench.materialize``), so numbers are
comparable with BASELINE.md close tables, but each query is timed REPS
times and the min/median are
reported — isolating steady-state per-query cost from run-order noise.
Also records the number of Spark jobs each query launches (scheduling
overhead is a first-order cost at sf0.1 fixture sizes).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, materialize, warm
from mini_pandas_spark.queries import queries
from mini_pandas_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names to profile")
    ap.add_argument("--all", action="store_true", help="profile the HEADLINE list")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR", help="dump explain('formatted') here")
    ap.add_argument("--suffix", default="", help="plan file suffix (before/after)")
    ap.add_argument("--json", metavar="PATH", help="write results as JSON")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("mini-pandas-spark-profile")
    qs = queries()
    if args.all:
        names = list(HEADLINE)
    else:
        names = args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    warm(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    results = {}
    for name in names:
        if args.plans:
            import io
            from contextlib import redirect_stdout

            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, sf_dir)
            suffix = f"_{args.suffix}" if args.suffix else ""
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        times = []
        # count jobs in a query-unique group, so concurrent streaming /
        # maintenance jobs (and the --plans explain pass) cannot skew
        # the metric (ADVICE r11)
        group = f"profile:{name}"
        sc.setJobGroup(group, f"profile {name}")
        for rep in range(args.reps):
            sc.setJobDescription(f"profile:{name}:rep{rep}")
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            times.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        n_jobs = len(tracker.getJobIdsForGroup(group) or []) / max(args.reps, 1)
        sc.setLocalProperty("spark.jobGroup.id", None)
        times_sorted = sorted(times)
        results[name] = {
            "min": times_sorted[0],
            "med": times_sorted[len(times_sorted) // 2],
            "all": times,
            "jobs_per_run": round(n_jobs, 1),
        }
        print(
            f"{name:45s} min={times_sorted[0]:6.2f} med="
            f"{times_sorted[len(times_sorted)//2]:6.2f} jobs/run={n_jobs:5.1f}",
            flush=True,
        )

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=2, sort_keys=True)
            fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
