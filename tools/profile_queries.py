#!/usr/bin/env python
"""Per-query profiler for batch rows and streaming drains.

Usage:
    python tools/profile_queries.py q1 q2 ...        # time N runs of each
    python tools/profile_queries.py --all            # the HEADLINE list
    python tools/profile_queries.py --streams        # every streaming drain
    python tools/profile_queries.py --plans DIR q1   # also dump explain()
    python tools/profile_queries.py --conf k=v ... q # A/B a session conf

Methodology is bench.py's (same session confs, the same unbilled
``bench.warm``, the same noop ``bench.materialize``), so numbers are
comparable with BASELINE.md close tables, but each query is timed REPS
times and the min/median wall are reported.  Counters come from
perfbench's probes and stream watcher (``perfbench/probes.py``,
``perfbench/tracing.py``); this tool keeps no listener or ``/proc``
reader of its own.  Each timed rep records:

  - ``wall``: seconds to build and materialize the query;
  - ``jobs``: Spark jobs in the rep's job group (streaming micro-batch
    jobs run in their own group and are not counted);
  - ``counters``: ``probes.delta`` of driver, JVM and Python-worker CPU,
    JVM GC and JIT, JVM I/O and host steal;
  - ``child_cpu_s``: CPU of the children the JVM reaped (without
    libhadoop, Hadoop forks a shell command per permission set);
  - ``forks``: the host's ``/proc/stat`` clone count, which includes
    threads, minus the threads the JVM started meanwhile, so run it on
    a quiet host; ``jvm_threads`` is that thread count;
  - for streaming drains, ``batches`` (each micro-batch's
    ``durationMs``) and ``stream``, perfbench's ``streaming.*`` summary.

``--conf`` values are applied when the session is built, so static confs
take effect too.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import probes  # noqa: E402
import tracing  # noqa: E402

from bench import HEADLINE, materialize, warm  # noqa: E402
from mini_pandas_spark.queries import queries  # noqa: E402
from mini_pandas_spark.session import get_spark  # noqa: E402

# Streaming rows benched in bench.py HEADLINE plus the registered
# drains outside it (the whole family shares the fixed-cost floor).
STREAM_QUERIES = [
    "streaming_hourly_counts",
    "stream_static_enrich",
    "streaming_sliding_counts",
    "streaming_hourly_approx_uniques",
    "streaming_anomaly_windows",
    "streaming_topk_trending",
    "streaming_manifest_sink",
    "stream_static_dedup",
    "streaming_user_totals",
    "streaming_dedup_events",
    "stream_stream_join",
    "streaming_neardup_lsh",
    "streaming_coreset_moments",
    "streaming_dedup_user_days",
    "streaming_epoch_log_sink",
    "streaming_outer_join_attribution",
    "streaming_full_outer_reconcile",
    "rocksdb_daily_type_rollup",
    "streaming_table_sink_daily",
    "incremental_ingest_totals",
]


def clones_since_boot() -> int:
    """Processes and threads created on this host since boot
    (``/proc/stat`` ``processes``)."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    return 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names to profile")
    ap.add_argument("--all", action="store_true", help="profile the HEADLINE list")
    ap.add_argument("--streams", action="store_true",
                    help="profile every streaming drain (STREAM_QUERIES)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR", help="dump explain('formatted') here")
    ap.add_argument("--suffix", default="", help="plan file suffix (before/after)")
    ap.add_argument("--json", metavar="PATH", help="write results as JSON")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--skip-warmups", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    confs = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("mini-pandas-spark-profile", extra_confs=confs)
    for k, v in confs.items():  # the session may predate this call
        if spark.conf.get(k, None) != v:
            print(f"warning: --conf {k}={v} did not take effect", file=sys.stderr)
    qs = queries()
    names = list(HEADLINE) if args.all else STREAM_QUERIES if args.streams else args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if not args.skip_warmups:
        warm(spark, sf_dir)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm = probes.JvmProbe(spark)
    jvm_threads = sc._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    # registered after the warmup, whose drains would otherwise be the
    # first row's batches
    watcher = tracing.make_stream_watcher(spark)

    def reaped_s() -> float:
        return probes.proc_cpu_s(jvm.pid, children=True) - probes.proc_cpu_s(jvm.pid)

    results = {}
    for name in names:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            suffix = f"_{args.suffix}" if args.suffix else ""
            with open(os.path.join(args.plans, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
            watcher.wait_terminated()
            watcher.take()  # a drain's frame is built by draining it
        reps = []
        for rep in range(args.reps):
            # count jobs in a rep-unique group, so concurrent streaming /
            # maintenance jobs (and the --plans explain pass) cannot skew
            # the metric (ADVICE r11)
            group = f"profile:{name}:r{rep}"
            sc.setJobGroup(group, f"profile {name} rep {rep}")
            before = probes.snapshot(jvm)
            clones0 = clones_since_boot()
            threads0 = jvm_threads.getTotalStartedThreadCount()
            child0 = reaped_s()
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            wall = time.time() - t0
            child_cpu = reaped_s() - child0
            threads = jvm_threads.getTotalStartedThreadCount() - threads0
            forks = clones_since_boot() - clones0 - threads
            counters = probes.delta(probes.snapshot(jvm), before)
            rec = {
                "wall": round(wall, 3),
                "jobs": len(tracker.getJobIdsForGroup(group) or []),
                "counters": {k: round(v, 3) for k, v in counters.items()},
                "child_cpu_s": round(child_cpu, 3),
                "forks": forks,
                "jvm_threads": threads,
            }
            if not watcher.wait_terminated():
                print(f"warning: {name} r{rep}: a streaming query did not "
                      "report termination", file=sys.stderr)
            batches = watcher.take()
            if batches:
                rec["batches"] = [b["duration_ms"] for b in batches]
                rec["stream"] = {
                    k: round(v, 3) for k, v in tracing.stream_layer(batches, wall).items()
                }
            reps.append(rec)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
        walls = sorted(r["wall"] for r in reps)
        last = reps[-1]
        results[name] = {
            "min": walls[0],
            "med": walls[len(walls) // 2],
            "jobs_per_run": round(sum(r["jobs"] for r in reps) / len(reps), 1),
            "reps": reps,
        }
        line = (
            f"{name:45s} min={walls[0]:6.2f} med={walls[len(walls) // 2]:6.2f} "
            f"jobs/run={results[name]['jobs_per_run']:5.1f} "
            f"forks={last['forks']} child_cpu={last['child_cpu_s']:.2f}s"
        )
        if "stream" in last:
            st = last["stream"]
            line += (
                f" n_batches={st['streaming.batches']}"
                f" trig={st['streaming.trigger_ms']}ms add={st['streaming.add_batch_ms']}ms"
                f" commit={st['streaming.commit_ms']}ms"
            )
        print(line, flush=True)

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=2, sort_keys=True)
            fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
