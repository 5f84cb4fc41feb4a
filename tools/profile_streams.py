#!/usr/bin/env python
"""Streaming-drain profiler for the optimization rounds (guide §1).

Every registered streaming topology drains with Trigger.AvailableNow and
pays a fixed per-micro-batch cost (offset/commit log writes, state-store
init per partition per store).  This tool answers, per drain:

  - wall-clock per repetition (same noop/collect surface as the query),
  - how many micro-batches ran,
  - where each batch spent its time (StreamingQueryProgress.durationMs:
    triggerExecution / addBatch / walCommit / commitOffsets /
    latestOffset / queryPlanning / getBatch),
  - state operator row counts (memory-used, rows updated/total),
  - processes forked during the drain and the CPU of the JVM's reaped
    children (``cutime+cstime``) — without libhadoop, Hadoop forks a
    shell command per checkpoint-file permission set.  Forks are the
    host's ``/proc/stat`` clone count, which includes threads, minus the
    threads the JVM started meanwhile: run on a quiet host.

Usage:
    python tools/profile_streams.py streaming_hourly_counts rocksdb_...
    python tools/profile_streams.py --all                # every drain
    python tools/profile_streams.py --conf k=v ... q     # A/B a conf

``--conf`` values are applied when the session is built, so static confs
take effect too.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize, warm
from mini_pandas_spark.queries import queries
from mini_pandas_spark.session import get_spark

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


def reaped_child_cpu_s(pid: int) -> float:
    """cutime+cstime of ``pid``: CPU of the children it has reaped."""
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    fields = raw[raw.rindex(")") + 2:].split()
    # proc(5) fields 16-17, counted from the state field (3)
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


class _ProgressTap:
    """Collects StreamingQueryProgress rows from a listener."""

    def __init__(self):
        self.rows = []
        self.started = 0
        self.terminated = 0

    def settle(self, timeout: float = 10.0, quiet: float = 0.1) -> bool:
        """Wait until the progress rows stop growing: every query that
        started has posted its terminated event (the listener bus delivers
        a query's progress rows before it) and no row arrived for
        ``quiet`` seconds.  False if ``timeout`` passes first."""
        deadline = time.monotonic() + timeout
        seen, since = len(self.rows), time.monotonic()
        while time.monotonic() < deadline:
            n = len(self.rows)
            if n != seen:
                seen, since = n, time.monotonic()
            elif (
                self.terminated >= self.started
                and time.monotonic() - since >= quiet
            ):
                return True
            time.sleep(0.02)
        return False

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tap = self

        class Tap(StreamingQueryListener):
            def onQueryStarted(self, event):
                tap.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                try:
                    dur = dict(p.durationMs or {})
                except Exception:
                    dur = {}
                state = []
                try:
                    for so in p.stateOperators or []:
                        state.append(
                            {
                                "op": so.operatorName,
                                "rows_total": so.numRowsTotal,
                                "rows_updated": so.numRowsUpdated,
                                "commit_ms": so.allUpdatesTimeMs
                                + so.allRemovalsTimeMs
                                + so.commitTimeMs,
                            }
                        )
                except Exception:
                    pass
                tap.rows.append(
                    {
                        "name": p.name,
                        "batch": p.batchId,
                        "rows_in": p.numInputRows,
                        "dur": dur,
                        "state": state,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tap.terminated += 1

        return Tap()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--json", metavar="PATH")
    ap.add_argument("--skip-warmups", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    confs = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("mini-pandas-spark-stream-profile", extra_confs=confs)
    for k, v in confs.items():  # the session may predate this call
        if spark.conf.get(k, None) != v:
            print(f"warning: --conf {k}={v} did not take effect", file=sys.stderr)
    jvm = spark.sparkContext._jvm
    jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
    jvm_threads = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    qs = queries()
    names = STREAM_QUERIES if args.all else args.names
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    if not args.skip_warmups:
        warm(spark, sf_dir)

    tap = _ProgressTap()
    spark.streams.addListener(tap.listener())

    results = {}
    for name in names:
        reps = []
        for rep in range(args.reps):
            mark = len(tap.rows)
            spark.sparkContext.setJobDescription(f"stream-profile:{name}:r{rep}")
            clones0 = clones_since_boot()
            threads0 = jvm_threads.getTotalStartedThreadCount()
            child0 = reaped_child_cpu_s(jvm_pid)
            t0 = time.time()
            materialize(qs[name](spark, sf_dir))
            wall = round(time.time() - t0, 3)
            threads = jvm_threads.getTotalStartedThreadCount() - threads0
            forks = clones_since_boot() - clones0 - threads
            child_cpu = round(reaped_child_cpu_s(jvm_pid) - child0, 3)
            spark.sparkContext.setJobDescription(None)
            if not tap.settle():
                print(f"warning: {name} r{rep}: listener rows still "
                      "arriving after 10 s", file=sys.stderr)
            batches = tap.rows[mark:]
            reps.append({"wall": wall, "forks": forks, "jvm_threads": threads,
                         "child_cpu_s": child_cpu, "batches": batches})
        walls = sorted(r["wall"] for r in reps)
        results[name] = {"min": walls[0], "med": walls[len(walls) // 2], "reps": reps}
        last = reps[-1]["batches"]
        summary = "; ".join(
            "b{b} in={i} trig={t}ms add={a}ms wal={w}ms off={o}ms".format(
                b=r["batch"],
                i=r["rows_in"],
                t=r["dur"].get("triggerExecution", "?"),
                a=r["dur"].get("addBatch", "?"),
                w=r["dur"].get("walCommit", "?"),
                o=r["dur"].get("commitOffsets", "?"),
            )
            for r in last
        )
        print(
            f"{name:38s} min={walls[0]:6.2f} med={walls[len(walls)//2]:6.2f} "
            f"forks={reps[-1]['forks']} child_cpu={reps[-1]['child_cpu_s']:.2f}s "
            f"n_batches={len(last)}  {summary}",
            flush=True,
        )

    if args.json:
        with open(args.json, "w") as fh:
            json.dump(results, fh, indent=2, sort_keys=True)
            fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
