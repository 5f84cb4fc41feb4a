"""Tracing for the per-layer run: spans kept in memory, Spark jobs, stages
and tasks read back from the session's event log, and streaming
micro-batches from a ``StreamingQueryListener``.

Spans are written as JSON lines when the run ends.  Each timed op is a
root span; its children are the layer calls the harness makes (build,
plan, exec, collect), and their children are the Spark jobs and stages
and the micro-batches that ran inside them.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """In-memory span recorder.  Times are epoch milliseconds so spans line
    up with the event log's timestamps."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, kind: str, start_ms: float, end_ms: float,
            parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "name": name, "kind": kind,
            "start_ms": start_ms, "end_ms": end_ms, **attrs,
        })
        return sid

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, kind, time.time() * 1000.0, 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end_ms"] = time.time() * 1000.0

    def add_self_times(self) -> None:
        """A span's self time is its duration minus the part of it that its
        children's intervals cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_ms"] = self_time(s, kids.get(s["id"], []))

    def write(self, path: str) -> None:
        self.add_self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    lo, hi = span["start_ms"], span["end_ms"]
    ivs = sorted(
        (max(lo, c["start_ms"]), min(hi, c["end_ms"]))
        for c in children if c["end_ms"] > lo and c["start_ms"] < hi
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (hi - lo) - covered)


# -- streaming --------------------------------------------------------------

def make_stream_watcher(spark):
    """Register and return a listener that records every micro-batch's
    progress and lets the harness wait, without sleeping, until every
    query it saw start has terminated."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamWatcher(StreamingQueryListener):
        def __init__(self):
            self._cv = threading.Condition()
            self._live: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self._cv:
                self._live.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.progress.append({
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "start_ms": _iso_ms(p.timestamp),
                    "duration_ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self._live.discard(str(event.runId))
                self._cv.notify_all()

        def wait_terminated(self, timeout: float = 60.0) -> bool:
            with self._cv:
                return self._cv.wait_for(lambda: not self._live, timeout)

        def take(self) -> list[dict]:
            with self._cv:
                out, self.progress = self.progress, []
            return out

    watcher = StreamWatcher()
    spark.streams.addListener(watcher)
    return watcher


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def stream_layer(batches: list[dict], drain_s: float) -> dict:
    """streaming.* metrics of one drain from its micro-batch progress."""
    def total(key):
        return sum(b["duration_ms"].get(key, 0) for b in batches)

    last: dict[str, dict] = {}
    for b in batches:
        last[b["run_id"]] = b
    trigger_ms = total("triggerExecution")
    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms": trigger_ms,
        "streaming.add_batch_ms": total("addBatch"),
        # offset-log (WAL) plus commit-log writes: the checkpoint commits
        "streaming.commit_ms": total("walCommit") + total("commitOffsets"),
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / 1e6,
        "streaming.start_stop_s": max(0.0, drain_s - trigger_ms / 1000.0),
    }


# -- event log --------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the one application logged in ``log_dir``: a v2
    event-log directory ``eventlog_v2_<app>`` of ``events_<n>_<app>``
    JSON-lines files, read in order."""
    paths = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not paths:
        raise FileNotFoundError(f"no event log in {log_dir}")
    events = []
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    return events


def attribute_jobs(events: list[dict], phases: list[dict], tracer: Tracer) -> dict[int, dict]:
    """Attribute jobs, stages and tasks to harness phases and add job and
    stage spans under them.

    ``phases`` are the phase spans (``start_ms``, ``end_ms``, ``label``).
    A job goes to the phase whose label is its job group; a job without a
    known group (one fired from a library thread) goes to the phase whose
    interval holds its submission time.  Returns per-phase counters keyed
    by span id.
    """
    by_label = {p["label"]: p for p in phases}
    ordered = sorted(phases, key=lambda p: p["start_ms"])

    def phase_at(t):
        for p in ordered:
            if p["start_ms"] <= t <= p["end_ms"]:
                return p
        return None

    counters = {p["id"]: _zero_counters() for p in phases}
    job_phase, job_span, stage_phase, stage_info = {}, {}, {}, {}
    job_start = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            p = by_label.get(group) or phase_at(ev["Submission Time"])
            if p is None:
                continue
            jid = ev["Job ID"]
            job_phase[jid] = p
            job_start[jid] = ev["Submission Time"]
            counters[p["id"]]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_phase[sid] = (p, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_phase:
            jid = ev["Job ID"]
            p = job_phase[jid]
            job_span[jid] = tracer.add(
                f"job {jid}", "spark_job", job_start[jid], ev["Completion Time"],
                p["id"], result=ev.get("Job Result", {}).get("Result"),
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stage_info[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_phase:
            p, _ = stage_phase[ev["Stage ID"]]
            _add_task(counters[p["id"]], ev.get("Task Metrics") or {})
    for sid, info in stage_info.items():
        if sid not in stage_phase:
            continue
        p, jid = stage_phase[sid]
        counters[p["id"]]["stages"] += 1
        parent = job_span.get(jid, p["id"])
        tracer.add(
            f"stage {sid}", "spark_stage", info.get("Submission Time", p["start_ms"]),
            info.get("Completion Time", p["end_ms"]), parent,
            tasks=info.get("Number of Tasks"),
        )
    return counters


def _zero_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "input_mb": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
    }


def _add_task(c: dict, m: dict) -> None:
    c["tasks"] += 1
    c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / 1e6
    sw = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    c["spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / 1e6


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s query
    execution, from its ``QueryPlanningTracker``.  Forces physical
    planning, so it is called only in the traced run."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"plans.{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
