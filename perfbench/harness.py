"""One benchmark run: one workload, one session at ``local[3]``, one
closed-loop client.

The run starts the session and runs one unbilled checking pass, which
also warms the session up: every op runs once, cold, and its output is
collected and kept for the output check.  A fixed number of timed passes
follows (see ``timed_passes``), and one more only when every one of
them sat in a steal episode (see ``wants_another_pass``).  Every pass
shuffles the op order with the seed and reads its own fresh copy of the
committed reference fixture.  After the timed passes the kept outputs
are checked.  The end-to-end metrics are best-of-k statistics over the
timed passes (see ``end_to_end``).

Untraced runs report the end-to-end metrics.  Traced runs turn on the
event log, job groups, plan-phase capture, the streaming listener and a
per-table scan probe, and report the per-layer metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager, nullcontext

import probes
import stats
import tracing as tr
import workloads as wl

CORES = 3
SF = 0.01
# a copy of the repo's reference sf0.01 fixture (TESTDATA.md)
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
# run-health thresholds: a timed pass whose JIT compile time exceeds this
# share of its JVM CPU time is still warming up; one whose steal exceeds
# this share of the host's CPU capacity sat in a steal episode
JIT_HEAVY_SHARE = 0.25
STEAL_SHARE = 0.05
# a best-of-k statistic needs k >= 2
MIN_TIMED_PASSES = 2
# at most this many passes more when every timed pass sat in a steal
# episode (``Run.execute``)
MAX_EXTRA_PASSES = 1

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "cpu_s_per_pass": "s",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.input_mb": "MB",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    "operators.exec_stages": "count", "operators.exec_tasks": "count",
    "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.shuffle_read_mb": "MB", "operators.shuffle_write_mb": "MB",
    "operators.spill_mb": "MB",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.start_stop_s": "s",
    "frame.build_s": "s", "frame.expr_s": "s", "frame.collect_s": "s",
    "memo.scratch_mb": "MB",
    "driver.cpu_s": "s", "pyworker.cpu_s": "s",
    "jvm.cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_ms": "ms",
    "jvm.read_mb": "MB", "jvm.write_mb": "MB", "jvm.peak_rss_mb": "MB",
    "host.steal_s": "s", "host.loadavg": "count",
    "trace.pass_s": "s", "trace.cpu_s_per_pass": "s",
}

# harness phase -> per-layer time metric it feeds
_PHASE_METRIC = {
    "build": "operators.build_s",
    "exec": "operators.exec_s",
    "frame.build": "frame.build_s",
    "frame.expr": "frame.expr_s",
    "frame.collect": "frame.collect_s",
}
# phases whose Spark jobs count as plan execution
_EXEC_PHASES = {"exec", "frame.collect"}


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, t_start: float):
        self.ops = wl.WORKLOADS[workload]
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work, self.t_start = traced, work, t_start
        self.tracer = tr.Tracer()
        self.spark = None
        self.watcher = None
        self.pass_no = -1
        self.op_name = ""
        self.layer: dict[str, float] = defaultdict(float)
        self.phases: list[tuple[int, dict]] = []  # (pass, phase span)
        self.log_dir = os.path.join(work, "eventlog")
        self.scratch = os.environ["SPARK_GRAFT_SCRATCH"]

    # -- session ---------------------------------------------------------

    def start_session(self) -> float:
        from mini_pandas_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # C1-only JIT: with the default tiered JIT, C2 still compiled
            # 3-6 CPU-s per pass after three warm-up passes at this scale,
            # so timed passes were never warm within a run of a minute.
            # A 2g initial heap (the maximum stays the package default):
            # growing from the JVM's small default start, G1 fell in some
            # runs into back-to-back concurrent marking, 3-4 CPU-s per
            # pass of G1 threads, which made cpu_s_per_pass bimodal
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:TieredStopAtLevel=1 -Xms2g",
        }
        if self.traced:
            os.makedirs(self.log_dir)
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        with self._span("session.start", "layer"):
            self.spark = get_spark("perfbench", cpus=CORES, extra_confs=confs)
        start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm = probes.JvmProbe(self.spark)
        if self.traced:
            self.watcher = tr.make_stream_watcher(self.spark)
        return start_s

    def stop(self) -> None:
        """Stop the session, then its JVM and the JVM's Python workers, and
        wait until every one of them has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        workers = probes.descendants(self.jvm.pid)
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        probes.wait_gone(workers, timeout=30)

    # -- spans and phases ------------------------------------------------

    def _span(self, name, kind, **attrs):
        return self.tracer.span(name, kind, **attrs) if self.traced else nullcontext()

    @contextmanager
    def phase(self, name: str):
        """Time one layer call of the current op.  Traced: a span, and the
        phase's label as the Spark job group."""
        t0 = time.perf_counter()
        if not self.traced:
            yield
            self.layer[_PHASE_METRIC.get(name, name)] += time.perf_counter() - t0
            return
        label = f"{self.op_name}#{self.pass_no}:{name}"
        self.sc.setJobGroup(label, label)
        try:
            with self.tracer.span(name, "phase", label=label) as sp:
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.layer[_PHASE_METRIC.get(name, name)] += time.perf_counter() - t0
        self.phases.append((self.pass_no, sp))

    # -- ops -------------------------------------------------------------

    def run_op(self, name: str, fx: str, collect: bool):
        if name in wl.VENEER_OPS:
            frame, run = wl.VENEER_OPS[name](
                self.spark, self.data, lambda p: self.phase("frame." + p)
            )
            if self.traced:
                with self.phase("plan"):
                    self._add(tr.plan_phases_ms(frame.to_spark()))
            with self.phase("frame.collect"):
                return run()
        with self.phase("build"):
            df = self.qs[name](self.spark, fx)
        if self.traced:
            self._after_build(name, df)
        with self.phase("exec"):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
        return None

    def _after_build(self, name: str, df) -> None:
        build = self.phases[-1][1]
        if name in wl.STREAM_OPS:
            if not self.watcher.wait_terminated():
                raise TimeoutError("streaming query did not report termination")
            batches = self.watcher.take()
            for b in batches:
                dur = b["duration_ms"].get("triggerExecution", 0)
                self.tracer.add(f"batch {b['batch_id']}", "micro_batch", b["start_ms"],
                                b["start_ms"] + dur, build["id"], run_id=b["run_id"])
            drain_s = (build["end_ms"] - build["start_ms"]) / 1000.0
            self._add(tr.stream_layer(batches, drain_s))
        with self.phase("plan"):
            self._add(tr.plan_phases_ms(df))

    def _add(self, metrics: dict[str, float]) -> None:
        for k, v in metrics.items():
            self.layer[k] += v

    def run_pass(self, order: list[str], fx: str, mode: str) -> dict:
        """One pass over ``order``.  Returns op -> latency (None if it
        failed); in "check" mode also keeps each op's output."""
        lat = {}
        for name in order:
            self.op_name = name
            t0 = time.perf_counter()
            try:
                with self._span(name, "op", pass_no=self.pass_no, mode=mode):
                    out = self.run_op(name, fx, collect=(mode == "check"))
                lat[name] = time.perf_counter() - t0
                if mode == "check":
                    self.outputs[name] = out
            except Exception:
                print(f"op {name} failed in {mode} pass {self.pass_no}:",
                      file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                lat[name] = None
        return lat

    # -- fixture ---------------------------------------------------------

    def fresh_copy(self) -> str:
        """Copy the pristine fixture to a temp name, check every file's
        size, then rename it into place."""
        dst = os.path.join(self.work, f"fx_pass{self.pass_no}")
        tmp = dst + ".tmp"
        shutil.copytree(self.pristine, tmp)
        for name, size in self.sizes.items():
            got = os.path.getsize(os.path.join(tmp, f"{name}.parquet"))
            if got != size:
                raise OSError(f"fixture copy {name}: {got} bytes, expected {size}")
        os.rename(tmp, dst)
        return dst

    def scan_probe(self, fx: str) -> float:
        """sources.scan_s: load_table + noop write of every table."""
        from mini_pandas_spark.sources import TABLE_NAMES, load_table

        t0 = time.perf_counter()
        for t in TABLE_NAMES:
            with self.tracer.span(f"scan {t}", "scan"):
                load_table(self.spark, fx, t).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # -- the run ---------------------------------------------------------

    def execute(self) -> dict:
        self.session_start_s = self.start_session()
        from mini_pandas_spark.queries import queries

        self.outputs: dict = {}
        self.qs = queries()
        self.data = wl.veneer_data(self.seed)
        self.pristine = FIXTURE
        self.sizes = {
            f[: -len(".parquet")]: os.path.getsize(os.path.join(FIXTURE, f))
            for f in sorted(os.listdir(FIXTURE)) if f.endswith(".parquet")
        }

        passes = [self._one_pass("check")]
        setup_s = time.perf_counter() - self.t_start

        k = timed_passes(self.workload, self.seconds)
        timed = [self._one_pass("timed") for _ in range(k)]
        while wants_another_pass(timed, k):
            timed.append(self._one_pass("timed"))
        passes += timed
        peak_rss_mb = probes.peak_rss_mb(self.jvm.pid)
        per_op = latencies_by_op(timed)
        lats = [v for rec in passes for v in rec["latency_s"].values()]
        check_failures = self.check_outputs()
        failed = sum(v is None for v in lats) + len(check_failures)

        e2e = {"setup_s": setup_s, **end_to_end(timed)}
        record = {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "traced": self.traced, "cores": CORES, "sf": SF,
            "ops": self.ops, "end_to_end": e2e,
            "op_best_s": stats.best_of(per_op),
            "op_median_s": {k: statistics.median(v) for k, v in per_op.items()},
            # the median-based counterparts of the end-to-end metrics and
            # the pooled latency percentile with >=10 samples beyond it:
            # recorded for reading, not reported (see the README for why)
            "medians": {
                "pass_s": statistics.median(r["pass_s"] for r in timed),
                "op_geomean_s": stats.geomean_of_medians(per_op),
                "cpu_s_per_pass": statistics.median(r["cpu_s"] for r in timed),
            },
            "pooled_tail": stats.tail_percentile([v for vs in per_op.values() for v in vs]),
            "session_start_s": self.session_start_s,
            "passes": passes,
            "health": health_flags(passes),
            "check_failures": check_failures,
            "jvm_peak_rss_mb": peak_rss_mb,
            "attempted": len(lats), "failed": failed,
        }
        return record

    def _one_pass(self, mode: str) -> dict:
        self.pass_no += 1
        rng = random.Random(self.seed * 7919 + self.pass_no)
        order = list(self.ops)
        rng.shuffle(order)
        fx = self.fresh_copy()
        self.layer = defaultdict(float)
        before = probes.snapshot(self.jvm)
        t0 = time.perf_counter()
        lat = self.run_pass(order, fx, mode)
        pass_s = time.perf_counter() - t0
        d = probes.delta(probes.snapshot(self.jvm), before)
        rec = {
            "pass": self.pass_no, "mode": mode, "order": order, "pass_s": pass_s,
            "latency_s": lat,
            "cpu_s": d["driver_cpu_s"] + d["jvm_cpu_s"] + d["pyworker_cpu_s"],
            "counters": d,
            "loadavg_1m": os.getloadavg()[0],
            "scratch_mb": probes.dir_mb(self.scratch),
        }
        if self.traced and mode == "timed":
            rec["scan_s"] = self.scan_probe(fx)
        rec["layer"] = dict(self.layer)
        shutil.rmtree(fx)
        return rec

    def check_outputs(self) -> dict[str, str]:
        """op -> what is wrong, for every op whose kept output is wrong.
        An op that raised in the checking pass kept no output; it is
        already counted as failed."""
        from checks import OracleChecker

        bad = {}
        want = wl.pandas_expected(self.data)
        checker = OracleChecker(self.pristine, list(self.sizes))
        try:
            for name, out in self.outputs.items():
                if name in wl.VENEER_OPS:
                    if not wl.same(out, want[name]):
                        bad[name] = "differs from pandas"
                    continue
                try:
                    err = checker.check(name, *out)
                except Exception as e:  # an oracle error fails the op, not the run
                    err = f"check error: {type(e).__name__}: {e}"
                if err:
                    bad[name] = err
        finally:
            checker.close()
        return bad

    # -- per-layer metrics (traced run) ----------------------------------

    def per_layer(self, record: dict) -> dict[str, float]:
        """Median over timed passes of each per-layer metric.  Call after
        ``stop()``: the event log is complete only then."""
        timed = [p for p in record["passes"] if p["mode"] == "timed"]
        timed_nos = {p["pass"] for p in timed}
        events = tr.read_event_log(self.log_dir)
        spans = [sp for _, sp in self.phases]
        counters = tr.attribute_jobs(events, spans, self.tracer)
        by_pass: dict[int, dict[str, float]] = {n: defaultdict(float) for n in timed_nos}
        for pass_no, sp in self.phases:
            if pass_no not in timed_nos:
                continue
            c, acc = counters[sp["id"]], by_pass[pass_no]
            name = sp["name"]
            if name == "build":
                acc["operators.build_jobs"] += c["jobs"]
            if name in _EXEC_PHASES:
                acc["operators.exec_jobs"] += c["jobs"]
                acc["operators.exec_stages"] += c["stages"]
                acc["operators.exec_tasks"] += c["tasks"]
            for k in ("task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                      "spill_mb"):
                acc[f"operators.{k}"] += c[k]
            acc["sources.input_mb"] += c["input_mb"]
        rows = []
        for p in timed:
            d = p["counters"]
            row = {k: 0.0 for k in PER_LAYER_UNITS}
            row.update(p["layer"])
            row.update(by_pass[p["pass"]])
            row.update({
                "sources.scan_s": p.get("scan_s", 0.0),
                "memo.scratch_mb": p["scratch_mb"],
                "driver.cpu_s": d["driver_cpu_s"],
                "pyworker.cpu_s": d["pyworker_cpu_s"],
                "jvm.cpu_s": d["jvm_cpu_s"],
                "jvm.gc_s": d["jvm_gc_s"],
                "jvm.jit_ms": d["jvm_jit_ms"],
                "jvm.read_mb": d["jvm_read_mb"],
                "jvm.write_mb": d["jvm_write_mb"],
                "host.steal_s": d["host_steal_s"],
                "host.loadavg": p["loadavg_1m"],
            })
            rows.append(row)
        out = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER_UNITS}
        # the traced run's own end-to-end values, computed as the untraced
        # run computes them, for the tracing overhead
        e2e = end_to_end(timed)
        out["trace.pass_s"] = e2e["pass_s"]
        out["trace.cpu_s_per_pass"] = e2e["cpu_s_per_pass"]
        out["session.start_s"] = record["session_start_s"]
        out["jvm.peak_rss_mb"] = record["jvm_peak_rss_mb"]
        # growth across passes is what a leak looks like: report the last
        out["memo.scratch_mb"] = timed[-1]["scratch_mb"]
        return out


def timed_passes(workload: str, seconds: float) -> int:
    """How many timed passes a run makes: ``seconds`` over the workload's
    nominal pass time, rounded, and at least ``MIN_TIMED_PASSES``.

    The count depends on the arguments only, never on the clock, so a
    slower program cannot fit in fewer passes.
    """
    return max(MIN_TIMED_PASSES, round(seconds / wl.NOMINAL_PASS_S[workload]))


def latencies_by_op(timed: list[dict]) -> dict[str, list[float]]:
    """op -> its latencies over the timed passes, failed runs left out."""
    per_op: dict[str, list[float]] = defaultdict(list)
    for rec in timed:
        for name, v in rec["latency_s"].items():
            if v is not None:
                per_op[name].append(v)
    return dict(per_op)


def end_to_end(timed: list[dict]) -> dict[str, float]:
    """The end-to-end metrics but ``setup_s``, from the timed passes.

    Each is a best-of-k over the run's k timed passes: the per-op
    latencies are each op's fastest (``stats.best_of``), and CPU is the
    least any pass took.  Steal and host contention only add time, and
    in a run that catches a steal episode in some of its passes the best
    of k still reads the undisturbed cost.
    """
    best = stats.best_of(latencies_by_op(timed))
    return {
        # the suite total: every op once, each at its best
        "pass_s": sum(best.values()),
        "op_geomean_s": stats.geomean(best.values()),
        "cpu_s_per_pass": min(r["cpu_s"] for r in timed),
    }


def wants_another_pass(timed: list[dict], k: int) -> bool:
    """Whether a run that made ``k`` timed passes should make one more:
    only while every timed pass so far sat in a steal episode, which
    leaves a best-of-k nothing clean to read, and at most
    ``MAX_EXTRA_PASSES`` times.  The host's steal decides this, not the
    program's speed."""
    return len(timed) < k + MAX_EXTRA_PASSES and all(map(in_steal_episode, timed))


def in_steal_episode(p: dict) -> bool:
    """Whether a pass's steal exceeds ``STEAL_SHARE`` of the host's CPU
    capacity over the pass."""
    ncpu = os.cpu_count() or 1
    return p["counters"]["host_steal_s"] > STEAL_SHARE * p["pass_s"] * ncpu


def health_flags(passes: list[dict]) -> dict:
    """Per timed pass: steal, JIT time, JVM CPU and load, with flags for a
    pass still compiling heavily or sitting in a steal episode.  Nothing
    is discarded; the flags only mark."""
    out = []
    for p in passes:
        if p["mode"] != "timed":
            continue
        c = p["counters"]
        flags = []
        if c["jvm_jit_ms"] / 1000.0 > JIT_HEAVY_SHARE * max(c["jvm_cpu_s"], 1e-9):
            flags.append("jit_heavy")
        if in_steal_episode(p):
            flags.append("steal_episode")
        out.append({
            "pass": p["pass"], "steal_s": c["host_steal_s"], "jit_ms": c["jvm_jit_ms"],
            "jvm_cpu_s": c["jvm_cpu_s"], "loadavg_1m": p["loadavg_1m"], "flags": flags,
        })
    return {"passes": out, "flagged": sorted({f for p in out for f in p["flags"]})}
