"""Tests of the benchmark's own helpers; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

import json
import math
import os

import pytest

import harness
import probes
import stats
import tracing as tr
import workloads

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile ----------------------------------------------------------

def test_tail_percentile_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = stats.tail_percentile(xs)
    assert t == {"value": 90.0, "percentile": 90.0, "samples": 100, "beyond": 10}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_percentile_is_order_insensitive_and_states_its_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
    t = stats.tail_percentile(list(reversed(xs)))
    assert t["samples"] == 25 and t["beyond"] == 10
    assert t["percentile"] == 60.0  # rank 15 of 25
    assert t["value"] == sorted(xs)[14]


def test_tail_percentile_with_few_samples_reports_how_thin():
    t = stats.tail_percentile([3.0, 1.0, 2.0])
    assert t["value"] == 1.0 and t["beyond"] == 2 and t["samples"] == 3
    with pytest.raises(ValueError):
        stats.tail_percentile([])


# -- geomean of per-op medians ------------------------------------------------

def test_geomean_of_medians_weighs_every_op_the_same():
    per_op = {"fast": [1.0, 100.0, 2.0], "slow": [8.0, 8.0]}  # medians 2 and 8
    assert math.isclose(stats.geomean_of_medians(per_op), 4.0)
    # more samples of one op do not give it more weight
    per_op["fast"] += [2.0, 2.0, 2.0, 2.0]
    assert math.isclose(stats.geomean_of_medians(per_op), 4.0)


def test_geomean_rejects_empty_and_zero():
    with pytest.raises(ValueError):
        stats.geomean_of_medians({})
    with pytest.raises(ValueError):
        stats.geomean_of_medians({"a": [0.0]})


# -- best-of-k end-to-end metrics ---------------------------------------------

def test_best_of_takes_each_ops_fastest_sample():
    assert stats.best_of({"a": [3.0, 1.0, 2.0], "b": [5.0], "c": []}) == {"a": 1.0, "b": 5.0}


def test_end_to_end_is_best_of_k_over_the_timed_passes():
    timed = [
        {"latency_s": {"a": 1.0, "b": 4.0}, "cpu_s": 9.0},
        {"latency_s": {"a": 3.0, "b": 2.0}, "cpu_s": 7.0},   # b at its best
        {"latency_s": {"a": 9.0, "b": None}, "cpu_s": 8.0},  # b failed here
    ]
    e = harness.end_to_end(timed)
    assert e["pass_s"] == 1.0 + 2.0          # every op once, each at its best
    assert math.isclose(e["op_geomean_s"], 2.0 ** 0.5)
    assert e["cpu_s_per_pass"] == 7.0
    # a slower op can only raise them
    timed[0]["latency_s"]["a"] = timed[1]["latency_s"]["a"] = 5.0
    slower = harness.end_to_end(timed)
    assert all(slower[k] >= e[k] for k in e) and slower["pass_s"] == 5.0 + 2.0


# -- /proc readers ------------------------------------------------------------

def _stat(pid, comm, ppid, utime, stime, cutime, cstime):
    # proc(5): state ppid pgrp session tty_nr tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 30
    return f"{pid} ({comm}) " + " ".join(map(str, fields)) + "\n"


@pytest.fixture()
def fake_proc(tmp_path):
    hz = probes.CLK_TCK
    procs = {
        # JVM (pid 100) has reaped children worth 1 s
        100: ("java", 1, 10 * hz, 2 * hz, hz, 0),
        # the pyspark daemon, with reaped workers worth 3 s
        200: ("python3 -m pyspark.daemon", 100, hz, 0, 2 * hz, hz),
        # two live workers forked by the daemon
        201: ("python3 (worker)", 200, 4 * hz, hz, 0, 0),
        202: ("python3", 200, 2 * hz, 0, 0, 0),
        # an unrelated process
        300: ("bash", 1, 50 * hz, 0, 0, 0),
    }
    for pid, (comm, ppid, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst))
    (tmp_path / "100" / "io").write_text(
        "rchar: 3000000\nwchar: 1000000\nread_bytes: 0\n"
    )
    (tmp_path / "100" / "status").write_text("Name:\tjava\nVmHWM:\t  204800 kB\n")
    (tmp_path / "stat").write_text(
        "cpu  100 0 50 1000 5 0 2 %d 0 0\ncpu0 1 2 3 4 5 6 7 8 0 0\n" % (7 * hz)
    )
    return str(tmp_path)


def test_jvm_cpu_reads_utime_plus_stime(fake_proc):
    assert probes.proc_cpu_s(100, proc=fake_proc) == 12.0
    assert probes.proc_cpu_s(100, children=True, proc=fake_proc) == 13.0
    assert probes.proc_cpu_s(999, proc=fake_proc) == 0.0  # gone


def test_pyworker_cpu_counts_daemon_reaped_and_live_workers(fake_proc):
    assert sorted(probes.descendants(100, proc=fake_proc)) == [200, 201, 202]
    # JVM cutime (1) + daemon utime+stime (1) + its cutime+cstime (3)
    # + live workers (5 + 2); the unrelated process is not counted
    assert probes.pyworker_cpu_s(100, proc=fake_proc) == 12.0


def test_steal_io_and_rss_readers(fake_proc):
    assert probes.host_steal_s(proc=fake_proc) == 7.0
    assert probes.proc_io_mb(100, proc=fake_proc) == (3.0, 1.0)
    assert probes.peak_rss_mb(100, proc=fake_proc) == 200.0


def test_live_proc_readers_work_on_this_process():
    me = os.getpid()
    assert probes.proc_cpu_s(me) >= 0.0
    assert probes.host_steal_s() >= 0.0
    assert probes.driver_cpu_s() > 0.0


# -- names and caps -----------------------------------------------------------

@pytest.mark.parametrize("name", ["pass_s", "jvm.cpu_s", "op-tail.2", "0x"])
def test_metric_name_regex_accepts(name):
    stats.check_metric_names([name], cap=1)


@pytest.mark.parametrize("name", ["pass s", "cpu/s", "", "_lead", "é", "a" * 65])
def test_metric_name_regex_rejects(name):
    with pytest.raises(ValueError):
        stats.check_metric_names([name], cap=1)


def test_caps_and_uniqueness():
    with pytest.raises(ValueError):
        stats.check_metric_names([f"m{i}" for i in range(17)], stats.MAX_END_TO_END)
    with pytest.raises(ValueError):
        stats.check_metric_names(["a", "a"], cap=4)
    stats.check_metric_names(list(harness.END_TO_END_UNITS), stats.MAX_END_TO_END)
    stats.check_metric_names(list(harness.PER_LAYER_UNITS), stats.MAX_PER_LAYER)


# -- BENCHMARK.json -----------------------------------------------------------

def test_benchmark_json_shape():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == harness.END_TO_END_UNITS
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] == "lower" and 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert layers == harness.PER_LAYER_UNITS
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    stats.check_metric_names(list(e2e), stats.MAX_END_TO_END)
    stats.check_metric_names(list(layers), stats.MAX_PER_LAYER)
    assert len(json.dumps(b)) < 64 * 1024


# -- trace helpers ------------------------------------------------------------

def test_self_time_subtracts_union_of_children():
    parent = {"start_ms": 0.0, "end_ms": 100.0}
    kids = [
        {"start_ms": 10.0, "end_ms": 30.0},
        {"start_ms": 20.0, "end_ms": 40.0},   # overlaps the first
        {"start_ms": 90.0, "end_ms": 120.0},  # runs past the parent
    ]
    assert tr.self_time(parent, kids) == 100.0 - 30.0 - 10.0


def test_stream_layer_start_stop_is_drain_minus_triggers():
    batches = [
        {"run_id": "a", "duration_ms": {"triggerExecution": 400, "addBatch": 300,
                                        "walCommit": 20, "commitOffsets": 10},
         "state_rows": 5, "state_bytes": 1_000_000},
        {"run_id": "a", "duration_ms": {"triggerExecution": 600, "addBatch": 500},
         "state_rows": 7, "state_bytes": 2_000_000},
    ]
    m = tr.stream_layer(batches, drain_s=1.5)
    assert m["streaming.batches"] == 2
    assert m["streaming.trigger_ms"] == 1000
    assert m["streaming.commit_ms"] == 30
    assert m["streaming.state_rows"] == 7  # the last batch's state
    assert m["streaming.state_mb"] == 2.0
    assert math.isclose(m["streaming.start_stop_s"], 0.5)


def test_health_flags_mark_and_keep_every_pass():
    base = {"jvm_cpu_s": 10.0, "jvm_jit_ms": 1000.0, "host_steal_s": 0.0}
    passes = [
        {"pass": 0, "mode": "check", "pass_s": 9.0, "loadavg_1m": 1.0, "counters": base},
        {"pass": 1, "mode": "timed", "pass_s": 5.0, "loadavg_1m": 1.0, "counters": base},
        {"pass": 2, "mode": "timed", "pass_s": 5.0, "loadavg_1m": 3.0,
         "counters": dict(base, jvm_jit_ms=6000.0, host_steal_s=100.0)},
    ]
    h = harness.health_flags(passes)
    assert [p["pass"] for p in h["passes"]] == [1, 2]
    assert h["passes"][0]["flags"] == []
    assert h["passes"][1]["flags"] == ["jit_heavy", "steal_episode"]
    assert h["flagged"] == ["jit_heavy", "steal_episode"]


def test_extra_passes_only_while_every_timed_pass_sat_in_steal():
    ncpu = os.cpu_count() or 1

    def timed_pass(steal_share):
        return {"pass_s": 10.0, "counters": {"host_steal_s": steal_share * 10.0 * ncpu}}

    stolen, clean = timed_pass(0.2), timed_pass(0.0)
    assert harness.in_steal_episode(stolen) and not harness.in_steal_episode(clean)
    assert harness.wants_another_pass([stolen] * 3, k=3)
    assert not harness.wants_another_pass([stolen, clean, stolen], k=3)
    assert not harness.wants_another_pass([stolen] * (3 + harness.MAX_EXTRA_PASSES), k=3)
    # stops at the first clean pass
    assert not harness.wants_another_pass([stolen] * 4 + [clean], k=3)


def test_veneer_same_tolerates_float_summation_order():
    assert workloads.same([("a", 0.1 + 0.2, 3)], [("a", 0.3, 3)])
    assert not workloads.same([("a", 0.31, 3)], [("a", 0.3, 3)])
    assert not workloads.same([1, 2], [1, 2, 3])


# -- inputs -------------------------------------------------------------------

def test_inputs_depend_on_the_seed_alone():
    assert workloads.veneer_data(3) == workloads.veneer_data(3) != workloads.veneer_data(4)
    tables = sorted(f[: -len(".parquet")] for f in os.listdir(harness.FIXTURE))
    assert tables == sorted(
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    )


def test_timed_pass_count_is_fixed_by_the_arguments():
    for w in workloads.WORKLOADS:
        n = harness.timed_passes(w, 24)
        assert n == harness.timed_passes(w, 24)
        assert harness.timed_passes(w, 1) == harness.MIN_TIMED_PASSES
        assert harness.timed_passes(w, 600) > n
    nominal = workloads.NOMINAL_PASS_S["batch_fresh"]
    assert harness.timed_passes("batch_fresh", 3 * nominal) == 3


def test_value_hash_ignores_row_and_column_order():
    import checks

    h = checks.value_hash(["a", "b"], [(1, 2.5), (2, None)])
    assert h == checks.value_hash(["b", "a"], [(None, 2), (2.5, 1)])
    assert h != checks.value_hash(["a", "b"], [(1, 2.5), (2, float("nan"))])


def test_attribute_jobs_by_group_then_by_submission_time():
    t = tr.Tracer()
    build = {"id": t.add("build", "phase", 0.0, 100.0, None), "label": "q#1:build",
             "start_ms": 0.0, "end_ms": 100.0}
    exe = {"id": t.add("exec", "phase", 100.0, 200.0, None), "label": "q#1:exec",
           "start_ms": 100.0, "end_ms": 200.0}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2e9, "JVM GC Time": 500,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 3e6}}}
    events = [
        # grouped job submitted inside exec's interval but labelled build
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 150,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "q#1:build"}},
        task, dict(task, **{"Stage ID": 1}),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 150, "Completion Time": 160}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 170},
        # ungrouped job (a library thread): placed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 120,
         "Stage IDs": [1]},
        dict(task, **{"Stage ID": 1}),
    ]
    c = tr.attribute_jobs(events, [build, exe], t)
    assert c[build["id"]]["jobs"] == 1 and c[build["id"]]["stages"] == 1
    assert c[build["id"]]["tasks"] == 1  # the stage-1 task before job 1 started is dropped
    assert c[build["id"]]["task_cpu_s"] == 2.0 and c[build["id"]]["gc_s"] == 0.5
    assert c[build["id"]]["shuffle_write_mb"] == 3.0
    assert c[exe["id"]]["jobs"] == 1 and c[exe["id"]]["tasks"] == 1
    kinds = [s["kind"] for s in t.spans]
    assert kinds.count("spark_job") == 1 and kinds.count("spark_stage") == 1
