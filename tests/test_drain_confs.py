"""Pins for the one drain-conf scope (``streaming.windows._drain_confs``)
and the streaming source-schema memo.

- every drain the package starts does so inside ``_drain_confs`` (AST
  lint), so none can skip the state-partition pin or the fork-free
  checkpoint manager; the package has an exact number of start sites,
  and a ``writeStream…format("memory")`` chain appears only in
  ``_drain_to_memory`` and ``synthetic_stream_rollup``;
- every fixture file stream is read by ``read_fixture_stream`` (AST
  lint: ``readStream`` appears only there and in the synthetic stream);
- no memory-sink temp view outlives the drain that made it;
- the scope restores the caller's confs, serializes drains on one
  session, lets cloned sessions overlap, and refuses to start next to a
  query that is already running;
- a warm drain forks no ``readlink``, no ``chmod`` and few processes
  overall (without libhadoop, Spark's default FileContext checkpoint
  manager forks a ``readlink`` per checkpoint rename, and Hadoop's stock
  local file system a ``chmod`` per permissioned create or mkdir);
- the source-schema memo is LRU and never memoizes an unfingerprinted
  path.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
import textwrap
import threading

import pytest

from mini_pandas_spark.memo import SessionMemo
from mini_pandas_spark.session import NIO_FS_CLASS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "mini_pandas_spark")

KEYS = {
    "partitions": "spark.sql.shuffle.partitions",
    "no_data": "spark.sql.streaming.noDataMicroBatches.enabled",
    "manager": "spark.sql.streaming.checkpointFileManagerClass",
    "provider": "spark.sql.streaming.stateStore.providerClass",
}


# ---------------------------------------------------------------- lint


def _reaches_write_stream(node: ast.AST) -> bool:
    """True if a call/attribute chain passes through ``.writeStream``."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def _is_drain_scope(with_node: ast.With) -> bool:
    for item in with_node.items:
        call = item.context_expr
        if isinstance(call, ast.Call):
            fn = call.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name == "_drain_confs":
                return True
    return False


def _unscoped_drain_starts(tree: ast.AST) -> tuple[int, list[int]]:
    """(number of ``.writeStream…start()/toTable()`` calls, line numbers
    of those not lexically inside ``with _drain_confs(...)``)."""
    found, bad = 0, []

    def visit(node: ast.AST, scoped: bool) -> None:
        nonlocal found
        if isinstance(node, ast.With) and _is_drain_scope(node):
            scoped = True
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("start", "toTable")
            and _reaches_write_stream(node.func.value)
        ):
            found += 1
            if not scoped:
                bad.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, scoped)

    visit(tree, False)
    return found, bad


def test_lint_flags_a_drain_outside_the_scope():
    src = textwrap.dedent(
        """
        def f(spark, agg):
            with _drain_confs(spark):
                agg.writeStream.format("memory").start()
            agg.writeStream.format("memory").trigger(availableNow=True).start()
            agg.writeStream.outputMode("append").toTable("t")
            threading.Thread(target=f).start()
        """
    )
    assert _unscoped_drain_starts(ast.parse(src)) == (3, [5, 6])


def _package_trees():
    for base, _, files in os.walk(PACKAGE):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                with open(path) as fh:
                    yield os.path.relpath(path, REPO), ast.parse(fh.read())


# The package's drain start sites: _drain_to_memory, synthetic_stream_rollup,
# the manifest foreachBatch, epoch-log and toTable drains in windows.py, and
# the ingest foreachBatch.  A new drain either goes through _drain_to_memory
# or is a new sink flavour, which changes this count on purpose.
PACKAGE_DRAIN_STARTS = 6


def test_every_package_drain_starts_inside_drain_confs():
    total, offenders = 0, []
    for rel, tree in _package_trees():
        found, bad = _unscoped_drain_starts(tree)
        total += found
        offenders += [f"{rel}:{ln}" for ln in bad]
    assert not offenders, f"drains started outside _drain_confs: {offenders}"
    assert total == PACKAGE_DRAIN_STARTS, f"lint found {total} drain starts"


def _memory_sink_chains(tree: ast.AST) -> list[str]:
    """Names of the functions holding a ``writeStream…format("memory")``
    call."""
    found = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "format"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == "memory"
            and _reaches_write_stream(node.func.value)
        ):
            found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return found


def test_memory_sinks_start_only_in_the_drain_helper():
    """Memory-sink drains go through ``_drain_to_memory``; the synthetic
    stream is the one exception (it needs processAllAvailable, which
    Trigger.AvailableNow does not match on a Python source)."""
    sites = sorted(
        (rel, fn) for rel, tree in _package_trees() for fn in _memory_sink_chains(tree)
    )
    assert sites == [
        (os.path.join("mini_pandas_spark", "sources", "synthetic.py"),
         "synthetic_stream_rollup"),
        (os.path.join("mini_pandas_spark", "streaming", "windows.py"),
         "_drain_to_memory"),
    ]


def _read_stream_sites(tree: ast.AST) -> list[str]:
    """Names of the functions that reach ``.readStream`` (code only:
    a docstring or comment naming it does not count)."""
    found = []

    def visit(node: ast.AST, fn: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Attribute) and node.attr == "readStream":
            found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    return found


def test_read_stream_lint_flags_each_reader():
    src = textwrap.dedent(
        """
        def one(spark):
            \"\"\"Streams via spark.readStream.\"\"\"
            return spark.readStream.format("parquet").load(p)
        def two(spark):
            r = spark.readStream
            return r, spark.readStream.schema(s).load(q)
        """
    )
    assert _read_stream_sites(ast.parse(src)) == ["one", "two", "two"]


def test_fixture_streams_go_through_the_one_reader():
    """Every fixture file stream starts in ``read_fixture_stream``; the
    synthetic stream is the one exception (its source is a registered
    Python data source, not a fixture file)."""
    sites = sorted(
        (rel, fn) for rel, tree in _package_trees() for fn in _read_stream_sites(tree)
    )
    assert sites == [
        (os.path.join("mini_pandas_spark", "sources", "synthetic.py"),
         "synthetic_stream_rollup"),
        (os.path.join("mini_pandas_spark", "streaming", "windows.py"),
         "read_fixture_stream"),
    ]


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.mark.parametrize(
    "name",
    [
        "synthetic_stream_rollup",
        "streaming_hourly_counts",
        "streaming_dedup_user_days",
        "streaming_epoch_log_sink",
        "state_store_user_totals",
    ],
)
def test_drains_leave_no_temp_view(spark, sf_dir, name):
    from mini_pandas_spark.queries import queries

    before = _temp_views(spark)
    out = queries()[name](spark, sf_dir)
    assert _temp_views(spark) == before
    assert out.count() > 0  # the read-back stays valid after the drop


# ---------------------------------------------------------------- scope


def _read(spark) -> dict:
    return {k: spark.conf.get(key, None) for k, key in KEYS.items()}


def _restore(spark, saved: dict) -> None:
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(KEYS[k])
        else:
            spark.conf.set(KEYS[k], v)


def test_drain_confs_restores_explicit_values_and_unsets_unset_ones(spark):
    from mini_pandas_spark.streaming.windows import (
        _FS_CHECKPOINT_MANAGER,
        _ROCKSDB_PROVIDER,
        _drain_confs,
    )

    saved = _read(spark)
    try:
        caller_manager = (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager"
        )
        spark.conf.set(KEYS["partitions"], "5")
        spark.conf.set(KEYS["manager"], caller_manager)
        spark.conf.unset(KEYS["no_data"])
        spark.conf.unset(KEYS["provider"])
        before = _read(spark)
        assert before["no_data"] is None and before["provider"] is None

        with _drain_confs(
            spark, partitions=3, no_data_batch=False, provider=_ROCKSDB_PROVIDER
        ):
            assert _read(spark) == {
                "partitions": "3",
                "no_data": "false",
                "manager": _FS_CHECKPOINT_MANAGER,
                "provider": _ROCKSDB_PROVIDER,
            }
        assert _read(spark) == before

        # defaults: cores-sized partitions, the no-data batch on, the
        # provider left alone; an error inside the scope still restores
        with pytest.raises(ZeroDivisionError):
            with _drain_confs(spark):
                got = _read(spark)
                1 / 0
        assert got == {
            "partitions": str(spark.sparkContext.defaultParallelism),
            "no_data": "true",
            "manager": _FS_CHECKPOINT_MANAGER,
            "provider": None,
        }
        assert _read(spark) == before
    finally:
        _restore(spark, saved)


def test_drain_confs_refuses_to_start_next_to_an_active_query(spark, tmp_path):
    from mini_pandas_spark.streaming.windows import _drain_confs

    src = tmp_path / "empty_src"
    src.mkdir()
    # a query started outside any scope that stays up: a file source with
    # the default trigger keeps polling its (empty) directory
    q = (
        spark.readStream.schema("a long")
        .parquet(str(src))
        .writeStream.format("memory")
        .queryName("standing_outside_scope")
        .start()
    )
    try:
        before = _read(spark)
        with pytest.raises(RuntimeError, match="active streaming queries.*standing_outside_scope"):
            with _drain_confs(spark, partitions=2):
                pass
        assert _read(spark) == before  # nothing was set
    finally:
        q.stop()
        spark.catalog.dropTempView("standing_outside_scope")
    with _drain_confs(spark):  # usable again once the query is gone
        pass


def test_drain_scopes_on_one_session_never_interleave(spark):
    """More threads than cores, a short switch interval: inside its scope
    each thread must keep seeing its own partition pin."""
    from mini_pandas_spark.streaming.windows import _drain_confs

    key = KEYS["partitions"]
    saved = spark.conf.get(key, None)
    clashes, inside = [], []
    old_interval = sys.getswitchinterval()

    def worker(n: int) -> None:
        for _ in range(5):
            with _drain_confs(spark, partitions=n):
                inside.append(n)
                if spark.conf.get(key) != str(n):
                    clashes.append(n)

    sys.setswitchinterval(1e-5)
    try:
        n_threads = 3 * (os.cpu_count() or 4)
        threads = [
            threading.Thread(target=worker, args=(n,))
            for n in range(2, 2 + n_threads)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old_interval)
    assert len(inside) == 5 * len(threads) and not clashes
    assert spark.conf.get(key, None) == saved


def test_cloned_sessions_hold_drain_scopes_at_once(spark):
    from mini_pandas_spark.streaming.windows import _drain_confs

    a, b = spark.newSession(), spark.newSession()
    entered, release = threading.Event(), threading.Event()

    def hold() -> None:
        with _drain_confs(a, partitions=2):
            entered.set()
            release.wait(30)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert entered.wait(30)
        # b's scope must not wait for a's lock
        done = threading.Event()

        def enter_b() -> None:
            with _drain_confs(b, partitions=3):
                assert b.conf.get(KEYS["partitions"]) == "3"
                assert a.conf.get(KEYS["partitions"]) == "2"
            done.set()

        other = threading.Thread(target=enter_b)
        other.start()
        other.join(30)
        assert done.is_set()
    finally:
        release.set()
        holder.join(30)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_two_drains_in_threads_on_one_session_match_serial(spark, sf_dir):
    """An outer join emits its null-padded rows in the no-data batch; the
    complete-mode dedup drain turns that batch off.  On one session the
    two drains must not see each other's confs: run in threads they give
    exactly the serial answers (or a drain raises — never wrong rows)."""
    from mini_pandas_spark.queries import queries
    from mini_pandas_spark.streaming.windows import _drain_confs

    qs = queries()
    names = ("streaming_outer_join_attribution", "streaming_dedup_user_days")
    serial = {n: _rows(qs[n](spark, sf_dir)) for n in names}
    assert serial["streaming_outer_join_attribution"]

    # 1. a scope with the no-data batch off is held open: the outer join
    #    started meanwhile waits for it instead of starting under it
    entered, release = threading.Event(), threading.Event()
    out: dict = {}

    def hold() -> None:
        with _drain_confs(spark, no_data_batch=False):
            entered.set()
            release.wait(60)

    def run(name: str) -> None:
        try:
            out[name] = _rows(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — reported below
            out[name] = exc

    holder = threading.Thread(target=hold)
    holder.start()
    assert entered.wait(30)
    outer = threading.Thread(target=run, args=(names[0],))
    outer.start()
    outer.join(3)
    try:
        assert outer.is_alive() and not spark.streams.active, (
            "the outer join started while another drain's scope was open"
        )
    finally:
        release.set()
        holder.join(60)
        outer.join(300)
    assert not outer.is_alive()
    assert out[names[0]] == serial[names[0]]

    # 2. both drains free-running in threads on the one session
    out.clear()
    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not any(t.is_alive() for t in threads)
    for n in names:
        got = out[n]
        if isinstance(got, Exception):
            assert "active streaming" in str(got), got
        else:
            assert got == serial[n], n


# ---------------------------------------------------------------- forks


def _forks_since_boot() -> int:
    """The host's ``/proc/stat`` ``processes`` counter: every clone since
    boot, threads included."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise AssertionError("no processes line in /proc/stat")


def test_warm_hourly_drain_forks_few_processes(spark, sf_dir):
    """Processes forked across one warm ``streaming_hourly_counts`` drain:
    the host's clone count minus the threads the JVM started meanwhile.
    With the FileContext checkpoint manager that was 236 (176
    ``readlink`` + 60 ``chmod``); the FileSystem-based one left the 60
    ``chmod`` of permissioned creates, and ``NioLocalFileSystem`` sets
    those modes in-process (0-1 measured).  The counter is host-wide, so
    other processes can only add to it: the bound leaves them room and
    still fails whenever the 60 ``chmod`` come back."""
    from mini_pandas_spark.queries import queries

    jvm = spark.sparkContext._jvm
    threads = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    drain = queries()["streaming_hourly_counts"]
    drain(spark, sf_dir).collect()  # warm
    clones0, threads0 = _forks_since_boot(), threads.getTotalStartedThreadCount()
    drain(spark, sf_dir).collect()
    clones = _forks_since_boot() - clones0
    started = threads.getTotalStartedThreadCount() - threads0
    forks = clones - started
    assert forks < 40, (
        f"{forks} processes forked across one warm drain "
        f"({clones} clones, {started} of them JVM threads)"
    )


_FORK_PROBE = """
import collections, json, os, sys
sys.path.insert(0, {repo!r})
from mini_pandas_spark.queries import queries
from mini_pandas_spark.session import get_spark

spark = get_spark("fork-probe", cpus=2, shuffle_partitions=2)
impl = spark.conf.get("spark.hadoop.fs.file.impl", None)
drain = queries()["streaming_hourly_counts"]
drain(spark, {sf_dir!r}).collect()  # warm


def logged(run):
    open(os.environ["FORK_LOG"], "w").close()
    run()
    with open(os.environ["FORK_LOG"]) as fh:
        return collections.Counter(fh.read().split())


drained = logged(lambda: drain(spark, {sf_dir!r}).collect())
# self-check: one deliberate JVM-side exec the wrapper must log
f = os.path.join(os.getcwd(), "probe.txt")
open(f, "w").close()
probe = logged(
    lambda: spark._jvm.java.lang.ProcessBuilder(["chmod", "644", f]).start().waitFor()
)
spark.stop()
print("FORKS " + json.dumps({{"impl": impl, "drain": drained, "probe": probe}}))
"""


def test_warm_drain_forks_no_readlink(tmp_path, sf_dir):
    """Counts the ``readlink``/``chmod`` execs of a fresh session's JVM
    through logging wrappers ahead of the real binaries on its PATH.  A
    deliberate JVM-side ``chmod`` exec proves the wrappers see the JVM's
    forks; the warm drain itself must exec neither command."""
    wrappers = tmp_path / "bin"
    wrappers.mkdir()
    for cmd in ("readlink", "chmod"):
        real = shutil.which(cmd)
        if real is None:
            pytest.skip(f"no {cmd} on PATH")
        w = wrappers / cmd
        w.write_text(f'#!/bin/sh\necho {cmd} >> "$FORK_LOG"\nexec {real} "$@"\n')
        w.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{wrappers}{os.pathsep}{os.environ.get('PATH', '')}",
        FORK_LOG=str(tmp_path / "forks.log"),
        SPARK_DRIVER_MEM="1g",
    )
    script = _FORK_PROBE.format(repo=REPO, sf_dir=os.path.abspath(sf_dir))
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("FORKS ")]
    assert res.returncode == 0 and line, res.stderr[-3000:]
    counts = json.loads(line[-1][len("FORKS "):])
    assert counts["probe"] == {"chmod": 1}, counts
    assert counts["drain"].get("readlink", 0) == 0, counts
    if shutil.which("javac") is None:
        pytest.skip("no javac: the session keeps Hadoop's stock local file system")
    assert counts["impl"] == NIO_FS_CLASS, counts
    assert counts["drain"].get("chmod", 0) == 0, counts


# ---------------------------------------------------------------- schema memo


def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


def test_source_schema_memo_is_lru(spark, tmp_path, monkeypatch):
    from mini_pandas_spark.streaming import windows

    monkeypatch.setattr(windows, "_SOURCE_SCHEMA_MEMO", SessionMemo(2))
    paths = {}
    for name in "abc":
        paths[name] = str(tmp_path / f"{name}.parquet")
        _write_parquet(paths[name], {name: [1, 2]})

    def cached() -> set:
        return {str(tmp_path / f"{k[0]}.parquet") for k in windows._SOURCE_SCHEMA_MEMO}

    windows._source_schema(spark, paths["a"])
    windows._source_schema(spark, paths["b"])
    windows._source_schema(spark, paths["a"])  # hit: a is now most recent
    windows._source_schema(spark, paths["c"])
    assert cached() == {paths["a"], paths["c"]}


def test_source_schema_skips_memo_without_fingerprint(spark, tmp_path, monkeypatch):
    """A dataset directory without a ``.parquet`` name has no fixture
    fingerprint; its schema must be read afresh each time, so a rewrite
    with new columns is seen."""
    from mini_pandas_spark.streaming import windows

    monkeypatch.setattr(windows, "_SOURCE_SCHEMA_MEMO", SessionMemo(16))
    ds = tmp_path / "events_dir"
    ds.mkdir()
    _write_parquet(str(ds / "part-0.parquet"), {"a": [1]})
    assert windows._source_schema(spark, str(ds)).fieldNames() == ["a"]
    assert not windows._SOURCE_SCHEMA_MEMO

    os.remove(ds / "part-0.parquet")
    _write_parquet(str(ds / "part-1.parquet"), {"a": [1], "b": [2]})
    assert windows._source_schema(spark, str(ds)).fieldNames() == ["a", "b"]
