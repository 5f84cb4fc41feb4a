"""Spark-free pins for the measurement tools under ``tools/``.

- bench.py owns the one unbilled warmup (``bench.warm``) and the one noop
  sink (``bench.materialize``); no tool keeps its own copy, so profiler
  numbers cannot drift from the bench's;
- ``tools/profile_queries.py`` is the one profiler for batch rows and
  streaming drains, and it reads its counters through perfbench's probes
  and stream watcher: no tool defines a ``StreamingQueryListener`` or
  builds a ``/proc/<pid>/...`` path of its own;
- ``scale_check.generate`` trusts only its completion marker, never the
  existence of table dirs an interrupted run may have left half-written.
"""

from __future__ import annotations

import ast
import importlib.util
import os
import re
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def _tool_trees():
    for name in sorted(os.listdir(TOOLS)):
        if name.endswith(".py"):
            with open(os.path.join(TOOLS, name)) as fh:
                yield name, ast.parse(fh.read())


def test_no_tool_defines_its_own_warmup_or_noop_sink():
    copies = []
    for name, tree in _tool_trees():
        copies += [
            f"{name}:{node.lineno} {node.name}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name in ("materialize", "run_warmups")
        ]
    assert not copies, f"import these from bench instead: {copies}"


# a per-process /proc path, with the pid spelled out or still a placeholder
_PID_PATH = re.compile(r"^/proc/(\d|self\b|thread-self\b|\{|%)")
_COPIED_NAMES = ("reaped_child_cpu_s", "_ProgressTap")


def _path_text(node: ast.AST) -> str | None:
    """The literal text of a string, f-string or ``*.join(...)`` of those,
    each non-literal part written as ``{``; None for anything else."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_path_text(v) or "{" for v in node.values)
    if (isinstance(node, ast.Call) and node.args
            and getattr(node.func, "attr", getattr(node.func, "id", None)) == "join"):
        return "/".join(_path_text(a) or "{" for a in node.args)
    return None


def _probe_copies(tree: ast.AST) -> list[int]:
    """Lines that define a ``StreamingQueryListener`` subclass, one of the
    old profiler's private probes, or a ``/proc/<pid>/...`` path."""
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and any(
            getattr(b, "id", getattr(b, "attr", None)) == "StreamingQueryListener"
            for b in node.bases
        ):
            bad.append(node.lineno)
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name in _COPIED_NAMES:
            bad.append(node.lineno)
        elif isinstance(node, (ast.Constant, ast.JoinedStr, ast.Call)):
            text = _path_text(node)
            if text is not None and _PID_PATH.match(text):
                bad.append(node.lineno)
    return sorted(set(bad))


def test_probe_lint_flags_each_copy():
    src = textwrap.dedent(
        """
        import pyspark.sql.streaming as s
        class Tap(s.StreamingQueryListener): pass
        class _ProgressTap: pass
        def reaped_child_cpu_s(pid): pass
        open(f"/proc/{pid}/stat")
        open("/proc/self/io")
        open(os.path.join("/proc", str(pid), "stat"))
        open("/proc/%d/status" % pid)
        open("/proc/stat")
        probes.proc_cpu_s(pid, children=True)
        """
    )
    assert _probe_copies(ast.parse(src)) == [3, 4, 5, 6, 7, 8, 9]


def test_no_tool_keeps_its_own_listener_or_proc_reader():
    copies = []
    for name, tree in _tool_trees():
        copies += [f"{name}:{ln}" for ln in _probe_copies(tree)]
    assert not copies, f"use perfbench/probes.py and tracing.py instead: {copies}"


def _scale_check():
    spec = importlib.util.spec_from_file_location(
        "scale_check", os.path.join(TOOLS, "scale_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Built(Exception):
    pass


@pytest.fixture()
def no_session(monkeypatch):
    import mini_pandas_spark.session as session

    def refuse(*args, **kwargs):
        raise _Built

    monkeypatch.setattr(session, "get_spark", refuse)


def test_scale_check_regenerates_a_partial_dir_without_marker(tmp_path, no_session):
    sc = _scale_check()
    for table in sc.TABLE_KEYS:  # every table dir exists, no marker
        (tmp_path / f"{table}.parquet").mkdir()
    with pytest.raises(_Built):
        sc.generate(str(tmp_path), str(tmp_path / "src"))


def test_scale_check_trusts_its_marker(tmp_path, no_session):
    sc = _scale_check()
    (tmp_path / sc.MARKER).write_text("done\n")
    sc.generate(str(tmp_path), str(tmp_path / "src"))
