"""Spark-free pins for the measurement tools under ``tools/``.

- bench.py owns the one unbilled warmup (``bench.warm``) and the one noop
  sink (``bench.materialize``); no tool keeps its own copy, so profiler
  numbers cannot drift from the bench's;
- ``scale_check.generate`` trusts only its completion marker, never the
  existence of table dirs an interrupted run may have left half-written.
"""

from __future__ import annotations

import ast
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def test_no_tool_defines_its_own_warmup_or_noop_sink():
    copies = []
    for name in sorted(os.listdir(TOOLS)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(TOOLS, name)) as fh:
            tree = ast.parse(fh.read())
        copies += [
            f"{name}:{node.lineno} {node.name}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name in ("materialize", "run_warmups")
        ]
    assert not copies, f"import these from bench instead: {copies}"


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
