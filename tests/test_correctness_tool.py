"""Spark-free pins for ``tools/check_correctness.py --changed-since``.

A changed module that other package modules import is shared plumbing:
the selection falls back to the full sweep instead of sweeping only the
queries that module defines (a change to ``operators/ranking.py`` moves
relational and text rows; one to ``streaming/windows.py`` moves the
state-reader and ingest rows).
"""

from __future__ import annotations

import importlib.util
import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _selection(monkeypatch, changed: list[str], qs: dict):
    """``_changed_since`` with ``git diff --name-only`` answering
    ``changed``."""
    def fake_run(args, **kwargs):
        return subprocess.CompletedProcess(args, 0, stdout="\n".join(changed), stderr="")

    monkeypatch.setattr(subprocess, "run", fake_run)
    return _tool()._changed_since("HEAD", qs)


@pytest.mark.parametrize(
    "changed",
    [
        "mini_pandas_spark/operators/ranking.py",
        "mini_pandas_spark/streaming/windows.py",
    ],
)
def test_a_module_others_import_means_a_full_sweep(monkeypatch, changed):
    from mini_pandas_spark.operators import events

    assert _selection(monkeypatch, [changed], {"q": events.events_hourly}) is None


def test_a_module_only_the_registry_imports_selects_its_queries(monkeypatch):
    from mini_pandas_spark.operators import events, tpch

    qs = {"events_hourly": events.events_hourly, "q11": tpch.q11_important_stock}
    got = _selection(monkeypatch, ["mini_pandas_spark/operators/events.py"], qs)
    assert got == {"events_hourly"}
