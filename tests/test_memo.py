"""Pins for the one session memo (``mini_pandas_spark.memo.SessionMemo``).

- Spark-free unit tests of the class: a hit refreshes LRU order, teardown
  runs once per evicted entry, an unfingerprintable table is built but
  never stored, a vanished owned dir is rebuilt, and the key spells
  ``sf_dir`` one way;
- ``scratch_dir``'s dirs are removed when the process that made them
  exits, and a forked child never removes its parent's;
- an AST lint: outside ``memo.py`` the package hand-rolls no LRU memo
  (no ``move_to_end``, no ``evict_lru*``, no module-level
  ``OrderedDict()``) and computes no ``table_fingerprint`` itself;
- Spark pins for two sites: ``dedup._docsets_table`` builds once for
  ``d`` and ``d + "/"``, and ``bucketed_colocated_join`` rebuilds its
  bucketed tables when their root was removed.
"""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest

from mini_pandas_spark.memo import Owned, SessionMemo

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "mini_pandas_spark")


class FakeSpark:
    """Just what the memo touches: the applicationId and ``sql``."""

    def __init__(self, app: str = "app-1"):
        self.sparkContext = SimpleNamespace(applicationId=app)
        self.statements: list = []

    def sql(self, statement: str) -> None:
        self.statements.append(statement)


@pytest.fixture()
def fixture_dir(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    for name in ("orders", "events"):
        (d / f"{name}.parquet").write_bytes(name.encode())
    return str(d)


def _builder(calls: list, value):
    def build():
        calls.append(value)
        return value

    return build


def test_hit_refreshes_lru_order(fixture_dir):
    memo, spark, calls = SessionMemo(2), FakeSpark(), []
    get = lambda kind: memo.get(  # noqa: E731
        spark, fixture_dir, ("orders",), _builder(calls, kind), kind
    )
    assert get("a") == "a" and get("b") == "b"
    assert get("a") == "a"  # hit: no build, "a" is now most recent
    get("c")  # evicts "b", the least recently used
    assert calls == ["a", "b", "c"]
    assert sorted(k[0] for k in memo) == ["a", "c"]
    get("a")
    assert calls == ["a", "b", "c"]


def test_teardown_runs_once_per_evicted_entry(fixture_dir, tmp_path):
    memo, spark = SessionMemo(1), FakeSpark()
    owned = []
    for i in range(3):
        d = tmp_path / f"owned{i}"
        d.mkdir()
        owned.append(str(d))
        memo.get(
            spark,
            fixture_dir,
            ("orders",),
            lambda d=str(d), i=i: Owned(i, dirs=(d,), tables=(f"t{i}",)),
            i,
        )
    assert spark.statements == ["DROP TABLE IF EXISTS t0", "DROP TABLE IF EXISTS t1"]
    assert [os.path.isdir(d) for d in owned] == [False, False, True]
    assert len(memo) == 1


def test_unfingerprinted_table_is_built_but_not_stored(fixture_dir):
    memo, spark, calls = SessionMemo(4), FakeSpark(), []
    for _ in range(2):
        got = memo.get(
            spark, fixture_dir, ("orders", "missing"), _builder(calls, "v")
        )
        assert got == "v"
    assert calls == ["v", "v"]
    assert len(memo) == 0


def test_vanished_owned_dir_is_rebuilt(fixture_dir, tmp_path):
    memo, spark = SessionMemo(4), FakeSpark()
    builds = []

    def build():
        d = tmp_path / f"root{len(builds)}"
        d.mkdir()
        builds.append(str(d))
        return Owned(str(d), dirs=(str(d),), tables=(f"t{len(builds)}",))

    first = memo.get(spark, fixture_dir, ("events",), build)
    assert memo.get(spark, fixture_dir, ("events",), build) == first
    shutil.rmtree(first)
    second = memo.get(spark, fixture_dir, ("events",), build)
    assert second != first and os.path.isdir(second)
    assert spark.statements == ["DROP TABLE IF EXISTS t1"]  # stale entry's table
    assert len(memo) == 1
    assert memo.get(spark, fixture_dir, ("events",), build) == second


def test_key_spells_sf_dir_one_way_and_tracks_fixture_and_session(fixture_dir):
    memo, calls = SessionMemo(8), []
    spark = FakeSpark()
    for d in (fixture_dir, fixture_dir + "/", os.path.relpath(fixture_dir)):
        memo.get(spark, d, ("orders",), _builder(calls, "v"))
    assert calls == ["v"]
    memo.get(FakeSpark("app-2"), fixture_dir, ("orders",), _builder(calls, "v"))
    memo.get(None, fixture_dir, ("orders",), _builder(calls, "v"))
    assert len(calls) == 3  # a new session and the session-free key miss
    path = os.path.join(fixture_dir, "orders.parquet")
    st = os.stat(path)
    with open(path, "ab") as fh:
        fh.write(b"rewritten")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    memo.get(spark, fixture_dir, ("orders",), _builder(calls, "v"))
    assert len(calls) == 4  # a rewritten fixture misses


# ---------------------------------------------------------------- lint


def memo_lint_violations(source: str, filename: str) -> list:
    """Hand-rolled memo machinery in one module's source."""
    tree = ast.parse(source)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "move_to_end":
            found.append(f"{filename}:{node.lineno} move_to_end")
        name = (
            node.id
            if isinstance(node, ast.Name)
            else node.attr
            if isinstance(node, ast.Attribute)
            else None
        )
        if name and name.startswith("evict_lru"):
            found.append(f"{filename}:{node.lineno} {name}")
        if isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if alias.name.startswith("evict_lru"):
                    found.append(f"{filename}:{node.lineno} {alias.name}")
        if (
            isinstance(node, ast.Call)
            and (
                getattr(node.func, "id", None) == "table_fingerprint"
                or getattr(node.func, "attr", None) == "table_fingerprint"
            )
        ):
            found.append(f"{filename}:{node.lineno} table_fingerprint()")
    for stmt in tree.body:
        value = getattr(stmt, "value", None)
        if (
            isinstance(stmt, (ast.Assign, ast.AnnAssign))
            and isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            == "OrderedDict"
        ):
            found.append(f"{filename}:{stmt.lineno} module-level OrderedDict()")
    return found


def test_scratch_dirs_go_when_their_process_exits(tmp_path):
    script = textwrap.dedent(
        """
        import os, sys
        from mini_pandas_spark.memo import scratch_dir

        mine = scratch_dir("parent_a_")
        pid = os.fork()
        if pid == 0:  # like a forked Python worker, but exiting through atexit
            scratch_dir("child_")
            sys.exit(0)
        os.waitpid(pid, 0)
        assert os.path.isdir(mine), "the child removed its parent's dir"
        scratch_dir("parent_b_")
        """
    )
    subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, check=True,
        env={**os.environ, "SPARK_GRAFT_SCRATCH": str(tmp_path)},
    )
    assert os.listdir(tmp_path) == []


def test_memo_lint_catches_hand_rolled_memos():
    src = (
        "from collections import OrderedDict\n"
        "from ..memo import evict_lru, table_fingerprint\n"
        "_M: OrderedDict = OrderedDict()\n"
        "def f(sf_dir):\n"
        "    key = (sf_dir, table_fingerprint(sf_dir, 'orders'))\n"
        "    _M.move_to_end(key)\n"
        "    evict_lru(_M, 4)\n"
    )
    kinds = {v.split(" ", 1)[1] for v in memo_lint_violations(src, "x.py")}
    assert kinds == {
        "move_to_end",
        "evict_lru",
        "table_fingerprint()",
        "module-level OrderedDict()",
    }


def test_every_memo_goes_through_memo_py():
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in sorted(files):
            path = os.path.join(root, name)
            if not name.endswith(".py") or path == os.path.join(PACKAGE, "memo.py"):
                continue
            with open(path) as fh:
                found += memo_lint_violations(fh.read(), os.path.relpath(path, REPO))
    assert not found, f"memoize through memo.SessionMemo instead: {found}"


# ---------------------------------------------------------------- Spark pins


def test_docsets_key_ignores_trailing_slash(spark, sf_dir, monkeypatch):
    from mini_pandas_spark.operators import dedup

    memo = SessionMemo(12)
    monkeypatch.setattr(dedup, "_SKETCH_MEMO", memo)
    first = dedup._docsets_table(spark, sf_dir)
    assert dedup._docsets_table(spark, sf_dir.rstrip("/") + "/") is first
    assert len(memo) == 1


def test_bucketed_join_rebuilds_vanished_root(spark, sf_dir, monkeypatch):
    from mini_pandas_spark.operators import relational

    memo = SessionMemo(4)
    monkeypatch.setattr(relational, "_BUCKET_MEMO", memo)
    before = sorted(relational.bucketed_colocated_join(spark, sf_dir).collect())
    (key,) = memo
    (root,) = memo[key].dirs
    shutil.rmtree(root)
    after = sorted(relational.bucketed_colocated_join(spark, sf_dir).collect())
    assert after == before and len(before) > 0
    (key,) = memo
    (new_root,) = memo[key].dirs
    assert new_root != root and os.path.isdir(new_root)
