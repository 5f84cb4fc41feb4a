"""Session memos for stage tables, staged fixtures and driver-side
artifacts (CLAUDE.md invariant 9): one ``SessionMemo`` class owns the
cache key, the LRU bound and the teardown of what an entry owns, and
``scratch_dir`` is where every owned directory lives."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections import OrderedDict
from typing import Any, Callable, NamedTuple


def scratch_dir(prefix: str) -> str:
    """mkdtemp on the fastest ephemeral filesystem available — the home
    of every session-scoped artifact this engine writes and reads back
    (streaming checkpoints/sinks, layout stage tables, staged sources).

    Order: $SPARK_GRAFT_SCRATCH if set (cluster deployments point this
    at node-local NVMe scratch for batch stage tables; structured-
    streaming CHECKPOINTS on a multi-node cluster need a path visible
    to driver AND executors — a shared/DFS location, never node-local
    tmpfs/NVMe), else /dev/shm when present, writable AND holding a few
    GB of headroom (micro-batch checkpoints are fsync-heavy
    many-small-file workloads; tmpfs removes that latency — measured
    ~0.5 s per multi-batch drain at sf0.1; the headroom gate matters
    because containers commonly cap /dev/shm at 64 MB and this path
    hosts bucketed/layout stage tables — ADVICE r11), else the tempfile
    default.  All artifacts remain session-ephemeral and LRU-evicted
    via the memos — nothing here changes what persists, only where
    scratch lives.

    Every dir made here is removed when the process that made it exits
    (``_remove_own_scratch``); nothing is removed earlier, because the
    DataFrames a query returns read their dirs lazily."""
    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if not base and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 4 * 1024**3:
                base = "/dev/shm"
        except OSError:
            pass
    if base:
        os.makedirs(base, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=base or None)
    _MADE.append((os.getpid(), path))
    return path


# (pid, dir) of every scratch dir made in this process or, before a
# fork, in its parent: a forked Python worker inherits the list and must
# never delete the driver's dirs.
_MADE: list[tuple[int, str]] = []


@atexit.register
def _remove_own_scratch() -> None:
    pid = os.getpid()
    for owner, path in _MADE:
        if owner == pid:
            shutil.rmtree(path, ignore_errors=True)


def table_fingerprint(sf_dir: str, name: str):
    """(mtime_ns, size) change-detector for a fixture table file or
    directory-of-parts — never reads data.  Invalidates memos when
    tooling rewrites a fixture in-process."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            parts = [
                os.stat(os.path.join(path, f))
                for f in sorted(os.listdir(path))
                if f.endswith(".parquet")
            ]
            return tuple((p.st_mtime_ns, p.st_size) for p in parts)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


class Owned(NamedTuple):
    """A built value plus what its memo entry owns: scratch dirs
    (rmtree'd, and checked on every hit) and catalog tables (dropped)
    when the entry is evicted or found stale.  A builder returns a bare
    value when the entry owns nothing."""

    value: Any
    dirs: tuple = ()
    tables: tuple = ()


class SessionMemo:
    """Bounded LRU get-or-build memo: the one way this package caches
    anything across calls.

    The key is ``(*kind, applicationId, abspath(sf_dir), fingerprint of
    each named fixture table)``; ``spark=None`` leaves the applicationId
    out for values no session owns (parquet schemas, driver-side
    centroids).  A hit refreshes the entry's LRU position.  A table that
    cannot be fingerprinted means no key could notice it being
    rewritten, so the value is built and returned but not stored.  A hit
    whose owned dirs no longer all exist is torn down and rebuilt.  Past
    ``max_entries`` the least recently used entries go, each with its
    dirs rmtree'd and its tables dropped through the calling session."""

    def __init__(self, max_entries: int):
        self.max_entries = max_entries
        self._entries: OrderedDict = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    def __iter__(self):
        return iter(list(self._entries))

    def __getitem__(self, key) -> Owned:
        return self._entries[key]

    def get(self, spark, sf_dir: str, tables: tuple, build: Callable, *kind):
        """The memoized value for ``kind`` over ``sf_dir``'s ``tables``,
        calling ``build()`` (a value or an ``Owned``) on a miss."""
        fps = tuple(table_fingerprint(sf_dir, t) for t in tables)
        app = () if spark is None else (spark.sparkContext.applicationId,)
        key = (*kind, *app, os.path.abspath(sf_dir), *fps)
        hit = self._entries.get(key)
        if hit is not None:
            if all(os.path.isdir(d) for d in hit.dirs):
                self._entries.move_to_end(key)
                return hit.value
            _teardown(spark, self._entries.pop(key, hit))
        built = build()
        entry = built if isinstance(built, Owned) else Owned(built)
        if None not in fps:
            self._entries[key] = entry
            while len(self._entries) > self.max_entries:
                _teardown(spark, self._entries.popitem(last=False)[1])
        return entry.value


def _teardown(spark, entry: Owned) -> None:
    for tbl in entry.tables:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    for d in entry.dirs:
        shutil.rmtree(d, ignore_errors=True)
